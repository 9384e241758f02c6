import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


def _driver_mem() -> str:
    """A quarter of the host's RAM, capped at 4 GiB: the driver JVM is
    the whole local cluster, and get_spark's fixed 32 g heap lets it
    outgrow a 16 GB host before it collects."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, min(4096, total_kb // 4096))}m"


@pytest.fixture(scope="session")
def spark():
    from tdigest_spark.session import get_spark

    mem = os.environ.get("SPARK_DRIVER_MEM") or _driver_mem()
    s = get_spark(
        "tdigest_spark_tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": mem},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED
