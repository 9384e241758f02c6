import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from tdigest_spark.session import get_spark

    s = get_spark("tdigest_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED


@pytest.fixture
def crash_pointer_swap(monkeypatch):
    """``arm(table_dir, batch_id)``: make the snapshot-table pointer
    swap (the ``os.replace`` commit point) raise once, when it would
    point ``table_dir`` at the snapshot of ``batch_id`` — a crash after
    the snapshot is written and before it is committed."""
    from tdigest_spark.streaming import _batch

    real_replace = os.replace

    def arm(table_dir: str, batch_id: int) -> None:
        armed = [True]

        def replace(src, dst, *args, **kwargs):
            if (
                armed[0]
                and dst == table_dir
                and os.path.basename(os.readlink(src)) == f"v{batch_id}"
            ):
                armed[0] = False
                raise OSError(f"injected crash before committing batch {batch_id}")
            return real_replace(src, dst, *args, **kwargs)

        monkeypatch.setattr(_batch.os, "replace", replace)

    return arm
