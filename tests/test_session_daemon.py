"""Session daemon: zip importers re-read an archive only when it changed,
and every Python task of a ``get_spark`` session runs under them."""

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from tdigest_spark import _daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Count zipimport's directory reads, by archive path."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    imp = _daemon.StampedZipImporter(archive)
    del reads[:]
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == []
    zipimport.zipimporter(archive).invalidate_caches()  # the stock importer re-reads
    assert reads == [archive]


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, reads):
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    imp = _daemon.StampedZipImporter(archive)
    assert imp.find_spec("mod_b") is None
    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    del reads[:]
    imp.invalidate_caches()
    assert reads == [archive]
    spec = imp.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_install_swaps_the_hook_and_evicts_stock_importers(tmp_path, monkeypatch):
    archive = str(tmp_path / "c.zip")
    _write_zip(archive, {"mod_c": ""})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    _daemon.install()
    assert zipimport.zipimporter not in sys.path_hooks
    assert _daemon.StampedZipImporter in sys.path_hooks
    assert archive not in sys.path_importer_cache


def _task_importers(it):
    """mapInPandas body: the class of every zip importer in the worker's
    path cache, and the archives a fresh invalidate_caches() re-reads."""
    import importlib
    import sys
    import zipimport

    import pandas as pd

    for _ in it:
        pass
    reread = []
    real = zipimport._read_directory

    def counting(archive):
        reread.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    kinds = sorted(
        {
            type(f).__name__
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
    )
    yield pd.DataFrame({"kinds": [",".join(kinds)], "reread": [len(reread)]})


def _importer_report(spark):
    df = spark.range(0, 1000, numPartitions=4)
    rows = df.mapInPandas(_task_importers, "kinds string, reread long").collect()
    assert len(rows) == 4
    return rows


def test_tasks_run_under_stamped_importers(spark):
    """Guards get_spark's daemon conf: a task's zip importers (pyspark.zip
    at least) are all stamped, and its invalidate_caches() re-reads none."""
    assert spark.conf.get("spark.python.daemon.module") == "tdigest_spark._daemon"
    for r in _importer_report(spark):
        assert r["kinds"] == "StampedZipImporter", r
        assert r["reread"] == 0, r


def test_daemon_module_needs_the_package_on_the_worker_path(tmp_path, monkeypatch):
    from tdigest_spark.session import _daemon_module

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert _daemon_module() == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert _daemon_module() == "tdigest_spark._daemon"


_SUBPROCESS = """
import json
from tdigest_spark import get_spark
from tests.test_session_daemon import _importer_report

spark = get_spark("daemon_cwd", master="local[2]", shuffle_partitions=2)
rows = _importer_report(spark)
print(json.dumps({
    "daemon": spark.conf.get("spark.python.daemon.module"),
    "kinds": sorted({r["kinds"] for r in rows}),
}))
spark.stop()
"""


def test_session_outside_the_repo_runs_a_python_stage(tmp_path):
    """The daemon is started as ``python -m tdigest_spark._daemon`` from
    the JVM's working directory, so a session started elsewhere must
    find the package on PYTHONPATH."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
    )
    r = subprocess.run(
        [sys.executable, "-c", _SUBPROCESS],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out == {"daemon": "tdigest_spark._daemon", "kinds": ["StampedZipImporter"]}
