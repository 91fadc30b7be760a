"""worker_daemon: the stat-checked zip directory cache of the Python workers,
and the worker environment ``get_spark`` sets up for local masters."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from duckdb_fastlanes_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER_REREAD = sys.version_info < (3, 13)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


@pytest.fixture
def rereads(monkeypatch):
    """Archives whose central directory the patched method re-read."""
    seen = []

    def counting(self):
        seen.append(self.archive)
        original(self)

    original = worker_daemon._reread
    monkeypatch.setattr(worker_daemon, "_reread", counting)
    monkeypatch.setattr(worker_daemon, "_STAMPS", {})
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, rereads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, ["m1.py"])
    imp = zipimport.zipimporter(arc)
    worker_daemon.invalidate_caches(imp)  # first sight: read and stamp
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(zipimport.zipimporter(arc))
    assert rereads == [arc]
    assert imp.find_spec("m1") is not None


def test_rewritten_archive_is_reread(tmp_path, rereads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, ["m1.py"])
    imp = zipimport.zipimporter(arc)
    worker_daemon.invalidate_caches(imp)
    # new size, and an mtime pinned away from the first write's
    _write_zip(arc, ["m1.py", "m2.py"])
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(imp)
    assert rereads == [arc, arc]
    assert imp.find_spec("m2") is not None
    # a second importer of the same archive picks up the new directory
    # without reading it again
    other = zipimport.zipimporter(arc)
    worker_daemon.invalidate_caches(other)
    assert rereads == [arc, arc]
    assert other.find_spec("m2") is not None


def test_same_size_rewrite_with_new_mtime_is_reread(tmp_path, rereads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, ["m1.py"])
    imp = zipimport.zipimporter(arc)
    worker_daemon.invalidate_caches(imp)
    _write_zip(arc, ["m3.py"])  # same entry-name length: same size
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(imp)
    assert rereads == [arc, arc]
    assert imp.find_spec("m3") is not None and imp.find_spec("m1") is None


def test_removed_archive_empties_the_importer(tmp_path, rereads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, ["m1.py"])
    imp = zipimport.zipimporter(arc)
    worker_daemon.invalidate_caches(imp)
    os.remove(arc)
    worker_daemon.invalidate_caches(imp)
    assert rereads == [arc, arc]
    assert imp.find_spec("m1") is None
    _write_zip(arc, ["m1.py"])  # back again: read, whatever the stale stamp
    worker_daemon.invalidate_caches(imp)
    assert rereads == [arc, arc, arc]
    assert imp.find_spec("m1") is not None


def test_install_patches_only_before_3_13(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", before)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert worker_daemon.install() is False
    assert zipimport.zipimporter.invalidate_caches is before
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    assert worker_daemon.install() is True
    assert zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches


def test_local_session_runs_workers_through_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "duckdb_fastlanes_spark.worker_daemon"
    assert conf.get("spark.executorEnv.PYTHONPATH") == REPO

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        code = getattr(zipimport.zipimporter.invalidate_caches, "__code__", None)
        yield pa.RecordBatch.from_pydict(
            {"source": [code.co_filename if code else "<builtin>"]}
        )

    (source,) = spark.range(1).coalesce(1).mapInArrow(probe, "source string").first()
    if EAGER_REREAD:
        assert os.path.basename(source) == "worker_daemon.py"
    else:
        assert os.path.basename(source) != "worker_daemon.py"


def test_native_roundtrip_from_any_cwd_without_pythonpath(tmp_path):
    """The package reaches the Python workers through the session's
    executorEnv, not through the driver's cwd or an inherited PYTHONPATH."""
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from duckdb_fastlanes_spark import get_spark
from duckdb_fastlanes_spark.io.fls_native import read_fls_native, write_fls_native
spark = get_spark("any-cwd", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
df = spark.range(3000).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
write_fls_native(df.repartition(2), "out")
rt = read_fls_native(spark, "out")
assert rt.exceptAll(df).count() == 0 and df.exceptAll(rt).count() == 0
print("OK")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "OK" in out.stdout
