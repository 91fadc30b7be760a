"""Session construction: the checkout the tests import, the default core
count, and where ``tune_for_input`` takes its core count from."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from duckdb_fastlanes_spark import sizing
from duckdb_fastlanes_spark.session import tune_for_input
from tests.conftest import REPO_ROOT, SF_DIR


def test_tests_import_their_own_checkout():
    import duckdb_fastlanes_spark

    pkg = Path(duckdb_fastlanes_spark.__file__).resolve().parent
    assert pkg.parent == Path(__file__).resolve().parents[1]


def test_default_master_uses_usable_cores():
    """Without SPARK_GRAFT_CPUS the local master gets the cores this process
    may run on, not a fixed count."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from duckdb_fastlanes_spark import get_spark\n"
        "s = get_spark('default-cores')\n"
        "print('PARALLELISM', s.sparkContext.defaultParallelism)\n"
        "s.stop()\n" % REPO_ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"PARALLELISM {len(os.sched_getaffinity(0))}\n" in out.stdout


def test_tune_for_input_sizes_from_default_parallelism(
    spark, monkeypatch, restore_size_conf
):
    """The small-input shuffle width follows the session's real parallelism;
    an environment variable that disagrees with it is ignored."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    tune_for_input(spark, SF_DIR)
    cpus = spark.sparkContext.defaultParallelism
    disk = sizing.catalog_stats(SF_DIR).disk_bytes
    expected = min(cpus, max(cpus // 8, disk // (8 * 1024**2), 2))
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(expected)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
