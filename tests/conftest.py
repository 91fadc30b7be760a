from __future__ import annotations

import sys
from pathlib import Path

import pytest

#: the checkout these tests belong to, whatever directory it was copied to
REPO_ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO_ROOT)

from duckdb_fastlanes_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MULTI = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from duckdb_fastlanes_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con


def reset_layout(sf_dir: str) -> None:
    """Undo ``catalog.optimize_layout`` for ``sf_dir``: unpersist its
    in-memory pins, drop its cached scans and staged-copy redirect, and make
    the next SQL query register its views again."""
    from duckdb_fastlanes_spark import catalog

    key = sf_dir.rstrip("/")
    catalog._forget(key)
    catalog._LAYOUT.pop(key, None)
    for sid, d in list(catalog._VIEWS_CURRENT.items()):
        if d == key:
            del catalog._VIEWS_CURRENT[sid]


@pytest.fixture
def restore_size_conf(spark):
    """Put back the session confs ``tune_for_input`` sets, so a test that
    calls it leaves the shared session as it found it."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.constraintPropagation.enabled",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
