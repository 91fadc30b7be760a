"""Round-10 ADVICE regression tests.

Each test pins one of the r9 advisor findings closed this round:
1. events_did_uplift: sub-second timestamps straddling the 1-second
   truncation band must classify identically in Spark (unix_timestamp,
   whole seconds) and the DuckDB oracle (now floor(epoch), whole seconds).
2. fls_native empty-append: an empty generation that WIDENS a column's
   type must land (the old name-subset skip silently dropped it).
3. scan_hive_partition_prune: a genuinely empty source is laid out at
   most ONCE per corpus version (verified-empty sentinel), while a stale
   marker from a different catalog sharing the basename still rewrites.
4. RFM zero-variance guard: the squared-sum comparison runs in
   DECIMAL(38,0) on the Spark side too, so a degenerate monetary
   dimension with |sum| > ~3e9 cents z-scores to 0 (not Inf/NaN from a
   wrapped int64 square).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_fastlanes_spark import registry
from tests.conftest import REPO_ROOT, SF_DIR

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _synth_catalog(root: str, overrides: dict[str, str]) -> None:
    """Zero-row catalog with real schemas, with per-table SQL overrides."""
    con = duckdb.connect()
    for t in TABLES:
        body = overrides.get(
            t, f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') LIMIT 0"
        )
        con.execute(
            f"COPY ({body}) TO '{os.path.join(root, t)}.parquet' (FORMAT parquet)"
        )
    con.close()


def test_did_uplift_subsecond_band_parity(spark, tmp_path):
    """Events whose fractional epoch parts straddle the midpoint's 1-second
    truncation band: min=100.9s, max=103.9s. Whole-second midpoint =
    floor((100+103)/2) = 101; fractional midpoint = floor(102.4) = 102. The
    event at 101.5s is post (101 >= 101) under whole-second truncation but
    pre (101.5 < 102) under the old fractional oracle — exactly the
    data-dependent divergence the r9 advisor named. Both engines must now
    agree on every cell count."""
    root = str(tmp_path / "band")
    os.makedirs(root)
    events_sql = """
        SELECT * FROM (VALUES
            (1, make_timestamp(100900000), 0, 'click', 10.0, '{}'),
            (2, make_timestamp(101500000), 1, 'click', 20.0, '{}'),
            (3, make_timestamp(102100000), 2, 'click', 30.0, '{}'),
            (4, make_timestamp(103900000), 3, 'click', 40.0, '{}')
        ) AS t(event_id, ts, user_id, event_type, value, props)
    """
    _synth_catalog(root, {"events": events_sql})

    got = registry.queries()["events_did_uplift"](spark, root).collect()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{os.path.join(root, t)}.parquet')"
        )
    exp = con.execute(registry.oracles()["events_did_uplift"]).fetchall()
    con.close()
    assert len(got) == len(exp) == 1
    g, e = got[0], exp[0]
    # cell counts must agree exactly (the advisor's divergence flips one
    # event between n_*p and n_*r); the estimate follows from the cells
    assert (g.n_tp, g.n_tr, g.n_cp, g.n_cr) == tuple(e[:4]), (g, e)
    if g.did_estimate is None or e[4] is None:
        assert g.did_estimate == e[4]
    else:
        assert abs(float(g.did_estimate) - float(e[4])) < 1e-9
    # the crafted band event (user 1 @ 101.5s, floor 101 >= midpoint 101)
    # is POST on both sides; treat users (even ids) 0@100.9s -> pre,
    # 2@102.1s -> post
    assert g.n_tp == 1 and g.n_tr == 1 and g.n_cp == 2 and g.n_cr == 0


def test_empty_append_type_widening_lands(spark, tmp_path):
    """An EMPTY append generation that widens a column (int32 -> float64)
    must land its footer so union-by-name promotes the type — the old
    name-only skip dropped it (r9 ADVICE)."""
    from duckdb_fastlanes_spark.io.fls_native import (
        read_fls_native,
        write_fls_native,
    )

    out = str(tmp_path / "widen")
    base = spark.range(5).select(F.col("id").cast("int").alias("x"))
    write_fls_native(base, out, mode="overwrite")
    widen = spark.range(0).select(F.col("id").cast("double").alias("x"))
    write_fls_native(widen, out, mode="append")
    ev = read_fls_native(spark, out, union_by_name=True)
    assert dict(ev.dtypes)["x"] == "double"
    assert ev.count() == 5
    # same-or-narrower empty append is still absorbed: no footer-file churn
    n_files = len([f for f in os.listdir(out) if f.endswith(".fls")])
    same = spark.range(0).select(F.col("id").cast("int").alias("x"))
    write_fls_native(same, out, mode="append")
    write_fls_native(same, out, mode="append")
    assert (
        len([f for f in os.listdir(out) if f.endswith(".fls")]) == n_files
    ), "non-widening empty appends must not accumulate footer-only files"


def test_hive_prune_empty_source_written_once(spark, tmp_path, monkeypatch):
    """Empty source: first call publishes the (empty) partitioned copy; the
    second call must NOT rewrite (no churn, no write/read race between
    bench threads — r9 ADVICE)."""
    import glob
    import tempfile

    root = str(tmp_path / "emptycat")
    os.makedirs(root)
    _synth_catalog(root, {})
    # isolate the layout cache dir for this test
    monkeypatch.setenv("TMPDIR", str(tmp_path / "cache"))
    os.makedirs(str(tmp_path / "cache"), exist_ok=True)
    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        fn = registry.queries()["scan_hive_partition_prune"]
        assert fn(spark, root).collect() == []
        # one published dir, named by the source fingerprint, no tmp left
        (out,) = glob.glob(os.path.join(str(tmp_path / "cache"), "dfs_hive_events_*"))
        snapshot = {
            f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)
        }
        assert fn(spark, root).collect() == []
        after = {
            f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)
        }
        assert after == snapshot, "second call on unchanged empty source rewrote"
    finally:
        tempfile.tempdir = None


def test_rfm_zero_variance_guard_exact_at_scale(spark, tmp_path):
    """Degenerate monetary dimension with sum(cents) = 4e9 (> int64-sqrt
    bound ~3.04e9, so a raw BIGINT s*s wraps): z3 must be exactly 0 in
    BOTH engines. 40 customers x 100 orders x $10,000.00 each."""
    from duckdb_fastlanes_spark.operators.analytics_ext2 import (
        _rfm_feature_sql,
        _rfm_zs,
    )

    root = str(tmp_path / "degen")
    os.makedirs(root)
    orders_sql = """
        SELECT (c * 100 + i) AS o_orderkey, c AS o_custkey,
               'O' AS o_orderstatus, 10000.00 AS o_totalprice,
               DATE '1995-01-01' + CAST(c AS INTEGER) AS o_orderdate,
               '1-URGENT' AS o_orderpriority, 'clerk' AS o_clerk,
               0 AS o_shippriority, '' AS o_comment
        FROM range(40) t(c), range(100) u(i)
    """
    _synth_catalog(root, {"orders": orders_sql})

    got = {
        r.o_custkey: (r.z1, r.z2, r.z3)
        for r in _rfm_zs(spark, root).collect()
    }
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{os.path.join(root, t)}.parquet')"
        )
    exp = {
        r[0]: tuple(r[4:7])
        for r in con.execute(_rfm_feature_sql()).fetchall()
    }
    con.close()
    assert len(got) == 40
    for cust, (z1, z2, z3) in got.items():
        # frequency and monetary are degenerate -> exactly 0, never NaN/Inf
        assert z2 == 0 and z3 == 0, (cust, z2, z3)
        assert got[cust] == exp[cust], (cust, got[cust], exp[cust])


def test_kcore_and_rfm_first_call_fresh_interpreter():
    """Standing gate (the r9 flip-union lesson): every REWRITTEN iterative
    operator must produce correct results as the FIRST query of a
    brand-new interpreter — in-session tests can mask first-execution
    plan-identity bugs. r10 rewrote graph_k_core (broadcast-filtered
    monotone peel) and customers_rfm_segments (driver-inlined centroid
    literals); both run fresh here and hash against the DuckDB oracle."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, "%s")
import duckdb
from duckdb_fastlanes_spark import get_spark, registry
spark = get_spark("r10-fresh")
spark.sparkContext.setLogLevel("ERROR")
sf = "%s"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
for name in ("graph_k_core", "customers_rfm_segments"):
    got = sorted(map(tuple, registry.queries()[name](spark, sf).collect()))
    exp = sorted(map(tuple, con.execute(registry.oracles()[name]).fetchall()))
    assert len(got) == len(exp) and all(
        str(a) == str(b) for ra, rb in zip(got, exp) for a, b in zip(ra, rb)
    ), f"{name}: {got[:3]} vs {exp[:3]}"
print("OK")
""" % (REPO_ROOT, SF_DIR)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout
