"""Independent semantic checks for the round-5 pair-count dedup rewrite and
the driver-side index lookups.

The registry's DuckDB oracles mirror the ALGORITHM (df-cap, pair counts), so
they would not catch a bug shared by both mirrors. These tests recompute the
*definition* — Jaccard/containment over capped 3-gram shingle sets — in plain
Python from the raw documents, with no shared code, and compare exactly.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import REPO_ROOT, SF_DIR

CAP = 32
JT = 0.5
CT = 0.8


def _python_shingle_sets(rows):
    """doc_id -> set of 3-gram shingles, the textbook definition."""
    sets = {}
    for doc_id, text in rows:
        w = re.findall(r"[a-z0-9]+", text.lower())
        if len(w) < 3:
            continue
        sets[doc_id] = {
            f"{w[i]} {w[i + 1]} {w[i + 2]}" for i in range(len(w) - 2)
        }
    return sets


def _python_capped_sets(rows):
    sets = _python_shingle_sets(rows)
    df: dict[str, int] = {}
    for sh in sets.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    return {d: {s for s in sh if df[s] <= CAP} for d, sh in sets.items()}


@pytest.fixture(scope="module")
def doc_rows(spark):
    from duckdb_fastlanes_spark.catalog import table

    return [
        (r.doc_id, r.text)
        for r in table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    ]


def test_ngram_jaccard_matches_bruteforce_definition(spark, doc_rows):
    from duckdb_fastlanes_spark.pipeline.dedup import dedup_ngram_jaccard

    kept = _python_capped_sets(doc_rows)
    ids = sorted(kept)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(kept[a] & kept[b])
            if inter == 0:
                continue
            jac = inter / (len(kept[a]) + len(kept[b]) - inter)
            if jac >= JT:
                expect[(a, b)] = round(jac, 4)

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    assert got == expect


def test_containment_matches_bruteforce_definition(spark, doc_rows):
    from duckdb_fastlanes_spark.pipeline.dedup import dedup_containment

    kept = _python_capped_sets(doc_rows)
    ids = sorted(kept)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(kept[a] & kept[b])
            if inter == 0:
                continue
            cont = inter / min(len(kept[a]), len(kept[b]))
            if cont >= CT:
                jac = inter / (len(kept[a]) + len(kept[b]) - inter)
                expect[(a, b)] = (round(cont, 4), round(jac, 4))

    got = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in dedup_containment(spark, SF_DIR).collect()
    }
    assert got == expect


def test_length_filter_is_lossless(spark):
    """The pre-shuffle length filter (t*nb <= na <= nb/t) must drop only
    pairs that the Jaccard threshold would drop anyway: running the pair
    scores WITHOUT the filter and thresholding yields the identical set."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        _pair_count_sql,
    )

    tail = f"""
    SELECT doc_a, doc_b
    FROM (SELECT doc_a, doc_b, CAST(c AS DOUBLE)/(na + nb - c) AS jac FROM c)
    WHERE jac >= {JACCARD_THRESHOLD}
    """
    with_f = {
        (r.doc_a, r.doc_b)
        for r in sql_q(
            spark, SF_DIR, _pair_count_sql(JACCARD_THRESHOLD) + tail
        ).collect()
    }
    without_f = {
        (r.doc_a, r.doc_b)
        for r in sql_q(spark, SF_DIR, _pair_count_sql(None) + tail).collect()
    }
    assert with_f == without_f


def test_fetch_vec_matches_spark_row(spark):
    from duckdb_fastlanes_spark.catalog import table
    from duckdb_fastlanes_spark.pipeline.similarity import QUERY_VEC_ID, _fetch_vec

    via_spark = (
        table(spark, SF_DIR, "embeddings")
        .selectExpr("CAST(embedding AS array<double>) AS e")
        .where(f"vec_id = {QUERY_VEC_ID}")
        .head()[0]
    )
    assert _fetch_vec(SF_DIR, QUERY_VEC_ID) == list(via_spark)


def test_ivf_driver_cell_matches_spark_assignment(spark):
    """The Python-side cell choice (_cos_py over _ivf_centroids) must equal
    the Spark max_by assignment the index was built with — bit-for-bit, not
    approximately, or the probe reads the wrong directory."""
    import pyspark.sql.functions as F

    from duckdb_fastlanes_spark.catalog import table
    from duckdb_fastlanes_spark.pipeline.similarity import (
        NLIST,
        _cos_py,
        _cosine,
        _doubled,
        _fetch_vec,
        _ivf_centroids,
    )

    cents = _ivf_centroids(SF_DIR)
    v = _doubled(table(spark, SF_DIR, "embeddings"))
    cdf = F.broadcast(
        v.filter(F.col("vec_id") < NLIST).select(
            F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
        )
    )
    spark_cells = {
        r.vec_id: r.cell
        for r in v.crossJoin(cdf)
        .select(
            "vec_id", "cent_id", _cosine(F.col("e"), F.col("ce")).alias("cscore")
        )
        .groupBy("vec_id")
        .agg(F.expr("max_by(cent_id, struct(cscore, -cent_id)) AS cell"))
        .collect()
    }
    # every vector's python cell must match, not just the query's
    for vid in list(spark_cells)[:200]:
        e = _fetch_vec(SF_DIR, vid)
        py_cell = max(sorted(cents), key=lambda c: (_cos_py(e, cents[c]), -c))
        assert py_cell == spark_cells[vid], vid


def test_pin_shuffle_hash_flips_join_strategy(spark, monkeypatch):
    """Above the input gauge tpch_q9's orders join must be a distributed
    hash build (ShuffledHashJoin), never a broadcast of the fact side;
    below it the hint must be absent so the static planner's broadcast
    stands."""
    import duckdb_fastlanes_spark.sizing as sizing
    from duckdb_fastlanes_spark.operators.tpch_suite import tpch_q9

    plan_small = tpch_q9(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" not in plan_small

    monkeypatch.setattr(sizing, "SMALL_INPUT_BYTES", 0)
    plan_big = tpch_q9(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_big


def test_cluster_cc_first_call_in_fresh_session_covers_all_endpoints():
    """Regression (r9): unioning a plan with its own column-flipped
    projection — the old edge-doubling idiom in min_label_propagation —
    silently LOST the flipped leg on the first execution in a session
    (both.count() == |edges|, CC emitted 24 rows instead of 47), while any
    session that had already materialized part of the plan was correct, so
    in-session tests and full sweeps never saw it. The doubling is now a
    single exploded struct array (immune by construction); this test pins
    the first-call case by running dedup_cluster_cc as the FIRST query of
    a brand-new interpreter and checking every pair endpoint gets a label."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, "%s")
from duckdb_fastlanes_spark import get_spark
from duckdb_fastlanes_spark.pipeline.dedup import dedup_cluster_cc, dedup_minhash_lsh
spark = get_spark("cc-first-call")
spark.sparkContext.setLogLevel("ERROR")
sf = "%s"
n_cc = dedup_cluster_cc(spark, sf).count()
pairs = dedup_minhash_lsh(spark, sf).collect()
endpoints = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
assert n_cc == len(endpoints), f"CC rows {n_cc} != endpoints {len(endpoints)}"
print("OK", n_cc)
""" % (REPO_ROOT, SF_DIR)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout
