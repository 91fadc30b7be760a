"""Write → read-back roundtrip as a declared query (SURVEY.md §2.B B16).

The reference's core test idea (test/all_types_single_threaded.test:8-34):
``compare_roundtrip`` row-numbers original and roundtripped tables, full-outer
joins on position, and expects zero ``IS DISTINCT FROM`` mismatches. Here the
roundtrip is parquet write (write_fls) → read (read_fls) → positional compare;
the declared query returns the mismatch count (always 0 rows of diffs) plus the
roundtripped row count, which the oracle can state in closed form.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table, values_df
from duckdb_fastlanes_spark.io.fls import read_fls, write_fls
from duckdb_fastlanes_spark.registry import register


def _tmp_out(name: str) -> str:
    """Per-process output dir for roundtrip writes. A fixed shared path let
    two CONCURRENT check processes race on the same directory (one process
    overwrites while the other reads — observed as a spurious empty-gate
    failure in r11). The PID token keeps every rerun within one process
    overwriting its own dir (no per-process accumulation) while distinct
    processes never share a path. Build-time string only — the timed
    write/read path is unchanged."""
    return os.path.join(tempfile.gettempdir(), f"{name}_pid{os.getpid()}")


@register(
    "roundtrip_lineitem",
    oracle="""
    SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS n_mismatches
    FROM lineitem
    """,
)
def roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem via write_fls, read back via read_fls, compare exactly:
    symmetric exceptAll must be empty and row counts equal. Result row:
    (n_rows, n_mismatches=0) so the oracle verifies both write fidelity and
    cardinality preservation."""
    li = table(spark, sf_dir, "lineitem")
    out = _tmp_out("dfs_roundtrip_lineitem")
    write_fls(li, out, row_group_size=64 * 1024)
    rt = read_fls(spark, out)
    diff_a = li.exceptAll(rt)
    diff_b = rt.exceptAll(li)
    mismatches = diff_a.union(diff_b).count()
    n = rt.count()
    # r11: LocalRelation result row (values_df) — createDataFrame's
    # Python-RDD path cost ~0.25 s per execution for one scalar row
    return values_df(spark, [(n, mismatches)], "n_rows BIGINT, n_mismatches BIGINT")


@register(
    "roundtrip_file_rotation",
    oracle="""
    SELECT CAST(ceil(count(*) / 16384.0) AS BIGINT) AS min_files, count(*) AS n_rows
    FROM orders
    """,
)
def roundtrip_file_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File rotation (reference A21, fls_writer.cpp:189-211):
    row_groups_per_file × row_group_size caps rows per file via
    maxRecordsPerFile. Emits (min_files = ceil(n/16384), n_rows); the actual
    file count is asserted ≥ min_files in tests (Spark may split further by
    input partition)."""
    o = table(spark, sf_dir, "orders")
    out = _tmp_out("dfs_roundtrip_rotation")
    write_fls(o.coalesce(1), out, row_group_size=1024, row_groups_per_file=16)
    rt = read_fls(spark, out)
    n = rt.count()
    return values_df(spark, [(-(-n // 16384), n)], "min_files BIGINT, n_rows BIGINT")


@register(
    "roundtrip_text_sources",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(0 AS BIGINT) AS csv_mismatches,
           CAST(0 AS BIGINT) AS jsonl_mismatches
    FROM orders
    """,
)
def roundtrip_text_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSONL source fidelity: write orders to both text formats via
    io.text_sources, read back with explicit schemas (text formats carry no
    types — schema-on-read is the contract, matching read_fls's schema-full
    stance), and compare exactly. Timestamps survive via ISO-8601; doubles
    via round-trippable formatting. The declared row is
    (n_rows, 0, 0) — the oracle states it in closed form."""
    from duckdb_fastlanes_spark.io.text_sources import (
        read_csv,
        read_jsonl,
        write_csv,
        write_jsonl,
    )

    o = table(spark, sf_dir, "orders")
    base = _tmp_out("dfs_roundtrip_text")
    csv_path, jsonl_path = base + "_csv", base + "_jsonl"
    write_csv(o, csv_path)
    write_jsonl(o, jsonl_path)
    schema = o.schema
    from_csv = read_csv(spark, csv_path, schema=schema)
    from_jsonl = read_jsonl(spark, jsonl_path, schema=schema)
    csv_mism = o.exceptAll(from_csv).union(from_csv.exceptAll(o)).count()
    jsonl_mism = o.exceptAll(from_jsonl).union(from_jsonl.exceptAll(o)).count()
    return values_df(
        spark,
        [(o.count(), csv_mism, jsonl_mism)],
        "n_rows BIGINT, csv_mismatches BIGINT, jsonl_mismatches BIGINT",
    )


@register(
    "roundtrip_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(o_orderpriority, '<missing>') AS priority,
           count(*) AS n,
           CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS revenue_cents
    FROM unioned
    GROUP BY 1 ORDER BY 1
    """,
)
def roundtrip_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations (reference A2 union_by_name,
    fls_multi_file_info.cpp:75-81): generation 1 files carry
    (o_orderkey, o_totalprice), generation 2 adds o_orderpriority; reading
    both with union_by_name aligns by column name and fills the missing
    column with NULL. The aggregate proves NULL-fill and value fidelity in
    one pass. Fresh temp dirs per call — nothing cached across scale
    factors."""
    o = table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="dfs_schema_evo_")
    gen1, gen2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    write_fls(
        o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice"),
        gen1,
    )
    write_fls(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        gen2,
    )
    evolved = read_fls(spark, [gen1, gen2], union_by_name=True)
    return (
        evolved.groupBy(
            F.coalesce("o_orderpriority", F.lit("<missing>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("revenue_cents"),
        )
        .orderBy("priority")
    )


@register(
    "fls_native_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc,
           min(md5(text)) AS text_fp
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def fls_native_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal FastLanes-model format roundtrip (io/fls_native.py): encode
    documents with the fls_kernels codecs (FFOR/dict/ALP/RLE/constant —
    src/include/reader/materializer/kernels/*.hpp), write one .fls file per
    partition (mapInArrow, no shuffle), read back distributed, and aggregate
    EVERY column — min(md5(text)) fingerprints full string fidelity per
    group, so the oracle hash pins byte-exact decode, not just cardinality.

    Scale: write is partition-local encode, read is per-file parallel decode
    with projection pushdown — the Parquet execution shape with our own
    codecs."""
    from duckdb_fastlanes_spark.io.fls_native import (
        read_fls_native,
        write_fls_native,
    )

    d = table(spark, sf_dir, "documents")
    out = _tmp_out("dfs_flsnative_documents")
    write_fls_native(d, out, row_group_size=16 * 1024)
    rt = read_fls_native(spark, out)
    return (
        rt.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.min(F.md5(F.col("text").cast("binary"))).alias("text_fp"),
        )
        .orderBy("lang")
    )


@register(
    "fls_native_prune_scan",
    oracle="""
    SELECT count(*) AS n,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key
    FROM lineitem
    WHERE l_orderkey BETWEEN 100 AND 2000
    """,
)
def fls_native_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map row-group pruning on the native format
    (row_group_filter.cpp:75-199): lineitem is written ORDERED by l_orderkey
    in small row groups (tight per-group min/max), then read with a range
    predicate — the reader prunes non-overlapping row groups from the
    footer stats before decoding a single vector, filters the surviving
    groups exactly, and projection pushdown decodes only the two
    referenced columns. The Spark-side filter stays as a residual (it
    keeps no row the reader dropped), and the oracle verifies the
    numbers."""
    from duckdb_fastlanes_spark.io.fls_native import (
        read_fls_native,
        write_fls_native,
    )

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    out = _tmp_out("dfs_flsnative_lineitem")
    # repartitionByRange + local sort → each row group covers a tight,
    # non-overlapping key range: the layout that makes zone maps effective
    # (same reason the reference sorts before writing its bench files)
    write_fls_native(
        li.repartitionByRange(4, "l_orderkey").sortWithinPartitions("l_orderkey"),
        out,
        row_group_size=8 * 1024,
    )
    rt = read_fls_native(
        spark,
        out,
        columns=["l_orderkey", "l_quantity"],
        predicate=[("l_orderkey", ">=", 100), ("l_orderkey", "<=", 2000)],
    )
    return rt.filter(F.col("l_orderkey").between(100, 2000)).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@register(
    "fls_native_adaptive_filter_scan",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS qty_cents,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key
    FROM lineitem
    WHERE l_quantity >= 48.0 AND l_orderkey % 8 = 1
    """,
)
def fls_native_adaptive_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — adaptive filter ORDERING executed inside the native reader
    (fls_reader.cpp:357-380, filter_executor.cpp:38-55 — the one reference
    feature round 4 had marked correctness-invisible): two predicates of
    very different selectivity (l_quantity >= 48 keeps ~6%; the derived
    flag column keeps ~12.5%) are evaluated per 1024-value vector in an
    order re-ranked by OBSERVED pass-fraction, short-circuiting vectors
    whose survivor set empties, with payload columns decoded only for
    surviving row groups. Every ``read_fls_native`` predicate runs this
    way; the reader's output satisfies the predicate EXACTLY, so this
    aggregate has no Spark-side re-filter — the oracle hash pins that
    exactness. The pytest suite additionally asserts order convergence
    and permutation invariance (tests/test_fls_native.py)."""
    from duckdb_fastlanes_spark.io.fls_native import (
        read_fls_native,
        write_fls_native,
    )

    li = table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_quantity",
        # a second filterable column with different selectivity, written
        # into the file so BOTH predicates run inside the reader
        "CAST(l_orderkey % 8 AS BIGINT) AS key_bucket",
    )
    out = _tmp_out("dfs_flsnative_adaptive")
    write_fls_native(li, out, row_group_size=8 * 1024)
    rt = read_fls_native(
        spark,
        out,
        columns=["l_orderkey", "l_quantity"],
        predicate=[("l_quantity", ">=", 48.0), ("key_bucket", "=", 1)],
    )
    return rt.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(round(l_quantity * 100) AS BIGINT)")).alias("qty_cents"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@register(
    "fls_native_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(o_orderpriority, '<missing>') AS priority,
           count(*) AS n,
           CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS revenue_cents,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM unioned
    GROUP BY 1 ORDER BY 1
    """,
)
def fls_native_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the NATIVE format (A2/A3 parity for fls_native,
    fls_multi_file_info.cpp:70-82 + schema_builder.cpp:132-243): generation
    1 files carry (o_orderkey BIGINT, o_totalprice DOUBLE) with the key
    narrowed to INT (type-promotion witness), generation 2 adds
    o_orderpriority; reading the mixed directory with union_by_name
    NULL-fills the missing column and widens INT⊔BIGINT per the promotion
    lattice. The aggregate pins NULL-fill, widening, and value fidelity in
    one hash-checked row set."""
    from duckdb_fastlanes_spark.io.fls_native import (
        read_fls_native,
        write_fls_native,
    )

    o = table(spark, sf_dir, "orders")
    out = _tmp_out("dfs_flsnative_evo")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"), "o_totalprice"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_fls_native(gen1, out, mode="overwrite")
    write_fls_native(gen2, out, mode="append")
    evolved = read_fls_native(spark, out, union_by_name=True)
    return (
        evolved.groupBy(
            F.coalesce("o_orderpriority", F.lit("<missing>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("revenue_cents"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("priority")
    )
