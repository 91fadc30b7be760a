"""Scan-path operators: projection pushdown, filter pushdown, virtual row id.

Reference parity (SURVEY.md §2.A):
- A1/A4 projection pushdown — /root/reference/src/reader/fls_reader.cpp:560-613
- A5 filter pushdown         — /root/reference/src/read_fls.cpp:9-11,41-42
- A7 zone-map pruning        — /root/reference/src/reader/row_group_filter.cpp:75-199
  (built into Spark's parquet scan; these queries make its *correctness* observable,
  plan shape is asserted in tests/test_plans.py)
- A9 virtual file_row_number — /root/reference/src/reader/fls_reader.cpp:474-495
  (Spark: the parquet ``_metadata.row_index`` hidden column)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register


@register(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-only scan: ReadSchema must contain exactly these 2 columns."""
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")


@register(
    "scan_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '2000-06-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
      AND l_quantity >= 45
    """,
)
def scan_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective conjunctive range filter — pushed to parquet (row-group stats
    skipping = the reference's zone-map pruning). Single-parse SQL body."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        FROM lineitem
        WHERE l_shipdate > TIMESTAMP '2000-06-01 00:00:00'
          AND l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
          AND l_quantity >= 45
        """,
    )


@register(
    "scan_file_row_number",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS file_row_number, event_id
    FROM events
    WHERE event_id < 100
    """,
)
def scan_file_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Virtual ``file_row_number`` column via parquet ``_metadata.row_index``
    (single-file table ⇒ row_index == absolute file row number, matching the
    reference's semantics). The driver's events table is written in event_id
    order (event_id == file row index, verified), which makes the oracle
    SQL-expressible without DuckDB's file_row_number reader option."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("_metadata.row_index").alias("file_row_number"),
        "event_id",
    )
    return ev.filter(F.col("file_row_number") < 100)


@register(
    "scan_row_range_prune",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS file_row_number, event_id, event_type
    FROM events
    WHERE event_id BETWEEN 200 AND 299
    """,
)
def scan_row_range_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-id range filter (reference A8 row-group range pruning,
    row_group_filter.cpp:136-153): filter on the virtual row number."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("_metadata.row_index").alias("file_row_number"),
        "event_id",
        "event_type",
    )
    return ev.filter(F.col("file_row_number").between(200, 299))


@register(
    "stats_catalog",
    oracle="""
    SELECT 'l_quantity' AS col, round(min(l_quantity), 2) AS min_v,
           round(max(l_quantity), 2) AS max_v, count(*) AS n,
           count(DISTINCT l_quantity) AS n_distinct
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', round(min(l_extendedprice), 2),
           round(max(l_extendedprice), 2), count(*),
           count(DISTINCT l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'o_totalprice', round(min(o_totalprice), 2),
           round(max(o_totalprice), 2), count(*),
           count(DISTINCT o_totalprice)
    FROM orders
    ORDER BY col
    """,
)
def stats_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics surface (reference A10, fls_reader.cpp:244-292 —
    per-column min/max merged across row groups feeding the optimizer).
    There it is planner-internal; here the same statistics are an observable
    query — the ANALYZE-style profile a catalog records for CBO. One scan per
    table computes all of its columns' stats (the UNION ALL collapses into
    shared scans via exchange reuse)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    def col_stats(df: DataFrame, colname: str) -> DataFrame:
        return df.agg(
            F.lit(colname).alias("col"),
            F.round(F.min(colname), 2).alias("min_v"),
            F.round(F.max(colname), 2).alias("max_v"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(colname).alias("n_distinct"),
        )

    return (
        col_stats(li, "l_quantity")
        .unionByName(col_stats(li, "l_extendedprice"))
        .unionByName(col_stats(o, "o_totalprice"))
        .orderBy("col")
    )


@register(
    "describe_table",
    oracle="""
    SELECT column_name, column_type
    FROM (DESCRIBE SELECT * FROM lineitem)
    ORDER BY column_name
    """,
)
def describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema introspection — the ``DESCRIBE SELECT ...`` surface the
    reference's own test sketches (SURVEY.md §2.B18, reference
    test/sql/simple.test:16-17). The schema is driver-side catalog metadata
    (Spark resolves it from the parquet footer without a job, exactly as
    DuckDB's DESCRIBE binds without executing), emitted as a DataFrame in
    DuckDB's type vocabulary so both engines describe the table
    identically."""
    _DUCK_NAMES = {
        "bigint": "BIGINT",
        "int": "INTEGER",
        "smallint": "SMALLINT",
        "tinyint": "TINYINT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "string": "VARCHAR",
        "timestamp": "TIMESTAMP",
        # parquet timestamps without isAdjustedToUTC infer as NTZ in Spark 4;
        # DuckDB's TIMESTAMP has the same no-timezone semantics
        "timestamp_ntz": "TIMESTAMP",
        "date": "DATE",
        "boolean": "BOOLEAN",
        "binary": "BLOB",
    }
    fields = table(spark, sf_dir, "lineitem").schema.fields
    rows = [
        (f.name, _DUCK_NAMES.get(f.dataType.simpleString(), f.dataType.simpleString().upper()))
        for f in fields
    ]
    # r11 (guide §4, plans/r11/describe_table_*): createDataFrame(list) built
    # a PYTHON-RDD-backed relation (applySchemaToPythonRDD) — the orderBy's
    # range-partitioner sampling pass plus the sort each spun Python worker
    # tasks to serve 11 metadata rows (~1.5 s). A VALUES literal is a JVM
    # LocalRelation: same rows, same ORDER BY, no Python boundary (~0.1 s).
    values = ", ".join(f"('{n}', '{t}')" for n, t in rows)
    return spark.sql(
        f"SELECT column_name, column_type FROM (VALUES {values}) "
        "AS t(column_name, column_type) ORDER BY column_name"
    )


_SUMMARIZE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _summarize_oracle() -> str:
    aggs = []
    for c in _SUMMARIZE_COLS:
        aggs += [
            f"count({c}) AS cnt_{c}",
            f"count(DISTINCT {c}) AS ndv_{c}",
            f"round(min({c}), 2) AS min_{c}",
            f"round(max({c}), 2) AS max_{c}",
            f"round(avg({c}), 2) AS avg_{c}",
            f"round(stddev_samp({c}), 2) AS std_{c}",
            f"round(quantile_cont({c}, 0.25), 2) AS q25_{c}",
            f"round(quantile_cont({c}, 0.50), 2) AS q50_{c}",
            f"round(quantile_cont({c}, 0.75), 2) AS q75_{c}",
        ]
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, cnt_{c} AS n, ndv_{c} AS n_distinct, "
        f"min_{c} AS min_v, max_{c} AS max_v, avg_{c} AS avg_v, std_{c} AS std_v, "
        f"q25_{c} AS q25, q50_{c} AS q50, q75_{c} AS q75 FROM s"
        for c in _SUMMARIZE_COLS
    )
    return f"WITH s AS (SELECT {', '.join(aggs)} FROM lineitem) {rows} ORDER BY column_name"


#: sketch-refine accuracy: rank error of the bracketing pass is <= n/acc,
#: and the refine margin is 8x that, so the exact ranks are guaranteed
#: inside the bracket (see _exact_quartiles_bracketed). 1000 keeps the
#: sketch pass cheap (QuantileSummaries cost grows with accuracy: 0.25 s
#: vs 0.69 s at 10k on the 4-column sf0.1 scan) while the refine set stays
#: rank-bounded at 16n/acc rows per quartile; scale accuracy with n to pin
#: the refine fraction at cluster sizes
_QUANTILE_ACC = 1_000


def _exact_quartiles_bracketed(spark, li, cols, extra_aggs=None):
    """EXACT interpolated quartiles per column via sketch-then-refine — the
    distributed-selection idiom that replaces percentile()'s value-histogram
    buffer (whose per-partition hash map is O(ndv): ~600k entries for
    l_extendedprice at sf0.1, measured 1.7 s of the profile's 2.8 s; at
    100 TB the merged map is corpus-sized and the single reducer OOMs).

    Pass 1 (one job, ONE bounded driver row — corpus-size-independent):
    count(c) plus approx_percentile brackets at p ± 8/acc per quartile.
    The sketch's rank error is <= n/acc, so the true rank-floor(h) and
    rank-ceil(h) values are GUARANTEED inside [lo, hi] with 7n/acc slack.

    Pass 2 (plan-side, no driver math on data): global rank of a bracket
    value v = (rows below lo) + (cumulative bracket count up to v). The
    below-counts are 12 conditional sums in one codegen'd scan; the bracket
    value-counts group ~8n/acc rows per quartile into value-count pairs
    (value-mass ties collapse, so a tie-heavy bracket stays tiny), and a
    per-key window over those few hundred rows selects the two ranked
    values. Interpolation uses Spark percentile()'s own two-sided weighted
    form (lower*(ceil(h)-h) + higher*(h-floor(h))) with driver-computed
    literal weights, so the values are bit-identical to the percentile()
    aggregate this replaces — the DuckDB quantile_cont oracle is unchanged.

    A violated bracket (impossible under the sketch guarantee) yields NULL,
    which FAILS the hash oracle loudly — never a silently wrong quantile.

    Returns a 1-row DataFrame with q{25,50,75}_{col} columns (rounded 2dp).
    ``extra_aggs`` (aliased aggregate Columns over ``li``) piggyback on the
    below-count scan and come back as additional columns on the same row —
    callers that need other global statistics avoid a separate scan.
    """
    extra_aggs = list(extra_aggs or [])
    acc = _QUANTILE_ACC
    d = 8.0 / acc
    ps = (0.25, 0.50, 0.75)
    probes = [F.expr(f"count({c}) AS n_{c}") for c in cols]
    for c in cols:
        edges = ", ".join(
            f"{max(0.0, p - d)!r}D, {min(1.0, p + d)!r}D" for p in ps
        )
        probes.append(
            F.expr(f"approx_percentile({c}, array({edges}), {acc}) AS br_{c}")
        )
    brackets = li.agg(*probes).collect()[0]

    below_aggs, stack_entries, targets, bracket_ranges = [], [], [], []
    null_quartiles: list[str] = []
    for c in cols:
        n = brackets[f"n_{c}"]
        br = brackets[f"br_{c}"]
        if n == 0 or br is None:
            # an all-NULL column has no quantiles: emit literal NULLs, the
            # same answer percentile()/quantile_cont give (and what the
            # oracle computes), instead of crashing on the empty sketch
            null_quartiles += [f"q{int(p * 100)}_{c}" for p in ps]
            continue
        if any(not math.isfinite(float(v)) for v in br):
            # NaN/Infinity near a quartile: the bracket edges are not
            # orderable literals (repr() would splice an unparseable
            # 'nanD'). percentile()'s NaN semantics (NaN sorts greatest)
            # are not reproducible with value-range brackets, so refuse
            # loudly rather than return a silently different quantile.
            raise ValueError(
                f"column {c!r} has non-finite values near a quartile; "
                "use percentile() directly for NaN/Inf-bearing columns"
            )
        for j, p in enumerate(ps):
            lo, hi = float(br[2 * j]), float(br[2 * j + 1])
            h = p * (n - 1)
            tag = f"{c}_{int(p * 100)}"
            below_aggs.append(
                F.expr(f"sum(CASE WHEN {c} < {lo!r}D THEN 1 ELSE 0 END)").alias(
                    f"below_{tag}"
                )
            )
            stack_entries.append(
                f"'{tag}', CASE WHEN {c} >= {lo!r}D AND {c} <= {hi!r}D "
                f"THEN {c} END"
            )
            bracket_ranges.append((c, lo, hi))
            targets.append((tag, c, h, int(h)))

    below = li.agg(*below_aggs, *extra_aggs)
    extra_names = [c for c in below.columns if not c.startswith("below_")]
    if not targets:
        # every column all-NULL: no refine scan exists; NULL quantiles (the
        # same answer percentile()/quantile_cont give) plus the extras
        return below.select(
            *[F.expr("CAST(NULL AS DOUBLE)").alias(n) for n in null_quartiles],
            *extra_names,
        )
    # pre-filter before the 12-branch stack: only rows inside at least one
    # bracket survive, so the Expand runs over the refine set, not the corpus
    any_bracket = " OR ".join(
        f"({c} >= {lo!r}D AND {c} <= {hi!r}D)" for c, lo, hi in bracket_ranges
    )
    bracket_counts = (
        li.where(any_bracket)
        .selectExpr(
            f"stack({len(stack_entries)}, {', '.join(stack_entries)})"
            " AS (key, value)"
        )
        .where(F.col("value").isNotNull())
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from pyspark.sql.window import Window

    wk = Window.partitionBy("key").orderBy("value")
    # per-key cumulative bracket count; + rows-below-bracket = the value's
    # global 0-indexed rank interval [grank - w, grank - 1]
    ranked = bracket_counts.select(
        "key", "value", "w", F.sum("w").over(wk).alias("cum")
    ).crossJoin(F.broadcast(below))

    def _value_at(tag: str, r: int) -> str:
        # the UNIQUE value covering global rank r: cum > r AND cum - w <= r.
        # If the bracket does not cover rank r (sketch guarantee violated),
        # no row qualifies and the min is NULL — a loud oracle failure,
        # never a silently wrong pick.
        g = f"(cum + below_{tag})"
        return (
            f"min(CASE WHEN key = '{tag}' AND {g} > {r} AND {g} - w <= {r} "
            f"THEN value END)"
        )

    per_key = []
    for tag, c, h, r_lo in targets:
        x_lo = _value_at(tag, r_lo)
        if h == r_lo:
            q_expr = x_lo
        else:
            # Spark percentile()'s exact interpolation form:
            # lower*(ceil(h)-h) + higher*(h-floor(h)), weights as literals
            w_lo, w_hi = (r_lo + 1) - h, h - r_lo
            q_expr = (
                f"({x_lo} * {w_lo!r}D + {_value_at(tag, r_lo + 1)} * {w_hi!r}D)"
            )
        p_tag = tag.rsplit("_", 1)[1]
        per_key.append(F.expr(f"round({q_expr}, 2)").alias(f"q{p_tag}_{c}"))
    per_key += [F.expr("CAST(NULL AS DOUBLE)").alias(name) for name in null_quartiles]
    # extras are crossJoined constants — first() recovers each unchanged
    per_key += [F.first(name).alias(name) for name in extra_names]
    return ranked.agg(*per_key)


@register("summarize_table", oracle=_summarize_oracle())
def summarize_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUMMARIZE parity — DuckDB's one-statement per-column profile
    (count / ndv / min / max / avg / std / quartiles), here over lineitem's
    numeric columns. One wide aggregate computes the plain statistics in a
    single scan; exact quartiles run as a sketch-refine selection
    (_exact_quartiles_bracketed — percentile()'s O(ndv) value-histogram
    buffer was 1.7 s of the 2.8 s profile at sf0.1 and is corpus-sized at
    100 TB, while the refine set is rank-bounded by the sketch accuracy);
    a stack() unpivots the combined 1-row result into the per-column
    profile. Exact ndv + exact quantiles keep the result hash-comparable;
    the sketched variants live in agg_approx_sketch.

    The count-DISTINCTs aggregate apart from the buffered aggregates
    and cross-join back (1 row × 1 row): combining them would put the
    multi-distinct Expand UNDER the other aggregation buffers —
    measured 12.7 s vs 1.3 s split (same trap as agg_approx_sketch)."""
    li = table(spark, sf_dir, "lineitem")
    plain, ndv = [], []
    for c in _SUMMARIZE_COLS:
        ndv.append(F.expr(f"count(DISTINCT {c}) AS ndv_{c}"))
        plain += [
            F.expr(f"count({c}) AS cnt_{c}"),
            F.expr(f"round(min({c}), 2) AS min_{c}"),
            F.expr(f"round(max({c}), 2) AS max_{c}"),
            F.expr(f"round(avg({c}), 2) AS avg_{c}"),
            F.expr(f"round(stddev_samp({c}), 2) AS std_{c}"),
        ]
    # the plain statistics piggyback on the quartile helper's below-count
    # aggregate (one global aggregate computes both). Corpus passes
    # end-to-end: (1) the bracket-sketch aggregate, (2) plain+below,
    # (3) the pre-filtered bracket value-count scan (reads the corpus,
    # keeps only in-bracket rows), (4) the ndv Expand — all cheap
    # codegen'd scans of the cached layout; what the rewrite removed is
    # percentile()'s O(ndv) hash-map buffer, not a scan
    quart = _exact_quartiles_bracketed(spark, li, _SUMMARIZE_COLS, extra_aggs=plain)
    wide = quart.crossJoin(li.agg(*ndv))
    stack_args = ", ".join(
        f"'{c}', cnt_{c}, ndv_{c}, min_{c}, max_{c}, avg_{c}, std_{c}, q25_{c}, q50_{c}, q75_{c}"
        for c in _SUMMARIZE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_SUMMARIZE_COLS)}, {stack_args}) AS "
        "(column_name, n, n_distinct, min_v, max_v, avg_v, std_v, q25, q50, q75)"
    ).orderBy("column_name")


@register(
    "scan_hive_partition_prune",
    oracle="""
    SELECT event_type, count(*) AS n, CAST(round(sum(value) * 100) AS BIGINT) AS total_cents
    FROM events
    WHERE event_type IN ('error', 'signup')
    GROUP BY event_type ORDER BY event_type
    """,
)
def scan_hive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning: events written partitioned by event_type
    (io.fls partition_by — the directory-level analogue of the reference's
    zone-map row-group skipping, row_group_filter.cpp:75-199), then read with
    a partition-key filter. Catalyst prunes non-matching DIRECTORIES at plan
    time — the scan never lists, opens, or reads the other partitions'
    files, which at 100 TB is the difference between touching 2/5 of the
    table and all of it. The aggregate result hash-checks against the
    unpartitioned oracle."""
    import os
    import tempfile

    from duckdb_fastlanes_spark.io.fls import read_fls, write_fls

    ev = table(spark, sf_dir, "events")

    def _src_fingerprint() -> str:
        # driver-side stat of the source files: each version of each
        # catalog's events gets its own layout dir, so neither a stale copy
        # nor another catalog sharing the basename can serve
        import hashlib

        src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
        if os.path.isdir(src):
            paths = sorted(
                os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs
            )
        else:
            paths = [src] if os.path.exists(src) else []
        parts = []
        for p in paths:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        return hashlib.md5("|".join(parts).encode()).hexdigest()

    out = os.path.join(tempfile.gettempdir(), f"dfs_hive_events_{_src_fingerprint()}")

    def _has_files() -> bool:
        # short-circuit at the first data file (r8 ADVICE: the full os.walk
        # ran on every invocation)
        for _, _, fs in os.walk(out):
            if any(f.endswith(".parquet") for f in fs):
                return True
        return False

    if not os.path.isdir(out):
        # atomic publish (the z-order staging discipline): build in a tmp
        # sibling private to this process and thread, rename it into place
        # when complete. Concurrent first callers never share a directory;
        # the loser of the rename discards its own copy. A genuinely empty
        # corpus publishes a dir with no data files, written once per version.
        import shutil
        import threading

        tmp = f"{out}.tmp-{os.getpid()}-{threading.get_ident()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_fls(ev, tmp, partition_by=["event_type"])
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner serves
    # empty source: the partitioned write lands no data files and schema
    # inference on the empty layout fails — fall back to the source frame
    # (the pruning demonstration needs data to prune)
    part = read_fls(spark, out) if _has_files() else ev
    return (
        part.filter(F.col("event_type").isin("error", "signup"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") * 100).cast("bigint").alias("total_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_bucketed_join",
    oracle="""
    SELECT l_orderkey % 16 AS k,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)
                    * CAST(round(o_totalprice * 100) AS BIGINT) // 10000)
                AS BIGINT) AS weighted
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def scan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free co-located join through bucketed tables (io.fls
    write_fls_bucketed): both fact tables are hash-bucketed on the join key
    at write time, so the sort-merge join consumes the write-time shuffle
    and inserts ZERO Exchange nodes — the primitive that makes repeated
    100 TB fact-fact joins affordable (pay the shuffle once, reuse forever).
    The plan is asserted exchange-free at build time (MERGE hint pins SMJ so
    a small probe side can't silently flip to broadcast); the aggregate
    result hash-checks against the plain-join oracle. Weighted sum runs in
    exact integer cents//10000 so no float-summation order can leak into
    the hash."""
    import os
    import shutil

    from duckdb_fastlanes_spark.io.fls import write_fls_bucketed
    from duckdb_fastlanes_spark.plans.checks import explain_str

    # the staged-table names carry a SOURCE fingerprint (path,size,mtime):
    # source data regenerated in place fingerprints to a new name and
    # restages, so a stale bucketed copy can never silently serve while
    # the oracle reads fresh data (same staleness contract as
    # catalog.optimize_layout's layout marker and similarity._ivf_index)
    from duckdb_fastlanes_spark.catalog import source_fingerprint

    tag = source_fingerprint(sf_dir, "lineitem", "orders", extra="b8v1")
    li_t, o_t = f"dfs_li_bucketed_{tag}", f"dfs_o_bucketed_{tag}"
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for name, df, keys in ((li_t, li, ["l_orderkey"]), (o_t, o, ["o_orderkey"])):
        if not spark.catalog.tableExists(name):
            # clear orphaned warehouse dirs a killed session may have left
            warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                "file:"
            )
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
            write_fls_bucketed(df, name, bucket_by=keys, n_buckets=8)
    lb, ob = spark.table(li_t), spark.table(o_t)
    joined = lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
    plan = explain_str(joined, "simple")
    if "Exchange" in plan:
        raise AssertionError(
            "bucketed join plan contains an Exchange — bucketing not applied"
        )
    return (
        joined.groupBy((F.col("l_orderkey") % 16).alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.expr("CAST(round(l_quantity * 100) AS BIGINT)"
                         " * CAST(round(o_totalprice * 100) AS BIGINT)"
                         " DIV 10000")).alias("weighted"),
        )
        .orderBy("k")
    )


@register(
    "scan_bucketed_agg",
    oracle="""
    SELECT n_lines, count(*) AS n_orders,
           CAST(sum(qty_cents) AS BIGINT) AS total_qty_cents
    FROM (
        SELECT l_orderkey,
               count(*) AS n_lines,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents
        FROM lineitem GROUP BY 1
    )
    GROUP BY 1 ORDER BY 1
    """,
)
def scan_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free aggregation on the bucket key: grouping the bucketed
    lineitem copy (scan_bucketed_join's staging) by ``l_orderkey`` needs NO
    shuffle — the scan's bucket distribution already satisfies the
    aggregate's clustering requirement, so the per-key aggregate runs
    scan-local. The companion primitive to the exchange-free join: at
    100 TB, any repeated per-entity rollup (per-document stats, per-user
    sessions, per-order totals) on the table's bucket key pays its shuffle
    once at ingest and never again. Asserted at build time: the per-key
    aggregate's plan contains ZERO Exchange nodes. The tiny histogram
    rollup on top shuffles its ~7-row input freely."""
    import os
    import shutil

    from duckdb_fastlanes_spark.io.fls import write_fls_bucketed
    from duckdb_fastlanes_spark.plans.checks import explain_str

    # fingerprinted staging name — regenerated source data restages instead
    # of a stale memoized copy serving against a fresh oracle (the same
    # contract scan_bucketed_join documents; shares its staged table)
    from duckdb_fastlanes_spark.catalog import source_fingerprint

    tag = source_fingerprint(sf_dir, "lineitem", "orders", extra="b8v1")
    li_t = f"dfs_li_bucketed_{tag}"
    if not spark.catalog.tableExists(li_t):
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(warehouse, li_t), ignore_errors=True)
        write_fls_bucketed(
            table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
            li_t,
            bucket_by=["l_orderkey"],
            n_buckets=8,
        )
    per_key = (
        spark.table(li_t)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.expr("CAST(round(l_quantity * 100) AS BIGINT)")).alias(
                "qty_cents"
            ),
        )
    )
    if "Exchange" in explain_str(per_key, "simple"):
        raise AssertionError(
            "bucket-key aggregate plan contains an Exchange — bucketing not applied"
        )
    return (
        per_key.groupBy("n_lines")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("qty_cents").alias("total_qty_cents"),
        )
        .orderBy("n_lines")
    )


def _zorder_expr(a: str, b: str, bits: int = 21) -> str:
    """Morton (Z-order) interleave of the low ``bits`` bits of two BIGINT
    key expressions — disjoint target bits, so the terms sum without
    carries. Pure JVM bitwise ops (whole-stage codegen), used once at
    ingest time. Callers must fit the keys into the bit budget first
    (see ``_zorder_scaled_expr``) — bits above position ``bits-1`` are
    discarded by construction."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


def _zorder_scaled_expr(a: str, b: str, dom: dict[str, tuple[int, int]],
                        bits: int = 21) -> str:
    """Z-order expression with each key DOMAIN-SCALED into the ``bits``
    budget before interleaving: k → (k - min) * (2^bits - 1) DIV
    max(max - min, 1), a monotone map that keeps clustering quality for
    ANY key domain instead of silently truncating keys above 2^bits
    (l_partkey exceeds 2^21 past ~SF10 — r10 ADVICE item). ``dom`` maps
    column → (min, max), measured once at stage time. Explicit BIGINT
    casts guard 32-bit inputs; the scale product stays in int64 for
    domains up to ~2^41 (width 2^41 × scale 2^21 < 2^63)."""
    top = (1 << bits) - 1

    def scaled(col: str) -> str:
        lo, hi = dom[col]
        return (f"((CAST({col} AS BIGINT) - {lo}) * {top} "
                f"DIV {max(hi - lo, 1)})")

    return _zorder_expr(scaled(a), scaled(b), bits)


@register(
    "scan_zorder_prune",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 2 AND 5
    """,
)
def scan_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional pruning through Z-ORDER clustering (the Delta/
    Iceberg OPTIMIZE ZORDER primitive, absent from core Spark): lineitem
    is staged once sorted by the Morton interleave of (l_partkey,
    l_suppkey), so EVERY staged file carries a tight min/max footer range
    on BOTH columns at once — a 2-D box predicate then prunes most row
    groups where a 1-D clustering could only serve its own key. The
    aggregate hash-checks against the unclustered oracle (layout must
    never change results); tests/test_zorder.py measures the actual
    bounding-box shrinkage and row-group-intersection counts vs the
    linear layout. At 100 TB this is the difference between touching
    O(box) files and a full-column scan for any dashboard slicing on two
    correlated dimensions.

    Scale shape: ingest pays one range-shuffle by z-value (pay-once, like
    the bucketed staging); the query is a single pruned scan + one global
    aggregate in exact cents. Empty source: no staged files land — falls
    back to the plain (empty) table, same one-row zero/NULL aggregate as
    the oracle."""
    import os
    import tempfile

    from duckdb_fastlanes_spark.catalog import source_fingerprint

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    tag = source_fingerprint(sf_dir, "lineitem", extra="zorder_v2")
    out = os.path.join(tempfile.gettempdir(), f"dfs_zorder_li_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        # atomic publish (the similarity._staged_index discipline): build
        # in a pid-suffixed tmp root, rename into place when complete — two
        # concurrent first callers can never interleave part-files, and a
        # crash mid-build leaves only an ignored tmp dir
        import shutil

        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        # measure the key domains once (pay-once, same class as the range
        # shuffle below) so the Morton map never truncates high bits
        dom_row = li.agg(
            F.min("l_partkey"), F.max("l_partkey"),
            F.min("l_suppkey"), F.max("l_suppkey"),
        ).first()
        if dom_row[0] is None:  # empty source: nothing to stage
            dom_row = (0, 0, 0, 0)
        dom = {
            "l_partkey": (int(dom_row[0]), int(dom_row[1])),
            "l_suppkey": (int(dom_row[2]), int(dom_row[3])),
        }
        z = F.expr(_zorder_scaled_expr("l_partkey", "l_suppkey", dom))
        n_files = 32
        (
            li.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner serves

    def _has_files() -> bool:
        return any(f.endswith(".parquet") for f in os.listdir(out))

    src = spark.read.parquet(out) if _has_files() else li
    return (
        src.filter(
            (F.col("l_partkey").between(100, 299))
            & (F.col("l_suppkey").between(2, 5))
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
        )
    )
