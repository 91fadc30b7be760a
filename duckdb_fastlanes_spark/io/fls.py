"""``read_fls`` / ``write_fls`` — the reference's scan & sink surface on Parquet+ZSTD.

Reference parity map (SURVEY.md §2.A):

- A1  read_fls(path|glob|list, explicit_cardinality, file_row_number)
      → ``read_fls`` here (src/read_fls.cpp:32-46, fls_multi_file_info.cpp:26-46)
- A2  multi-file union_by_name → ``mergeSchema`` + ``unionByName``
      (fls_multi_file_info.cpp:70-82)
- A3  cross-file/row-group type promotion → ``promote_schemas`` in
      ``schema_promotion.py`` (schema_builder.cpp:132-243)
- A9  virtual ``file_row_number`` BIGINT column → parquet ``_metadata.row_index``
      (+ ``_metadata.file_path`` for multi-file absolute numbering)
      (fls_reader.cpp:474-495)
- A16-A21 COPY sink options → ``write_fls``: ``row_group_size`` →
      ``parquet.block.size`` (bytes, derived), ``row_groups_per_file`` →
      ``maxRecordsPerFile`` (fls_writer.cpp:213-240, 189-211)

The compression kernels themselves (SURVEY §2.A′ K1-K17) are realized by
Parquet encodings + ZSTD pages inside Spark's vectorized reader/writer — not
reimplemented here (``fls_native.py`` is the literal twin). ``write_fls``
writes Parquet v2 data pages: parquet-mr then stores a column as a dictionary
(RLE_DICTIONARY) while the dictionary stays small, and otherwise falls back to
DELTA_BINARY_PACKED for integers and DELTA_BYTE_ARRAY for strings, where the
v1 writer falls back to PLAIN. Spark's parquet-mr offers no option for
BYTE_STREAM_SPLIT, so doubles fall back to PLAIN.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.io.schema_promotion import promote_and_align

#: FastLanes vector size and default row-group geometry
#: (src/include/writer/fls_writer.hpp:12-22: N_VEC_PER_RG * VEC_SZ)
VEC_SZ = 1024
DEFAULT_ROW_GROUP_SIZE = 64 * VEC_SZ  # 65,536 — matches the reference bench data


def read_fls(
    spark: SparkSession,
    paths: str | Sequence[str],
    *,
    file_row_number: bool = False,
    union_by_name: bool = False,
    explicit_cardinality: int | None = None,
    promote_types: bool = False,
) -> DataFrame:
    """Scan one path / glob / list of parquet files with the reference's
    ``read_fls`` option semantics.

    - ``file_row_number``: append a BIGINT ``file_row_number`` column = row
      offset within each physical file (reference fls_reader.cpp:474-495).
    - ``union_by_name``: align differing file schemas by column name
      (reference fls_multi_file_info.cpp:75-81) via parquet ``mergeSchema``.
    - ``explicit_cardinality``: the reference's per-read planner hint
      (fls_multi_file_info.cpp:152-164 overrides the scan's estimated
      cardinality for join planning). Realized by translating the hinted
      row count into a size estimate (× actual bytes-per-row from the
      parquet footers) and attaching Spark's broadcast hint when it falls
      under the broadcast threshold — the hint then flips join strategy
      exactly as in the reference (tests/test_plans.py::
      test_explicit_cardinality_flips_join_strategy). Single-path reads
      only; multi-path reads fall back to file statistics (the catalog-wide
      ANALYZE/CBO mechanism is ``catalog.install_stats``).
    - ``promote_types``: apply the reference's cross-source type-promotion
      rules (schema_builder.cpp:132-172) when unioning heterogeneous files.
    """
    if isinstance(paths, str):
        paths = [paths]
    paths = list(paths)
    reader = spark.read
    if union_by_name:
        reader = reader.option("mergeSchema", "true")

    if promote_types and len(paths) > 1:
        frames = [spark.read.parquet(p) for p in paths]
        df = promote_and_align(frames)
    elif explicit_cardinality is not None and len(paths) == 1:
        df = _scan_with_cardinality_hint(
            spark, paths[0], int(explicit_cardinality), union_by_name=union_by_name
        )
    else:
        df = reader.parquet(*paths)

    if file_row_number:
        df = df.select("*", F.col("_metadata.row_index").alias("file_row_number"))
    return df


def _scan_with_cardinality_hint(
    spark: SparkSession, path: str, n_rows: int, *, union_by_name: bool = False
) -> DataFrame:
    """Realize the reference's per-read ``explicit_cardinality`` hint
    (fls_multi_file_info.cpp:152-164: the option value replaces the scan's
    own cardinality estimate when the planner sizes joins).

    Spark has no public API to override a scan's statistics per-read (the
    catalog-statistics route is ANALYZE-only on the in-memory catalog), but
    the hint's planner-visible EFFECT — "this scan is small enough to be a
    broadcast build side even though its files are big" — has a first-class
    public twin: the broadcast join hint. So the option is translated into
    a size estimate (hinted rows × actual bytes-per-row from the parquet
    footers, read driver-side metadata-only — the same footer walk the
    reference does before applying its override) and, when that estimate
    falls under ``spark.sql.autoBroadcastJoinThreshold``, the returned
    DataFrame carries ``hint("broadcast")``. Hinted-large scans return
    unhinted (the planner's file-size estimate already keeps them on the
    shuffle path). Results are never affected — only join strategy, exactly
    the reference semantics. The catalog-wide (ANALYZE-backed, CBO) stats
    mechanism is ``catalog.install_stats``."""
    import os

    import pyarrow.dataset as _ds

    dataset = _ds.dataset(path, format="parquet")
    files = list(dataset.files)
    actual_rows = sum(f.metadata.num_rows for f in dataset.get_fragments())
    total_bytes = sum(os.path.getsize(f) for f in files)
    avg = (total_bytes / actual_rows) if actual_rows else 64.0
    hinted_bytes = max(1, int(n_rows * avg))

    # the reference applies explicit_cardinality and union_by_name
    # INDEPENDENTLY (fls_multi_file_info.cpp options) — a directory of
    # mixed-schema files must keep mergeSchema even on the hinted path,
    # or columns absent from the footer-sampled schema silently vanish
    reader = spark.read
    if union_by_name:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(path)
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        threshold = int(raw.lower().rstrip("b"))
    except Exception:
        threshold = 10 * 1024 * 1024
    if 0 < hinted_bytes <= threshold:
        df = df.hint("broadcast")
    return df


def write_fls(
    df: DataFrame,
    path: str,
    *,
    row_group_size: int = DEFAULT_ROW_GROUP_SIZE,
    row_groups_per_file: int | None = None,
    mode: str = "overwrite",
    preserve_insertion_order: bool = False,
    order_by: Sequence[str | Column] | None = None,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Write a DataFrame with the reference's COPY option semantics.

    - ``row_group_size`` (rows, must be a multiple of 1024 like the reference,
      fls_writer.cpp:219-224) → derived ``parquet.block.size`` byte target.
    - ``row_groups_per_file`` → ``maxRecordsPerFile`` = rgs/file × rg rows
      (reference rotation, fls_writer.cpp:189-211).
    - ``preserve_insertion_order`` → single ordered file via coalesce(1) +
      sortWithinPartitions (reference's non-parallel copy mode,
      fls_writer.cpp:289-298). Off by default: at scale, parallel unordered
      write is the only sane mode.
    - ``partition_by`` → hive-style directory partitioning (beyond-reference,
      the 100 TB layout primitive: partition values become directories, and
      scans with partition-key filters prune whole directories before any
      file I/O — ``PartitionFilters`` in the plan, vs the reference's
      per-row-group zone maps which still read footers).
    """
    if row_group_size % VEC_SZ != 0:
        raise ValueError(
            f"row_group_size must be a multiple of {VEC_SZ} (reference "
            f"fls_writer.cpp:219-224); got {row_group_size}"
        )

    # Approximate bytes-per-row from the schema to convert the row-count
    # geometry into parquet.block.size bytes (row groups are byte-bounded in
    # parquet). 16 B/row default covers numeric-heavy schemas.
    approx_row_bytes = max(8 * len(df.schema.fields), 16)
    block_bytes = max(row_group_size * approx_row_bytes, 1024 * 1024)

    writer = df
    if preserve_insertion_order or order_by:
        writer = writer.coalesce(1)
        if order_by:
            writer = writer.sortWithinPartitions(*order_by)
    out = (
        writer.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.block.size", str(block_bytes))
        .option("parquet.writer.version", "v2")
    )
    if row_groups_per_file is not None:
        out = out.option("maxRecordsPerFile", str(row_groups_per_file * row_group_size))
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.parquet(path)


def cluster_by(df: DataFrame, cols: Sequence[str], n_partitions: int | None = None) -> DataFrame:
    """Range-cluster rows on ``cols`` before writing: repartitionByRange +
    sortWithinPartitions gives every output file (and every row group inside
    it) a tight, near-disjoint min/max range on the cluster keys — the layout
    that makes zone-map / footer-stats pruning (reference A7,
    row_group_filter.cpp:75-199) actually skip data. Unclustered writes have
    full-range stats on every file and prune nothing."""
    parts = n_partitions or df.rdd.getNumPartitions()
    return df.repartitionByRange(parts, *cols).sortWithinPartitions(*cols)


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    *,
    target_file_mb: int = 512,
) -> int:
    """Small-file compaction (beyond-reference, table maintenance at scale):
    coalesce a directory of many small parquet files into ~target_file_mb
    outputs. Streaming sinks and fine-grained ingestion produce thousands of
    KB-files whose per-file open/footer cost dominates scans; compaction
    restores scan efficiency. Returns the number of output partitions."""
    import math

    df = spark.read.parquet(path)
    # one SCALAR to the driver, not one row per file: a streaming sink at
    # 100 TB leaves millions of small files, and collect()-then-sum is an
    # unbounded driver materialization — sum(file_size) over the distinct
    # file list stays JVM-side and returns a single row
    total_bytes = (
        df.select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.file_size").alias("length"),
        )
        .distinct()
        .agg(F.sum("length").alias("b"))
        .collect()[0]["b"]
        or 0
    )
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df.repartition(n_out).write.mode("overwrite").option("compression", "zstd").parquet(out_path)
    return n_out


def write_fls_bucketed(
    df: DataFrame,
    table_name: str,
    *,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (beyond-reference): pre-shuffle the data into
    ``n_buckets`` hash buckets on ``bucket_by`` at write time so later
    equi-joins and aggregations on those keys need NO exchange — the write
    pays the shuffle once, every downstream join reuses it. This is the
    co-located-join primitive for 100 TB fact-fact joins where broadcast is
    impossible. Buckets only apply through the catalog, hence saveAsTable."""
    writer = df.write.mode(mode).format("parquet").option("compression", "zstd")
    writer = writer.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def zorder_by(
    df: DataFrame,
    cols: Sequence[str],
    n_partitions: int = 8,
    bits: int = 16,
) -> DataFrame:
    """Multi-dimensional clustering: interleave the bits of each column's
    normalized rank into a Z-value and range-partition + sort on it, so every
    output file holds a compact *hyper-rectangle* of the key space — range
    filters on ANY clustered column prune files, where 1-D ``cluster_by``
    only helps its leading column. The normalization (min/max scaling to
    ``bits`` bits) reads two scalars per column from a stats pass — the only
    driver-side data.

    All bit math is Catalyst expressions (shift/or/and), JVM-side; Z-values
    are not stored, only used for the shuffle+sort."""
    from functools import reduce

    stats = df.agg(
        *[F.min(c).alias(f"{c}_min") for c in cols],
        *[F.max(c).alias(f"{c}_max") for c in cols],
    ).collect()[0]

    scaled = []
    for c in cols:
        lo, hi = float(stats[f"{c}_min"]), float(stats[f"{c}_max"])
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * ((1 << bits) - 1)).cast("long"),
            )
        )

    def interleave() -> F.Column:
        parts = []
        for bit in range(bits):
            for i, s in enumerate(scaled):
                out_pos = bit * len(scaled) + i
                parts.append(F.shiftleft(F.shiftright(s, bit).bitwiseAND(F.lit(1)), out_pos))
        return reduce(lambda a, b: a.bitwiseOR(b), parts)

    z = df.withColumn("_z", interleave())
    return z.repartitionByRange(n_partitions, "_z").sortWithinPartitions("_z").drop("_z")
