"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness parity with the DuckDB oracle and for
scale-readiness (AQE, pushdown, pruning). On a real cluster only
``master``/``shuffle_partitions`` change; the config surface is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``duckdb_fastlanes_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "duckdb-fastlanes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
      the Spark counterpart of the reference's runtime adaptivity
      (adaptive filter ordering, src/reader/fls_reader.cpp:357-380).
    - Parquet filter pushdown + row-group stats pruning — the counterpart of
      zone-map pruning (src/reader/row_group_filter.cpp:75-199).
    - Session timezone pinned to UTC so timestamp semantics match the DuckDB
      oracle (DuckDB TIMESTAMP is naive/UTC-like).
    - Local masters run Python workers through ``worker_daemon`` (PySpark's
      daemon, minus every task re-reading the zip archives on ``sys.path``)
      and put this package's parent directory on the workers'
      ``PYTHONPATH``, so Python tasks import the package from any cwd.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    local = master.startswith("local")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # events.ts normalization (see catalog._read_raw): INT64
        # TIMESTAMP(NANOS) reads as long via nanosAsLong; timestamp[us]
        # isAdjustedToUTC=false would read as TIMESTAMP_NTZ — disable NTZ
        # inference so it reads as TimestampType directly (UTC session tz,
        # lossless, matches DuckDB's µs semantics on the same file)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local-mode deployment: there is no locality hierarchy and
        # broadcasts never cross a network, so waiting for locality and
        # compressing broadcast blocks are pure latency on every tiny query.
        # Shuffle compression STAYS ON even locally: an A/B on the 1.4 B-row
        # wedge shuffle (graph_link_prediction, ~28 GB) measured 24 s
        # compressed vs 62-90 s raw — local shuffles hit the (virtual) disk
        # through dirty-page writeback, and lz4 at ~16 GB/s across 32 cores
        # is never the bottleneck while the disk at ~1 GB/s is. A cluster
        # master keeps every default.
        .config("spark.locality.wait", "0" if local else "3s")
        .config("spark.broadcast.compress", "false" if local else "true")
        # iterative operators localCheckpoint intermediate frames; the JVM
        # blocks only release after a driver GC cycle notifies the
        # ContextCleaner, and the default 30min periodic GC lets residue
        # from hundreds of queries pile up in long sessions (observed as
        # GCLocker thrash sweeping all 212 queries at the ~sf1 cell)
        .config("spark.cleaner.periodicGC.interval", "2min")
        # FAIR scheduling: concurrent jobs (a workload batch, the bench's
        # concurrent mode, any multi-tenant notebook) share executor slots
        # fairly instead of head-of-line blocking behind the first FIFO job.
        # Callers isolate a job stream with
        # sc.setLocalProperty("spark.scheduler.pool", name) — on-demand
        # pools get weight 1 and fair-share against each other. Sequential
        # workloads are unaffected (one job at a time schedules the same).
        .config("spark.scheduler.mode", "FAIR")
    )
    if local:
        # the workers share this host's interpreter, so they can import the
        # package from where the driver did; Spark merges this entry with
        # its own and with the environment's PYTHONPATH
        builder = builder.config(
            "spark.python.daemon.module", "duckdb_fastlanes_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    """Scale-factor directory for benchmarks (driver contract)."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


#: inputs below this total DECODED size take the small-input fast path.
#: Measured at the SCALE cells (24g driver, local[32]): at ~800 MB decoded
#: the default path already wins decisively (count_distinct 7.3→1.5 s,
#: triangle count 20→15 s, ngram dedup 18→15 s vs the fast path), so the
#: gate sits well below it; at 22 MB (sf0.1) the fast path still wins on
#: scheduling overhead. Between those the two paths are within noise.
SMALL_INPUT_BYTES = 512 * 1024**2


def _uncompressed_bytes(data_dir: str) -> int:
    """Decoded size of the catalog's parquet files from their footers
    (sum of row-group ``total_byte_size``); 0 when unreadable."""
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in os.listdir(data_dir):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(data_dir, f)).metadata
            total += sum(
                md.row_group(i).total_byte_size for i in range(md.num_row_groups)
            )
        return total
    except Exception:
        return 0


#: gauge memo: data_dir → (cheap stat fingerprint, gauge bytes). The gauge
#: is consulted on EVERY query build (_pin_shuffle_hash, dedup._pin_merge,
#: optimize_layout), and re-reading every parquet footer cost ~10-30 ms per
#: build — ~5 s of pure overhead across a 240-query sweep. The fingerprint
#: is a stat()-only pass (names, sizes, mtimes), so a regenerated corpus
#: still re-gauges while an unchanged one answers from the memo.
_GAUGE_MEMO: dict[str, tuple[tuple, int]] = {}


def _dir_stat_fingerprint(data_dir: str) -> tuple:
    try:
        entries = []
        for f in sorted(os.listdir(data_dir)):
            p = os.path.join(data_dir, f)
            if os.path.isfile(p):
                st = os.stat(p)
                entries.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(entries)
    except OSError:
        return ()


def input_gauge_bytes(data_dir: str) -> int:
    """THE input-size gauge: decoded parquet bytes from footers, falling back
    to on-disk bytes when footers are unreadable. Shared by ``tune_for_input``
    (the AQE on/off gate) and operator-level AQE pins (``dedup._pin_merge``)
    so both flip on exactly the same number — a corpus with unreadable
    footers must not end up on the AQE-on default path without the merge
    pin that guards it against the broadcast pathology. Memoized on a
    stat-only directory fingerprint (footer reads only when the directory
    contents actually changed)."""
    fp = _dir_stat_fingerprint(data_dir)
    hit = _GAUGE_MEMO.get(data_dir)
    if hit is not None and hit[0] == fp:
        return hit[1]
    try:
        total = sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)
            if os.path.isfile(os.path.join(data_dir, f))
        )
    except OSError:
        total = 0
    gauge = _uncompressed_bytes(data_dir) or total
    _GAUGE_MEMO[data_dir] = (fp, gauge)
    return gauge


#: (data_dir, table, column) → (file stat fingerprint, (min, max) | None)
_COL_RANGE_MEMO: dict[tuple[str, str, str], tuple[tuple, tuple | None]] = {}

#: (data_dir, table) → (file stat fingerprint, decoded bytes)
_TABLE_BYTES_MEMO: dict[tuple[str, str], tuple[tuple, int]] = {}


def parquet_table_bytes(data_dir: str, table: str) -> int:
    """Decoded bytes of ONE table (``<table>.parquet`` row-group
    total_byte_size sum) — the per-table sibling of ``input_gauge_bytes``.
    Exchange widths that scale with a single table's volume (e.g. the
    link-prediction wedge width, driven by lineitem alone) gauge this
    instead of the whole-catalog total, so a catalog dominated by OTHER
    tables (wide text columns in documents/events) does not over-partition
    the query into many tiny tasks (r11 ADVICE item). Returns 0 when the
    file or its footer is unreadable — callers treat 0 as "unknown, use
    the floor". Memoized on the file's stat fingerprint."""
    data_dir = data_dir.rstrip("/")
    src = os.path.join(data_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        fp = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        return 0
    key = (data_dir, table)
    hit = _TABLE_BYTES_MEMO.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    total = 0
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(src).metadata
        total = sum(
            md.row_group(i).total_byte_size for i in range(md.num_row_groups)
        )
    except Exception:
        total = 0
    _TABLE_BYTES_MEMO[key] = (fp, total)
    return total


def parquet_column_range(
    data_dir: str, table: str, column: str
) -> tuple[int, int] | None:
    """(min, max) of ``column`` across ``<table>.parquet``'s row-group footer
    statistics — driver-only metadata, no Spark job (the zone-map machinery
    operators/scan.py already relies on). Returns None when the file or its
    stats are unavailable, so callers degrade to their stat-free path.
    Memoized on the file's stat fingerprint (size/mtime/inode), the
    input_gauge_bytes pattern. Used to gate key-packing rewrites (e.g.
    graph_link_prediction packs a pair of keys into one BIGINT only while
    the key domain provably fits 32 bits)."""
    data_dir = data_dir.rstrip("/")
    src = os.path.join(data_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        fp = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        return None
    # key normalized on the rstripped dir so 'dir' and 'dir/' share one memo
    # entry (r11 ADVICE: the raw string keyed duplicate entries — extra
    # footer reads, no correctness impact)
    key = (data_dir, table, column)
    hit = _COL_RANGE_MEMO.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    rng: tuple | None = None
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(src).metadata
        lo = hi = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema != column:
                    continue
                s = c.statistics
                if s is None or not s.has_min_max:
                    raise ValueError("missing stats")
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            rng = (lo, hi)
    except Exception:
        # conservative: ANY stats-less row group disables the whole range
        # (a chunk written without min/max could hide out-of-range keys).
        # Observable on purpose (r11 ADVICE): a silently-disabled packing
        # fast path is otherwise invisible.
        rng = None
        import logging

        logging.getLogger(__name__).debug(
            "parquet_column_range: footer stats unavailable for %s.%s — "
            "range-gated fast paths fall back to the unpacked shape",
            table,
            column,
        )
    _COL_RANGE_MEMO[key] = (fp, rng)
    return rng


def tune_for_input(spark: SparkSession, data_dir: str) -> None:
    """Adapt session conf to the catalog's input size (runtime-settable confs
    only; call any time, cheap enough to call per run).

    Interactive engines (the reference's DuckDB host included) pay near-zero
    planning overhead on small inputs; Spark's defaults assume cluster-scale
    data where runtime re-planning and wide shuffles pay for themselves. On
    small inputs they are pure overhead, so below SMALL_INPUT_BYTES:

    - AQE off: per-stage runtime re-optimization cannot beat its own stage-
      barrier latency when every stage is milliseconds (measured ~20% of
      small-query wall time);
    - constraint propagation off: O(plan²) driver work inferring predicates
      that row-group pruning already covers at this size (~10%);
    - shuffle partitions sized to the input (~1 per 8 MB, floor cores/8,
      cap cores): 32 near-empty shuffle tasks cost more to schedule than
      they parallelize on tiny inputs (a 4-vs-8-vs-2 sweep at sf0.1 put 4
      ahead on 8 of 9 headline shapes), but a flat floor strangles the
      shuffle once the input grows — at the synthesized ~sf1 corpus a
      4-vs-8-vs-16-vs-32 sweep put 16 ahead 2-3× on the shuffle-heavy
      shapes (count_distinct 1.43→0.83 s, triangle census 43→20 s). AQE
      coalescing normally absorbs this; AQE is off below the threshold.

    Above the threshold every default stands (AQE, skew-join splitting, wide
    shuffles) — the 100 TB path is the default path, the fast path is the
    explicitly-gated exception.
    """
    try:
        total = sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)
            if os.path.isfile(os.path.join(data_dir, f))
        )
    except OSError:
        return
    # The gate must reflect the engine-visible data size, not the on-disk
    # ZSTD bytes: text-heavy catalogs decode 4-10× bigger, and classifying a
    # ~1.5 GB-decoded corpus as "small" turns AQE off exactly where skew
    # splitting and partition coalescing start paying (measured at the
    # 1000× SCALE cell: ngram dedup 107 s fast-path vs 88 s default path).
    # Parquet footers carry uncompressed sizes — a driver-side metadata read.
    uncompressed = input_gauge_bytes(data_dir)
    if uncompressed < SMALL_INPUT_BYTES:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
        parts = min(cpus, max(cpus // 8, total // (8 * 1024**2), 2))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
