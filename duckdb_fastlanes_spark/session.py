"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness parity with the DuckDB oracle and for
scale-readiness (AQE, pushdown, pruning). On a real cluster only
``master``/``shuffle_partitions`` change; the config surface is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from duckdb_fastlanes_spark.sizing import catalog_stats

#: the directory holding the ``duckdb_fastlanes_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "duckdb-fastlanes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to every core
      this process may run on when the variable is unset; the default
      shuffle width is the same count.
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
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    local = master.startswith("local")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

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


def tune_for_input(spark: SparkSession, data_dir: str) -> None:
    """Adapt session conf to the catalog's input size (runtime-settable confs
    only; call any time, cheap enough to call per run).

    Interactive engines (the reference's DuckDB host included) pay near-zero
    planning overhead on small inputs; Spark's defaults assume cluster-scale
    data where runtime re-planning and wide shuffles pay for themselves. On
    small inputs they are pure overhead, so below ``sizing.SMALL_INPUT_BYTES``:

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
    explicitly-gated exception. The gate is ``sizing.CatalogStats.large``:
    it reflects the engine-visible DECODED size, not the on-disk ZSTD bytes
    — text-heavy catalogs decode 4-10× bigger, and classifying a ~1.5 GB-
    decoded corpus as "small" turns AQE off exactly where skew splitting and
    partition coalescing start paying (measured at the 1000× SCALE cell:
    ngram dedup 107 s fast-path vs 88 s default path). "cores" is the
    session's ``defaultParallelism``.
    """
    if not os.path.isdir(data_dir):
        return
    stats = catalog_stats(data_dir)
    if not stats.large:
        cpus = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
        parts = min(cpus, max(cpus // 8, stats.disk_bytes // (8 * 1024**2), 2))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
