"""Benchmark worker: one workload, one process, one closed-loop client.

Started by ``perfbench/run.py`` with a fresh run directory and a copy of the
catalog; ``perfbench/DESIGN.md`` describes the workloads and metrics. The
worker

1. sets up the engine the way a notebook user does: imports, ``get_spark``,
   ``tune_for_input``, the registry, ``optimize_layout`` into a fresh cache
   root and ``warm_cache``; ``setup_s`` is that whole span, cold;
2. runs every query's DuckDB oracle once on the same parquet files;
3. runs passes over the workload's queries, each in a seeded order, one
   operation being "build the DataFrame with the registered callable, then
   ``toArrow()``": an untimed cold pass, which also meters the bytes the
   workload stores, then timed passes until ``--seconds`` have passed and at
   least ``MIN_TIMED_PASSES`` have run; the metrics come from the first
   ``MIN_TIMED_PASSES`` of them, however many fit;
4. checks every timed result against its oracle and writes the result JSON,
   plus a side record of every pass wall (and, traced, every span).

    python3 perfbench/harness.py --workload W --seed N --seconds S --trace 0|1
        --data DIR --run-dir DIR --out FILE --side FILE
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here, before the imports

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer, catalyst_phases, group_counts, rebind, traced  # noqa: E402

TEXT_DEDUP = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "pipeline_curate_corpus",
    "text_bm25_topk",
    "text_tfidf_top_terms",
    "text_quality_score",
    "sim_bruteforce_topk",
]
#: operators/roundtrip.py minus roundtrip_text_sources, which goes through
#: io.text_sources (CSV/JSONL) rather than the fls layers
FLS_IO = [
    "roundtrip_lineitem",
    "roundtrip_file_rotation",
    "roundtrip_schema_evolution",
    "fls_native_roundtrip",
    "fls_native_prune_scan",
    "fls_native_adaptive_filter_scan",
    "fls_native_schema_evolution",
]
#: workload → (scale factor, queries)
WORKLOADS = {
    "text_dedup_sf0.01": (0.01, TEXT_DEDUP),
    "fls_io_sf0.01": (0.01, FLS_IO),
}

#: The timed metrics come from exactly this many timed passes, the first
#: ones, so every commit is measured at the same warm-up depth however many
#: passes fit in --seconds (later passes go to the side record only). Each
#: query's latency in queries_per_s is its median over them, so one slow
#: outlier does not move it.
MIN_TIMED_PASSES = 3

#: The timed metrics are host-normalized. The host shares its CPUs with
#: other tenants, and a whole run can land in a phase 25-35% slower. Before
#: every timed operation the worker times GAUGE_SQL, a fixed DuckDB query on
#: all cores (about 40 ms, independent of the package), and scales the run's
#: latencies by REF_GAUGE_S / (the median gauge of its measured passes):
#: seconds on a host running at the reference speed, the gauge's median on a
#: 4-vCPU, 15 GB shared VM. Raw figures are in the side record.
GAUGE_SQL = "SELECT sum(hash(i) % 1000) FROM range(1500000) t(i)"
REF_GAUGE_S = 0.040

#: The gauge is timed only while the package is idle, so that work the
#: package leaves running after an operation (JVM garbage collection, the
#: context cleaner, Python workers) cannot slow it: first the processes this
#: worker started (the JVM and its Python workers) must have used at most
#: IDLE_CPU_S of CPU over IDLE_WINDOW_S, waiting at most IDLE_WAIT_MAX_S.
#: The CPU they use while the gauge runs is recorded in the side record.
#: The wait also makes every timed operation start the same way, like a
#: notebook user whose next cell comes after the engine has settled, so that
#: leftover work cannot land on whichever query happens to run next.
IDLE_WINDOW_S = 0.05
IDLE_CPU_S = 0.01
IDLE_WAIT_MAX_S = 2.0
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_s": "s",
    "bytes_stored_per_input_byte": "B/B",
}
ENCODINGS = ("constant", "uncompressed", "ffor", "dict", "alp", "rle", "fsst", "frequency", "slpatch")
CODECS = ("ffor", "rle", "alp", "fsst", "freq", "slpatch")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.shuffle_partitions": "count",
    "catalog.optimize_layout_s": "s",
    "catalog.staged_bytes": "B",
    "catalog.warm_cache_s": "s",
    "registry.load_s": "s",
    "construct_s": "s/pass",
    "construct_jobs": "count/pass",
    "catalyst.analysis_s": "s/pass",
    "catalyst.optimization_s": "s/pass",
    "catalyst.planning_s": "s/pass",
    "execute_s": "s/pass",
    "exec.jobs": "count/pass",
    "exec.stages": "count/pass",
    "exec.tasks": "count/pass",
    "exec.failed_tasks": "count/pass",
    "exec.floor_s": "s",
    "bench_support.persists_drained": "count/pass",
    "io.fls.write_s": "s/pass",
    "io.fls.read_s": "s/pass",
    "io.fls.bytes_written": "B/pass",
    "io.fls_native.write_s": "s/pass",
    "io.fls_native.read_s": "s/pass",
    "io.fls_native.bytes_written": "B/pass",
    **{f"io.fls_native.vectors.{e}": "count/pass" for e in ENCODINGS},
    **{
        f"fls_kernels.{c}.{d}_ns_per_value": "ns/value"
        for c in CODECS
        for d in ("decode", "encode")
    },
    "host.duckdb_s": "s/pass",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Op:
    name: str
    latency: float = 0.0
    construct: float = 0.0
    execute: float = 0.0
    ok: bool = False
    error: str | None = None
    drained: int = 0
    idle_wait: float = 0.0  # waiting for the package to go idle
    gauge: float = 0.0
    gauge_package_cpu: float = 0.0  # CPU the package used during the gauge
    layers: dict = field(default_factory=dict)  # traced readouts


@dataclass
class Pass:
    kind: str  # cold | timed
    traced: bool
    wall: float = 0.0
    ops: list[Op] = field(default_factory=list)

    @property
    def op_time(self) -> float:
        return sum(o.latency for o in self.ops)


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_START:7.1f} s  {msg}", file=sys.stderr, flush=True)


def host_gauge(con) -> float:
    """Seconds ``GAUGE_SQL`` takes on the DuckDB connection ``con``."""
    t0 = time.perf_counter()
    con.execute(GAUGE_SQL).fetchall()
    return time.perf_counter() - t0


def package_ticks() -> dict[int, int]:
    """CPU clock ticks used so far by each descendant of this process: the
    Spark JVM and the Python workers it forks."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has ended
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = int(fields[11]) + int(fields[12])  # utime + stime
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return {p: ticks[p] for p in mine}


def cpu_between(a: dict[int, int], b: dict[int, int]) -> float:
    """CPU seconds the package used between ``package_ticks()`` readings
    ``a`` and ``b`` (processes that ended in between are not counted)."""
    return TICK_S * sum(t - a.get(p, 0) for p, t in b.items())


def wait_idle() -> float:
    """Wait until the package is idle (see ``IDLE_CPU_S``); returns the wait."""
    t0 = time.perf_counter()
    prev = package_ticks()
    while True:
        time.sleep(IDLE_WINDOW_S)
        cur = package_ticks()
        waited = time.perf_counter() - t0
        if cpu_between(prev, cur) <= IDLE_CPU_S or waited >= IDLE_WAIT_MAX_S:
            return waited
        prev = cur


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden and ``_`` marker files,
    such as checksums and ``_SUCCESS``, excluded)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def arrow_frame(tbl):
    """Spark's Arrow result as the pandas frame ``toPandas()`` would give:
    timezone-aware timestamps become naive UTC wall times."""
    import pyarrow as pa

    cols = [
        c.cast(pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz is not None
        else c
        for f, c in zip(tbl.schema, tbl.columns)
    ]
    return pa.table(cols, names=tbl.column_names).to_pandas()


def query_latencies(passes: list[Pass], scale: float = 1.0) -> dict[str, list[float]]:
    """Each query's latencies over ``passes`` (successful runs only), times
    ``scale``."""
    runs: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for o in p.ops:
            if o.ok:
                runs[o.name].append(o.latency * scale)
    return runs


def harrell_davis_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order
    statistics, the i-th of n weighted by the mass of Beta((n+1)/2, (n+1)/2)
    on [(i-1)/n, i/n] (Simpson's rule). A run pools a few operations of each
    of 7-8 queries whose latencies sit at different levels; the sample median
    jumps from one query's level to the next between runs, this estimate
    moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = 2 * math.lgamma(a) - math.lgamma(2 * a)

    def pdf(x: float) -> float:
        return math.exp((a - 1) * math.log(x * (1 - x)) - log_norm) if 0 < x < 1 else 0.0

    steps = 64
    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        weights.append(h / 3 * sum(
            (1 if k in (0, steps) else 4 if k % 2 else 2) * pdf(lo + k * h)
            for k in range(steps + 1)
        ))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def latency_metrics(runs: dict[str, list[float]]) -> dict[str, float]:
    """queries_per_s from each query's median latency (queries ÷ their sum:
    one client, no think time) and the Harrell-Davis median of all
    operations."""
    medians = [statistics.median(v) for v in runs.values()]
    return {
        "queries_per_s": len(medians) / sum(medians),
        "latency_p50_s": harrell_davis_median([x for v in runs.values() for x in v]),
    }


def trend(walls: list[float]) -> float:
    """Least-squares slope of the pass walls per pass, as a share of their
    mean (0 for fewer than two passes)."""
    n = len(walls)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - mx) * (w - my) for i, w in enumerate(walls)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    return slope / my


class Meter:
    """Bytes the workload's ``write_fls``/``write_fls_native`` calls store,
    the Arrow bytes of the same rows, and the ``.fls`` vectors per encoding.
    Installed for the cold pass only: it runs extra jobs, never timed."""

    def __init__(self) -> None:
        self.stored: Counter = Counter()
        self.arrow: Counter = Counter()
        self.vectors: Counter = Counter()

    def wrap(self, fn, layer: str, read_footer=None):
        def wrapper(df, path, *args, **kwargs):
            before = set(os.listdir(path)) if os.path.isdir(path) else set()
            base = dir_bytes(path) if kwargs.get("mode") == "append" else 0
            fn(df, path, *args, **kwargs)
            self.stored[layer] += dir_bytes(path) - base
            self.arrow[layer] += df.toArrow().nbytes
            if read_footer is not None:
                for f in sorted(set(os.listdir(path)) - before):
                    if f.endswith(".fls"):
                        for rg in read_footer(os.path.join(path, f))["row_groups"]:
                            for col in rg["columns"]:
                                self.vectors.update(col["encodings"])

        return wrapper


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--side", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    sf_dir = args.data
    queries = WORKLOADS[args.workload][1]
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    setup = Tracer()  # set-up spans are always recorded (a handful)
    tracer = Tracer(enabled=False)  # per-operation spans, traced passes only

    # ------------------------------------------------------------ set-up
    from duckdb_fastlanes_spark import bench_support, catalog, get_spark, registry
    from duckdb_fastlanes_spark.io import fls, fls_native
    from duckdb_fastlanes_spark.session import tune_for_input

    with setup.span("session.get_spark"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with setup.span("session.tune_for_input"):
        tune_for_input(spark, sf_dir)
    with setup.span("registry.load"):
        fns = registry.queries()
        oracles = registry.oracles()
    with setup.span("catalog.optimize_layout"):
        layout = catalog.optimize_layout(
            spark, sf_dir, cache_root=os.path.join(args.run_dir, "layout")
        )
    with setup.span("catalog.warm_cache"):
        catalog.warm_cache(spark, sf_dir)
    setup_s = time.perf_counter() - T_START
    log("set-up done")
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # staged layout: bytes on disk and the Arrow bytes of the same rows
    import pyarrow.parquet as pq

    staged_bytes = dir_bytes(layout)
    staged_arrow = sum(
        pq.read_table(os.path.join(layout, d)).nbytes
        for d in sorted(os.listdir(layout))
        if d.endswith(".parquet")
    )

    # ------------------------------------------------------------ oracles
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from check_driver_hash import render

    con = duckdb.connect()
    con.execute(f"SET threads = {cpus}")
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    expected: dict[str, list] = {}
    duck_s = 0.0
    for name in queries:
        t0 = time.perf_counter()
        frame = con.execute(oracles[name]).df()
        duck_s += time.perf_counter() - t0
        expected[name] = render(frame)

    # ------------------------------------------------------------ passes
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    passes: list[Pass] = []

    def run_op(name: str, traced_op: bool, timed_op: bool) -> Op:
        op = Op(name)
        with tracer.span("bench_support.drain_persists"):
            op.drained = bench_support.drain_persists()
        if timed_op:
            op.idle_wait = wait_idle()
            before = package_ticks()
            op.gauge = host_gauge(con)
            op.gauge_package_cpu = cpu_between(before, package_ticks())
        op_id = f"{len(passes)}:{name}"
        try:
            if traced_op:
                sc.setJobGroup(f"{op_id}:construct", name)
            with tracer.span("op", op=op_id):
                t0 = time.perf_counter()
                with tracer.span("construct"):
                    df = fns[name](spark, sf_dir)
                t1 = time.perf_counter()
                if traced_op:
                    sc.setJobGroup(f"{op_id}:execute", name)
                with tracer.span("execute"):
                    tbl = df.toArrow()
                t2 = time.perf_counter()
            op.construct, op.execute, op.latency = t1 - t0, t2 - t1, t2 - t0
            op.ok = render(arrow_frame(tbl)) == expected[name]
            if not op.ok:
                op.error = "result differs from the DuckDB oracle"
            if traced_op:
                op.layers = {
                    "catalyst": catalyst_phases(df),
                    "construct": group_counts(spark, f"{op_id}:construct"),
                    "execute": group_counts(spark, f"{op_id}:execute"),
                }
        except Exception as e:  # a failed operation is counted, never dropped
            op.ok, op.error = False, f"{type(e).__name__}: {e}"[:500]
        finally:
            if traced_op:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if not op.ok:
            log(f"{name} FAILED: {op.error}")
        return op

    def run_pass(kind: str, traced_pass: bool = False) -> None:
        order = list(queries)
        rng.shuffle(order)
        p = Pass(kind, traced_pass)
        tracer.enabled = traced_pass
        t0 = time.perf_counter()
        p.ops = [run_op(n, traced_pass, kind == "timed") for n in order]
        p.wall = time.perf_counter() - t0
        tracer.enabled = False
        passes.append(p)
        log(
            f"pass {len(passes) - 1} {kind}{' traced' if traced_pass else ''}:"
            f" wall {p.wall:.3f} s, op time {p.op_time:.3f} s"
        )

    meter = Meter()
    restore = [
        rebind(fls.write_fls, meter.wrap(fls.write_fls, "io.fls")),
        rebind(
            fls_native.write_fls_native,
            meter.wrap(fls_native.write_fls_native, "io.fls_native", fls_native.read_footer),
        ),
    ]
    run_pass("cold")
    for undo in restore:
        undo()

    if trace:
        for fn, name in (
            (fls.write_fls, "io.fls.write"),
            (fls.read_fls, "io.fls.read"),
            (fls_native.write_fls_native, "io.fls_native.write"),
            (fls_native.read_fls_native, "io.fls_native.read"),
            (catalog.sql_q, "catalog.sql_q"),
        ):
            rebind(fn, traced(tracer, name, fn))

    t_measure = time.perf_counter()
    while (
        len(passes) <= MIN_TIMED_PASSES
        or time.perf_counter() - t_measure < args.seconds
    ):
        # traced runs alternate untraced and traced passes: the untraced
        # ones give the tracing overhead in the same process
        run_pass("timed", traced_pass=trace and len(passes) % 2 == 0)
    bench_support.drain_persists()

    timed = [p for p in passes if p.kind == "timed"]
    ops = [o for p in timed for o in p.ops]
    failed = [o for o in ops if not o.ok]
    untraced = [p for p in timed if not p.traced]
    measured = untraced[:MIN_TIMED_PASSES]
    raw_runs = query_latencies(measured)
    if not raw_runs:
        raise SystemExit("perfbench: no timed operation succeeded")
    pooled = sorted(x for v in raw_runs.values() for x in v)
    gauge = statistics.median(o.gauge for p in measured for o in p.ops)
    gauged = [o for p in timed for o in p.ops]

    write_stored = sum(meter.stored.values())
    if write_stored:
        stored_ratio = write_stored / sum(meter.arrow.values())
    else:  # no writes of its own: the workload stores only the staged catalog
        stored_ratio = staged_bytes / staged_arrow
    end_to_end = {
        "setup_s": setup_s,
        **latency_metrics(query_latencies(measured, REF_GAUGE_S / gauge)),
        "bytes_stored_per_input_byte": stored_ratio,
    }
    if trace:
        metrics = per_layer_metrics(
            spark, sf_dir, args.seed, setup, tracer, timed, meter,
            shuffle_partitions, staged_bytes, duck_s,
        )
        units = PER_LAYER
    else:
        metrics, units = end_to_end, END_TO_END
    log("measured")
    con.close()
    spark.stop()

    side = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "queries": queries,
        "setup_spans": setup.dump(),
        "passes": [
            {"kind": p.kind, "traced": p.traced, "wall_s": p.wall, "op_time_s": p.op_time,
             "ops": [[o.name, o.latency, o.ok, o.idle_wait, o.gauge, o.gauge_package_cpu]
                     for o in p.ops]}
            for p in passes
        ],
        "measured_passes": MIN_TIMED_PASSES,
        "timed_trend_per_pass": trend([p.op_time for p in untraced]),
        "gauge_check": {
            "gauges": len(gauged),
            "gauge_wall_s": sum(o.gauge for o in gauged),
            "package_cpu_during_gauges_s": sum(o.gauge_package_cpu for o in gauged),
            "idle_wait_s": sum(o.idle_wait for o in gauged),
            "idle_wait_capped": sum(o.idle_wait >= IDLE_WAIT_MAX_S for o in gauged),
        },
        "raw": {
            **latency_metrics(raw_runs),
            "samples": len(pooled),
            "latency_sample_median_s": statistics.median(pooled),
            "latency_p90_s": statistics.quantiles(pooled, n=10, method="inclusive")[8],
            "query_latency_s": {k: statistics.median(v) for k, v in raw_runs.items()},
            "host_gauge_s": gauge,
        },
        "failed": [[o.name, o.error] for o in failed],
        "end_to_end": end_to_end,
        "metrics": metrics,
        "stored": {"bytes": dict(meter.stored), "arrow_bytes": dict(meter.arrow),
                   "staged_bytes": staged_bytes, "staged_arrow_bytes": staged_arrow},
    }
    if trace:
        side["spans"] = tracer.dump()
        side["self_time_s"] = tracer.self_times()
    with open(args.side, "w") as f:
        json.dump(side, f)

    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def per_layer_metrics(
    spark, sf_dir, seed, setup, tracer, timed, meter, shuffle_partitions, staged_bytes, duck_s
) -> dict[str, float]:
    """Per-layer numbers: per-pass figures are means over the traced passes."""
    from kernels import microbench

    traced_passes = [p for p in timed if p.traced]
    n = len(traced_passes)
    out: dict[str, float] = defaultdict(float)
    for p in traced_passes:
        for o in p.ops:
            out["construct_s"] += o.construct / n
            out["execute_s"] += o.execute / n
            out["bench_support.persists_drained"] += o.drained / n
            if not o.layers:
                continue
            for phase, secs in o.layers["catalyst"].items():
                out[f"catalyst.{phase}_s"] += secs / n
            out["construct_jobs"] += o.layers["construct"]["jobs"] / n
            for k, v in o.layers["execute"].items():
                out[f"exec.{k}"] += v / n
    totals = tracer.totals()
    for layer in ("io.fls", "io.fls_native"):
        out[f"{layer}.write_s"] = totals.get(f"{layer}.write", 0.0) / n
        out[f"{layer}.read_s"] = totals.get(f"{layer}.read", 0.0) / n
        out[f"{layer}.bytes_written"] = float(meter.stored[layer])
    for e in ENCODINGS:
        out[f"io.fls_native.vectors.{e}"] = float(meter.vectors[e])
    spans = setup.totals()
    out["session.get_spark_s"] = spans["session.get_spark"]
    out["session.shuffle_partitions"] = float(shuffle_partitions)
    out["catalog.optimize_layout_s"] = spans["catalog.optimize_layout"]
    out["catalog.warm_cache_s"] = spans["catalog.warm_cache"]
    out["catalog.staged_bytes"] = float(staged_bytes)
    out["registry.load_s"] = spans["registry.load"]
    floor = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).toArrow()
        floor.append(time.perf_counter() - t0)
    out["exec.floor_s"] = statistics.median(floor)
    out["host.duckdb_s"] = duck_s
    out.update(microbench(sf_dir, seed))
    untraced = [p for p in timed if not p.traced]
    out["trace.overhead_ratio"] = statistics.median(
        p.op_time for p in traced_passes
    ) / statistics.median(p.op_time for p in untraced)
    return {k: float(out[k]) for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
