"""Decompose the full-registry sequential-constructed sweep (r7 verdict #2).

The BENCH_ALL sequential-constructed number has been flat at ~2.5x for three
rounds while the concurrent number sits at ~0.7x. This tool measures WHERE
the sequential wall goes, per query, so the achievable floor can be computed
instead of guessed:

- build   : wall of fn(spark, sf_dir) — Python + Catalyst construction. For
            most queries this is a pure parse (~0.01-0.05 s); for queries
            that localCheckpoint / drain a stream / fit a model at
            construction it CONTAINS execution.
- exec    : wall of .toArrow() on the built handle.
- kind    : 'pure' when construction ran no Spark jobs, 'cexec' when it did
            (job-count delta from the status tracker — the construction-
            execution class no SQL-text conversion can shave).

Aggregates printed as one JSON line + a per-query map to
SWEEP_DECOMP.json:

- pure_construction_total: sum of build over 'pure' queries
- construction_exec_total: sum of build over 'cexec' queries
- exec_total:              sum of exec over all queries
- floor_total:             n_queries x measured per-job floor (the
                           scheduler's minimum for ONE job; most queries
                           run several stages but at least one job each)

Usage: python tools/sweep_decompose.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry
from duckdb_fastlanes_spark.bench_support import drain_persists, reset_drains


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("sweep-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
    from duckdb_fastlanes_spark.session import tune_for_input

    tune_for_input(spark, sf_dir)
    optimize_layout(spark, sf_dir)
    warm_cache(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def n_jobs() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    # measured per-job floor: the cheapest possible job (1 partition, no
    # shuffle) through the scheduler, min-of-7
    probe = spark.range(1)
    probe.collect()
    floor = min(
        _t(lambda: probe.collect()) for _ in range(7)
    )

    qs = registry.queries()
    per: dict[str, dict] = {}
    for name in sorted(qs):
        fn = qs[name]
        # warm-up (JVM/codegen/file listing) exactly like bench.py
        drain_persists()
        reset_drains()
        try:
            fn(spark, sf_dir).toArrow()
        except Exception as exc:  # pragma: no cover - diagnostic tool
            per[name] = {"error": str(exc)[:120]}
            continue
        drain_persists()
        reset_drains()
        j0 = n_jobs()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        j1 = n_jobs()
        t0 = time.perf_counter()
        df.toArrow()
        t_exec = time.perf_counter() - t0
        per[name] = {
            "build": round(t_build, 4),
            "exec": round(t_exec, 4),
            "kind": "cexec" if j1 > j0 else "pure",
            "jobs_in_build": j1 - j0,
        }
        drain_persists()

    ok = {k: v for k, v in per.items() if "error" not in v}
    pure = sum(v["build"] for v in ok.values() if v["kind"] == "pure")
    cexec = sum(v["build"] for v in ok.values() if v["kind"] == "cexec")
    execs = sum(v["exec"] for v in ok.values())
    summary = {
        "artifact": "sweep_decompose",
        "sf_dir": sf_dir,
        "n_queries": len(ok),
        "n_errors": len(per) - len(ok),
        "job_floor_sec": round(floor, 4),
        "floor_total": round(floor * len(ok), 2),
        "pure_construction_total": round(pure, 2),
        "construction_exec_total": round(cexec, 2),
        "exec_total": round(execs, 2),
        "grand_total": round(pure + cexec + execs, 2),
        "n_cexec_queries": sum(1 for v in ok.values() if v["kind"] == "cexec"),
        "top_cexec": sorted(
            ((k, v["build"]) for k, v in ok.items() if v["kind"] == "cexec"),
            key=lambda kv: -kv[1],
        )[:12],
        "top_exec": sorted(
            ((k, v["exec"]) for k, v in ok.items()), key=lambda kv: -kv[1]
        )[:12],
    }
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SWEEP_DECOMP.json")
    with open(out, "w") as f:
        json.dump({"summary": summary, "queries": per}, f, indent=1)
    print(json.dumps(summary))
    return 0


def _t(thunk) -> float:
    t0 = time.perf_counter()
    thunk()
    return time.perf_counter() - t0


if __name__ == "__main__":
    raise SystemExit(main())
