"""Run ONE (query, engine) cell at a given sf_dir in a fresh process.

The shared-VM measurement discipline (see tools/scale_experiment.py and the
SCALE.md preamble): every cell gets its own JVM/process so no residue from
earlier cells inflates it, and the caller interleaves engines/orderings.

Usage: python tools/cell_runner.py <query> spark|duck <sf_dir> [n_runs]
Prints one JSON line: {"query":..., "engine":..., "sf_dir":..., "runs":[...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    qname, engine, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    n_runs = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    runs: list[float] = []
    if engine == "spark":
        from duckdb_fastlanes_spark import get_spark, registry
        from duckdb_fastlanes_spark.bench_support import drain_persists
        from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
        from duckdb_fastlanes_spark.session import tune_for_input

        spark = get_spark("cell-runner")
        spark.sparkContext.setLogLevel("ERROR")
        tune_for_input(spark, sf_dir)
        optimize_layout(spark, sf_dir)
        warm_cache(spark, sf_dir)
        fn = registry.queries()[qname]

        def _reclaim() -> None:
            # between-runs hygiene, outside the timed window: persists are
            # tracked and dropped explicitly, but localCheckpoint RDD blocks
            # and broadcast variables are only reclaimed when the Python refs
            # die AND the JVM ContextCleaner notices — force both, or a
            # checkpoint-heavy query's warm-up leftovers (~GBs of rdd blocks)
            # inflate the measured run's heap into OOM territory
            import gc

            drain_persists()
            gc.collect()
            spark.sparkContext._jvm.System.gc()

        _reclaim()
        fn(spark, sf_dir).toArrow()  # warm-up
        for _ in range(n_runs):
            _reclaim()
            t0 = time.perf_counter()
            fn(spark, sf_dir).toArrow()
            runs.append(round(time.perf_counter() - t0, 3))
        drain_persists()
    else:
        import duckdb

        from duckdb_fastlanes_spark import registry

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        sql = registry.oracles()[qname]
        con.execute(sql).fetchall()  # warm-up
        for _ in range(n_runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(round(time.perf_counter() - t0, 3))
    print(
        json.dumps(
            {"query": qname, "engine": engine, "sf_dir": sf_dir, "runs": runs}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
