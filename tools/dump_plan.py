"""Dump the .explain('formatted') output of registered queries to files.

Usage: python tools/dump_plan.py <out_dir> <suffix> <query> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query, built against
/root/testdata/sf0.1 with the standard session/layout/warm path.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from duckdb_fastlanes_spark import get_spark, registry
    from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
    from duckdb_fastlanes_spark.session import tune_for_input

    spark = get_spark("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_input(spark, sf_dir)
    optimize_layout(spark, sf_dir)
    warm_cache(spark, sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    qs = registry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path, len(plan), "bytes")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
