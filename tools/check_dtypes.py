"""Pandas-dtype parity sweep between Spark results and DuckDB oracle results.

The driver's correctness gate hashes values after converting both sides to a
common frame; a DuckDB HUGEINT (e.g. ``sum(INTEGER)``) arrives as float64
while Spark's ``sum`` arrives as int64 — equal values, different bytes, hash
mismatch. This tool runs every registered query on both engines at a small
scale factor, converts to pandas, and reports any column whose dtype (or
exact value repr) differs.

    python tools/check_dtypes.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry
from duckdb_fastlanes_spark.catalog import TABLES


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark("dtype-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracles()
    bad: list[str] = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"ERR  {name}")
            traceback.print_exc(limit=2)
            bad.append(name)
            continue
        issues = []
        scols = {c.lower(): c for c in sdf.columns}
        ocols = {c.lower(): c for c in odf.columns}
        for lc in sorted(set(scols) & set(ocols)):
            sd = sdf[scols[lc]].dtype
            od = odf[ocols[lc]].dtype
            if str(sd) != str(od):
                issues.append(f"{lc}: spark={sd} oracle={od}")
        if issues:
            bad.append(name)
            print(f"DTYPE {name}: " + "; ".join(issues))
    print(f"\n{len(bad)} queries with dtype/err issues")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
