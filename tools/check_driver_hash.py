"""Exact-repr twin of the driver's t2 value hash.

The driver compares pandas frames by value representation: columns sorted by
name, rows sorted, then hashed — so ``5`` vs ``5.0``, ``0.1`` vs
``0.10000000000000003`` (order-dependent float summation), and
``date`` vs ``Timestamp`` all flip the hash even when the repo's 9-dp check
passes. This tool renders both engines' results to string matrices the same
way and diffs them cell-exactly:

    python tools/check_driver_hash.py [sf_dir] [query ...]

Any FAIL here is a query the driver would hash-fail. Fix by rounding /
casting identically on both engines, not by loosening this check.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry
from duckdb_fastlanes_spark.catalog import TABLES


def render(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    cells = [
        tuple(repr(v) for v in row) for row in df.itertuples(index=False, name=None)
    ]
    return sorted(cells)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("driver-hash-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracles()
    n_pass = n_fail = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            s = render(qs[name](spark, sf_dir).toPandas())
            o = render(con.execute(oracles[name]).df())
        except Exception:
            print(f"ERR  {name}")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if s == o:
            n_pass += 1
            print(f"PASS {name} ({len(s)} rows, {time.time() - t0:.1f}s)")
        else:
            n_fail += 1
            diffs = [(a, b) for a, b in zip(s, o) if a != b][:3]
            print(f"FAIL {name}: repr diff; first {diffs}")
    print(f"{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
