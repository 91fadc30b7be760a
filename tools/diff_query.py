"""Cell-level diff between a registered Spark query and its DuckDB oracle.

The driver's t2 gate converts both results to a common frame (columns sorted
by name, rows sorted) and hashes the values — so BOTH value differences and
pandas-dtype differences (int64 vs float64, object vs string) can flip the
hash. This tool surfaces exactly what differs:

    python tools/diff_query.py <sf_dir> <query> [query ...]

Prints per-column dtype pairs and the first N mismatching cells at full repr.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry
from duckdb_fastlanes_spark.catalog import TABLES

MAX_SHOW = 12


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    spark = get_spark("diff-query")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracles()
    rc = 0
    for name in names:
        print(f"=== {name} ===")
        sdf = qs[name](spark, sf_dir).toPandas()
        odf = con.execute(oracles[name]).df()
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"  COLUMNS spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            rc = 1
            continue
        s = normalize(sdf)
        o = normalize(odf)
        for c in s.columns:
            if str(s[c].dtype) != str(o[c].dtype):
                print(f"  DTYPE {c}: spark={s[c].dtype} oracle={o[c].dtype}")
        if len(s) != len(o):
            print(f"  ROWS spark={len(s)} oracle={len(o)}")
            rc = 1
            continue
        shown = 0
        for c in s.columns:
            sv, ov = s[c], o[c]
            for i in range(len(s)):
                a, b = sv.iloc[i], ov.iloc[i]
                if a is None and b is None:
                    continue
                try:
                    if a != b and not (pd.isna(a) and pd.isna(b)):
                        print(f"  CELL [{i}].{c}: spark={a!r} oracle={b!r}")
                        shown += 1
                        rc = 1
                except Exception as e:
                    print(f"  CMPERR [{i}].{c}: {a!r} vs {b!r}: {e}")
                    shown += 1
                    rc = 1
                if shown >= MAX_SHOW:
                    break
            if shown >= MAX_SHOW:
                break
        if shown == 0:
            print("  values equal (dtype diffs above, if any, are the whole story)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
