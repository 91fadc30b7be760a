"""Local stand-in for the driver's t2 correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and order-insensitive
values (sorted by column name, rows sorted). Use while iterating:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry
from duckdb_fastlanes_spark.catalog import TABLES


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    args = [
        a for a in sys.argv[1:] if not (a.startswith("--json=") or a == "--empty")
    ]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")), None
    )
    empty_mode = "--empty" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if empty_mode:
        # Standing empty-catalog gate (r9): synthesize a zero-row catalog with
        # the SAME schemas into a tmpdir and sweep it — the empty-partition /
        # fresh-feed condition a production pipeline hits on day one. Found 16
        # real crashes in r8; every new operator must arrive empty-clean.
        import tempfile

        root = tempfile.mkdtemp(prefix="dfs_empty_catalog_")
        con0 = duckdb.connect()
        for t in TABLES:
            con0.execute(
                f"COPY (SELECT * FROM read_parquet('{sf_dir}/{t}.parquet') LIMIT 0)"
                f" TO '{root}/{t}.parquet' (FORMAT parquet)"
            )
        con0.close()
        print(f"empty-catalog mode: zero-row twin of {sf_dir} at {root}")
        sf_dir = root

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = registry.queries()
    oracles = registry.oracles()
    n_pass = n_fail = 0
    # --json=<path>: also emit a machine-readable artifact (same per-query
    # shape as the driver's CORRECTNESS_r{N}.json) so the full-sweep claim
    # is a committed file, not a rerun
    report: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=4)
            n_fail += 1
            report[name] = {"status": "spark_error"}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            report[name] = {
                "status": "rows_only", "n_rows": len(srows),
                "seconds": round(time.time() - t0, 1),
            }
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: oracle error")
            traceback.print_exc(limit=4)
            n_fail += 1
            report[name] = {"status": "oracle_error"}
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sn = _normalize(srows, scols)
            on = _normalize(orows, ocols)
            if sn != on:
                diff = [i for i, (x, y) in enumerate(zip(sn, on)) if x != y][:3]
                examples = [(sn[i], on[i]) for i in diff]
                problems.append(f"values differ; first diffs {examples}")
        report[name] = {
            "status": "fail" if problems else "pass",
            "rows_match": len(srows) == len(orows),
            "schema_match": sorted(scols) == sorted(ocols),
            "values_match": not problems,
            "n_rows": len(srows),
            "seconds": round(time.time() - t0, 1),
        }
        if problems:
            n_fail += 1
            report[name]["problems"] = problems
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            n_pass += 1
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                 "queries": report},
                fh, indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
