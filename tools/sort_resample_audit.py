"""Audit registered queries for the global-sort RESAMPLING trap (r12).

``orderBy`` plans an Exchange rangepartitioning whose bounds come from a
separate SAMPLING JOB over the sort's child. Shuffle map outputs below the
child are reused across jobs, but everything in the child's FINAL stage —
post-shuffle aggregates, windows, python stages, no-shuffle pipelines —
runs TWICE per query. (Measured on multimodal_features at the 1000× cell:
the bare ORDER BY re-ran the whole write+decode python pipeline — 5.4 s
→ 8.4 s.) A lazy localCheckpoint (unbounded results) or ordered_small
(bounded results) removes the second execution.

For each named query (or the top-N from SWEEP_DECOMP.json) this prints:
  - whether the plan has an Exchange rangepartitioning (global sort)
  - whether the sort child's stage contains expensive operators
    (HashAggregate / SortAggregate / Window / SortMergeJoin / Generate /
    python evaluation) before hitting an Exchange / checkpoint scan
  - TakeOrderedAndProject queries (LIMIT) are safe — no sampling

Usage: python tools/sort_resample_audit.py [--top=N | q1 q2 ...] [--sf=DIR]
"""

from __future__ import annotations

import json
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|Window|SortMergeJoin"
    r"|ShuffledHashJoin|Generate|BatchEvalPython|ArrowEvalPython|MapInArrow"
    r"|FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow"
)
CUT = re.compile(r"Exchange|Scan ExistingRDD|InMemoryTableScan|TableCacheQueryStage")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = next(
        (a.split("=", 1)[1] for a in args if a.startswith("--sf=")),
        "/root/testdata/sf0.1",
    )
    top = next((int(a.split("=", 1)[1]) for a in args if a.startswith("--top=")), None)
    names = [a for a in args if not a.startswith("--")]

    from duckdb_fastlanes_spark import get_spark, registry
    from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
    from duckdb_fastlanes_spark.session import tune_for_input

    if top and not names:
        sweep = json.load(open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SWEEP_DECOMP.json")))
        qs = sweep["queries"]
        names = [
            k
            for k, _ in sorted(
                qs.items(), key=lambda kv: -(kv[1].get("exec") or 0)
            )[:top]
        ]

    spark = get_spark("sort-resample-audit")
    spark.sparkContext.setLogLevel("ERROR")
    tune_for_input(spark, sf_dir)
    optimize_layout(spark, sf_dir)
    warm_cache(spark, sf_dir)
    reg = registry.queries()
    out = []
    for name in names:
        try:
            df = reg[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            out.append({"query": name, "err": str(e)[:120]})
            continue
        lines = plan.splitlines()
        range_ex = [
            i for i, ln in enumerate(lines) if "Exchange rangepartitioning" in ln
        ]
        flagged = False
        heavies: list[str] = []
        for i in range(len(range_ex)):
            # walk downward from the range exchange until the stage boundary
            for ln in lines[range_ex[i] + 1 :]:
                if CUT.search(ln) and "rangepartitioning" not in ln:
                    break
                m = HEAVY.search(ln)
                if m:
                    flagged = True
                    heavies.append(m.group(0))
        out.append(
            {
                "query": name,
                "range_sort": bool(range_ex),
                "take_ordered": "TakeOrderedAndProject" in plan,
                "resample_heavy": flagged,
                "heavies": sorted(set(heavies)),
            }
        )
    for row in out:
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
