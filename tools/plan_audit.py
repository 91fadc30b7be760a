"""Plan audit: extract scale-relevant physical-plan features for every
registered query and write a markdown table (PLANS_r{N}.md).

What the columns mean at 100 TB:
- exchanges: shuffle count — each is a full network pass over its input;
- bhj/smj: broadcast vs sort-merge joins — broadcast keeps the fact side
  un-shuffled, SMJ is correct for fact-fact;
- pushed: a parquet scan accepted pushdown filters (row-group pruning);
- pyeval: Python evaluation in the plan (Arrow batch boundary) — expected
  ONLY for the declared pandas/mapInPandas operators;
- cartesian: must be zero everywhere.

Usage: python tools/plan_audit.py [out.md] [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry  # noqa: E402
from duckdb_fastlanes_spark.plans.checks import explain_str  # noqa: E402

#: queries that run jobs at build time (streaming drains, DML, iterative
#: loops) — their auditable plan is the FINAL stage (earlier rounds already
#: executed), so the row is annotated rather than skipped (r10 verdict
#: item 7: zero-cartesian / declared-pyeval must be proven for all 280)
JOB_AT_BUILD = {
    "stream_stateful_sessions",
    "stream_dedup_exact",
    "dml_cow_delete_update",
    "dedup_cluster_cc",
    "sim_ivf_kmeans_topk",
    "dq_integrity_checks",
    "text_embed_hashing",
    "multimodal_frame_sample",
    "multimodal_features",
    "multimodal_audio_features",
}


def audit(out_path: str, sf_dir: str) -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(registry.queries().items()):
        note = "post-build final stage" if name in JOB_AT_BUILD else ""
        try:
            df = fn(spark, sf_dir)
            formatted = explain_str(df)
            simple = explain_str(df, "simple")
        except Exception as e:  # noqa: BLE001
            rows.append((name, "?", "?", "?", "?", "?", "?", f"error: {str(e)[:60]}"))
            continue
        exchanges = len(re.findall(r"Exchange (?:hash|range|SinglePartition)", simple))
        bhj = simple.count("BroadcastHashJoin")
        smj = simple.count("SortMergeJoin")
        pushed = "y" if re.search(r"PushedFilters: \[[^\]]+\]", formatted) else ""
        pyeval = "y" if "EvalPython" in simple else ""
        cartesian = "y" if "CartesianProduct" in simple else ""
        rows.append((name, exchanges, bhj, smj, pushed, pyeval, cartesian, note))

    with open(out_path, "w") as fh:
        fh.write(
            "# Plan audit — scale-relevant physical-plan features per query\n\n"
            "Generated by `tools/plan_audit.py` (AQE disabled during inspection so\n"
            "stage structure is visible; see the module docstring for column\n"
            "semantics).\n\n"
            "| query | exchanges | broadcast joins | sort-merge joins | pushed filters | python eval | cartesian | note |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            fh.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote {out_path} ({len(rows)} queries)")


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "PLANS_r1.md"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    audit(out, sf)
