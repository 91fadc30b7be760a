"""Per-operator SQL metric dump for one registered query execution.

Runs the query once with the noop sink, then reads the status REST API's
/sql endpoint: every physical plan node with its aggregated metrics.

Usage: python tools/sql_metrics.py [query] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_fastlanes_spark import get_spark, registry


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    qname = args[0] if args else "graph_link_prediction"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    spark = get_spark("sql-metrics", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
    from duckdb_fastlanes_spark.session import tune_for_input

    tune_for_input(spark, sf_dir)
    optimize_layout(spark, sf_dir)
    warm_cache(spark, sf_dir)

    fn = registry.queries()[qname]
    t0 = time.monotonic()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/sql?details=true&planDescription=false&length=200"
    data = json.loads(urllib.request.urlopen(url).read())
    # the noop save is the LAST execution
    data.sort(key=lambda e: e["id"])
    ex = data[-1]
    print(json.dumps({"wall_s": round(wall, 2), "sql_id": ex["id"],
                      "duration_ms": ex.get("duration")}))
    for node in ex.get("nodes", []):
        metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
        keep = {
            k: v
            for k, v in metrics.items()
            if any(
                t in k
                for t in (
                    "time",
                    "rows",
                    "spill",
                    "build",
                    "data size",
                    "shuffle bytes",
                    "peak",
                )
            )
        }
        print(
            json.dumps(
                {"node": node["nodeId"], "name": node["nodeName"][:48], **keep}
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
