"""Executed-scan multiplicity audit (r16): for each headline query, run
it once and read the SQL UI store for EVERY execution it triggered
(including localCheckpoint materializations, which the explain-level
plan audit cannot see), summing each parquet scan node's actual
"number of output rows" per table. scanned_rows / table_rows = the
query's true corpus-pass multiplicity — a value far above the
algorithm's pass count means a duplicate subtree is executing. The
last column is the number of Spark jobs the query ran.

Run: python tools/scan_multiplicity_audit.py [NAME ...]   (default: bench HEADLINE)
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark, plans
from streamprocessing_kafka_finlight_news_dashboard_spark.session import released


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    names = sys.argv[1:]
    if not names:
        import bench

        names = bench.HEADLINE
    spark = get_spark(
        app_name="scan-audit",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]

    def executions(offset: int):
        out = []
        # paginate defensively; planDescription is large, so details=false
        # on the list and per-id fetch for nodes
        lst = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/sql?offset=0&length=5000&details=false")
        )
        for e in lst:
            if e["id"] >= offset:
                out.append(e["id"])
        return sorted(out)

    # table row counts for multiplicity denominators
    tables = {}
    for t in ("documents", "embeddings", "lineitem", "orders", "events", "customer", "part", "supplier"):
        try:
            tables[t] = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
        except Exception:
            pass
    # warm (exclude from audit)
    plans.CATALOG["q1_pricing_summary"].builder(spark, sf_dir).count()
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, "id long").count()

    next_id = (executions(0)[-1] + 1) if executions(0) else 0
    print("query\ttable\tscan_nodes\tscanned_rows\tmultiplicity\tjobs")
    for name in names:
        q = plans.CATALOG[name]
        spark.sparkContext.setJobGroup(f"audit-{name}", name)
        try:
            with released():
                q.builder(spark, sf_dir).count()
        except Exception as exc:  # keep auditing the rest
            print(f"{name}\tERR\t{type(exc).__name__}")
            continue
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(f"audit-{name}"))
        per_table: dict[str, list[int]] = {}
        ids = executions(next_id)
        next_id = (ids[-1] + 1) if ids else next_id
        for eid in ids:
            try:
                det = json.load(
                    urllib.request.urlopen(
                        f"{ui}/api/v1/applications/{app}/sql/{eid}?details=true&planDescription=false"
                    )
                )
            except Exception:
                continue
            for node in det.get("nodes", []):
                nm = node.get("nodeName", "")
                if not nm.startswith("Scan parquet"):
                    continue
                table = nm.split(".")[-1].strip() or nm
                rows = 0
                for m in node.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        v = str(m.get("value", "0")).split("\n")[0]
                        v = v.replace(",", "").replace("'", "")
                        try:
                            rows = int(v)
                        except ValueError:
                            rows = 0
                per_table.setdefault(table, []).append(rows)
        for table, rows_list in sorted(per_table.items()):
            tot = sum(rows_list)
            denom = tables.get(table)
            mult = f"{tot / denom:.1f}" if denom else "?"
            print(f"{name}\t{table}\t{len(rows_list)}\t{tot}\t{mult}\t{jobs}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
