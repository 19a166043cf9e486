"""Physical-plan audit over every registry query.

Prints one row per query with the plan-shape facts that matter at
100 TB, so regressions in plan quality are as visible as regressions
in wall time:

- exchanges  : shuffle count (every one is a full network pass)
- bhj / smj  : broadcast-hash vs sort-merge join counts (a dimension
               side that stops broadcasting shows up here)
- nlj        : nested-loop/cartesian joins (almost always a bug -
               the intentional one is the tiny broadcast corner of
               similarity_topk / tfidf's scalar count)
- codegen    : WholeStageCodegen span count (interpreted islands ->
               more spans or zero; shows 0 for multi-stage plans
               still wrapped in an un-finalized AdaptiveSparkPlan -
               single-stage plans report accurately)
- scans      : parquet scans (re-reads of the same table in one plan)

Usage: python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_capstone_project_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

#: Queries that execute work at plan-build time (streaming runs); their
#: returned DataFrame is a materialized local result, so plan metrics
#: would describe the collect, not the pipeline.
MATERIALIZED = {
    "streaming_upsert",
    "streaming_window_agg",
    "streaming_stateful",
    "json_lake_ingest",
    "dedup_clusters",  # iterative localCheckpoint loop
    "streaming_dedup",
}


def audit(df) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    body = plan.split("\n\n", 1)[0]  # node tree, not the detail section
    # Codegen span ids only appear in simple mode ("*(n) NodeName").
    simple = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", body)),
        "bhj": body.count("BroadcastHashJoin"),
        "smj": body.count("SortMergeJoin"),
        "nlj": body.count("BroadcastNestedLoopJoin") + body.count("CartesianProduct"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "scans": body.count("Scan parquet"),
    }


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/root/testdata/sf0.01"
    )
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("plan-audit")
    queries = entrymod.queries()
    hdr = f"{'query':26s} {'exchanges':>9s} {'bhj':>4s} {'smj':>4s} {'nlj':>4s} {'codegen':>8s} {'scans':>6s}"
    print(hdr)
    print("-" * len(hdr))
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in MATERIALIZED:
            print(f"{name:26s} {'(materialized streaming result)':>9s}")
            continue
        m = audit(fn(spark, sf_dir))
        print(
            f"{name:26s} {m['exchanges']:9d} {m['bhj']:4d} {m['smj']:4d} "
            f"{m['nlj']:4d} {m['codegen']:8d} {m['scans']:6d}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
