"""Per-query profiler: noop-sink timings, or formatted plans.

Usage:
    python tools/profile_queries.py time [q ...]
        3x noop-timed runs per query
    python tools/profile_queries.py explain OUT_DIR [q ...]
        formatted plans -> OUT_DIR/<q>_<tag>.txt
With no query names, every registry entry is profiled.

Env:
    SPARK_GRAFT_PROFILE_RUNS   (default 3)
    SPARK_GRAFT_PROFILE_TAG    (default "before") explain file suffix
    SPARK_GRAFT_SF_DIR         (default /root/testdata/sf0.1)

Mirrors bench.py's run_once (noop sink + session scrub) so numbers are
comparable with BENCH_DETAIL entries.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_capstone_project_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    mode = args.pop(0) if args else ""
    if mode not in ("time", "explain") or (mode == "explain" and not args):
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    out_dir = args.pop(0) if mode == "explain" else ""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    queries = entrymod.queries()
    names = args or list(queries)

    if mode == "explain":
        tag = os.environ.get("SPARK_GRAFT_PROFILE_TAG", "before")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = queries[name](spark, sf_dir)
            mode_obj = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = df._jdf.queryExecution().explainString(mode_obj)
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"{name}: {path} ({plan.count('Exchange')} Exchange)")
        return

    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
    warm_dir = "/root/testdata/sf0.001"
    results: dict[str, list[float]] = {}

    def scrub() -> None:
        spark.catalog.clearCache()
        gc.collect()
        try:
            jvm = spark.sparkContext._jvm
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:
            pass

    for name in names:
        try:
            queries[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(f"warm {name} failed: {exc}", file=sys.stderr)
        scrub()
    for r in range(runs):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile {name} run{r}")
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            el = round(time.perf_counter() - t0, 3)
            results.setdefault(name, []).append(el)
            scrub()
    print(json.dumps(
        {n: {"min": min(v), "runs": v} for n, v in results.items()},
        indent=1,
    ))
    os._exit(0)


if __name__ == "__main__":
    main()
