"""Scale-evidence bench (VERDICT r5 item 1 / r6 item 2): measure the
ten heaviest operators at sf0.1 AND at the synthetic sf1/sf2
(tools/make_scale_data.py) and report rows/s at each scale. The
claim under test: every heavy operator's plan is linear-ish in its
input (bucketed candidate generation, Zipf-bounded vocab tables,
shared scans), so throughput should hold within a small factor when
the data grows 10-20x on the same 32-core box. A rows/s collapse at
sf1 is a scale bug the sf0.1 bench cannot see.

Rows/s denominators are the operator's true input relation (documents
for the corpus ops, orders+lineitem for pagerank), read from the
parquet footer.

Usage: python tools/scale_bench.py [sf_dir ...]
  default: /root/testdata/sf0.1 scaledata/sf1 [scaledata/sf2 if present]
Writes tools/scale_bench_results.json; SCALING.md is maintained from
these numbers.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: output-proportional entries (VERDICT r8 item 6): alongside rows/s,
#: record pairs/s - work proportional to REPORTED pairs is the floor
#: for an exact-pair operator, so a sub-linear rows/s row with flat
#: pairs/s is output growth, not plan waste. Pair counts are read
#: from the LAST TIMED RUN's collected rows (ADVICE r9: a separate
#: post-timing re-execution doubled the heaviest entry's wall time in
#: a multi-hour scale run); these entries' outputs are tiny (<= ~15k
#: small rows), so collect() costs the same as the noop write the
#: other entries time.


def _sweep_pairs(rows):
    # pairs surviving the LOOSEST threshold; both sweep entries
    # (cluster-summary default and pair-grain twin) report n_pairs
    # per threshold row
    return max(r["n_pairs"] for r in rows)


PAIR_REPORTERS = {
    "dedup_threshold_sweep": _sweep_pairs,
    "dedup_threshold_sweep_pairs": _sweep_pairs,
    "similarity_join_exact": len,
}


def _candidate_threshold(name):
    """Candidate-stage Jaccard cutoff for candidates/s (VERDICT r9
    item 1): the sweep entries prefix-filter at their loosest
    threshold, the exact join at JACCARD_THRESHOLD."""
    from data_pipeline_capstone_project_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SWEEP_THRESHOLDS,
    )

    if name.startswith("dedup_threshold_sweep"):
        return min(SWEEP_THRESHOLDS)
    return JACCARD_THRESHOLD

HEAVY = {
    # name -> input tables for the rows/s denominator
    "streaming_lsh_dedup": ("documents",),
    "curation_funnel": ("documents",),
    "cross_corpus_overlap": ("documents",),
    "corpus_dup_ngrams": ("documents",),
    "vocab_growth": ("documents",),
    "dedup_threshold_sweep": ("documents",),
    "similarity_join_exact": ("documents",),
    "substring_dedup": ("documents",),
    "bpe_train": ("documents",),
    "pagerank": ("orders", "lineitem"),
    # r9 addition (VERDICT r8 #3): the pair-grain sweep twin, kept
    # measurable next to the cluster-summary default
    "dedup_threshold_sweep_pairs": ("documents",),
    # r7 addition: corpus-wide paragraph dedup (segment-keyed window +
    # doc-keyed groupBy - the new entry with genuinely corpus-scale
    # shuffles)
    "line_dedup": ("documents",),
    # r7 additions: training-export tar packing (per-source cumsum
    # window + grouped tar build) and hybrid retrieval (two corpus
    # scans -> TakeOrdered legs -> constant-size fusion)
    "webdataset_pack": ("documents",),
    "hybrid_search_rrf": ("documents", "embeddings"),
    # r8 additions (VERDICT r7 #5): the streaming family's
    # per-batch-proportional-work claims, measured - a self-staging
    # readStream+foreachBatch upsert, a stream-static join, and a
    # watermarked tumbling-window aggregation, all over events
    "streaming_upsert": ("events",),
    "streaming_join": ("events",),
    "streaming_window_agg": ("events",),
}


def main() -> None:
    from data_pipeline_capstone_project_spark.session import get_spark
    import __spark_entry__ as entrymod

    dirs = sys.argv[1:]
    if not dirs:
        dirs = ["/root/testdata/sf0.1", os.path.join(REPO, "scaledata", "sf1")]
        sf2 = os.path.join(REPO, "scaledata", "sf2")
        if os.path.isdir(sf2):
            dirs.append(sf2)

    # SCALE_BENCH_ONLY=a,b runs a subset and MERGES into the existing
    # results file (for benching a newly added heavy operator without
    # re-running the whole suite)
    only = set((os.environ.get("SCALE_BENCH_ONLY") or "").split(",")) - {""}
    out = os.path.join(REPO, "tools", "scale_bench_results.json")
    results: dict[str, dict] = {}
    if only and os.path.isfile(out):
        results = json.load(open(out))
    for sf_dir in dirs:
        # fresh JVM per scale: a 30-minute-old heap's GC/page-cache
        # state would otherwise bleed into the later scales' numbers
        # (observed: same op 20% slower in the long-lived session)
        spark = get_spark("scale-bench")
        queries = entrymod.queries()
        label = os.path.basename(sf_dir.rstrip("/"))
        results.setdefault(label, {})
        for name, tables in HEAVY.items():
            if only and name not in only:
                continue
            in_rows = sum(
                pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows
                for t in tables
            )
            runs = []
            last_rows = None
            try:
                for _ in range(2):
                    t0 = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    if name in PAIR_REPORTERS:
                        # tiny output: collect IS the timed action, and
                        # the last run's rows feed the pair count with
                        # no re-execution (ADVICE r9)
                        last_rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    runs.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:
                print(f"{label} {name} FAILED: {exc}", file=sys.stderr)
                results[label][name] = {"error": str(exc)[:200]}
                continue
            best = min(runs)
            results[label][name] = {
                "sec": best,
                "runs": runs,
                "input_rows": in_rows,
                "rows_per_sec": round(in_rows / best, 1),
            }
            extra = ""
            if name in PAIR_REPORTERS:
                n_pairs = int(PAIR_REPORTERS[name](last_rows))
                results[label][name]["output_pairs"] = n_pairs
                results[label][name]["pairs_per_sec"] = round(
                    n_pairs / best, 1
                )
                extra = f"  {n_pairs:>9d} pairs {n_pairs / best:>10.0f} pairs/s"
                # third denominator (VERDICT r9 item 1): the candidate
                # stage's cardinality, counted WITHOUT the verify
                # joins - attributes a rows/s collapse to candidate
                # growth vs verify cost. One extra candidate-stage
                # execution, written through like everything else.
                from data_pipeline_capstone_project_spark.operators.dedup import (
                    prefix_candidate_count,
                )

                tc0 = time.perf_counter()
                n_cand = prefix_candidate_count(
                    spark, sf_dir, _candidate_threshold(name)
                )
                results[label][name]["candidates"] = n_cand
                results[label][name]["candidate_stage_sec"] = round(
                    time.perf_counter() - tc0, 3
                )
                results[label][name]["candidates_per_sec"] = round(
                    n_cand / best, 1
                )
                extra += f"  {n_cand:>12d} cands"
            print(
                f"{label:8s} {name:24s} {best:8.2f}s  "
                f"{in_rows:>9d} rows  {in_rows / best:>12.0f} rows/s" + extra
            )
            spark.catalog.clearCache()
            gc.collect()
            # write-through after every entry: a multi-hour scale run
            # killed by a timeout must not lose the measurements it
            # already took
            with open(out, "w") as f:
                json.dump(results, f, indent=1)
        spark.stop()

    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out}")

    # scaling summary: rows/s ratio vs the first (smallest) dir
    base_label = os.path.basename(dirs[0].rstrip("/"))
    print(f"\n{'operator':24s} " + " ".join(f"{os.path.basename(d.rstrip('/')):>12s}" for d in dirs) + "   (rows/s; ratio vs " + base_label + ")")
    for name in HEAVY:
        cells = []
        base = results[base_label].get(name, {}).get("rows_per_sec")
        for d in dirs:
            lab = os.path.basename(d.rstrip("/"))
            r = results[lab].get(name, {})
            if "rows_per_sec" in r:
                ratio = r["rows_per_sec"] / base if base else float("nan")
                cells.append(f"{r['rows_per_sec']:>9.0f} {ratio:>4.2f}x")
            else:
                cells.append("      FAIL")
        print(f"{name:24s} " + " ".join(cells))


if __name__ == "__main__":
    main()
