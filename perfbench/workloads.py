"""The benchmark's workloads: fixed query subsets of the registry.

Each workload stresses different layers, so that a change to one layer
shows on the workload that exercises it and not on the other (the
reasons are in BENCHMARK.json and README.md). The subsets are small on
purpose: one run (JVM start, set-up, measured passes, output check) has
to stay under a minute on a 4-core host, and every query's DuckDB
oracle has to finish at sf0.1 in well under a second (the dedup-family
oracles take 8-86 s there, so none is used).
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    "reference_sql": (
        # reference-parity headline queries (bench.HEADLINE)
        "q1_history",
        "rolling_engagement",
        "latest_wins",
        "pricing_summary",
        # TPC-H joins and aggregates over the single-row-group lineitem
        "tpch_shipping_priority",
        "tpch_returned_items",
        "tpch_order_priority",
        "tpch_regional_volume",
    ),
    "iterative_streaming": (
        # BPE training memo on its first sf0.1 call (paid in set-up),
        # then a few encode jobs per call
        "tokenizer_fertility",
        # KMeans palette: mapInPandas + applyInPandas workers
        "color_palette",
        # iterative Lloyd steps with an applyInPandas pass
        "kmeans_lloyd",
        # latest-wins upsert merge of micro-batches into a sink
        "streaming_upsert",
        # watermarked windowed aggregation with a state store
        "streaming_window_agg",
    ),
}
