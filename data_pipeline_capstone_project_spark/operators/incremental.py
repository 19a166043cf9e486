"""Incremental aggregate maintenance via mergeable partial states.

The reference's incremental story is per-record upsert (O1,
``README.md:187-218``); its aggregates are recomputed from scratch
daily (ST5). The scalable middle ground - and the standard lakehouse
pattern - is maintaining ALGEBRAIC aggregates: persist per-key partial
states (count, sum, max), and on each new batch merge
``state ⊕ partial(delta)`` instead of rescanning history. Count and
sum merge by addition, max by max; avg is *derived* at read time as
sum/count (averaging averages is the classic wrong answer).

At 100 TB the difference is scanning one day's partition versus the
whole fact table: the merge cost is O(|keys|), independent of history
length. The states here are exact decimals, so the maintained result
is bit-identical to a full recompute - which is precisely what the
oracle checks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import exact_sum
from ..sources.readers import load_table

SPLIT_DAY = 15  # history = days 1..15, delta = days 16..


def partial_state(df: DataFrame) -> DataFrame:
    """Per-user mergeable state: (n, sum, max). All algebraic."""
    return df.groupBy("user_id").agg(
        F.count("*").alias("n"),
        exact_sum("value", 6).alias("sum_dec"),
        F.max("ts").alias("last_ts"),
    )


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """state ⊕ state: unionByName then re-reduce with the aggregates'
    own merge functions (sum-of-counts, sum-of-sums, max-of-maxes)."""
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").alias("sum_dec"),
            F.max("last_ts").alias("last_ts"),
        )
    )


def incremental_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain per-user aggregates across two batches (history:
    days <= 15, delta: the rest) by merging partial states; the result
    must equal - exactly - a full recompute over everything, which is
    what the oracle computes."""
    events = load_table(spark, sf_dir, "events")
    history = partial_state(events.filter(F.dayofmonth("ts") <= SPLIT_DAY))
    delta = partial_state(events.filter(F.dayofmonth("ts") > SPLIT_DAY))
    merged = merge_states(history, delta)
    return merged.select(
        "user_id",
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        (F.col("sum_dec").cast("double") / F.col("n")).alias("avg_value"),
        F.unix_micros("last_ts").alias("last_ts_us"),
    )


INCREMENTAL_AGG_ORACLE_SQL = """
SELECT user_id,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_value,
       epoch_us(max(ts)) AS last_ts_us
FROM events
GROUP BY user_id
"""
