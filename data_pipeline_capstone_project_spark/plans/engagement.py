"""Rolling engagement aggregation (reference A1-A4 + A12).

The reference pushes this to Elasticsearch
(``get_elastic_data.py:61-92``): filter posts to the last 60 days, group
by owner, emit doc_count / avg(engagement) / avg(followers). Here the
whole thing is one declarative plan - Catalyst pushes the time filter
into the parquet scan (partition pruning on a date-partitioned lake at
scale) and splits the avg into partial/final automatically, which is
exactly the "aggregation pushdown" the reference hand-built (SURVEY O2/O3).

Testdata mapping: events≅posts, user_id≅owner_id, ts≅timestamp,
value≅engagement; followers carries the reference's ``-1`` "not
available on Basic connection" sentinel (``s3-to-es_aws.py:185-189``),
modeled deterministically from the props JSON payload. Both the
faithful average (sentinels included - what ES computed,
SURVEY A3) and the clean variant (sentinels excluded) are emitted.

The window anchor is max(ts) rather than now() so results are
deterministic; the anchor is computed as a 1-row broadcast-joined
aggregate - no driver-side collect, scale-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import exact_avg, oracle_exact_avg
from ..sources.readers import load_table

WINDOW_DAYS = 15


def rolling_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("max_ts"))

    k = F.get_json_object("props", "$.k").cast("long")
    followers = F.when(F.col("event_type") == "error", F.lit(-1)).otherwise(k)

    return (
        events.withColumn("followers", followers)
        .join(F.broadcast(anchor))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr(f"INTERVAL {WINDOW_DAYS} DAYS"))
        .groupBy(F.col("user_id").alias("id"))
        .agg(
            F.count("*").alias("doc_count"),
            exact_avg("value").alias("eng_avg"),
            exact_avg("followers", scale=0).alias("fol_avg"),
            exact_avg("CASE WHEN followers <> -1 THEN followers END", scale=0).alias(
                "fol_avg_clean"
            ),
        )
    )


ROLLING_ENGAGEMENT_ORACLE_SQL = f"""
WITH anchor AS (SELECT max(ts) AS max_ts FROM events),
src AS (
  SELECT user_id, value,
         CASE WHEN event_type = 'error' THEN -1
              ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS followers
  FROM events, anchor
  WHERE ts >= max_ts - INTERVAL {WINDOW_DAYS} DAY
)
SELECT user_id AS id, count(*) AS doc_count,
       {oracle_exact_avg('value')} AS eng_avg,
       {oracle_exact_avg('followers', 0)} AS fol_avg,
       {oracle_exact_avg('CASE WHEN followers <> -1 THEN followers END', 0)} AS fol_avg_clean
FROM src GROUP BY 1
"""
