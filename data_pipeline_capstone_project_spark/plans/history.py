"""Flagship plan: the daily ``history`` fact build (reference Q1).

Re-expresses the reference's one analytical SQL query
(``airflow/plugins/helpers/sql_queries.py:2-30``): per-user date-ordered
listagg time series x3 (A5/W1), left-join to a windowed post aggregation
(J1, A1-A4) and to the color table on a heterogeneous key (J2), grouped
(A6) and globally sorted (W2). The whole reference DAG
(``social_system_dag.py:103-106``) collapses into this one lazy plan.

Testdata mapping (FIXTURES.md §5): customer≅users, orders≅daily stats
rows (o_orderdate≅created_at, floor(o_totalprice)≅followers_count),
lineitem⋈orders≅post aggregations, c_mktsegment≅colors.

Scale design (100 TB):
- The reference groups AFTER its 3-way join (``GROUP BY 1,5,6,7,8``).
  We pre-aggregate each input to one row per user BEFORE joining -
  identical result (right sides are key-unique), but the join inputs
  shrink by the per-user fan-in (~180x in the reference's data model)
  and the listagg runs as a single partial->final hash aggregate with
  map-side combine instead of shuffling raw stats rows through a join.
- ``colors`` is dimension-sized (one row per user) -> broadcast, no
  shuffle. The series/aggs join is key-aligned on the same grouping
  key; AQE coalesces the post-shuffle partitions.
- Per-group state is bounded (a user's history rows), so the collected
  arrays cannot blow an executor regardless of total data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import exact_avg, oracle_exact_avg, ordered_series
from ..sources.readers import load_table

#: A4 time-window cutoff: the reference aggregates only the last 60 days
#: of posts (``get_elastic_data.py:61-68``); mapped to a fixed shipdate
#: cutoff so every scale factor is deterministic.
WINDOW_CUTOFF = "1998-01-01"


def history_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    odate, okey = F.col("o_orderdate"), F.col("o_orderkey")
    series = orders.groupBy(F.col("o_custkey").alias("id")).agg(
        ordered_series(F.floor("o_totalprice"), odate, okey).alias("followers"),
        ordered_series(okey, odate, okey).alias("impressions"),
        ordered_series(F.floor(F.col("o_totalprice") / 2), odate, okey).alias("reach"),
    )

    aggs = (
        lineitem.filter(F.col("l_shipdate") >= WINDOW_CUTOFF)
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(
            F.count("*").alias("doc_count"),
            exact_avg("l_quantity").alias("fol_avg"),
            exact_avg("l_extendedprice").alias("eng_avg"),
        )
    )

    colors = customer.select(
        F.col("c_custkey").alias("igId"), F.col("c_mktsegment").alias("colors")
    )

    return (
        series.join(aggs, on="id", how="left")
        .join(F.broadcast(colors), series.id == colors.igId, how="left")
        .select(
            "id", "followers", "impressions", "reach",
            "doc_count", "fol_avg", "eng_avg", "colors",
        )
        .orderBy("id")
    )


HISTORY_ORACLE_SQL = f"""
WITH series AS (
  SELECT o_custkey AS id,
         string_agg(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), ', '
                    ORDER BY o_orderdate, o_orderkey) AS followers,
         string_agg(CAST(o_orderkey AS VARCHAR), ', '
                    ORDER BY o_orderdate, o_orderkey) AS impressions,
         string_agg(CAST(CAST(FLOOR(o_totalprice / 2) AS BIGINT) AS VARCHAR), ', '
                    ORDER BY o_orderdate, o_orderkey) AS reach
  FROM orders GROUP BY 1
), aggs AS (
  SELECT o_custkey AS id, count(*) AS doc_count,
         {oracle_exact_avg('l_quantity')} AS fol_avg,
         {oracle_exact_avg('l_extendedprice')} AS eng_avg
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate >= TIMESTAMP '{WINDOW_CUTOFF}'
  GROUP BY 1
), colors AS (
  SELECT c_custkey AS igId, c_mktsegment AS colors FROM customer
)
SELECT s.id, s.followers, s.impressions, s.reach,
       a.doc_count, a.fol_avg, a.eng_avg, c.colors
FROM series s
LEFT JOIN aggs a ON s.id = a.id
LEFT JOIN colors c ON s.id = c.igId
ORDER BY s.id
"""
