"""Reshaping operators: wide→long unpivot (melt), time-series gap
fill with forward fill, and distributed contiguous row-id assignment.

No counterpart in the reference (its tables stay wide —
`sql_queries.py:2-30` — and its ids arrive from the source system);
these are the standard missing pieces when the same engine feeds
feature pipelines and training-data exports.

Scale notes:
- ``unpivot`` compiles to an Expand node: one scan, k× rows emitted
  map-side, partial aggregation before the (tiny, group-count-sized)
  shuffle — never k separate scans or a union of selects.
- gap fill builds the per-key date spine with ``sequence`` +
  ``explode`` (no driver-side date loop) and forward-fills with the
  count-partition trick, which needs only plain window functions —
  no IGNORE NULLS support required of the engine.
- row ids use value-range bucketing + per-bucket ranks + broadcast
  prefix offsets: one wide shuffle (the per-bucket window) instead of
  the single-task global ``row_number`` a naive ORDER BY window
  degenerates to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.aggregates import exact_avg, exact_sum, oracle_exact_avg
from ..sources.readers import load_table

MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def event_unpivot_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the four lineitem measures into (measure, value) rows and
    aggregate per (returnflag, measure).

    One scan: ``unpivot`` is an Expand (same machinery as CUBE), so
    the 4× row fan-out happens between scan and the map-side partial
    agg; the shuffle carries only the 3×4 final groups. Sums go
    through the exact-decimal convention (README lesson: never
    hash-compare a double sum).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", *MEASURES)
    long = li.unpivot(["l_returnflag"], list(MEASURES), "measure", "value")
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"),
        exact_sum("value", 4).cast("double").alias("sum_value"),
        exact_avg("value").alias("avg_value"),
    )


EVENT_UNPIVOT_ORACLE_SQL = f"""
WITH long AS (
  SELECT l_returnflag, measure, value
  FROM (SELECT l_returnflag, {", ".join(MEASURES)} FROM lineitem)
  UNPIVOT (value FOR measure IN ({", ".join(MEASURES)}))
)
SELECT l_returnflag, measure,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value,
       {oracle_exact_avg('value')} AS avg_value
FROM long
GROUP BY l_returnflag, measure
"""

#: gap-fill key range: a fixed, sf-independent slice of customers so
#: the spine (keys × days) stays bounded while still exercising
#: multi-year gaps at every scale factor.
GAP_FILL_MAX_CUSTKEY = 20


def gap_fill_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order totals per customer with the calendar gaps
    materialized and forward-filled.

    The spine is ``sequence(min_day, max_day)`` exploded per key —
    distributed, no driver loop. Forward fill uses the
    count-partition trick: a running ``count(value)`` over the
    ordered rows increments exactly at each non-null, so rows sharing
    that count form one carry-group whose single non-null (its first
    row) is recovered with ``max`` — plain window functions only,
    portable to any engine without IGNORE NULLS.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < GAP_FILL_MAX_CUSTKEY
    )
    daily = o.groupBy(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.count("*").alias("n_orders"),
        exact_sum("o_totalprice", 4).cast("double").alias("day_total"),
    )
    bounds = daily.groupBy("o_custkey").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = bounds.select(
        "o_custkey", F.explode_outer(F.sequence("lo", "hi")).alias("d")
    )
    j = spine.join(daily, ["o_custkey", "d"], "left")
    carry = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = j.withColumn("grp", F.count("day_total").over(carry))
    # DATE -> string at the output edge only: DuckDB hands DATE to
    # pandas as midnight datetime64, Spark as datetime.date, so the
    # hash compare needs a common rendering.
    return g.select(
        "o_custkey",
        F.col("d").cast("string").alias("d"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        "day_total",
        F.max("day_total")
        .over(Window.partitionBy("o_custkey", "grp"))
        .alias("filled_total"),
        F.col("day_total").isNull().alias("is_gap"),
    )


GAP_FILL_ORACLE_SQL = f"""
WITH daily AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS day_total
  FROM orders
  WHERE o_custkey < {GAP_FILL_MAX_CUSTKEY}
  GROUP BY 1, 2
), bounds AS (
  SELECT o_custkey, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
), spine_ts AS (
  -- unnest is applied after the projection, so a CAST wrapped around
  -- it would not reach the elements; cast in a separate level
  SELECT o_custkey, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS dts
  FROM bounds
), spine AS (
  SELECT o_custkey, CAST(dts AS DATE) AS d FROM spine_ts
), j AS (
  SELECT s.o_custkey, s.d, daily.n_orders, daily.day_total
  FROM spine s LEFT JOIN daily USING (o_custkey, d)
), g AS (
  SELECT *,
         count(day_total) OVER (
           PARTITION BY o_custkey ORDER BY d ROWS UNBOUNDED PRECEDING) AS grp
  FROM j
)
SELECT o_custkey, CAST(d AS VARCHAR) AS d,
       coalesce(n_orders, 0) AS n_orders,
       day_total,
       max(day_total) OVER (PARTITION BY o_custkey, grp) AS filled_total,
       day_total IS NULL AS is_gap
FROM g
"""

#: Buckets for distributed row-id assignment. At 100 TB this is the
#: shuffle-partition knob (thousands); the output is invariant to it.
ROW_ID_BUCKETS = 16


def global_row_ids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids ordered by ``o_orderkey`` — the
    distributed zipWithIndex, DataFrame-native.

    A naive ``row_number() OVER (ORDER BY key)`` is an empty-frame
    global window: every row funnels through ONE task. Instead:
    bucket rows by a value-range split of the key (deterministic, no
    sampling), rank within each bucket in parallel, then add each
    bucket's prefix-sum offset via a broadcast join of the tiny
    (bucket, count) table. Uniform keys split evenly here; skewed
    keys would take approxQuantile boundaries instead — same plan.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    lo, hi = o.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    width = max(1, (hi - lo) // ROW_ID_BUCKETS + 1)
    b = o.withColumn(
        "bucket", F.floor((F.col("o_orderkey") - F.lit(lo)) / F.lit(width)).cast("long")
    )
    local = F.row_number().over(
        Window.partitionBy("bucket").orderBy("o_orderkey")
    )
    counts = b.groupBy("bucket").agg(F.count("*").alias("cnt"))
    offsets = counts.select(
        "bucket",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return (
        b.withColumn("local_rid", local)
        .join(F.broadcast(offsets), "bucket")
        .select(
            "o_orderkey",
            (F.col("offset") + F.col("local_rid")).alias("rid"),
        )
    )


GLOBAL_ROW_IDS_ORACLE_SQL = """
SELECT o_orderkey,
       ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
FROM orders
"""
