"""Remaining relational operators: anti-join idempotency (J3), the
scalar-function suite (F5-F8, F15, F17, §2.8), and the pricing-summary
bench headline.

J3: the reference checks S3 for an existing object before downloading
an image (``s3-to-es_aws.py:94-100``) - per-record HEAD requests. The
set-oriented equivalent is a left-anti join of the incoming batch
against the processed-keys set: one shuffle (or broadcast when the
processed side is small), no per-row round trips - the reason this
scales where per-key existence checks do not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.aggregates import exact_avg, exact_sum
from ..functions.scalar import extract_extension, hex_color
from ..sources.readers import load_table


def anti_join_new_keys(batch: DataFrame, processed: DataFrame, on: list[str]) -> DataFrame:
    """Rows of ``batch`` whose key is not in ``processed`` (idempotent
    ingest: skip work already done)."""
    return batch.join(processed, on=on, how="left_anti")


def anti_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events on (user, day) pairs with no 'view' event that day -
    batch≅incoming posts, processed≅image-store keys."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    processed = (
        events.filter(F.col("event_type") == "view")
        .select("user_id", "day")
        .distinct()
    )
    return anti_join_new_keys(events, processed, ["user_id", "day"]).select(
        "event_id", "user_id", "day", "event_type"
    )


ANTI_JOIN_ORACLE_SQL = """
WITH e AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events)
SELECT event_id, user_id, day, event_type
FROM e
WHERE NOT EXISTS (
  SELECT 1 FROM e p
  WHERE p.user_id = e.user_id AND p.day = e.day AND p.event_type = 'view'
)
"""


def scalar_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-surface showcase over part: string cast (F5), URL concat
    (F6), regex extension extract (F7), printf hex color (F15,
    ``spark_image.py:61-72``), blanks->null (F17), -1 sentinel
    coalesce (F4)."""
    part = load_table(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://cdn.example/media/"),
        F.col("p_partkey").cast("string"),
        F.lit(".jpg?sig=1"),
    )
    return part.select(
        F.col("p_partkey").cast("string").alias("id"),
        url.alias("media_url"),
        extract_extension(url).alias("media_ext"),
        hex_color(
            F.col("p_size") % 256, (F.col("p_size") * 3) % 256, (F.col("p_size") * 7) % 256
        ).alias("hex"),
        F.nullif(F.trim("p_brand"), F.lit("")).alias("brand"),
        F.coalesce(
            F.when(F.col("p_size") % 5 != 0, F.col("p_size")), F.lit(-1)
        ).alias("size_or_sentinel"),
    )


SCALAR_SUITE_ORACLE_SQL = """
SELECT CAST(p_partkey AS VARCHAR) AS id,
       'https://cdn.example/media/' || p_partkey || '.jpg?sig=1' AS media_url,
       regexp_extract('https://cdn.example/media/' || p_partkey || '.jpg?sig=1',
                      '(\\.\\w{3,4})\\?', 1) AS media_ext,
       printf('#%02x%02x%02x', p_size % 256, (p_size * 3) % 256,
              (p_size * 7) % 256) AS hex,
       nullif(trim(p_brand), '') AS brand,
       coalesce(CASE WHEN p_size % 5 <> 0 THEN p_size END, -1) AS size_or_sentinel
FROM part
"""


PRICING_CUTOFF = "1998-09-02"


def pricing_summary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan-heavy aggregate - the bench headline for
    raw aggregation throughput. All money sums are exact decimal sums
    (:func:`..functions.aggregates.exact_sum`); per-row products stay
    double (deterministic), only the reduction is decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        li.filter(F.col("l_shipdate") <= PRICING_CUTOFF)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 6).cast("double").alias("sum_qty"),
            exact_sum("l_extendedprice", 6).cast("double").alias("sum_base_price"),
            exact_sum(disc_price, 6).cast("double").alias("sum_disc_price"),
            exact_sum(f"{disc_price} * (1 + l_tax)", 6).cast("double").alias("sum_charge"),
            exact_avg("l_quantity", 6).alias("avg_qty"),
            exact_avg("l_extendedprice", 6).alias("avg_price"),
            exact_avg("l_discount", 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_ORACLE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def semi_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (J3's positive twin): customers that placed at
    least one high-value order - existence check without duplicating
    the probe side (an inner join would fan out per matching order;
    semi stops at first match, and Catalyst broadcast-builds the
    filtered orders side)."""
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 150000
    )
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SEMI_JOIN_ORACLE_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
"""


def set_ops_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over the active-user sets of two
    periods (SURVEY §2.7 notes the reference has none; the engine gets
    them as first-class plans). DISTINCT variants - Spark rewrites
    intersect/except into aggregated joins, so each leg is one shuffle
    on the compared columns.

    Plan shape (audited): each set-op leg re-expands the events scan,
    so the plan reads the (column-pruned, 2-col) table 6x. That is the
    cost of exercising the real operators; the 100 TB rewrite is the
    single-scan flag aggregation in ``set_ops_fused_query`` (1 scan,
    1 shuffle), which a unit test proves row-identical."""
    events = load_table(spark, sf_dir, "events")
    wk1 = events.filter(F.dayofmonth("ts") <= 15).select("user_id")
    wk2 = events.filter(F.dayofmonth("ts") > 15).select("user_id")
    return wk1.union(wk2).distinct().agg(
        F.lit("union").alias("op"), F.count("*").alias("n_users")
    ).unionByName(
        wk1.intersect(wk2).agg(F.lit("intersect").alias("op"), F.count("*").alias("n_users"))
    ).unionByName(
        wk1.distinct().exceptAll(wk2.distinct()).agg(
            F.lit("except").alias("op"), F.count("*").alias("n_users")
        )
    )


def set_ops_fused_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rewrite of ``set_ops_query``: one scan of events, one
    shuffle. Per-user membership flags (``max(bool)`` = EXISTS) make
    union/intersect/except conditional counts over a single groupBy -
    the plan an optimizer with common-subplan fusion would emit, and
    the one to run at 100 TB where 6 scans of the fact table dominate."""
    events = load_table(spark, sf_dir, "events")
    flags = events.groupBy("user_id").agg(
        F.max(F.dayofmonth("ts") <= 15).alias("in1"),
        F.max(F.dayofmonth("ts") > 15).alias("in2"),
    )
    counts = flags.agg(
        F.count_if(F.col("in1") | F.col("in2")).alias("n_union"),
        F.count_if(F.col("in1") & F.col("in2")).alias("n_intersect"),
        F.count_if(F.col("in1") & ~F.col("in2")).alias("n_except"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("union").alias("op"), F.col("n_union").alias("n_users")),
                F.struct(F.lit("intersect").alias("op"), F.col("n_intersect").alias("n_users")),
                F.struct(F.lit("except").alias("op"), F.col("n_except").alias("n_users")),
            )
        ).alias("r")
    ).select("r.op", "r.n_users")


SET_OPS_ORACLE_SQL = """
WITH wk1 AS (SELECT user_id FROM events WHERE day(ts) <= 15),
     wk2 AS (SELECT user_id FROM events WHERE day(ts) > 15)
SELECT 'union' AS op,
       (SELECT count(*) FROM (SELECT user_id FROM wk1 UNION SELECT user_id FROM wk2)) AS n_users
UNION ALL
SELECT 'intersect',
       (SELECT count(*) FROM (SELECT user_id FROM wk1 INTERSECT SELECT user_id FROM wk2))
UNION ALL
SELECT 'except',
       (SELECT count(*) FROM (SELECT user_id FROM wk1 EXCEPT SELECT user_id FROM wk2))
"""


def above_customer_avg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery decorrelation: orders priced above their
    own customer's average (``WHERE o_totalprice > (SELECT avg(...)
    FROM orders o2 WHERE o2.o_custkey = o.o_custkey)``).

    The naive plan is a self-join against a per-customer aggregate -
    two scans, two shuffles. The decorrelated form is one window over
    o_custkey: a single scan and a single shuffle, and the transform
    every serious optimizer applies. The average is computed as
    exact-decimal sum / count so the comparison threshold is
    bit-identical to the oracle's."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double")
        / F.count("*").over(w)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
            "cust_avg",
        )
    )


ABOVE_CUSTOMER_AVG_ORACLE_SQL = """
WITH a AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
             / count(*) OVER w AS cust_avg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey))
SELECT o_orderkey AS orderkey, o_custkey AS custkey,
       o_totalprice AS totalprice, cust_avg
FROM a WHERE o_totalprice > cust_avg
"""


def null_semantics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling surface in one query: a nullable group key
    (SQL GROUP BY treats all NULLs as one group), the count(*) vs
    count(col) distinction, null-skipping aggregates, and a null-safe
    equi-join (``<=>`` / IS NOT DISTINCT FROM) that keeps the NULL
    group where a plain equi-join would silently drop it.

    Nulls are synthesized deterministically (brand nulled where
    p_size % 7 = 0, retailprice where % 5 = 0) so the oracle sees the
    identical distribution. The null-safe join compiles to a regular
    hash join - null-safe equality is hashable - so there is no plan
    penalty for correct null handling."""
    part = load_table(spark, sf_dir, "part")
    t = part.select(
        F.when(F.col("p_size") % 7 != 0, F.col("p_brand")).alias("brand"),
        F.when(F.col("p_size") % 5 != 0, F.col("p_retailprice")).alias("price"),
    )
    dim = t.select("brand").distinct()
    return (
        t.alias("t")
        .join(dim.alias("d"), F.col("t.brand").eqNullSafe(F.col("d.brand")))
        .groupBy(F.col("d.brand").alias("brand"))
        .agg(
            F.count("*").alias("n_rows"),
            F.count("t.price").alias("n_priced"),
            exact_sum("t.price", 6).cast("double").alias("sum_price"),
        )
    )


NULL_SEMANTICS_ORACLE_SQL = """
WITH t AS (
  SELECT CASE WHEN p_size % 7 <> 0 THEN p_brand END AS brand,
         CASE WHEN p_size % 5 <> 0 THEN p_retailprice END AS price
  FROM part),
d AS (SELECT DISTINCT brand FROM t)
SELECT d.brand AS brand,
       count(*) AS n_rows,
       count(t.price) AS n_priced,
       CAST(sum(CAST(t.price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM t JOIN d ON t.brand IS NOT DISTINCT FROM d.brand
GROUP BY d.brand
"""


def datetime_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal scalar surface (F16 extension): component extraction,
    truncation, calendar arithmetic, epoch conversion, formatting -
    the portable subset both Spark and ANSI engines agree on.
    (Deliberately excluded: months_between fractions and
    locale-dependent week numbering, which differ across engines.)
    All expressions are whole-stage-codegen'd scalar ops - this query
    is scan-bound at any scale."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("s"),
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        F.weekday("ts").alias("wd"),
        F.date_format(F.date_add(F.to_date("ts"), 30), "yyyy-MM-dd").alias("plus30"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.unix_micros("ts").alias("epoch_us"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("formatted"),
    )


DATETIME_SUITE_ORACLE_SQL = """
SELECT event_id,
       year(ts) AS y, month(ts) AS m, day(ts) AS d,
       hour(ts) AS h, minute(ts) AS mi,
       CAST(floor(second(ts)) AS INTEGER) AS s,
       strftime(CAST(date_trunc('month', ts) AS DATE), '%Y-%m-%d') AS month_start,
       strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(isodow(ts) - 1 AS INTEGER) AS wd,
       strftime(CAST(ts AS DATE) + 30, '%Y-%m-%d') AS plus30,
       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since,
       epoch_us(ts) AS epoch_us,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS formatted
FROM events
"""


# --- join-type completeness suite -----------------------------------------


def join_types_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every join mode the engine supports, one row of evidence each:
    inner / left / right / full outer on customer x orders, left-semi
    and left-anti (J3), a cross join, and a theta (inequality) join.
    The reference only exercises left-outer and anti joins
    (``sql_queries.py:22-27``, ``s3-to-es_aws.py:94-100``); this pins
    the rest of the matrix.

    Scale notes: the equi joins shuffle on the key (or broadcast the
    small side); cross and theta are computed on DIMENSION tables only
    (nation x region scale), which is the only place a
    BroadcastNestedLoopJoin is ever acceptable at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    c = cust.select(F.col("c_custkey").alias("k"))
    o = orders.select(F.col("o_custkey").alias("k"))

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("join_type"), F.count("*").alias("n_rows")
        )

    n2 = nation.select(F.col("n_nationkey").alias("nk2"))
    return (
        one("inner", c.join(o, "k"))
        .unionByName(one("left_outer", c.join(o, "k", "left")))
        .unionByName(one("right_outer", c.join(o, "k", "right")))
        .unionByName(one("full_outer", c.join(o, "k", "full")))
        .unionByName(one("left_semi", c.join(o, "k", "left_semi")))
        .unionByName(one("left_anti", c.join(o, "k", "left_anti")))
        .unionByName(one("cross", nation.crossJoin(region)))
        .unionByName(
            one(
                "theta",
                nation.join(n2, F.col("n_nationkey") < F.col("nk2")),
            )
        )
    )


JOIN_TYPES_ORACLE_SQL = """
SELECT 'inner' AS join_type, count(*) AS n_rows
  FROM customer JOIN orders ON c_custkey = o_custkey
UNION ALL
SELECT 'left_outer', count(*)
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
UNION ALL
SELECT 'right_outer', count(*)
  FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
UNION ALL
SELECT 'full_outer', count(*)
  FROM customer FULL JOIN orders ON c_custkey = o_custkey
UNION ALL
SELECT 'left_semi', count(*)
  FROM customer WHERE EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'left_anti', count(*)
  FROM customer WHERE NOT EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'cross', count(*) FROM nation, region
UNION ALL
SELECT 'theta', count(*)
  FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
"""


# --- JSON scalar surface ---------------------------------------------------


def json_functions_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface over the ``events.props`` JSON-string
    column: path extraction (``get_json_object``), schema-first typed
    parse (``from_json`` - the F14 operator the ingest path uses), and
    JSON re-serialization of a built struct (``to_json``). Output
    strings are engine-canonical: both engines emit compact
    ``{"k":v}`` with preserved field order, which the oracle proves.

    Every payload field is null-guarded with coalesce because the two
    engines canonicalize nulls differently (Spark ``to_json`` OMITS a
    null struct field; DuckDB emits ``"t":null``) - a null
    ``event_type`` would diverge even though both are "correct".
    ``from_json('k LONG')`` also nulls a QUOTED numeric ``"k":"7"``
    that ``get_json_object``+cast would parse; the fixture invariant
    (props.k is numeric-or-absent) is asserted by
    ``tests/test_round2_ops.py::test_json_suite_fixture_invariants``."""
    events = load_table(spark, sf_dir, "events")
    k_typed = F.from_json("props", "k LONG").getField("k")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        k_typed.alias("k_typed"),
        F.to_json(
            F.struct(
                (F.coalesce(k_typed, F.lit(0)) * 2).alias("k2"),
                F.coalesce(F.col("event_type"), F.lit("")).alias("t"),
            )
        ).alias("payload"),
        F.length("props").alias("raw_len"),
    )


JSON_FUNCTIONS_ORACLE_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_path,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
       to_json(struct_pack(
         k2 := coalesce(CAST(json_extract(props, '$.k') AS BIGINT), 0) * 2,
         t := coalesce(event_type, ''))) AS payload,
       length(props) AS raw_len
FROM events
"""


# --- VARIANT semi-structured surface (Spark 4) -----------------------------


def variant_json_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type over the same ``events.props`` payload:
    ``parse_json`` decodes the string ONCE into the binary variant
    encoding, and every ``variant_get`` after that is a cheap typed
    path lookup — the modern replacement for re-parsing a JSON string
    per extraction (at 100 TB the parse happens once per row at
    ingest, and a shredded variant column serves any number of typed
    reads). ``try_variant_get`` on a missing path yields NULL instead
    of an error, the semi-structured twin of the F17/F18 error-safe
    scalar family.

    The variant column itself never reaches the output (binary
    encodings are engine-private); only typed extractions are
    hash-compared with DuckDB's JSON path operators."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return events.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k_long"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.absent", "long").alias("missing"),
        F.try_variant_get(v, "$.k", "long").isNotNull().alias("has_k"),
        (F.coalesce(F.variant_get(v, "$.k", "long"), F.lit(0)) % 10).alias(
            "k_mod"
        ),
    )


VARIANT_JSON_ORACLE_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract(props, '$.absent') AS BIGINT) AS missing,
       json_extract(props, '$.k') IS NOT NULL AS has_k,
       coalesce(CAST(json_extract(props, '$.k') AS BIGINT), 0) % 10 AS k_mod
FROM events
"""


# --- string scalar surface -------------------------------------------------


def string_functions_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable string scalar surface beyond scalar_suite's
    regex/concat set: pad/reverse/translate/replace/position/
    left/right/substring_index/concat_ws - each chosen because Java
    and DuckDB agree on semantics (soundex/initcap/format_number are
    NOT in this set precisely because they differ)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("size_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.reverse("p_name").alias("name_rev"),
        F.translate("p_name", "ae", "@3").alias("name_leet"),
        F.expr("replace(p_name, ' ', '_')").alias("name_snake"),
        F.instr("p_name", "a").alias("first_a"),
        F.expr("left(p_name, 3)").alias("name_l3"),
        F.expr("right(p_name, 3)").alias("name_r3"),
        F.substring_index("p_name", " ", 1).alias("first_word"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
    )


STRING_FUNCTIONS_ORACLE_SQL = """
SELECT p_partkey,
       lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
       rpad(p_brand, 12, '.') AS brand_padded,
       reverse(p_name) AS name_rev,
       translate(p_name, 'ae', '@3') AS name_leet,
       replace(p_name, ' ', '_') AS name_snake,
       position('a' IN p_name) AS first_a,
       left(p_name, 3) AS name_l3,
       right(p_name, 3) AS name_r3,
       split_part(p_name, ' ', 1) AS first_word,
       concat_ws('-', p_brand, p_type) AS brand_type
FROM part
"""


# --- error-safe arithmetic / cast surface ----------------------------------


def safe_arithmetic_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar surface: try_cast of dirty strings, try_divide
    (NULL on zero denominator instead of error/Inf), integer div/mod,
    and nullif guards. The ingest path needs these semantics because
    PERMISSIVE JSON reads deliver dirty values (the reference's
    BLANKSASNULL load flags are the same idea, ``stage_redshift.py:64``)
    - and ANSI engines differ on whether 1/0 errors, returns NULL, or
    returns Inf, so the portable form pins NULL."""
    part = load_table(spark, sf_dir, "part")
    dirty = F.when(F.col("p_partkey") % 3 == 0, F.concat(F.col("p_partkey").cast("string"), F.lit("x"))).otherwise(
        F.col("p_partkey").cast("string")
    )
    zero_every_5 = F.when(F.col("p_size") % 5 == 0, F.lit(0)).otherwise(F.col("p_size"))
    return part.select(
        "p_partkey",
        dirty.try_cast("long").alias("clean_key"),
        F.try_divide(F.col("p_retailprice"), zero_every_5).alias("price_per_size"),
        (F.col("p_partkey") % 7).alias("key_mod"),
        F.floor(F.col("p_partkey") / 7).alias("key_div"),
        F.nullif(F.col("p_brand"), F.lit("Brand#1")).alias("brand_or_null"),
    )


SAFE_ARITHMETIC_ORACLE_SQL = """
SELECT p_partkey,
       TRY_CAST(CASE WHEN p_partkey % 3 = 0
                     THEN p_partkey || 'x' ELSE CAST(p_partkey AS VARCHAR) END
                AS BIGINT) AS clean_key,
       p_retailprice / nullif(CASE WHEN p_size % 5 = 0 THEN 0 ELSE p_size END, 0)
         AS price_per_size,
       p_partkey % 7 AS key_mod,
       CAST(floor(p_partkey / 7.0) AS BIGINT) AS key_div,
       nullif(p_brand, 'Brand#1') AS brand_or_null
FROM part
"""


# --- window navigation surface ---------------------------------------------


def window_navigation_suite_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation completeness: first_value / last_value /
    nth_value with IGNORE NULLS over the full-partition frame, and
    lead with an explicit default - the functions user_timeseries'
    frame windows do not cover. One Window node (same partition and
    order for every function), signal sparsified so the null-skipping
    semantics actually bite."""
    events = load_table(spark, sf_dir, "events")
    sig = F.when(F.col("event_type") == "purchase", F.col("value"))
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.first(sig, ignorenulls=True).over(w_full).alias("first_purchase"),
        F.last(sig, ignorenulls=True).over(w_full).alias("last_purchase"),
        F.nth_value(sig, 2, ignoreNulls=True).over(w_full).alias("second_purchase"),
        F.lead("event_id", 1, -1).over(w_seq).alias("next_event_id"),
    )


WINDOW_NAVIGATION_ORACLE_SQL = """
SELECT event_id, user_id,
       first_value(CASE WHEN event_type = 'purchase' THEN value END
                   IGNORE NULLS) OVER w_full AS first_purchase,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS) OVER w_full AS last_purchase,
       nth_value(CASE WHEN event_type = 'purchase' THEN value END, 2
                 IGNORE NULLS) OVER w_full AS second_purchase,
       lead(event_id, 1, -1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS next_event_id
FROM events
WINDOW w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""
