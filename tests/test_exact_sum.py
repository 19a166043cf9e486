"""exact_sum / exact_avg against the decimal sum they replace.

The reference is ``F.sum(col.cast("decimal(38,s)"))`` evaluated in the
same job. The generated values aim at the places where the kernel's
integer fast path and its exact fallback meet: half-way values and
their float neighbours, the 2^40 fast-path bound, signed zeros, large
magnitudes, NaN/Inf and nulls, longs past 2^53 and wide decimals.
"""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from data_pipeline_capstone_project_spark.functions.aggregates import exact_avg, exact_sum

SCALES = (0, 4, 6)
_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _steps(x: float, n: int) -> float:
    """``x`` moved ``n`` ulps (toward +inf for n > 0)."""
    for _ in range(abs(n)):
        x = math.nextafter(x, math.inf if n > 0 else -math.inf)
    return x


def _doubles(s: int) -> st.SearchStrategy:
    half = st.integers(-(10**12), 10**12).map(lambda k: (k + 0.5) / 10**s)
    edge = st.sampled_from([2.0**40, -(2.0**40), 2.0**40 - 0.5, 2.0**40 + 0.5]).map(
        lambda e: e / 10**s
    )
    near = st.tuples(st.one_of(half, edge), st.integers(-3, 3)).map(lambda t: _steps(*t))
    special = st.sampled_from([0.0, -0.0, 1e20, -1e20, math.nan, math.inf, -math.inf, None])
    plain = st.floats(min_value=-1e21, max_value=1e21)
    return st.one_of(near, special, plain)


def _rows(values: st.SearchStrategy) -> st.SearchStrategy:
    return st.lists(st.tuples(st.integers(0, 3), values), min_size=1, max_size=40)


def _assert_parity(spark, rows, dtype: str, s: int) -> None:
    df = spark.createDataFrame(rows, f"g int, x {dtype}")
    ref = F.sum(F.col("x").cast(f"decimal(38,{s})"))
    out = df.groupBy("g").agg(
        ref.alias("ref"),
        exact_sum("x", s).alias("got"),
        (ref.cast("double") / F.count("x")).alias("ref_avg"),
        exact_avg("x", s).alias("got_avg"),
    )
    assert out.schema["got"].dataType == out.schema["ref"].dataType
    for r in out.collect():
        assert r["got"] == r["ref"], (s, r)
        assert r["got_avg"] == r["ref_avg"] or (r["got_avg"] is None and r["ref_avg"] is None), (s, r)


@pytest.mark.parametrize("s", SCALES)
def test_adversarial_doubles(spark, s):
    """Every family at once: half-way values and their neighbours, the
    2^40 fast-path bound, signed zeros, 1e20, a value whose decimal
    string ends in 5, and a NaN/Inf/null-only group."""
    e, h = 2.0**40 / 10**s, 12345.5 / 10**s
    rows = [(0, h), (0, _steps(h, 1)), (0, _steps(h, -1)), (0, -h), (1, e), (1, _steps(e, -1)),
            (1, _steps(e, 1)), (1, -e), (1, 0.0), (1, -0.0), (2, 1e20), (2, -1e20),
            (2, 123456789.1234565), (3, math.nan), (3, math.inf), (3, -math.inf), (3, None)]
    _assert_parity(spark, rows, "double", s)


@pytest.mark.parametrize("s", SCALES)
@_SETTINGS
@given(data=st.data())
def test_doubles_match_decimal_sum(spark, s, data):
    _assert_parity(spark, data.draw(_rows(_doubles(s))), "double", s)


@pytest.mark.parametrize("s", SCALES)
@_SETTINGS
@given(rows=_rows(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1), st.sampled_from([2**53 + 1, -(2**62)]))))
def test_longs_match_decimal_sum(spark, s, rows):
    _assert_parity(spark, rows, "bigint", s)


@pytest.mark.parametrize("s", SCALES)
@_SETTINGS
@given(data=st.data())
def test_decimals_match_decimal_sum(spark, s, data):
    wide = st.decimals(min_value=-(10**17), max_value=10**17, places=10, allow_nan=False)
    half = st.integers(-(10**12), 10**12).map(lambda k: (Decimal(k) + Decimal("0.5")).scaleb(-s))
    rows = data.draw(_rows(st.one_of(st.none(), wide, half)))
    _assert_parity(spark, rows, "decimal(38,10)", s)


@pytest.mark.parametrize("s", SCALES)
def test_null_groups(spark, s):
    """NaN/Inf-only and null-only groups sum to NULL (not 0), and an
    empty input's global sum is NULL."""
    df = spark.createDataFrame(
        [(0, math.nan), (0, math.inf), (1, -math.inf), (2, None), (3, 2.0), (3, math.nan)],
        "g int, x double",
    )
    got = {r["g"]: r["v"] for r in df.groupBy("g").agg(exact_sum("x", s).alias("v")).collect()}
    assert got[0] is None and got[1] is None and got[2] is None
    assert got[3] == 2
    empty = df.filter("false").agg(exact_sum("x", s).alias("v"), exact_avg("x", s).alias("a"))
    assert empty.collect()[0].asDict() == {"v": None, "a": None}


def _outcome(df, col):
    try:
        return df.agg(col).collect()[0][0]
    except ArithmeticException as exc:
        return exc.getCondition()


@pytest.mark.parametrize("s", SCALES)
def test_overflow_parity(spark, s):
    """Totals past 10^(38-s) fail the way the decimal sum fails; a total
    just inside the bound is returned exactly."""
    lim = 10.0 ** (38 - s)
    for vals in ([0.6 * lim, 0.6 * lim], [-0.6 * lim, -0.6 * lim], [0.45 * lim, 0.45 * lim], [2 * lim]):
        df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(2)
        ref = _outcome(df, F.sum(F.col("x").cast(f"decimal(38,{s})")))
        assert _outcome(df, exact_sum("x", s)) == ref, (s, vals, ref)


def test_large_group_limbs(spark):
    """2^24 rows just under the 2^40 fast-path bound: the low limbs' sums
    pass 2^43, so any limb product taken in longs would overflow long
    before the decimal total does."""
    x = (1 << 40) - 1
    df = spark.range(1 << 24).selectExpr(f"CAST({x} AS BIGINT) AS x")
    r = df.agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("ref"), exact_sum("x", 0).alias("got"))
    row = r.collect()[0]
    assert row["got"] == row["ref"] == Decimal(x << 24)
