"""Aggregate expression helpers.

Two kernels live here. :func:`exact_sum` (and :func:`exact_avg` on top
of it) is the package's one exact money reduction. The other is the
deterministic ordered string-agg that replaces
Redshift ``listagg(x, ', ') WITHIN GROUP (ORDER BY k)`` (reference
``sql_queries.py:15-17`` - the per-user date-ordered follower /
impression / reach time series of the ``history`` fact table).

Spark has no ordered aggregate; the idiomatic, deterministic
composition is::

    array_join(
      transform(
        array_sort(collect_list(struct(order_keys..., value))),
        s -> s.value),
      ', ')

``collect_list`` is order-nondeterministic across shuffles, so the sort
must happen AFTER collection, inside the aggregate expression, keyed by
an explicit total order (order key + tiebreaker). This stays a single
partial-agg -> final-agg hash aggregation - one shuffle, map-side
combine, no window.  listagg skips NULL values (Redshift semantics);
we filter them out of the collected array.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F


#: Fast-path certificate. For |y| < 2^40 the double y = x * 10^s lies
#: within 2^-11 of the decimal the cast rounds (the input's own
#: rounding plus the multiply's), so |y - rint(y)| < 0.5 - 2^-10 pins
#: the cast's result to rint(y) under any half-way rule.
_HALF_MARGIN = 0.5 - 2.0**-10
_B20, _B24, _B40, _B64 = (1 << 20), (1 << 24), (1 << 40), (1 << 64)


def _exact_sum_sql(expr: str, scale: int) -> str:
    x = f"({expr})"
    y = f"(CAST({x} AS DOUBLE) * {float(10**scale)!r}D)"
    r = f"rint({y})"
    fast = f"abs({y} - {r}) < {_HALF_MARGIN!r}D AND abs({r}) < {float(_B40)!r}D"
    # below this bound |unscaled| < 2^40, so the upper limbs are 0
    big = f"abs({y}) >= {float(_B40 - 1)!r}D"
    # off the fast path: the exact decimal, split by 2^k * 10^-s moduli
    d = f"CAST({x} AS DECIMAL(38,{scale}))"
    m40 = f"{Decimal(_B40).scaleb(-scale)}BD"
    m64 = f"{Decimal(_B64).scaleb(-scale)}BD"
    w = f"(CASE WHEN {fast} THEN CAST({r} AS BIGINT) ELSE CAST({d} % {m40} * {10**scale} AS BIGINT) END)"
    t40 = f"CASE WHEN {big} THEN {d} % {m64} div {m40} ELSE 0 END"
    t64 = f"CASE WHEN {big} THEN {d} div {m64} ELSE 0 END"
    # Horner form: every product has a decimal(38,0) operand, so no
    # long * int product can overflow before the total does
    total = (
        f"((CAST(sum({t64}) AS DECIMAL(38,0)) * {_B24} + sum({t40})) * {_B20}"
        f" + sum({w} div {_B20})) * {_B20} + sum({w} % {_B20})"
    )
    return f"CAST(concat(CAST({total} AS STRING), 'E-{scale}') AS DECIMAL(38,{scale}))"


def exact_sum(expr: str, scale: int) -> Column:
    """Exact decimal sum: the value and type (``decimal(38,scale)``) of
    ``sum(CAST(expr AS DECIMAL(38,scale)))``, reduced in long integers.

    ``expr`` is SQL text (a column name or any scalar expression), the
    same text the DuckDB oracle sums; the kernel is one ``F.expr``, so
    building it costs one parse rather than a py4j call per node.

    Spark keeps a ``decimal(38,s)`` sum buffer as a BigDecimal that it
    decodes and re-encodes for every row. Here each row's unscaled
    value ``U`` (the cast's result times ``10^s``) is split into longs:

    - **fast path**: with ``y = double(expr) * 10^s``, if
      ``|rint(y)| < 2^40`` and ``|y - rint(y)| < 0.5 - 2^-10`` then
      ``U = rint(y)`` whatever half-way rule the cast applies.
    - **fallback**: every other row (half-way values, ``|y| >= 2^40``,
      longs past 2^53, wide decimals, NaN/+-Inf, nulls) takes the real
      cast, so NULLs, NaN-only groups and cast overflows behave as in
      ``sum``, and is split with decimal ``%``/``div`` by ``2^k * 10^-s``.

    Limbs keep ``U``'s sign: two 20-bit limbs hold bits 0-39, and rows
    with ``|y| >= 2^40 - 1`` add a 24-bit limb for bits 40-63 and
    ``U div 2^64`` (under 5.5e18, since ``|U| < 10^38``). The limb sums
    are exact for 2^43 (8.8e12) rows per group, of which at most 2^39
    (5.5e11) such large rows; the top limb's sum stays below 2^63 while
    the running total fits ``decimal(38,s)``. Past these bounds the long
    ``sum`` raises under ANSI mode (and wraps without it). Once per group
    the limbs recombine in Horner form with every product taken in
    ``decimal(38,0)``, which overflows exactly when the total leaves
    ``decimal(38,s)``, and are rescaled through the exponent form
    (decimal multiplication would drop scales above 6).

    One difference: in a keyed aggregate the decimal sum also fails when
    a running partial total leaves ``decimal(38,s)``, which depends on
    row order; the kernel returns any total that fits.
    """
    return F.expr(_exact_sum_sql(expr, scale))


def exact_avg(expr: str, scale: int = 4) -> Column:
    """Bit-deterministic mean: exact decimal sum, then one double
    division.

    ``avg(double)`` is nondeterministic across engines (and across
    shuffle orders) in the last ulp because double addition is not
    associative - fatal for hash-compared results. Summing as
    DECIMAL(38, scale) (:func:`exact_sum`) is exact and
    order-independent; the single decimal->double cast and division are
    then correctly rounded and identical everywhere. Null semantics
    match ``avg`` (nulls skipped; all-null group -> null).

    DuckDB oracle equivalent (:func:`oracle_exact_avg` of the same
    ``expr``):
    ``CAST(sum(CAST(x AS DECIMAL(38,s))) AS DOUBLE) / count(x)``.
    """
    return F.expr(f"CAST({_exact_sum_sql(expr, scale)} AS DOUBLE) / count({expr})")


def oracle_exact_avg(expr: str, scale: int = 4) -> str:
    """The DuckDB SQL twin of :func:`exact_avg`."""
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE) / count({expr})"


def ordered_series_array(
    value: Column, *order_by: Column, cast: str | None = "long"
) -> Column:
    """Date-ordered series as a native ArrayType column (the idiomatic
    output; the string form below is the presentation edge)."""
    v = value.cast(cast) if cast else value
    pairs = F.array_sort(
        F.collect_list(F.struct(*[k.alias(f"k{i}") for i, k in enumerate(order_by)], v.alias("v")))
    )
    pairs = F.filter(pairs, lambda s: s["v"].isNotNull())
    return F.transform(pairs, lambda s: s["v"])


def ordered_series(
    value: Column, *order_by: Column, sep: str = ", ", cast: str | None = "long"
) -> Column:
    """Redshift ``listagg(value, sep) WITHIN GROUP (ORDER BY order_by)``
    equivalent, deterministic under shuffle. NULL values are skipped
    (listagg semantics, SURVEY §7 hard-part (a))."""
    arr = ordered_series_array(value, *order_by, cast=cast)
    return F.array_join(F.transform(arr, lambda v: v.cast("string")), sep)
