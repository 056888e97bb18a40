"""Aggregation function registry — the reference's closed function set.

Reference: every aggregation implements aggregate / merge / extractFinalResult
(pinot-core/.../query/aggregation/function/AggregationFunction.java:34-120),
registered by name in AggregationFunctionFactory.java:29 with PERCENTILE<N>
suffix resolution (AggregationFunctionType.java:25-103). Spark's partial/final
HashAggregate is the same hierarchical-merge execution model, so every function
here is a plain aggregate expression and Catalyst does the merging.

Each function has ONE implementation: its SQL rendering (``<name>_sql``,
argument = a SQL expression), resolved by name through :func:`resolve`.
The group-by statement (``groupby.aggregate_sql``, run by the PQL compiler
and ``group_by_agg``) embeds the renderings; the Column entry points
``dsum``/``davg`` parse theirs with ``F.expr`` over a column NAME — the
same Catalyst tree, one py4j round trip.

Determinism note (differential testing): double addition is not associative,
so a shuffled Spark sum and a sequential DuckDB sum can differ in the last
ulp. ``dsum``/``davg`` therefore route SUM/AVG through DECIMAL(38,10) — exact,
associative, identical in any engine — and cast the final result back to
double. This is also the scale-safe choice: decimal partial aggregates are
fixed-width and merge exactly on a 1000-executor cluster.

Value semantics follow the reference: MIN/MAX/SUM/AVG/MINMAXRANGE coerce the
input to double (e.g. MinAggregationFunction.java:30 operates on double[]);
COUNT/DISTINCTCOUNT return longs; PERCENTILE<N> is the exact interpolated
percentile over doubles (PercentileAggregationFunction.java:32 collects all
values; Spark's `percentile` computes the same result without materializing
per-group arrays on the driver).

MV (multi-value) variants aggregate over every element of an ArrayType column
(AggregationFunction.java:87-93): COUNTMV counts elements, SUMMV sums all
elements, etc. Where an element-wise fold expresses the semantics (COUNTMV,
SUMMV, MINMV, …) we fold the array JVM-side — no explode, so the shuffle
carries one row per record, not one per element (the 100 TB-safe shape).
Functions that genuinely need element-level rows (DISTINCTCOUNTMV,
PERCENTILE<N>MV) are flagged ``needs_elements``; the group-by statement
(operators/groupby.py) explodes once, aggregates, and joins back on the
(small) group keys.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from realtime_olap_spark.sqlexpr import col_sql

DEC = "decimal(38,10)"


def dsum_sql(x: str) -> str:
    """Deterministic (order-independent, exact) sum of a double column."""
    return f"CAST(sum(CAST({x} AS {DEC})) AS DOUBLE)"


def davg_sql(x: str) -> str:
    """Deterministic average: exact decimal sum, divided by count as doubles.

    Mirrors the reference's AvgPair(sum, count) intermediate
    (pinot-core/.../function/customobject/AvgPair.java).
    """
    return f"CAST({dsum_sql(x)} / count({x}) AS DOUBLE)"


def dsum(col: str) -> Column:
    return F.expr(dsum_sql(col_sql(col)))


def davg(col: str) -> Column:
    return F.expr(davg_sql(col_sql(col)))


# Fixed-point scale for element sums over float arrays: 2^35. Multiplying a
# double by a power of two is EXACT (only the exponent shifts), so
# floor(x * 2^35) is deterministic in every engine — unlike double→decimal
# casts, whose last-digit rounding differs between Spark (exact BigDecimal)
# and DuckDB (rounds through a double product). Quantization error is
# 2^-35 ≈ 3e-11 per element.
#
# Range guard: floor(x * 2^35) saturates long once |x| ≳ 2^28, and a per-row
# fold of n elements can reach n·max|x|·2^35. SUMMV/AVGMV therefore compute a
# per-row "risk" term size·max|x| and switch the FINAL result to an exact
# decimal fold whenever any row exceeds FX_SAFE_RISK (row fold then bounded
# by 2^24·2^35 = 2^59 < 2^63) — large-magnitude inputs (ids, epochs, big
# monetary values) get the exact-decimal answer instead of silent garbage.
# Cross-row merge is decimal in both paths, so partial sums never overflow.
FX = 34359738368  # 2^35
FX_SAFE_RISK = float(1 << 24)  # max per-row size(arr)·max|element| for fx path
_FX_CLAMP = float(1 << 25)  # element clamp: keeps the fx fold evaluable


def fx_term_sql(x: str) -> str:
    """One element's exact fixed-point term, floor(x · 2^35) as
    DECIMAL(38,0). Elements beyond the fx range are clamped to 0 so a fold
    can never overflow under ANSI evaluation — whenever a clamp would fire,
    the risk guard (> FX_SAFE_RISK, note 2^24 < 2^25 so clamping never
    touches a chosen fx result) routes the aggregate to the decimal fold
    instead."""
    xd = f"CAST({x} AS DOUBLE)"
    return (f"CAST(FLOOR(CASE WHEN abs({xd}) <= {_FX_CLAMP!r}D THEN {xd} "
            f"ELSE 0.0D END * {FX}) AS DECIMAL(38,0))")


def _fx_fold(arr: str) -> str:
    """Per-row exact fixed-point sum of an array's elements; the
    accumulator is DECIMAL(38,0) (exact integers, no row-sum overflow)."""
    return (f"aggregate({arr}, CAST(0 AS DECIMAL(38,0)), "
            f"(acc, x) -> CAST(acc + {fx_term_sql('x')} AS DECIMAL(38,0)))")


def _dec_fold(arr: str) -> str:
    """Per-row exact DECIMAL(38,10) sum of an array's elements — the
    overflow-safe fallback for large-magnitude elements."""
    return (f"aggregate({arr}, CAST(0 AS {DEC}), "
            f"(acc, x) -> CAST(acc + CAST(CAST(x AS DOUBLE) AS {DEC}) "
            f"AS {DEC}))")


def row_risk_sql(arr: str) -> str:
    """One row's size(arr)·max|element| — the fx/decimal switch input."""
    return (f"CAST(size({arr}) AS DOUBLE) * "
            f"array_max(transform({arr}, x -> abs(CAST(x AS DOUBLE))))")


def risk_ok_sql(row_risk: str) -> str:
    """Whether the group-level max of the row risks allows the fx path.
    NULL (all arrays empty) counts as safe."""
    return f"coalesce(max({row_risk}), 0.0D) <= {FX_SAFE_RISK!r}D"


def _fx_risk_ok(arr: str) -> str:
    return risk_ok_sql(row_risk_sql(arr))


# ---------------------------------------------------------------------------
# Single-value aggregations (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def count_sql(x: str | None) -> str:
    return "count(1)"


def min_sql(x: str) -> str:
    return f"min(CAST({x} AS DOUBLE))"


def max_sql(x: str) -> str:
    return f"max(CAST({x} AS DOUBLE))"


def minmaxrange_sql(x: str) -> str:
    # MinMaxRangeAggregationFunction.java:33 — final = max - min.
    return f"CAST({max_sql(x)} - {min_sql(x)} AS DOUBLE)"


def distinctcount_sql(x: str) -> str:
    # Reference hashes values into an IntOpenHashSet (DistinctCount…java:32)
    # and tolerates hash collisions; we are exact (SURVEY.md §7 risk 1).
    return f"count(DISTINCT {x})"


def distinctcounthll_sql(x: str, rsd: float = 0.05) -> str:
    # DistinctCountHLLAggregationFunction.java:34 — HyperLogLog sketch.
    return f"approx_count_distinct({x}, {rsd!r}D)"


def percentile_sql(x: str, frac: str) -> str:
    """Exact interpolated percentile (PercentileAggregationFunction.java:32)
    at ``frac`` — a DOUBLE fraction, or an array of them for a merged
    family."""
    return f"percentile(CAST({x} AS DOUBLE), {frac})"


#: Accuracy of every approx-percentile sketch in the engine. The merged
#: same-column percentile families (groupby.merged_agg_sql) fold N
#: PERCENTILEEST/TDIGEST calls into ONE percentile_approx(col, array(p…),
#: acc) — merged and unmerged paths MUST use the same accuracy or their
#: values silently diverge (r16 verdict item 8; pinned in test_opt_r17).
PERCENTILE_APPROX_ACCURACY = 10000


def percentile_approx_sql(x: str, frac: str,
                          accuracy: int = PERCENTILE_APPROX_ACCURACY) -> str:
    """PercentileEstAggregationFunction.java:33 (QuantileDigest) and
    PercentileTDigestAggregationFunction.java:37 (TDigest): Spark's
    approx_percentile is the engine-native mergeable quantile sketch."""
    return f"percentile_approx(CAST({x} AS DOUBLE), {frac}, {accuracy})"


# ---------------------------------------------------------------------------
# Multi-value aggregations — element-wise folds (no explode needed)
# ---------------------------------------------------------------------------

def _dbl_arr(x: str) -> str:
    return f"transform({x}, x -> CAST(x AS DOUBLE))"


def countmv_sql(x: str) -> str:
    # CountMVAggregationFunction.java — counts elements, not rows.
    return f"CAST(sum(size({x})) AS BIGINT)"


def minmv_sql(x: str) -> str:
    return f"min(array_min({_dbl_arr(x)}))"


def maxmv_sql(x: str) -> str:
    return f"max(array_max({_dbl_arr(x)}))"


def summv_sql(x: str) -> str:
    # Per-row exact fixed-point fold, exact decimal merge, one final
    # division; elements beyond the fx range switch to the decimal fold
    # (see FX_SAFE_RISK above).
    fx = f"CAST(sum(CAST({_fx_fold(x)} AS {DEC})) AS DOUBLE) / {float(FX)!r}D"
    dec = f"CAST(sum({_dec_fold(x)}) AS DOUBLE)"
    return f"CAST(CASE WHEN {_fx_risk_ok(x)} THEN {fx} ELSE {dec} END AS DOUBLE)"


def avgmv_sql(x: str) -> str:
    n = f"sum(size({x}))"
    fx = (f"CAST(sum(CAST({_fx_fold(x)} AS {DEC})) AS DOUBLE) "
          f"/ {float(FX)!r}D / {n}")
    dec = f"CAST(sum({_dec_fold(x)}) AS DOUBLE) / {n}"
    return f"CAST(CASE WHEN {_fx_risk_ok(x)} THEN {fx} ELSE {dec} END AS DOUBLE)"


def minmaxrangemv_sql(x: str) -> str:
    a = _dbl_arr(x)
    return f"CAST(max(array_max({a})) - min(array_min({a})) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Name-based registry (AggregationFunctionFactory analog)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AggSpec:
    """A resolved aggregation: SQL rendering + whether it must run over
    element-level (exploded) rows of its MV input column — for those,
    ``sql`` renders over the exploded ELEMENT. ``empty_value`` is the
    result for a group with NO elements (count-likes → 0); None means NULL
    (percentile of nothing). ``pct`` is the fraction of a PERCENTILE<N>
    family member, ``approx`` whether it is the sketch (est/tdigest) kind
    — what same-column families merge on."""

    name: str
    sql: Callable[[str], str]
    needs_elements: bool = False
    empty_value: object = None
    pct: float | None = None
    approx: bool = False


_SIMPLE: dict[str, tuple[Callable[[str], str], bool, object]] = {
    "count": (count_sql, False, None),
    "min": (min_sql, False, None),
    "max": (max_sql, False, None),
    "sum": (dsum_sql, False, None),
    "avg": (davg_sql, False, None),
    "minmaxrange": (minmaxrange_sql, False, None),
    "distinctcount": (distinctcount_sql, False, None),
    "distinctcounthll": (distinctcounthll_sql, False, None),
    "fasthll": (distinctcounthll_sql, False, None),  # pre-agg HLL column analog
    "countmv": (countmv_sql, False, None),
    "minmv": (minmv_sql, False, None),
    "maxmv": (maxmv_sql, False, None),
    "summv": (summv_sql, False, None),
    "avgmv": (avgmv_sql, False, None),
    "minmaxrangemv": (minmaxrangemv_sql, False, None),
    # element-level: rendered over the exploded element
    "distinctcountmv": (distinctcount_sql, True, 0),
    "distinctcounthllmv": (distinctcounthll_sql, True, 0),
}

_PERCENTILE_RE = re.compile(
    r"^percentile(?P<kind>est|tdigest)?(?P<pct>\d{1,2}|100)(?P<mv>mv)?$")


def resolve(name: str) -> AggSpec:
    """Resolve a PQL aggregation name (case-insensitive, PERCENTILE<N> style)
    to an AggSpec — AggregationFunctionType.java:25-103 analog."""
    key = name.lower()
    if key in _SIMPLE:
        sql, needs_elements, empty = _SIMPLE[key]
        return AggSpec(key, sql, needs_elements, empty)
    m = _PERCENTILE_RE.match(key)
    if m:
        frac = float(m.group("pct")) / 100.0
        approx = m.group("kind") is not None
        render = percentile_approx_sql if approx else percentile_sql
        return AggSpec(key, lambda x: render(x, f"{frac!r}D"),
                       needs_elements=bool(m.group("mv")), pct=frac,
                       approx=approx)
    raise KeyError(f"unknown aggregation function: {name!r}")
