"""Predicate builders — the reference's filter IR mapped to Catalyst columns.

Reference IR: a FilterQuery tree of AND/OR nodes over leaf predicates
(pinot-common/src/thrift/request.thrift:25-34, :60-75), with operators
EQUALITY / NOT / IN / NOT_IN / RANGE / REGEXP_LIKE
(pinot-core/.../common/predicate/*.java, evaluators under
core/operator/filter/predicate/). The reference picks a physical strategy per
predicate — sorted index, bitmap inverted index, or scan
(FilterOperatorUtils.java:43-68); with Spark we declare the predicate and
Catalyst + the Parquet reader choose pushdown / row-group skipping / scans,
which is the same decision tree made for us.

MV semantics (SURVEY.md §7 risk 2): a predicate on a multi-value column
matches a row if ANY element matches (EqualsPredicateEvaluatorFactory MV
path). NOT / NOT_IN on MV columns are excluded even by the reference's own
test generator (pinot-integration-tests/.../QueryGenerator.java:33-36) — we
implement them as "no element matches" but keep parity tests away from them.

Everything returns a pyspark Column; compose with ``&`` / ``|`` exactly like
the reference's AND/OR filter trees (AndFilterOperator.java:29).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- single-value predicates (request.thrift:25-34) -------------------------

def eq(col: Column | str, value) -> Column:
    """EQUALITY — EqPredicate.java:26."""
    return _c(col) == F.lit(value)


def neq(col: Column | str, value) -> Column:
    """NOT (≠) — NEqPredicate.java."""
    return _c(col) != F.lit(value)


def isin(col: Column | str, values: Sequence) -> Column:
    """IN — InPredicate.java:27."""
    return _c(col).isin(list(values))


def not_in(col: Column | str, values: Sequence) -> Column:
    """NOT_IN — NotInPredicate.java."""
    return ~_c(col).isin(list(values))


def between(col: Column | str, low, high) -> Column:
    """RANGE ``[low, high]`` — inclusive BETWEEN (RangePredicate.java:26;
    grammar PQL2.g4 betweenClause)."""
    return _c(col).between(F.lit(low), F.lit(high))


def range_(col: Column | str, low=None, high=None,
           low_inclusive: bool = True, high_inclusive: bool = True) -> Column:
    """General RANGE — the reference compiles ``<,<=,>,>=`` to range strings
    like ``(*\\t\\tv)`` (RangePredicateEvaluatorFactory.java:34); we keep the
    bounds explicit."""
    c = _c(col)
    conds = []
    if low is not None:
        conds.append(c >= F.lit(low) if low_inclusive else c > F.lit(low))
    if high is not None:
        conds.append(c <= F.lit(high) if high_inclusive else c < F.lit(high))
    if not conds:
        return F.lit(True)  # MatchAllFilterOperator.java:25
    out = conds[0]
    for extra in conds[1:]:
        out = out & extra
    return out


def regexp_like(col: Column | str, pattern: str) -> Column:
    """REGEXP_LIKE — Java-regex predicate (RegexpLikePredicate.java:27).
    Spark's rlike is also Java regex, so patterns carry over verbatim."""
    return _c(col).rlike(pattern)


# --- multi-value predicates (any-element semantics) -------------------------

def mv_eq(col: Column | str, value) -> Column:
    """EQUALITY on an MV column: any element equals (§2.2)."""
    return F.array_contains(_c(col), value)


def mv_isin(col: Column | str, values: Sequence) -> Column:
    """IN on an MV column: any element in the set."""
    return F.arrays_overlap(_c(col), F.array(*[F.lit(v) for v in values]))


def mv_between(col: Column | str, low, high) -> Column:
    """RANGE on an MV column: any element in [low, high]."""
    return F.exists(_c(col), lambda x: x.between(F.lit(low), F.lit(high)))


# --- boolean composition (request.thrift:60-75) -----------------------------

def and_(*conds: Column) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def or_(*conds: Column) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out
