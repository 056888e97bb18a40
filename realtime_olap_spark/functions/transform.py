"""Transform (scalar) functions — reference parity set.

The reference registers exactly 7 built-ins
(TransformFunctionFactory.java:40-52): ADD, SUB, MULT, DIV, TIMECONVERT,
DATETIMECONVERT, VALUEIN; infix ``+ - * /`` compiles to the first four
(PQL2.g4 binaryMathOperator). Expression trees are FUNCTION | IDENTIFIER |
LITERAL (pinot-common/.../TransformExpressionTree.java:43). All of these are
plain Catalyst expressions here — JVM-side, codegen'd, no Python in the path.

Each function has ONE implementation: its SQL rendering (``<name>_sql``),
whose arguments are SQL expressions (a column reference, a literal, a
nested rendering). The PQL compiler nests renderings into one statement;
the public Column entry points (``add`` … ``valuein``) take column NAMES
and parse the rendering with ``F.expr`` — one py4j round trip, the same
Catalyst tree the Column API would build.

Time units follow java.util.concurrent.TimeUnit (the reference's
TIMECONVERT contract, TimeConversionTransformFunction.java:33);
DATETIMECONVERT formats follow DateTimeFieldSpec
``size:timeunit:EPOCH|SIMPLE_DATE_FORMAT[:pattern]``
(pinot-common/.../data/DateTimeFieldSpec.java:39-75) with bucketing
granularity (BaseDateTimeTransformer.java:36).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from realtime_olap_spark.sqlexpr import col_sql, lit_sql

# factors expressed in nanoseconds to keep sub-millisecond units exact
_UNIT_NS: dict[str, int] = {
    "NANOSECONDS": 1,
    "MICROSECONDS": 1_000,
    "MILLISECONDS": 1_000_000,
    "SECONDS": 1_000_000_000,
    "MINUTES": 60 * 1_000_000_000,
    "HOURS": 3_600 * 1_000_000_000,
    "DAYS": 86_400 * 1_000_000_000,
}


def _dbl(x: str) -> str:
    return f"CAST({x} AS DOUBLE)"


def _long(x: str) -> str:
    return f"CAST({x} AS BIGINT)"


def _floor_div(x: str, div: int) -> str:
    """Long floor-division through DECIMAL(38,0), never a double, so 64-bit
    epoch magnitudes keep full precision."""
    return _long(f"FLOOR(CAST({x} AS DECIMAL(38,0)) / {div})")


# --- arithmetic (AdditionTransformFunction.java:32 …) -----------------------

def add_sql(*args: str) -> str:
    """ADD(a, b, …) — sum of ≥2 args as double."""
    return "(" + " + ".join(_dbl(a) for a in args) + ")"


def sub_sql(a: str, b: str) -> str:
    """SUB(a, b) — SubtractionTransformFunction.java:32."""
    return f"({_dbl(a)} - {_dbl(b)})"


def mult_sql(*args: str) -> str:
    """MULT(a, b, …) — product of ≥2 args as double."""
    return "(" + " * ".join(_dbl(a) for a in args) + ")"


def div_sql(a: str, b: str) -> str:
    """DIV(a, b) — DivisionTransformFunction.java:32."""
    return f"({_dbl(a)} / {_dbl(b)})"


# --- time conversion --------------------------------------------------------

def timeconvert_sql(x: str, from_unit: str, to_unit: str) -> str:
    """TIMECONVERT(col, fromUnit, toUnit) — epoch quantity conversion
    (TimeConversionTransformFunction.java:33). Matches TimeUnit.convert for
    non-negative epochs: widening multiplies exactly in long arithmetic,
    narrowing floor-divides.
    """
    f, t = _UNIT_NS[from_unit.upper()], _UNIT_NS[to_unit.upper()]
    if f >= t:
        return _long(f"{_long(x)} * {f // t}")
    return _floor_div(_long(x), t // f)


def datetimeconvert_sql(x: str, input_fmt: str, output_fmt: str,
                        granularity: str) -> str:
    """DATETIMECONVERT(col, inputFormat, outputFormat, granularity) —
    DateTimeConversionTransformFunction.java:82.

    Formats: ``<size>:<TIMEUNIT>:EPOCH`` or
    ``<size>:<TIMEUNIT>:SIMPLE_DATE_FORMAT:<pattern>``; granularity
    ``<size>:<TIMEUNIT>`` buckets the value by flooring
    (BaseDateTimeTransformer.java:36 + 4 subclasses).

    All arithmetic runs in epoch NANOSECONDS so sub-millisecond input/output
    units (``1:NANOSECONDS:EPOCH``) convert TimeUnit-correctly instead of
    being misread as millis. Divisions floor through DECIMAL(38,0), never a
    double, so 64-bit epoch-nano magnitudes (~1.7e18 today) keep full
    precision.
    """
    in_size, in_unit, in_kind, *in_pat = input_fmt.split(":")
    out_size, out_unit, out_kind, *out_pat = output_fmt.split(":")
    g_size, g_unit = granularity.split(":")

    # 1) input → epoch nanos
    if in_kind.upper() == "EPOCH":
        ns = _long(f"{_long(x)} * {int(in_size) * _UNIT_NS[in_unit.upper()]}")
    else:  # SIMPLE_DATE_FORMAT
        ns = _long(f"unix_millis(to_timestamp({x}, {lit_sql(in_pat[0])}))"
                   " * 1000000")

    # 2) bucket to granularity (floor)
    g_ns = int(g_size) * _UNIT_NS[g_unit.upper()]
    if g_ns > 1:
        ns = _long(f"{_floor_div(ns, g_ns)} * {g_ns}")

    # 3) epoch nanos → output format
    if out_kind.upper() == "EPOCH":
        out_ns = int(out_size) * _UNIT_NS[out_unit.upper()]
        return _floor_div(ns, out_ns) if out_ns > 1 else ns
    return (f"date_format(timestamp_millis({_floor_div(ns, 1_000_000)}), "
            f"{lit_sql(out_pat[0])})")


# --- VALUEIN (MV projection filter) ----------------------------------------

def valuein_sql(x: str, *values) -> str:
    """VALUEIN(mvCol, v1, v2, …) — filters an MV column's elements to the
    given python values, projection-side (ValueInTransformFunction.java:51).
    Pairs with an IN filter the way the reference uses it."""
    return (f"filter({x}, v -> v IN "
            f"({', '.join(lit_sql(v) for v in values)}))")


# --- Column entry points: column names in, the rendering parsed once --------

def add(*cols: str) -> Column:
    return F.expr(add_sql(*map(col_sql, cols)))


def sub(a: str, b: str) -> Column:
    return F.expr(sub_sql(col_sql(a), col_sql(b)))


def mult(*cols: str) -> Column:
    return F.expr(mult_sql(*map(col_sql, cols)))


def div(a: str, b: str) -> Column:
    return F.expr(div_sql(col_sql(a), col_sql(b)))


def timeconvert(col: str, from_unit: str, to_unit: str) -> Column:
    return F.expr(timeconvert_sql(col_sql(col), from_unit, to_unit))


def datetimeconvert(col: str, input_fmt: str, output_fmt: str,
                    granularity: str) -> Column:
    return F.expr(datetimeconvert_sql(col_sql(col), input_fmt, output_fmt,
                                      granularity))


def valuein(col: str, *values) -> Column:
    return F.expr(valuein_sql(col_sql(col), *values))


# --- registry for the PQL front end ----------------------------------------

_REGISTRY = {
    "add": add_sql,
    "sub": sub_sql,
    "mult": mult_sql,
    "div": div_sql,
    "timeconvert": timeconvert_sql,
    "datetimeconvert": datetimeconvert_sql,
    "valuein": valuein_sql,
}

#: Functions whose arguments after the first are python literals (units,
#: formats, value lists), not expressions.
LITERAL_TAIL = frozenset({"timeconvert", "datetimeconvert", "valuein"})


def resolve_transform(name: str):
    """TransformFunctionFactory.get analog (compile-time closed set): the
    function's SQL rendering."""
    try:
        return _REGISTRY[name.lower()]
    except KeyError:
        raise KeyError(f"unknown transform function: {name!r}") from None
