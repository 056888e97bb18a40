"""Group-by execution: keys (columns / expressions / MV), aggregations,
TOP-N.

Reference pipeline: AggregationGroupByOperator.java:38 (per-segment hash
group-by) → CombineGroupByOperator.java:53 (concurrent cross-segment merge)
→ BrokerReduceService.java:383-506 (final merge + HAVING + TOP-N trim).
Spark's partial/final HashAggregate over a key-hash shuffle is the identical
execution shape. ``aggregate_sql`` renders the filter → group-by →
aggregation step as ONE SQL statement, the only implementation of it: the
PQL compiler (``plans/pql.py``, which adds HAVING and the TOP-n trim)
embeds it in its statement, and ``group_by_agg`` — the library entry point
over a DataFrame, Column keys and a Column filter — runs it with one
``spark.sql`` call.

Semantics reproduced here:

- **Group-by on expressions** (request.thrift:107-111): keys are arbitrary
  expressions with aliases.
- **MV group-by** (AggregationFunction.java:87-93): a row lands in EVERY
  group of its multi-value column → explode the MV key once before grouping.
- **Element-level MV aggregations** (DISTINCTCOUNTMV, PERCENTILE<N>MV):
  computed on an exploded element relation and joined back on the group keys.
  The join is on post-aggregation cardinality (number of groups), which is
  orders of magnitude smaller than the fact table — cheap at any scale.
  The explode is ``explode_outer`` so a group whose MV arrays are all empty
  (or null) still yields a group row (NULL element → count-likes 0,
  percentiles NULL), matching the reference which returns every group of the
  direct aggregates; the join-back is a null-safe LEFT join from the direct
  part so no group can vanish. A scalar query over one MV column fuses its
  MV folds into the exploded aggregate instead (one scan, no join).
- **TOP-N** (AggregationGroupByTrimmingService.java:44): the reference
  returns, per aggregation function, the top N groups ordered by that
  aggregate desc (default N=10, approximate beyond guardrails). We compute
  the same ordering EXACTLY — orderBy(agg desc, keys asc).limit(n) plans as
  TakeOrderedAndProject, so no full sort materializes. Deterministic
  tie-break on keys keeps results oracle-comparable.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark.operators.aggregation import (
    DEC, FX, PERCENTILE_APPROX_ACCURACY, fx_term_sql, percentile_approx_sql,
    percentile_sql, resolve, risk_ok_sql, row_risk_sql)
from realtime_olap_spark.sqlexpr import col_sql, ident_sql, lit_sql

DEFAULT_TOP_N = 10  # docs/pql_examples.rst:172,224


@dataclass(frozen=True)
class Agg:
    """One aggregation request: function name (registry key), input column
    NAME (None for ``count``), output alias. Callers aggregating an
    expression stage it as a named column first."""

    fn: str
    col: str | None
    alias: str


@dataclass(frozen=True)
class Key:
    """One group-by key: expression + alias; ``mv`` explodes an ArrayType
    key so a row contributes to every element's group."""

    expr: Column | str
    alias: str
    mv: bool = False


#: Direct MV aggregations whose array fold can be recomputed element-wise
#: inside an already-exploded aggregate with the identical value (integer
#: fixed-point / decimal terms are associative; min/max are order-free).
_FUSED_MV = {"countmv", "minmv", "maxmv", "summv", "avgmv", "minmaxrangemv"}


def _arg_sql(a: Agg) -> str | None:
    return col_sql(a.col) if a.col is not None else None


def merged_agg_sql(alist: Sequence[Agg], arg_sql=_arg_sql
                   ) -> tuple[list[str], list[str]]:
    """Aggregate expressions + post-aggregation projection for ``alist``
    as SQL (``<expr> AS `alias```), with same-column PERCENTILE families
    merged: N exact percentiles over one column become ONE
    ``percentile(col, array(p…))`` aggregate (one sort/count buffer
    instead of N — each extra exact-percentile buffer measured ~0.14 s at
    bench SF), and the approx family (est/tdigest — both
    ``percentile_approx`` at the same accuracy) merges the same way.
    Value-identical: the array form evaluates every percentage on the
    same deterministic buffer a lone call would build. ``arg_sql`` renders
    an Agg's input (the exploded-element relations pass
    ``lambda a: "__elem"``)."""
    specs = [resolve(a.fn) for a in alist]
    groups: dict[tuple[bool, str], list[int]] = {}
    for i, (a, spec) in enumerate(zip(alist, specs)):
        if spec.pct is not None:
            groups.setdefault((spec.approx, arg_sql(a)), []).append(i)
    aggs: list[str] = []
    post: list[str] = []
    slot_ids = {key: n for n, key in enumerate(groups)}  # insertion order
    for i, (a, spec) in enumerate(zip(alist, specs)):
        alias = ident_sql(a.alias)
        key = (spec.approx, arg_sql(a)) if spec.pct is not None else None
        if key is None or len(groups[key]) == 1:
            aggs.append(f"{spec.sql(arg_sql(a))} AS {alias}")
            post.append(alias)
            continue
        members = groups[key]
        slot = f"__pcts_{'approx' if key[0] else 'exact'}_{slot_ids[key]}"
        if members[0] == i:
            fracs = "array(" + ", ".join(f"{specs[j].pct!r}D"
                                         for j in members) + ")"
            agg = (percentile_approx_sql(key[1], fracs,
                                         PERCENTILE_APPROX_ACCURACY)
                   if key[0] else percentile_sql(key[1], fracs))
            aggs.append(f"{agg} AS {slot}")
        post.append(f"element_at({slot}, {members.index(i) + 1}) AS {alias}")
    return aggs, post


def aggregate_sql(src: str, keys: Sequence[tuple[str, str]],
                  aggs: Sequence[Agg], arg_sql=_arg_sql,
                  where: str | None = None) -> str:
    """The one filter → group-by → aggregation statement: over relation
    ``src`` (a view name, optionally aliased) filtered by ``where`` (SQL),
    grouped on ``keys`` ((SQL, output name) pairs), the aggregations
    ``aggs`` with their input rendered by ``arg_sql``. Selects the key
    names, then the aggregations in request order. The PQL statement and
    ``group_by_agg`` both render through this.

    Direct aggregations run inline, same-column percentile families
    merged (``merged_agg_sql``). Element-level MV aggregations
    (``needs_elements``) run over one exploded relation per input column
    — ``explode_outer``, so a group whose arrays are all empty or NULL
    still yields its row — aggregated and LEFT joined back on the keys
    null-safely (a cross join without keys); a group with no elements
    gets the function's ``empty_value``. Without keys, with one element
    column and direct aggregations that are all ``count`` or
    ``_FUSED_MV`` over that column, everything runs in ONE exploded
    aggregate instead (``_fused_sql``): one scan, no join."""
    where = f" WHERE {where}" if where is not None else ""
    args = {a.alias: arg_sql(a) for a in aggs}
    element = [a for a in aggs if resolve(a.fn).needs_elements]
    direct = [a for a in aggs if a not in element]
    knames = [ident_sql(n) for _, n in keys]
    group_by = f" GROUP BY {', '.join(knames)}" if keys else ""

    def grouped(head: list[str], names: list[str], alist: list[Agg],
                arg, src: str) -> str:
        sel, post = merged_agg_sql(alist, arg)
        body = f"SELECT {', '.join(head + sel)} FROM {src}{group_by}"
        if len(sel) == len(post):  # no percentile family merged
            return body
        return f"SELECT {', '.join(names + post)} FROM ({body})"

    def out(a: Agg) -> str:
        empty = resolve(a.fn).empty_value
        if a in element and empty is not None:
            return (f"coalesce({ident_sql(a.alias)}, {lit_sql(empty)})"
                    f" AS {ident_sql(a.alias)}")
        return ident_sql(a.alias)

    if not element:
        if keys:
            group_by = " GROUP BY " + ", ".join(e for e, _ in keys)
        return grouped([f"{e} AS {ident_sql(n)}" for e, n in keys], knames,
                       direct, arg_sql, f"{src}{where}")
    ecols = list(dict.fromkeys(args[a.alias] for a in element))
    if (not keys and direct and len(ecols) == 1
            and all(resolve(a.fn).name == "count"
                    or (resolve(a.fn).name in _FUSED_MV
                        and args[a.alias] == ecols[0]) for a in direct)):
        inner = grouped(_fused_sql(direct),
                        [ident_sql(a.alias) for a in direct], element,
                        lambda a: "__elem", _exploded_sql(ecols[0], src, where))
        return f"SELECT {', '.join(out(a) for a in aggs)} FROM ({inner})"
    # one staged column per distinct direct input and per element column
    d_name = {e: f"__d{i}" for i, e in enumerate(dict.fromkeys(
        args[a.alias] for a in direct if args[a.alias]))}
    base = ([f"{e} AS {ident_sql(n)}" for e, n in keys]
            + [f"{e} AS {c}" for e, c in d_name.items()]
            + [f"{e} AS __e{j}" for j, e in enumerate(ecols)])
    ctes = [f"__b AS (SELECT {', '.join(base)} FROM {src}{where})"]
    parts = []
    if direct:
        direct_sql = grouped(knames, knames, direct,
                             lambda a: d_name.get(args[a.alias]), "__b")
        ctes.append(f"__d AS ({direct_sql})")
        parts.append("__d")
    for j, e in enumerate(ecols):
        exploded = ", ".join(knames + [f"explode_outer(__e{j}) AS __elem"])
        el_sql = grouped(knames, knames,
                         [a for a in element if args[a.alias] == e],
                         lambda a: "__elem", f"(SELECT {exploded} FROM __b)")
        ctes.append(f"__e{j} AS ({el_sql})")
        parts.append(f"__e{j}")
    # explode_outer keeps every group in every element relation, so the
    # first relation holds all groups and a LEFT join drops none
    first, joins = parts[0], ""
    for p in parts[1:]:
        on = " AND ".join(f"{first}.{k} <=> {p}.{k}" for k in knames)
        joins += f" LEFT JOIN {p} ON {on}" if keys else f" CROSS JOIN {p}"
    cols = [f"{first}.{k}" for k in knames] + [out(a) for a in aggs]
    return (f"WITH {', '.join(ctes)} SELECT {', '.join(cols)}"
            f" FROM {first}{joins}")


def _exploded_sql(arr: str, src: str, where: str) -> str:
    """The fused path's element relation: one ``posexplode_outer`` row per
    element of ``arr`` (one NULL-element row per empty/NULL array), each
    carrying its source row's risk term ``__risk`` and has-NULL flag
    ``__hn``. The per-row folds are staged BELOW the generator: a single
    select holding both plans as Generate + Project-ABOVE, re-evaluating
    the whole-array folds once per ELEMENT; the nested select keeps them
    in the Generate's child projection — once per row (plan-asserted in
    tests/test_opt_r16.py; plan audit and A/B at sf0.1 in
    OPTIMIZATION_r16.md)."""
    pre = (f"SELECT {row_risk_sql(arr)} AS __risk, "
           f"exists({arr}, x -> x IS NULL) AS __hn, {arr} AS __arr "
           f"FROM {src}{where}")
    return (f"(SELECT __risk, __hn, posexplode_outer(__arr) AS "
            f"(__pos, __elem) FROM ({pre}))")


def _fused_sql(direct: Sequence[Agg]) -> list[str]:
    """The direct aggregations of the fused path, recomputed over the
    exploded elements of ``_exploded_sql`` with the identical value, term
    by term:

    - ``count`` (rows): every source row yields exactly one exploded row
      with ``__pos`` 0 or NULL (empty/NULL arrays sentinel), so counting
      those rows is the row count.
    - ``countmv``: ``count(__pos)`` counts exactly the element rows —
      equal to ``sum(size(arr))`` (NULL arrays skipped both ways, empty
      arrays contribute 0).
    - ``minmv``/``maxmv``/``minmaxrangemv``: min/max over elements ==
      min/max over per-row array_min/array_max (both ignore NULLs).
    - ``summv``/``avgmv``: the per-row fx fold is a sum of per-element
      integer terms (decimal 38,0 — associative, so summing terms
      directly equals summing row folds); the decimal fallback fold
      NULL-poisons a row containing a NULL element, reproduced by
      NULLing every term of such a row via the pre-computed ``__hn``
      flag; the fx/decimal risk switch is the max of the same per-row
      risk term, carried through the explode unchanged.
    """
    eld = "CAST(__elem AS DOUBLE)"
    fx_sum = (f"CAST(sum(CAST({fx_term_sql('__elem')} AS {DEC})) AS DOUBLE)"
              f" / {float(FX)!r}D")
    dec_sum = (f"CAST(sum(CAST(CASE WHEN __hn THEN NULL ELSE {eld} END "
               f"AS {DEC})) AS DOUBLE)")
    risk_ok = risk_ok_sql("__risk")
    fused = {
        "count": "count(CASE WHEN coalesce(__pos, 0) = 0 THEN 1 END)",
        "countmv": "CAST(count(__pos) AS BIGINT)",
        "minmv": f"min({eld})",
        "maxmv": f"max({eld})",
        "minmaxrangemv": f"CAST(max({eld}) - min({eld}) AS DOUBLE)",
        "summv": (f"CAST(CASE WHEN {risk_ok} THEN {fx_sum} "
                  f"ELSE {dec_sum} END AS DOUBLE)"),
        "avgmv": (f"CAST(CASE WHEN {risk_ok} THEN {fx_sum} / count(__pos) "
                  f"ELSE {dec_sum} / count(__pos) END AS DOUBLE)"),
    }
    return [f"{fused[resolve(a.fn).name]} AS {ident_sql(a.alias)}"
            for a in direct]


def group_by_agg(df: DataFrame, keys: Sequence[Key], aggs: Sequence[Agg],
                 where: Column | None = None) -> DataFrame:
    """Execute filter → group-by → aggregations, returning one row per group
    with columns [key aliases..., agg aliases...].

    ``where`` filters ``df`` and each key is staged as a column named by
    its alias (an MV key exploded), then the staged frame is aggregated
    by the ``aggregate_sql`` statement in ONE ``spark.sql`` call, through
    a fresh temp view that is dropped as soon as the call returns (the
    statement is analyzed by then) — what ``SparkSession.sql(**kwargs)``
    does with a DataFrame argument."""
    if where is not None:
        df = df.where(where)
    for k in keys:
        kc = F.col(k.expr) if isinstance(k.expr, str) else k.expr
        df = df.withColumn(k.alias, F.explode(kc) if k.mv else kc)
    view = f"__gba_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        # aliased: the plan then names the relation the same on every call
        return df.sparkSession.sql(aggregate_sql(
            f"{view} AS __gba", [(ident_sql(k.alias), k.alias) for k in keys],
            aggs))
    finally:
        df.sparkSession.catalog.dropTempView(view)


def top_n(df: DataFrame, agg_alias: str, n: int = DEFAULT_TOP_N,
          key_names: Sequence[str] = ()) -> DataFrame:
    """Reference TOP-N: top n groups ordered by one aggregate desc
    (docs/pql_examples.rst:169-172), computed exactly with a deterministic
    key tie-break. Plans as TakeOrderedAndProject (bounded per-partition
    top-k + single merge — same algorithm as the reference's trimming
    service, but exact)."""
    order = [F.col(agg_alias).desc()] + [F.col(k).asc() for k in key_names]
    return df.orderBy(*order).limit(n)


def top_n_with_others(agg_df: DataFrame, key_cols: Sequence[str],
                      measure_cols: Sequence[str], n: int,
                      others_label: str = "OTHERS",
                      order_by: str | None = None) -> DataFrame:
    """Presentation rollup: the top-n groups (by ``order_by``, default
    the first measure, descending with key tie-break) plus ONE synthetic
    row aggregating every remaining group — the "top 10 + others" shape
    dashboards build on the reference's TOP-N.

    Scale shape: NO global rank window — the top-n rows come from
    ``orderBy().limit(n)`` (TakeOrderedAndProject), and the others row
    is computed as total − top via two 1-row aggregates, so group
    cardinality never funnels through one task. The others row carries
    ``others_label`` in the FIRST key column (which must be a string
    column) and NULL for the rest; it is omitted when nothing remains.
    Measures are re-aggregated by SUM — exact for integer/decimal
    measures; for doubles the total−top subtraction is one rounding
    step away from directly summing the tail (use decimal measures when
    hash-exactness matters)."""
    keys = list(key_cols)
    measures = list(measure_cols)
    dtypes = dict(agg_df.dtypes)
    if dtypes[keys[0]] != "string":
        raise ValueError("first key column must be string to hold "
                         f"others_label; got {dtypes[keys[0]]}")
    order = [F.col(order_by or measures[0]).desc()] \
        + [F.col(k).asc() for k in keys]
    top = agg_df.orderBy(*order).limit(int(n))
    totals = agg_df.agg(
        F.count(F.lit(1)).alias("__n_groups"),
        *[F.sum(m).alias(f"__tot_{m}") for m in measures])
    top_tot = top.agg(*[F.sum(m).alias(f"__top_{m}") for m in measures])
    others = (totals.crossJoin(top_tot)
              .where(F.col("__n_groups") > int(n))
              .select(
                  F.lit(others_label).alias(keys[0]),
                  *[F.lit(None).cast(dtypes[k]).alias(k) for k in keys[1:]],
                  *[(F.col(f"__tot_{m}") - F.col(f"__top_{m}"))
                    .cast(dtypes[m]).alias(m) for m in measures]))
    return top.select(*keys, *measures).unionByName(others)
