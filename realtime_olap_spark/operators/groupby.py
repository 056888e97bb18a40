"""Group-by execution: keys (columns / expressions / MV), HAVING, TOP-N.

Reference pipeline: AggregationGroupByOperator.java:38 (per-segment hash
group-by) → CombineGroupByOperator.java:53 (concurrent cross-segment merge)
→ BrokerReduceService.java:383-506 (final merge + HAVING + TOP-N trim).
Spark's partial/final HashAggregate over a key-hash shuffle is the identical
execution shape, so ``group_by_agg`` is a thin declarative layer.

Semantics reproduced here:

- **Group-by on expressions** (request.thrift:107-111): keys are arbitrary
  Columns with aliases.
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
  part so no group can vanish.
- **HAVING** (BrokerReduceService.java:426-460): post-aggregation filter.
  The reference's "close policy" (intersect groups present for all agg
  functions) is moot here because our aggregation is exact — every group is
  present for every function; documented deviation per SURVEY.md §7 risk 4.
- **TOP-N** (AggregationGroupByTrimmingService.java:44): the reference
  returns, per aggregation function, the top N groups ordered by that
  aggregate desc (default N=10, approximate beyond guardrails). We compute
  the same ordering EXACTLY — orderBy(agg desc, keys asc).limit(n) plans as
  TakeOrderedAndProject, so no full sort materializes. Deterministic
  tie-break on keys keeps results oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark.operators.aggregation import (
    DEC, FX, PERCENTILE_APPROX_ACCURACY, fx_term_sql, percentile_approx_sql,
    percentile_sql, resolve, risk_ok_sql, row_risk_sql)
from realtime_olap_spark.sqlexpr import col_sql, ident_sql

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


def _kcol(k: Key) -> Column:
    return F.col(k.expr) if isinstance(k.expr, str) else k.expr


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
    ``lambda a: "__elem"``). The PQL statement and ``group_by_agg`` both
    aggregate through this."""
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


def _merged_agg_columns(alist: Sequence[Agg], arg_sql=_arg_sql
                        ) -> tuple[list[Column], list[Column]]:
    """:func:`merged_agg_sql` as Columns; call sites do
    ``.agg(*agg_cols).select(*keys, *post_projection)``."""
    aggs, post = merged_agg_sql(alist, arg_sql)
    return [F.expr(x) for x in aggs], [F.expr(x) for x in post]


def _fused_scalar_mv(df: DataFrame, elem_col: str,
                     direct: Sequence[Agg], alist: Sequence[Agg]) -> DataFrame:
    """One ``posexplode_outer`` pass computing the direct MV folds AND the
    element-level aggregations together (scalar / no-keys case).

    Value-identity with the fold path, term by term:

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
    arr = col_sql(elem_col)
    # Stage the per-row folds BELOW the explode: a single select holding
    # both the generator and these expressions plans as Generate +
    # Project-ABOVE, re-evaluating the whole-array folds once per
    # ELEMENT (r16 plan audit); the two-step select keeps them in the
    # Generate's child projection — once per row (plan-asserted in
    # tests/test_opt_r16.py; A/B at sf0.1: exec 0.48 s → see
    # OPTIMIZATION_r16.md).
    pre = (df.select(F.expr(f"{row_risk_sql(arr)} AS __risk"),
                     F.expr(f"exists({arr}, x -> x IS NULL) AS __hn"),
                     F.expr(f"{arr} AS __arr"))
           .select("__risk", "__hn",
                   F.posexplode_outer("__arr").alias("__pos", "__elem")))
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
    cols = [F.expr(f"{fused[a.fn.lower()]} AS {ident_sql(a.alias)}")
            for a in direct]
    el_aggs, el_post = _merged_agg_columns(alist, lambda a: "__elem")
    return (pre.agg(*cols, *el_aggs)
            .select(*[a.alias for a in direct], *el_post))


def group_by_agg(df: DataFrame, keys: Sequence[Key], aggs: Sequence[Agg],
                 where: Column | None = None,
                 num_groups_limit: int | None = None,
                 grouping: str = "groupby") -> DataFrame:
    """Execute filter → group-by → aggregations, returning one row per group
    with columns [key aliases..., agg aliases...].

    ``num_groups_limit`` is the reference's opt-in cardinality guardrail
    (InstancePlanMakerImplV2.java:57-58, default 100k there): when set, at
    most that many groups are returned — an ARBITRARY subset, exactly like
    the reference's first-N-encountered semantics (the values of surviving
    groups are still exact). Off by default because this engine is exact;
    turn it on as cheap insurance against runaway GROUP BY cardinality at
    100× scale.

    ``grouping`` selects the grouping-set shape: ``"groupby"`` (reference
    parity), ``"cube"`` or ``"rollup"`` (deliberate beyond-parity — the
    reference has no grouping sets, SURVEY §2.4 'absent aggregations';
    Spark computes them in the SAME single shuffle via Expand). Only
    direct (non-element/MV) aggregations are supported with cube/rollup."""
    if where is not None:
        df = df.where(where)

    # Materialize key aliases once (incl. MV key explosion).
    for k in keys:
        if k.mv:
            df = df.withColumn(k.alias, F.explode(_kcol(k)))
        else:
            df = df.withColumn(k.alias, _kcol(k))
    key_names = [k.alias for k in keys]

    direct = [a for a in aggs if not resolve(a.fn).needs_elements]
    element = [a for a in aggs if resolve(a.fn).needs_elements]

    if grouping != "groupby":
        if element:
            raise ValueError(
                "cube/rollup grouping supports direct aggregations only")
        if not key_names:
            raise ValueError("cube/rollup grouping needs group-by keys")
        grouped = (df.cube(*key_names) if grouping == "cube"
                   else df.rollup(*key_names))
        out = grouped.agg(*[resolve(a.fn).builder(a.col).alias(a.alias)
                            for a in direct])
        if num_groups_limit is not None:
            out = out.limit(num_groups_limit)
        return out.select(*key_names, *[a.alias for a in aggs])

    elem_zero: dict[str, Column] = {}
    # All element-level aggs sharing an input column run over ONE exploded
    # relation (one explode + one aggregate), not one per function — the
    # explode multiplies rows by array length, so this is the dominant cost
    # at scale.
    elem_groups: dict[str, list[Agg]] = {}
    for a in element:
        elem_groups.setdefault(a.col, []).append(a)
        spec = resolve(a.fn)
        if spec.empty_value is not None:
            elem_zero[a.alias] = F.lit(spec.empty_value)

    # Scalar fused path: a no-keys query mixing MV folds and element-level
    # aggs over ONE array column (mv_all_aggs' shape) used to run TWO full
    # scans — a fold aggregate plus an exploded aggregate — glued by a
    # cross join. The element pass already visits every element, so the
    # fold results are recomputed element-wise IN the exploded aggregate
    # (value-identical: integer/decimal terms are associative; see
    # _fused_scalar_mv) — one scan, one aggregate, no join.
    if (not key_names and element and direct and len(elem_groups) == 1):
        (elem_col, alist), = elem_groups.items()
        if all(a.fn.lower() == "count"
               or (a.fn.lower() in _FUSED_MV and a.col == elem_col)
               for a in direct):
            out = _fused_scalar_mv(df, elem_col, direct, alist)
            fill = [F.coalesce(F.col(a.alias), elem_zero[a.alias])
                    .alias(a.alias)
                    if a.alias in elem_zero else a.alias for a in aggs]
            return out.select(*fill)

    parts: list[DataFrame] = []
    if direct or not element:
        cols, post = _merged_agg_columns(direct)
        if not cols:  # keep group presence even if all aggs are element-level
            cols, post = [F.count(F.lit(1)).alias("__cnt")], [F.col("__cnt")]
        parts.append(
            (df.groupBy(*key_names).agg(*cols) if key_names
             else df.agg(*cols)).select(*key_names, *post))
    for elem_col, alist in elem_groups.items():
        # explode_outer: empty/null arrays yield a NULL element row, so the
        # group survives (count-likes see 0 non-null elements, percentiles
        # see none → NULL) instead of vanishing from the element relation.
        el = df.select(*key_names, F.explode_outer(elem_col).alias("__elem"))
        el_aggs, el_post = _merged_agg_columns(alist, lambda a: "__elem")
        agged = ((el.groupBy(*key_names) if key_names else el.groupBy())
                 .agg(*el_aggs).select(*key_names, *el_post))
        parts.append(agged)

    out = parts[0]
    for p in parts[1:]:
        if not key_names:
            out = out.crossJoin(p)
            continue
        # Null-safe LEFT join from the direct part: NULL group keys match
        # their own group, and a group can never be dropped by the join.
        lhs, rhs = out.alias("l"), p.alias("r")
        cond = None
        for k in key_names:
            c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
            cond = c if cond is None else (cond & c)
        extra = [c for c in p.columns if c not in key_names]
        out = lhs.join(rhs, cond, "left").select(
            *[F.col(f"l.{c}") for c in out.columns],
            *[F.col(f"r.{c}") for c in extra])
    if "__cnt" in out.columns and all(a.alias != "__cnt" for a in aggs):
        out = out.drop("__cnt")
    # Count-like element aggregates default to 0 for groups with no elements.
    fill = [F.coalesce(F.col(a.alias), elem_zero[a.alias]).alias(a.alias)
            if a.alias in elem_zero else a.alias for a in aggs]
    # Stable column order: keys then aggs as requested.
    out = out.select(*key_names, *fill)
    if num_groups_limit is not None and key_names:
        out = out.limit(num_groups_limit)
    return out


def having(df: DataFrame, cond: Column) -> DataFrame:
    """HAVING — comparison tree over final aggregates
    (HavingClauseComparisonTree.java:32); in Spark just a filter above the
    aggregate, which Catalyst keeps post-agg."""
    return df.where(cond)


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
