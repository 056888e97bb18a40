"""Core suite: flagship aggregation, selection queries, filter predicates.

Every query here exercises the reference surface of SURVEY.md §2.2/§2.6 and
is paired with a DuckDB oracle. Selection queries carry a deterministic
ORDER BY on a unique key so the row subset is well-defined in both engines
(the reference returns arbitrary matching rows; the oracle needs determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import filters as P
from realtime_olap_spark.operators import selection
from realtime_olap_spark.operators.aggregation import dsum
from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg
from realtime_olap_spark.suite.registry import query
from realtime_olap_spark.suite.sqlgen import OAVG, OSUM

# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped aggregation (the entry() query)
# ---------------------------------------------------------------------------

FLAGSHIP_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {OSUM('l_quantity')} AS sum_qty,
       {OSUM('l_extendedprice')} AS sum_base_price,
       {OSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {OAVG('l_quantity')} AS avg_qty,
       {OAVG('l_extendedprice')} AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("flagship_q1", FLAGSHIP_ORACLE)
def flagship_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-summary aggregation: filter → group-by → 6 aggregates.

    Maps the reference's AggregationGroupByOperator pipeline
    (pinot-core/.../operator/query/AggregationGroupByOperator.java:38);
    Catalyst plans partial+final HashAggregate over the key shuffle, same
    shape as CombineGroupByOperator → BrokerReduceService.
    """
    li = (Catalog(spark, sf_dir).table("lineitem")
          .withColumn("__disc_price",
                      F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    out = group_by_agg(
        li,
        keys=[Key("l_returnflag", "l_returnflag"), Key("l_linestatus", "l_linestatus")],
        aggs=[
            Agg("sum", "l_quantity", "sum_qty"),
            Agg("sum", "l_extendedprice", "sum_base_price"),
            Agg("sum", "__disc_price", "sum_disc_price"),
            Agg("avg", "l_quantity", "avg_qty"),
            Agg("avg", "l_extendedprice", "avg_price"),
            Agg("count", None, "count_order"),
        ],
        where=P.range_("l_shipdate", high=F.lit("2000-09-02").cast("timestamp")),
    )
    return out.orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Selection queries (§2.6)
# ---------------------------------------------------------------------------

@query("sel_order_by_offset", """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 15 OFFSET 5
""")
def sel_order_by_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectionOrderByOperator with pagination — bounded top-(offset+limit)
    per partition, merged once (SelectionOperatorService.java:76-109);
    Spark: TakeOrderedAndProject + offset."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return selection.select_order_by(
        li,
        ["l_orderkey", "l_linenumber", "l_extendedprice"],
        order_by=[F.col("l_extendedprice").desc(),
                  F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        limit=15, offset=5,
    )


@query("sel_probes", """
SELECT 'limit' AS probe, l_orderkey AS k1, CAST(l_linenumber AS BIGINT) AS k2,
       l_extendedprice AS v
FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice LIMIT 10)
UNION ALL
SELECT 'empty' AS probe, o_orderkey AS k1, CAST(0 AS BIGINT) AS k2,
       o_totalprice AS v
FROM orders WHERE o_totalprice < 0
""")
def sel_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two selection probes in one result (driver's compare is
    order-insensitive, so a marker-column UNION is exact):

    - ``limit``: SelectionOnlyOperator early termination at LIMIT with a
      fully deterministic ORDER BY (SelectionOnlyOperator.java:45,76-87);
    - ``empty``: EmptyFilterOperator / empty-result path
      (EmptyFilterOperator.java:28) — contributes zero rows.
    """
    c = Catalog(spark, sf_dir)
    li, o = c.table("lineitem"), c.table("orders")
    lim = selection.select_order_by(
        li, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        order_by=[F.col("l_orderkey").asc(), F.col("l_linenumber").asc(),
                  F.col("l_quantity").asc(), F.col("l_extendedprice").asc()],
        where=P.eq("l_returnflag", "R"), limit=10,
    ).select(F.lit("limit").alias("probe"), F.col("l_orderkey").alias("k1"),
             F.col("l_linenumber").cast("long").alias("k2"),
             F.col("l_extendedprice").alias("v"))
    empty = selection.select_order_by(
        o, ["o_orderkey", "o_totalprice"],
        order_by=[F.col("o_orderkey").asc()],
        where=P.range_("o_totalprice", high=0, high_inclusive=False), limit=10,
    ).select(F.lit("empty").alias("probe"), F.col("o_orderkey").alias("k1"),
             F.lit(0).cast("long").alias("k2"), F.col("o_totalprice").alias("v"))
    return lim.unionByName(empty)


# ---------------------------------------------------------------------------
# Filter predicates (§2.2) — every predicate type of request.thrift:25-34
# verified through an aggregate (whole matching set, not a LIMITed subset),
# consolidated into two marker-column UNION queries so each branch stays an
# independently-planned filter probe.
# ---------------------------------------------------------------------------

def _probe(df: DataFrame, tag: str, cond, metric: str) -> DataFrame:
    return (df.where(cond)
            .agg(F.count(F.lit(1)).alias("cnt"), dsum(metric).alias("total"))
            .select(F.lit(tag).alias("pred"), "cnt", "total"))


def _probe_fused(df: DataFrame, probes: list) -> DataFrame:
    """N predicate probes over ONE scan of ``df`` (r17, guide §2.4): the
    r16 shape unioned N independent scalar aggregates, re-scanning the
    fact table once per probe. Conditional aggregation computes every
    probe's COUNT/sum in a single pass — ``count(when(pred, 1))`` counts
    exactly the rows ``where(pred)`` keeps (NULL predicates drop both
    ways), and ``sum(cast(when(pred, metric) AS DEC))`` feeds the same
    decimal terms dsum summed, so the values are bit-identical. The
    OR-of-all-predicates pre-filter keeps scan pushdown (rows failing
    every probe contribute to none). One row per probe comes back via a
    literal struct explode. ``probes``: [(tag, cond, metric_col), ...].
    """
    from realtime_olap_spark.operators.aggregation import DEC  # noqa: PLC0415
    any_pred = probes[0][1]
    for _, cond, _ in probes[1:]:
        any_pred = any_pred | cond
    aggs = []
    for i, (_, cond, metric) in enumerate(probes):
        aggs.append(F.count(F.when(cond, 1)).alias(f"__c{i}"))
        aggs.append(F.sum(F.when(cond, F.col(metric)).cast(DEC))
                    .alias(f"__s{i}"))
    row = df.where(any_pred).agg(*aggs)
    out = F.array(*[
        F.struct(F.lit(tag).alias("pred"),
                 F.col(f"__c{i}").alias("cnt"),
                 F.col(f"__s{i}").cast("double").alias("total"))
        for i, (tag, _, _) in enumerate(probes)])
    return (row.select(F.explode(out).alias("r"))
            .select("r.pred", "r.cnt", "r.total"))


@query("filter_basic", f"""
SELECT 'eq' AS pred, COUNT(*) AS cnt, {OSUM('l_extendedprice')} AS total
FROM lineitem WHERE l_returnflag = 'R'
UNION ALL
SELECT 'neq', COUNT(*), {OSUM('l_extendedprice')}
FROM lineitem WHERE l_linestatus <> 'O'
UNION ALL
SELECT 'in', COUNT(*), {OSUM('o_totalprice')}
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
UNION ALL
SELECT 'not_in', COUNT(*), {OSUM('o_totalprice')}
FROM orders WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
""")
def filter_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQ / NEQ / IN / NOT_IN predicate probes
    (EqualsPredicate, NotEqualsPredicate, InPredicate, NotInPredicate —
    request.thrift:25-34), one aggregate row per predicate."""
    c = Catalog(spark, sf_dir)
    li, o = c.table("lineitem"), c.table("orders")
    # one scan per TABLE (conditional probes), not one per predicate
    return (_probe_fused(li, [
                ("eq", P.eq("l_returnflag", "R"), "l_extendedprice"),
                ("neq", P.neq("l_linestatus", "O"), "l_extendedprice")])
            .unionByName(_probe_fused(o, [
                ("in", P.isin("o_orderpriority", ["1-URGENT", "2-HIGH"]),
                 "o_totalprice"),
                ("not_in", P.not_in("o_orderpriority",
                                    ["5-LOW", "4-NOT SPECIFIED"]),
                 "o_totalprice")])))


@query("filter_range_regex_tree", f"""
SELECT 'between' AS pred, COUNT(*) AS cnt, {OSUM('l_quantity')} AS total
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
UNION ALL
SELECT 'range_excl', COUNT(*), {OSUM('l_quantity')}
FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.03
UNION ALL
SELECT 'regexp', COUNT(*), {OSUM('p_retailprice')}
FROM part WHERE regexp_matches(p_name, '^(red|blue) .*')
UNION ALL
SELECT 'tree', COUNT(*), {OSUM('l_extendedprice')}
FROM lineitem
WHERE (l_returnflag = 'A' AND l_quantity > 25)
   OR (l_linestatus = 'O' AND l_discount BETWEEN 0.02 AND 0.05)
""")
def filter_range_regex_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN [a,b] (RangePredicate.java:26), strict range bounds
    (RangePredicateEvaluatorFactory.java:34 — ``(45\\t\\t*)`` style),
    REGEXP_LIKE (RegexpLikePredicate.java:27, Java regex = Spark rlike /
    DuckDB regexp_matches), and a nested AND/OR tree
    (request.thrift:60-75, And/OrFilterOperator.java:29)."""
    c = Catalog(spark, sf_dir)
    li, p = c.table("lineitem"), c.table("part")
    between = P.and_(
        P.between("l_quantity", 10, 20),
        P.between("l_shipdate",
                  F.lit("1996-01-01").cast("timestamp"),
                  F.lit("1997-12-31").cast("timestamp")))
    range_excl = P.and_(
        P.range_("l_quantity", low=45, low_inclusive=False),
        P.range_("l_discount", high=0.03, high_inclusive=False))
    tree = P.or_(
        P.and_(P.eq("l_returnflag", "A"),
               P.range_("l_quantity", low=25, low_inclusive=False)),
        P.and_(P.eq("l_linestatus", "O"), P.between("l_discount", 0.02, 0.05)))
    # the three lineitem probes share ONE scan (conditional aggregation,
    # OR-pushdown); UNION order is reshaped to match the oracle's rows —
    # the driver canon sorts rows, so branch order is irrelevant
    return (_probe_fused(li, [
                ("between", between, "l_quantity"),
                ("range_excl", range_excl, "l_quantity"),
                ("tree", tree, "l_extendedprice")])
            .unionByName(_probe(p, "regexp",
                                P.regexp_like("p_name", "^(red|blue) .*"),
                                "p_retailprice")))
