"""Aggregation suite: the §2.4 function inventory + §2.5 group-by semantics.

Each aggregation function of the reference's closed registry
(pinot-core/.../query/aggregation/function/AggregationFunctionFactory.java:29)
gets exercised scalar and grouped; TOP-N and HAVING reproduce the broker
reduce semantics (BrokerReduceService.java:383-506). Approximate sketches
(HLL, quantile digests) have no SQL oracle → rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import filters as P
from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg, top_n
from realtime_olap_spark.suite.registry import query
from realtime_olap_spark.suite.sqlgen import OAVG, OPCT, OSUM


@query("agg_scalar_all", f"""
SELECT COUNT(*) AS cnt,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       {OSUM('l_extendedprice')} AS sum_price,
       {OAVG('l_extendedprice')} AS avg_price,
       MAX(l_extendedprice) - MIN(l_extendedprice) AS range_price,
       COUNT(DISTINCT l_partkey) AS dc_part,
       COUNT(DISTINCT l_suppkey) AS dc_supp,
       COUNT(DISTINCT l_returnflag) AS dc_flag
FROM lineitem WHERE l_linestatus = 'F'
""")
def agg_scalar_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX/SUM/AVG/MINMAXRANGE/DISTINCTCOUNT in one pass — the
    reference runs all requested functions over each block in one
    AggregationOperator (CountAggregationFunction.java:30 …
    MinMaxRangeAggregationFunction.java:33; exact DISTINCTCOUNT per
    DistinctCountAggregationFunction.java:32, minus its tolerated hash
    collisions — SURVEY.md §7 risk 1)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return group_by_agg(
        li, keys=[],
        aggs=[
            Agg("count", None, "cnt"),
            Agg("min", "l_extendedprice", "min_price"),
            Agg("max", "l_extendedprice", "max_price"),
            Agg("sum", "l_extendedprice", "sum_price"),
            Agg("avg", "l_extendedprice", "avg_price"),
            Agg("minmaxrange", "l_extendedprice", "range_price"),
            Agg("distinctcount", "l_partkey", "dc_part"),
            Agg("distinctcount", "l_suppkey", "dc_supp"),
            Agg("distinctcount", "l_returnflag", "dc_flag"),
        ],
        where=P.eq("l_linestatus", "F"),
    )


@query("agg_fastpaths", """
SELECT (SELECT COUNT(*) FROM lineitem) AS cnt,
       MIN(p_retailprice) AS min_rp,
       MAX(p_retailprice) AS max_rp,
       MAX(p_retailprice) - MIN(p_retailprice) AS range_rp
FROM part
""")
def agg_fastpaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shapes of the reference's two metadata fast paths in one row:
    unfiltered COUNT(*) (MetadataBasedAggregationOperator.java:37) and
    unfiltered MIN/MAX (DictionaryBasedAggregationOperator.java:47). This
    library entry point runs both as Spark scans: parquet is a V1 source
    here, so Spark's aggregate pushdown never applies. Served PQL answers
    an unfiltered count-only query from the segment records instead
    (``plans/pql._metadata_response``)."""
    c = Catalog(spark, sf_dir)
    cnt = c.table("lineitem").agg(F.count(F.lit(1)).alias("cnt"))
    mm = group_by_agg(c.table("part"), keys=[], aggs=[
        Agg("min", "p_retailprice", "min_rp"),
        Agg("max", "p_retailprice", "max_rp"),
        Agg("minmaxrange", "p_retailprice", "range_rp"),
    ])
    return cnt.crossJoin(mm)


@query("agg_approx_sketches")  # sketch estimates — no SQL oracle (rows-only)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-sketch family in one pass: DISTINCTCOUNTHLL / FASTHLL
    (DistinctCountHLLAggregationFunction.java:34 — HyperLogLog),
    PERCENTILEEST<N> (PercentileEstAggregationFunction.java:33 —
    QuantileDigest) and PERCENTILETDIGEST<N> (…TDigest….java:37) via Spark's
    engine-native mergeable sketches. Deterministic for a given input but
    not SQL-oracle-comparable across engines."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return group_by_agg(li, keys=[], aggs=[
        Agg("distinctcounthll", "l_partkey", "hll_part"),
        Agg("fasthll", "l_orderkey", "hll_order"),
        Agg("percentileest50", "l_extendedprice", "est_p50"),
        Agg("percentileest90", "l_extendedprice", "est_p90"),
        Agg("percentiletdigest50", "l_extendedprice", "td_p50"),
        Agg("percentiletdigest95", "l_extendedprice", "td_p95"),
    ])


@query("agg_percentiles", f"""
SELECT l_returnflag,
       {OPCT('l_extendedprice', 0.25)} AS p25,
       {OPCT('l_extendedprice', 0.50)} AS p50,
       {OPCT('l_extendedprice', 0.90)} AS p90,
       {OPCT('l_extendedprice', 0.99)} AS p99
FROM lineitem GROUP BY l_returnflag
""")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE<N>, grouped (PercentileAggregationFunction.java:32
    collects all values per group; Spark's `percentile` computes the
    identical interpolated result distributed — verified bit-exact vs
    quantile_cont). Grouped subsumes the scalar path (one global group)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return group_by_agg(li, keys=[Key("l_returnflag", "l_returnflag")], aggs=[
        Agg("percentile25", "l_extendedprice", "p25"),
        Agg("percentile50", "l_extendedprice", "p50"),
        Agg("percentile90", "l_extendedprice", "p90"),
        Agg("percentile99", "l_extendedprice", "p99"),
    ])


@query("agg_groupby_keys", f"""
SELECT l_returnflag,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket,
       COUNT(*) AS cnt,
       {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       {OAVG('l_extendedprice')} AS avg_price,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag, ship_year, qty_bucket
""")
def agg_groupby_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by on a column AND transform expressions together
    (request.thrift:107-111, docs/pql_examples.rst:158-161) with mixed
    aggregates + a time filter — the composite dictionary-key path
    (DictionaryBasedGroupKeyGenerator.java:63)."""
    li = (Catalog(spark, sf_dir).table("lineitem")
          .withColumn("__revenue",
                      F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return group_by_agg(
        li,
        keys=[Key("l_returnflag", "l_returnflag"),
              Key(F.year("l_shipdate"), "ship_year"),
              Key(F.floor(F.col("l_quantity") / 10), "qty_bucket")],
        aggs=[Agg("count", None, "cnt"),
              Agg("sum", "__revenue", "revenue"),
              Agg("avg", "l_extendedprice", "avg_price"),
              Agg("min", "l_extendedprice", "min_price"),
              Agg("max", "l_extendedprice", "max_price")],
        where=P.range_("l_shipdate", low=F.lit("1996-01-01").cast("timestamp")),
    )


@query("agg_topn_having", f"""
SELECT o_custkey, COUNT(*) AS n_orders, {OSUM('o_totalprice')} AS total
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 8 AND {OSUM('o_totalprice')} > 800000
ORDER BY total DESC, o_custkey ASC
LIMIT 10
""")
def agg_topn_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over final aggregates (BrokerReduceService.java:426-460,
    HavingClauseComparisonTree.java:32) composed with the reference TOP-N
    (top groups per aggregation desc, default 10 —
    docs/pql_examples.rst:169-172; AggregationGroupByTrimmingService.java:44)
    — computed exactly with key tie-break; plans as TakeOrderedAndProject.
    Exact aggregation makes the reference's close-policy intersection a
    no-op (SURVEY.md §7 risk 4)."""
    o = Catalog(spark, sf_dir).table("orders")
    g = group_by_agg(o, keys=[Key("o_custkey", "o_custkey")],
                     aggs=[Agg("count", None, "n_orders"),
                           Agg("sum", "o_totalprice", "total")])
    g = g.where((F.col("n_orders") >= 8) & (F.col("total") > 800000))
    return top_n(g, "total", 10, key_names=["o_custkey"])


def theta_overlap_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only Theta-sketch audience overlap (``operators/theta``):
    one KMV sketch of active user-days per event type (grouped build =
    one distinct shuffle + per-group top-(k+1) window), then the full
    pairwise set algebra — union / intersection / A-NOT-B / Jaccard —
    driver-side on ≤k-entry sketches. The reference's
    DistinctCountThetaSketch query shape (set-expression cardinalities
    across filter groups) with the raw key sets never co-shuffled;
    accuracy bounds are pytest-enforced (tests/test_theta.py)."""
    from realtime_olap_spark.operators import theta as TH  # noqa: PLC0415
    ev = Catalog(spark, sf_dir).table("events")
    key = F.concat_ws("@", F.col("user_id"), F.to_date("ts"))
    by_type = TH.theta_build_grouped(ev, ["event_type"], key, k=2048)
    types = sorted(t for (t,) in by_type)
    rows = []
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            sa, sb = by_type[(a,)], by_type[(b,)]
            rows.append((a, b,
                         TH.theta_estimate(TH.theta_union(sa, sb)),
                         TH.theta_estimate(TH.theta_intersect(sa, sb)),
                         TH.theta_estimate(TH.theta_a_not_b(sa, sb)),
                         TH.jaccard_estimate(sa, sb)))
    from realtime_olap_spark.localframe import local_frame  # noqa: PLC0415
    return local_frame(
        spark, rows,
        ["type_a", "type_b", "union_est", "intersect_est", "a_not_b_est",
         "jaccard"],
        "type_a string, type_b string, union_est double, "
        "intersect_est double, a_not_b_est double, jaccard double")
