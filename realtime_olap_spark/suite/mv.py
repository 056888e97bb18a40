"""Multi-value (MV) column suite — SURVEY.md §2.4 MV aggregations, §2.2 MV
predicates, §2.5 MV group-by.

Reference MV semantics: an MV column is a variable-length array of a
primitive (FieldSpec.java:72-73); predicates match if ANY element matches;
a row contributes to EVERY group of its MV column
(AggregationFunction.java:87-93 aggregateGroupByMV); MV aggregations run
over all elements (CountMVAggregationFunction.java …).

Fixtures per FIXTURES.md: ``embeddings.embedding`` (list<float> — MV FLOAT)
and the derived ``split(p_name, ' ')`` (MV STRING).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import filters as P
from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg, top_n
from realtime_olap_spark.suite.registry import query
from realtime_olap_spark.suite.sqlgen import OPCT

# DuckDB fragment: exact fixed-point (2^35) element term — deterministic in
# any engine because multiplying by a power of two never rounds (see
# aggregation.FX).
_FX = "34359738368"

# Spark-formula interpolated percentiles over unnested elements (sqlgen.OPCT)
OPCT_U50 = OPCT("CAST(u AS DOUBLE)", 0.5)
OPCT_U90 = OPCT("CAST(u AS DOUBLE)", 0.9)
_EL = f"CAST(FLOOR(CAST(u AS DOUBLE) * {_FX}) AS BIGINT)"


@query("mv_filters", """
SELECT 'eq' AS pred, COUNT(*) AS cnt FROM part
WHERE list_contains(string_split(p_name, ' '), 'red')
UNION ALL
SELECT 'in', COUNT(*) FROM part
WHERE len(list_intersect(string_split(p_name, ' '), ['bolt', 'gear', 'widget'])) > 0
UNION ALL
SELECT 'range', COUNT(*) FROM embeddings
WHERE EXISTS (SELECT 1 FROM unnest(embedding) AS t(u) WHERE u BETWEEN 0.99 AND 1.0)
""")
def mv_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MV predicate family — any-element EQ / IN / RANGE
    (EqualsPredicateEvaluatorFactory.java:30 MV path, InPredicate MV path,
    RangePredicateEvaluatorFactory MV path) — one count per predicate."""
    c = Catalog(spark, sf_dir)
    p, e = c.table("part"), c.table("embeddings")
    eq = (p.where(P.mv_eq(F.split("p_name", " "), "red"))
          .agg(F.count(F.lit(1)).alias("cnt"))
          .select(F.lit("eq").alias("pred"), "cnt"))
    isin = (p.where(P.mv_isin(F.split("p_name", " "), ["bolt", "gear", "widget"]))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("in").alias("pred"), "cnt"))
    rng = (e.where(P.mv_between("embedding", F.lit(0.99).cast("float"),
                                F.lit(1.0).cast("float")))
           .agg(F.count(F.lit(1)).alias("cnt"))
           .select(F.lit("range").alias("pred"), "cnt"))
    return eq.unionByName(isin).unionByName(rng)


@query("mv_groupby", """
SELECT w AS word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
GROUP BY w
ORDER BY cnt DESC, w ASC
LIMIT 10
""")
def mv_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV group-by: a row lands in every element's group
    (AggregationFunction.java:87-93), TOP-10 by count desc."""
    p = Catalog(spark, sf_dir).table("part")
    g = group_by_agg(p, keys=[Key(F.split("p_name", " "), "word", mv=True)],
                     aggs=[Agg("count", None, "cnt")])
    return top_n(g, "cnt", 10, key_names=["word"])


@query("mv_all_aggs", f"""
SELECT COUNT(*) AS rows_cnt,
       CAST(SUM(len(embedding)) AS BIGINT) AS countmv,
       MIN(el.mn) AS minmv,
       MAX(el.mx) AS maxmv,
       (CAST(SUM(el.s) AS DOUBLE) / {_FX}.0) AS summv,
       (CAST(SUM(el.s) AS DOUBLE) / {_FX}.0
        / CAST(SUM(len(embedding)) AS DOUBLE)) AS avgmv,
       MAX(el.mx) - MIN(el.mn) AS rangemv,
       (SELECT {OPCT_U50} FROM (SELECT unnest(embedding) AS u FROM embeddings)) AS p50,
       (SELECT {OPCT_U90} FROM (SELECT unnest(embedding) AS u FROM embeddings)) AS p90
FROM embeddings,
     LATERAL (SELECT MIN(CAST(u AS DOUBLE)) AS mn, MAX(CAST(u AS DOUBLE)) AS mx,
                     SUM({_EL}) AS s
              FROM unnest(embedding) AS t(u)) el
""")
def mv_all_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scalar MV aggregation family in one query: COUNTMV / MINMV /
    MAXMV / SUMMV / AVGMV / MINMAXRANGEMV (JVM-side array folds, no explode
    in the plan — CountMVAggregationFunction.java, MinMV…, SumMV…, AvgMV…,
    MinMaxRangeMV…) plus element-level exact PERCENTILE<N>MV
    (PercentileMVAggregationFunction.java — explode-once path of the
    executor, joined back), exercising the mixed direct+element pipeline."""
    e = Catalog(spark, sf_dir).table("embeddings")
    return group_by_agg(e, keys=[], aggs=[
        Agg("count", None, "rows_cnt"),
        Agg("countmv", "embedding", "countmv"),
        Agg("minmv", "embedding", "minmv"),
        Agg("maxmv", "embedding", "maxmv"),
        Agg("summv", "embedding", "summv"),
        Agg("avgmv", "embedding", "avgmv"),
        Agg("minmaxrangemv", "embedding", "rangemv"),
        Agg("percentile50mv", "embedding", "p50"),
        Agg("percentile90mv", "embedding", "p90"),
    ])


@query("mv_distinctcount", """
SELECT COUNT(DISTINCT w) AS dc_words
FROM (SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
""")
def mv_distinctcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCTCOUNTMV — exact distinct over the union of elements
    (DistinctCountMVAggregationFunction.java); element-level path of the
    group-by executor (explode once, aggregate)."""
    p = (Catalog(spark, sf_dir).table("part")
         .withColumn("__words", F.split("p_name", " ")))
    return group_by_agg(p, keys=[], aggs=[
        Agg("distinctcountmv", "__words", "dc_words"),
    ])


@query("mv_groupby_label_elements", f"""
WITH folds AS (
  SELECT label, len(embedding) AS n, el.s AS s
  FROM embeddings,
       LATERAL (SELECT SUM({_EL}) AS s FROM unnest(embedding) AS t(u)) el),
direct AS (
  SELECT label, CAST(SUM(n) AS BIGINT) AS countmv,
         (CAST(SUM(s) AS DOUBLE) / {_FX}.0) AS summv
  FROM folds GROUP BY label),
pcts AS (
  SELECT label, {OPCT_U50} AS p50
  FROM (SELECT label, unnest(embedding) AS u FROM embeddings)
  GROUP BY label)
SELECT direct.label, countmv, summv, p50
FROM direct JOIN pcts USING (label)
""")
def mv_groupby_label_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MV aggregation: per-dimension COUNTMV/SUMMV (grouped element
    folds with exact decimal merge) + grouped PERCENTILE<N>MV through the
    element-level join-back path — the full grouped mixed pipeline."""
    e = Catalog(spark, sf_dir).table("embeddings")
    return group_by_agg(e, keys=[Key("label", "label")], aggs=[
        Agg("countmv", "embedding", "countmv"),
        Agg("summv", "embedding", "summv"),
        Agg("percentile50mv", "embedding", "p50"),
    ])


@query("mv_approx_aggs")  # sketch estimates — no SQL oracle (rows-only)
def mv_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate MV aggregates, completing §2.4: DISTINCTCOUNTHLLMV
    (DistinctCountHLLMVAggregationFunction.java — HLL over all elements),
    PERCENTILEESTMV (PercentileEstMVAggregationFunction.java) and
    PERCENTILETDIGESTMV (…TDigestMV….java) — element-level sketch
    aggregation over exploded MV columns; estimates, so rows-only."""
    c = Catalog(spark, sf_dir)
    part = c.table("part").withColumn("__words", F.split("p_name", " "))
    words = group_by_agg(part, keys=[], aggs=[
        Agg("distinctcounthllmv", "__words", "hll_words"),
    ])
    pcts = group_by_agg(c.table("embeddings"), keys=[], aggs=[
        Agg("percentileest50mv", "embedding", "est_p50"),
        Agg("percentiletdigest90mv", "embedding", "td_p90"),
    ])
    return words.crossJoin(pcts)
