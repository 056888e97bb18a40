"""Transform-function suite: the 7-function registry in select / filter /
group-by positions, incl. DATETIMECONVERT bucketing (SURVEY.md §2.9 / M3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.functions import transform as T
from realtime_olap_spark.operators.aggregation import dsum_sql
from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg
from realtime_olap_spark.sqlexpr import col_sql
from realtime_olap_spark.suite.registry import query
from realtime_olap_spark.suite.sqlgen import OSUM


@query("tf_arithmetic", f"""
SELECT COUNT(*) AS cnt,
       {OSUM('(l_quantity + (l_tax * 100)) - (l_extendedprice / 50)')} AS combo
FROM lineitem
WHERE (l_extendedprice * (1 - l_discount)) > 50000
""")
def tf_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD/SUB/MULT/DIV in projection and filter positions
    (AdditionTransformFunction.java:32 … DivisionTransformFunction.java:32);
    infix arithmetic compiles to the same functions (PQL2.g4)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    qty, tax, price, disc = map(col_sql, ("l_quantity", "l_tax",
                                          "l_extendedprice", "l_discount"))
    combo = T.sub_sql(T.add_sql(qty, T.mult_sql(tax, "100")),
                      T.div_sql(price, "50"))
    pred = f"{T.mult_sql(price, T.sub_sql('1', disc))} > 50000"
    return li.where(F.expr(pred)).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr(dsum_sql(combo)).alias("combo"))


@query("tf_time_all", f"""
SELECT CAST(FLOOR(epoch_ms(ts) / 900000) * 900000 AS BIGINT) AS bucket_ms,
       CAST(FLOOR(epoch_ms(ts) / 3600000) AS BIGINT) AS ts_hour,
       strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS cnt, {OSUM('value')} AS total
FROM events
GROUP BY bucket_ms, ts_hour, day
""")
def tf_time_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three time-conversion registry functions as group keys at once:

    - TIMECONVERT(epochMillis, MILLISECONDS, HOURS)
      (TimeConversionTransformFunction.java:33);
    - DATETIMECONVERT 15:MINUTES epoch bucketing
      (DateTimeConversionTransformFunction.java:82);
    - DATETIMECONVERT epoch → SIMPLE_DATE_FORMAT daily strings
      (DateTimeFieldSpec.java:39-75 format grammar).

    Group cardinality equals the finest key (15-min buckets); the coarser
    hour/day keys are functionally dependent, so every conversion is
    value-checked across the whole time range in one query."""
    ev = Catalog(spark, sf_dir).table("events")
    ms = f"unix_millis({col_sql('ts')})"
    hour = T.timeconvert_sql(ms, "MILLISECONDS", "HOURS")
    bucket = T.datetimeconvert_sql(ms, "1:MILLISECONDS:EPOCH",
                                   "1:MILLISECONDS:EPOCH", "15:MINUTES")
    day = T.datetimeconvert_sql(ms, "1:MILLISECONDS:EPOCH",
                                "1:DAYS:SIMPLE_DATE_FORMAT:yyyy-MM-dd",
                                "1:DAYS")
    return group_by_agg(ev,
                        keys=[Key(F.expr(bucket), "bucket_ms"),
                              Key(F.expr(hour), "ts_hour"),
                              Key(F.expr(day), "day")],
                        aggs=[Agg("count", None, "cnt"),
                              Agg("sum", "value", "total")])


@query("tf_valuein", """
SELECT w AS word, COUNT(*) AS cnt
FROM (SELECT unnest(list_filter(string_split(p_name, ' '),
                                x -> x IN ('red', 'blue', 'small'))) AS w
      FROM part)
GROUP BY w
ORDER BY cnt DESC, w ASC
""")
def tf_valuein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUEIN(mvCol, …): projection-side element filter on a derived MV
    column (ValueInTransformFunction.java:51); grouped per surviving element
    — the reference's MV group-by contract (a row lands in each element's
    group, AggregationFunction.java:87-93)."""
    p = Catalog(spark, sf_dir).table("part")
    words = T.valuein_sql(f"split({col_sql('p_name')}, ' ')",
                          "red", "blue", "small")
    g = group_by_agg(p, keys=[Key(F.expr(words), "word", mv=True)],
                     aggs=[Agg("count", None, "cnt")])
    return g.orderBy(F.col("cnt").desc(), F.col("word").asc())
