"""Round-2 fix regressions: empty-MV groups, SUMMV overflow guard,
sub-millisecond DATETIMECONVERT units, PQL unary minus, and the bounded
per-function trim plan of PQLEngine.execute."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.functions import datetimeconvert
from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg
from realtime_olap_spark.plans.pql import (Func, Lit, PQLEngine,
                                           grouped_topn_frame, parse_pql)

from conftest import SF_DIR, assert_matches_oracle


# ---------------------------------------------------------------------------
# Mixed direct+element MV group-by keeps all-empty-array groups
# ---------------------------------------------------------------------------

_EMPTY_MV_ORACLE = """
WITH t(k, arr) AS (VALUES
    ('a', [1.0, 2.0]), ('a', [2.0]),
    ('b', CAST([] AS DOUBLE[])), ('b', CAST([] AS DOUBLE[])))
SELECT k,
       CAST(SUM(len(arr)) AS BIGINT) AS countmv,
       CAST((SELECT COUNT(DISTINCT u)
             FROM t AS t2, UNNEST(t2.arr) AS un(u)
             WHERE t2.k = t.k) AS BIGINT) AS dcmv,
       (SELECT quantile_cont(u, 0.5)
        FROM t AS t2, UNNEST(t2.arr) AS un(u)
        WHERE t2.k = t.k) AS p50
FROM t GROUP BY k
"""


def test_mixed_mv_groupby_keeps_empty_groups(spark):
    """A group whose MV arrays are all empty must still be returned (count
    0 / distinct 0 / percentile NULL) — reference returns every group
    (AggregationFunction.java:87-93); r1 inner-join silently dropped it."""
    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [2.0]), ("b", []), ("b", [])],
        "k string, arr array<double>")
    out = group_by_agg(df, keys=[Key("k", "k")], aggs=[
        Agg("countmv", "arr", "countmv"),
        Agg("distinctcountmv", "arr", "dcmv"),
        Agg("percentile50mv", "arr", "p50"),
    ])
    rows = {r["k"]: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["b"]["countmv"] == 0
    assert rows["b"]["dcmv"] == 0
    assert rows["b"]["p50"] is None
    assert_matches_oracle(out, duckdb.connect(), _EMPTY_MV_ORACLE,
                          name="empty_mv_groups")


# ---------------------------------------------------------------------------
# SUMMV/AVGMV overflow guard
# ---------------------------------------------------------------------------

def test_summv_large_magnitude_exact(spark):
    """Elements beyond the fixed-point range (|x| ≳ 2^27) must switch to the
    exact decimal fold instead of returning saturated garbage."""
    df = spark.createDataFrame(
        [([1.0e12, 2.0e12],), ([3.0e12],)], "arr array<double>")
    row = group_by_agg(df, keys=[], aggs=[
        Agg("summv", "arr", "s"), Agg("avgmv", "arr", "a")]).collect()[0]
    assert row["s"] == 6.0e12
    assert row["a"] == 2.0e12


def test_summv_small_magnitude_fx_path(spark):
    """Small-magnitude elements keep the oracle-deterministic fx path."""
    df = spark.createDataFrame([([0.5, 0.25],), ([0.125],)], "arr array<double>")
    row = group_by_agg(df, keys=[], aggs=[Agg("summv", "arr", "s")]).collect()[0]
    assert row["s"] == 0.875


# ---------------------------------------------------------------------------
# DATETIMECONVERT sub-millisecond units
# ---------------------------------------------------------------------------

def test_datetimeconvert_nanos_to_millis(spark):
    ns = 1_700_000_000_123_456_789
    out = spark.range(1).select(
        F.lit(ns).alias("v_ns"), F.lit(ns // 1000).alias("v_us")).select(
        datetimeconvert("v_ns", "1:NANOSECONDS:EPOCH",
                        "1:MILLISECONDS:EPOCH", "1:MILLISECONDS").alias("ms"),
        datetimeconvert("v_ns", "1:NANOSECONDS:EPOCH",
                        "1:HOURS:EPOCH", "1:HOURS").alias("h"),
        datetimeconvert("v_us", "1:MICROSECONDS:EPOCH",
                        "1:SECONDS:EPOCH", "1:SECONDS").alias("s"),
    ).collect()[0]
    assert out["ms"] == ns // 1_000_000
    assert out["h"] == ns // (3_600 * 1_000_000_000)
    assert out["s"] == ns // 1_000_000_000


def test_datetimeconvert_millis_unchanged(spark):
    ms = 1_700_000_000_123
    out = spark.range(1).select(F.lit(ms).alias("v")).select(
        datetimeconvert("v", "1:MILLISECONDS:EPOCH",
                        "1:MILLISECONDS:EPOCH", "15:MINUTES").alias("b")
    ).collect()[0]
    assert out["b"] == (ms // 900_000) * 900_000


# ---------------------------------------------------------------------------
# PQL unary minus
# ---------------------------------------------------------------------------

def test_pql_unary_minus_parses():
    q = parse_pql("SELECT l_quantity-1 FROM lineitem")
    assert q.select[0][0] == Func("sub", (parse_pql(
        "SELECT l_quantity FROM lineitem").select[0][0], Lit(1)))
    q2 = parse_pql("SELECT 5-3 FROM lineitem")
    assert q2.select[0][0] == Func("sub", (Lit(5), Lit(3)))
    q3 = parse_pql("SELECT -2 FROM lineitem")
    assert q3.select[0][0] == Lit(-2)
    q4 = parse_pql("SELECT l_orderkey FROM lineitem WHERE l_quantity > -1.5")
    assert q4.where is not None


def test_pql_unary_minus_executes(spark):
    df = PQLEngine(spark, SF_DIR).dataframe(
        "SELECT l_quantity-1 FROM lineitem WHERE l_quantity > -1 LIMIT 5")
    assert df.count() == 5


# ---------------------------------------------------------------------------
# Avro stream-decode seam is gated, not broken
# ---------------------------------------------------------------------------

def test_decode_avro_stream_gate(spark):
    import pytest as _pytest

    from realtime_olap_spark.streaming import decode_avro_stream
    src = spark.createDataFrame([(bytearray(b"x"),)], "value binary")
    schema = '{"type":"record","name":"r","fields":[{"name":"a","type":"long"}]}'
    try:
        out = decode_avro_stream(src, schema)
        assert out.columns == ["a"]  # jar present: decode graph builds
    except NotImplementedError:
        _pytest.xfail("spark-avro jar absent in this environment (gated)")


# ---------------------------------------------------------------------------
# execute(): bounded per-function trim computed in Spark
# ---------------------------------------------------------------------------

def test_execute_grouped_trim_is_bounded_topn(spark):
    q = parse_pql("SELECT l_returnflag, count(*), sum(l_quantity) "
                  "FROM lineitem GROUP BY l_returnflag TOP 2")
    src = Catalog(spark, SF_DIR).table("lineitem")
    u, key_cols, fn_cols, n = grouped_topn_frame(q, src)
    rows = u.collect()
    assert len(rows) <= n * len(fn_cols)  # never the full group set
    plan = u._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# Arrow-vectorized IVF assignment is bit-identical to the JVM fold
# ---------------------------------------------------------------------------

def test_ivf_assign_norm_bit_identical_to_fold(spark):
    """ivf_assign_norm accumulates dim-by-dim (vectorized across rows), so
    cell ids AND norms must equal the interpreted fold path bit-for-bit —
    this is what keeps the DuckDB oracles valid on the vectorized path."""
    from realtime_olap_spark.operators.dedup import dot
    from realtime_olap_spark.operators.similarity import (ivf_assign,
                                                          ivf_assign_norm)
    from realtime_olap_spark.suite.similarity import CENTROIDS

    e = Catalog(spark, SF_DIR).table("embeddings")
    both = e.select(
        ivf_assign(F.col("embedding"), CENTROIDS).alias("c_fold"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("n_fold"),
        ivf_assign_norm("embedding", CENTROIDS).alias("s"))
    assert both.where((F.col("c_fold") != F.col("s.cell"))
                      | (F.col("n_fold") != F.col("s.nrm"))).count() == 0


def test_trained_centroids_balance_cells(spark):
    """The baked k-means centroids must actually spread the corpus (the r1
    seeded-Gaussian centroids collapsed most rows into cell 0, making the
    near-dup blocking quadratic in one hot cell)."""
    from realtime_olap_spark.operators.similarity import ivf_assign_norm
    from realtime_olap_spark.suite.similarity import CENTROIDS

    e = Catalog(spark, SF_DIR).table("embeddings")
    sizes = (e.select(ivf_assign_norm("embedding", CENTROIDS)["cell"].alias("c"))
             .groupBy("c").count().collect())
    total = sum(r["count"] for r in sizes)
    assert len(sizes) == len(CENTROIDS)  # every cell populated
    assert max(r["count"] for r in sizes) < 0.5 * total  # no dominant cell


def test_server_concurrent_queries(spark):
    """The broker handles concurrent POST /query (ThreadingHTTPServer +
    Spark's thread-safe job submission): N parallel clients all get
    consistent BrokerResponse JSON."""
    import json as _json
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from realtime_olap_spark.server import PQLServer

    srv = PQLServer(spark, SF_DIR).start()
    try:
        def ask(i):
            body = _json.dumps({"pql":
                "SELECT count(*), sum(l_quantity) FROM lineitem "
                f"WHERE l_linenumber = {1 + i % 7}"}).encode()
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/query", data=body,
                headers={"Content-Type": "application/json"})
            with urllib.request.urlopen(req, timeout=120) as r:
                return _json.loads(r.read())

        with ThreadPoolExecutor(max_workers=8) as ex:
            got = list(ex.map(ask, range(16)))
        assert all(r["exceptions"] == [] for r in got)
        # same predicate -> same result regardless of interleaving
        by_ln = {}
        for i, r in enumerate(got):
            key = 1 + i % 7
            v = _json.dumps(r["aggregationResults"], sort_keys=True)
            assert by_ln.setdefault(key, v) == v
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# Set operations beyond the registered intersect: UNION / EXCEPT
# ---------------------------------------------------------------------------

def test_setops_union_except_match_duckdb(spark, duck):
    """Completes the §2.7 extension family next to ext_setop_intersect:
    UNION (distinct) and EXCEPT over the same shuffled key."""
    from tests.conftest import assert_matches_oracle

    o = Catalog(spark, SF_DIR).table("orders")
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    p = o.where(F.col("o_orderstatus") == "P").select("o_custkey")
    con = duck(SF_DIR)
    assert_matches_oracle(
        f.union(p).distinct().orderBy("o_custkey"), con, """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""", name="union")
    assert_matches_oracle(
        f.exceptAll(p).orderBy("o_custkey"), con, """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""", name="except_all")


# ---------------------------------------------------------------------------
# TIMECONVERT property: TimeUnit-correct for arbitrary epochs
# ---------------------------------------------------------------------------

def test_timeconvert_property_vs_integer_arithmetic(spark):
    """Widening multiplies exactly; narrowing floor-divides — for random
    epochs and every unit pair (hypothesis over one Spark job)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from realtime_olap_spark.functions import timeconvert

    UNITS = {"NANOSECONDS": 1, "MICROSECONDS": 10**3, "MILLISECONDS": 10**6,
             "SECONDS": 10**9, "MINUTES": 60 * 10**9, "HOURS": 3600 * 10**9,
             "DAYS": 86400 * 10**9}

    cases = []

    @settings(max_examples=40, deadline=None)
    @given(st.integers(min_value=0, max_value=2**62),
           st.sampled_from(sorted(UNITS)), st.sampled_from(sorted(UNITS)))
    def collect(instant_ns, fu, tu):
        # real epoch INSTANTS: the value in the source unit is the instant
        # floored to that unit, so widening never exceeds the long range
        # (same domain contract as java TimeUnit epochs)
        v = instant_ns // UNITS[fu]
        want = v * (UNITS[fu] // UNITS[tu]) if UNITS[fu] >= UNITS[tu] \
            else v // (UNITS[tu] // UNITS[fu])
        cases.append((v, fu, tu, want))

    collect()
    df = spark.createDataFrame(cases, "v long, fu string, tu string, want long")
    exprs = [F.when((F.col("fu") == fu) & (F.col("tu") == tu),
                    timeconvert("v", fu, tu))
             for fu in UNITS for tu in UNITS]
    got = df.withColumn("got", F.coalesce(*exprs))
    assert got.where(F.col("got") != F.col("want")).count() == 0


# ---------------------------------------------------------------------------
# PQL negative paths: parse/compile errors are clear, not stack-bombs
# ---------------------------------------------------------------------------

def test_pql_error_paths(spark):
    import pytest as _pytest

    eng = PQLEngine(spark, SF_DIR)
    with _pytest.raises(Exception, match="(?i)expected|parse|unexpected"):
        parse_pql("SELECT FROM lineitem")           # missing select list
    with _pytest.raises(Exception, match="(?i)unknown (aggregation|transform)"):
        eng.dataframe("SELECT stddev(l_quantity) FROM lineitem "
                      "GROUP BY l_returnflag")       # not in the closed set
    with _pytest.raises(Exception):
        eng.dataframe("SELECT no_such_col FROM lineitem LIMIT 1")
