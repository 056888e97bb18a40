"""Served queries answered from segment metadata: the per-segment record
(row count, per-column min/max/null count from the parquet footer), the
column-value segment pruner, and the two metadata answers of
``PQLEngine.execute`` — an unfiltered count-only query and a filter that
no segment can match — which run no Spark job and equal the Spark
path's answer."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import (Catalog, SegmentMeta,
                                         segment_columns, table_segments)
from realtime_olap_spark.plans.pql import (PQLEngine, _metadata_response,
                                           _prunes, _spark_response,
                                           parse_pql)
from realtime_olap_spark.streaming import (RealtimeIngest, refresh_segments,
                                           realtime_segments_table)
from tests.conftest import SF_DIR, jobs_in_group
from tests.conftest import response_answer as _answer


def _run(eng: PQLEngine, pql: str, **kw) -> tuple[dict, int]:
    """``execute``'s response and the Spark jobs it started."""
    sc = eng.catalog.spark.sparkContext
    group = f"meta-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, group)
        resp = eng.execute(pql, **kw)
        return resp, jobs_in_group(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spark_answer(eng: PQLEngine, pql: str) -> dict:
    q = parse_pql(pql)
    return _spark_response(q, eng.catalog.table(q.table), time.perf_counter())


@pytest.fixture(scope="module")
def eng(spark):
    e = PQLEngine(spark, SF_DIR)
    e.catalog.table("lineitem")  # staging runs its write jobs here
    return e


PRUNED = [
    "SELECT l_returnflag, sum(l_tax + l_quantity) FROM lineitem "
    "WHERE l_quantity BETWEEN 27.26 AND 5.55 GROUP BY l_returnflag TOP 100",
    "SELECT l_returnflag, count(*) FROM lineitem WHERE l_orderkey < 0 "
    "OR l_returnflag IN ('X', 'Z') GROUP BY l_returnflag HAVING count_star > 1",
    "SELECT * FROM lineitem WHERE l_orderkey > 100000000",
    "SELECT l_orderkey, l_tax * 2 FROM lineitem WHERE l_returnflag = 'Z' "
    "AND l_tax > 0 ORDER BY l_orderkey LIMIT 5",
    "SELECT count(*), count(l_tax) FROM lineitem "
    "WHERE 0 > l_linenumber AND REGEXP_LIKE(l_returnflag, '^R$')",
]


@pytest.mark.parametrize("pql", ["SELECT count(*) FROM lineitem"] + PRUNED)
def test_metadata_answer_runs_no_job(eng, pql):
    spark_answer = _spark_answer(eng, pql)
    resp, jobs = _run(eng, pql)
    assert jobs == 0
    assert _answer(resp) == _answer(spark_answer)
    segs = table_segments(eng.catalog.table("lineitem"))
    assert resp["totalDocs"] == sum(s.rows for s in segs)
    assert resp["numSegmentsQueried"] == len(segs)
    assert resp["numEntriesScannedInFilter"] == 0
    assert resp["numEntriesScannedPostFilter"] == 0
    if "WHERE" in pql:
        assert resp["numDocsScanned"] == resp["numSegmentsMatched"] == 0
    else:
        assert resp["numDocsScanned"] == resp["totalDocs"]
        assert resp["numSegmentsMatched"] == len(segs)


def test_unanswered_queries_run_spark(eng):
    """A filter some segment can match, a scalar function other than
    count, and a filter the pruner does not read all go to Spark."""
    for pql in ["SELECT count(*) FROM lineitem WHERE l_orderkey > 5",
                "SELECT sum(l_tax) FROM lineitem WHERE l_orderkey < 0",
                "SELECT count(*) FROM lineitem WHERE l_orderkey <> 0",
                "SELECT count(*) FROM lineitem HAVING count_star > 1",
                "SELECT l_orderkey FROM lineitem"]:
        q = parse_pql(pql)
        assert _metadata_response(q, eng.catalog.table("lineitem"),
                                  time.perf_counter()) is None, pql


def test_live_table_count_follows_commits(spark, tmp_path):
    """The live table's segments are its committed files: a segment
    committed through ``RealtimeIngest`` and made visible by
    ``refresh_segments`` changes the next ``count(*)``, which runs no
    Spark job and equals the Spark count; a pruned grouped query on the
    live table runs none either."""
    sch = "event_id long, event_type string, value double"
    landing, sink = tmp_path / "landing", str(tmp_path / "sink")
    landing.mkdir()
    name = f"live_{uuid.uuid4().hex[:8]}"
    ingest = RealtimeIngest(spark, str(tmp_path / "ckpt"), sink)
    realtime_segments_table(spark, name, sink, sch)
    eng = PQLEngine(spark, SF_DIR)
    eng.catalog.register_derived(name, lambda: spark.table(name))
    committed = 0
    try:
        for batch, n in enumerate((5, 7)):
            spark.createDataFrame(
                [(batch * 100 + i, "view", float(i)) for i in range(n)],
                sch).write.mode("append").parquet(str(landing))
            ingest.start_append(spark.readStream.schema(sch)
                                .parquet(str(landing))).awaitTermination()
            refresh_segments(spark, name)
            committed += n
            resp, jobs = _run(eng, f"SELECT count(*) FROM {name}")
            assert jobs == 0
            assert resp["aggregationResults"][0]["value"] == committed
            assert spark.table(name).count() == committed
        resp, jobs = _run(eng, f"SELECT event_type, sum(value) FROM {name} "
                               "WHERE event_id BETWEEN 500 AND 600 "
                               "GROUP BY event_type")
        assert jobs == 0
        assert resp["aggregationResults"][0]["groupByResult"] == []
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_live_view_lists_only_committed_segments(spark, tmp_path):
    """A live table made on an empty sink lists the directory; after a
    commit, ``refresh_segments`` re-reads the sink through its commit log,
    so a stray uncommitted parquet file stays invisible to the metadata
    answer and to Spark alike. A second ``realtime_segments_table`` call
    re-points the view, and ``DROP TABLE IF EXISTS`` removes it."""
    sch = "event_id long, event_type string"
    landing, sink = tmp_path / "landing", tmp_path / "sink"
    landing.mkdir()
    sink.mkdir()
    name = f"live_{uuid.uuid4().hex[:8]}"
    realtime_segments_table(spark, name, str(sink), sch)
    assert spark.table(name).count() == 0
    spark.createDataFrame([(i, "view") for i in range(6)], sch) \
        .write.mode("append").parquet(str(landing))
    RealtimeIngest(spark, str(tmp_path / "ckpt"), str(sink)).start_append(
        spark.readStream.schema(sch).parquet(str(landing))
    ).awaitTermination()
    pq.write_table(pa.table({"event_id": pa.array([100, 101], pa.int64()),
                             "event_type": ["stray", "stray"]}),
                   str(sink / "part-stray.parquet"))
    refresh_segments(spark, name)
    eng = PQLEngine(spark, SF_DIR)
    eng.catalog.register_derived(name, lambda: spark.table(name))
    try:
        resp, jobs = _run(eng, f"SELECT count(*) FROM {name}")
        assert jobs == 0
        assert resp["aggregationResults"][0]["value"] == 6
        assert spark.table(name).count() == 6
        other = str(tmp_path / "other")
        spark.createDataFrame([(7, "click")], sch).write.parquet(other)
        realtime_segments_table(spark, name, other, sch)
        assert spark.table(name).collect() == [(7, "click")]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert not spark.catalog.tableExists(name)


def _two_part_table(tmp_path, name: str, *parts: dict) -> str:
    """``name`` as a directory of pyarrow-written part files (multi-file
    tables are served as-is, never restaged)."""
    out = tmp_path / f"{name}.parquet"
    out.mkdir()
    for i, cols in enumerate(parts):
        pq.write_table(pa.table(cols), str(out / f"part-{i}.parquet"))
    return str(tmp_path)


def test_nan_is_never_pruned_away(spark, tmp_path):
    """NaN is absent from a DOUBLE column's parquet min/max, and Spark
    ranks it above every number: a predicate false for NaN may prune
    (``BETWEEN 1000 AND 2000`` is answered 0 from metadata), one true for
    NaN (``> 1000``) keeps the segment."""
    eng = PQLEngine(spark, _two_part_table(
        tmp_path, "lineitem",
        {"l_orderkey": pa.array([1, 2, 3], pa.int64()),
         "l_quantity": pa.array([1.0, float("nan"), 5.0])},
        {"l_orderkey": pa.array([4, 5], pa.int64()),
         "l_quantity": pa.array([2.0, 3.0])}))
    assert "l_quantity" in table_segments(eng.catalog.table("lineitem"))[0] \
        .columns
    pql = "SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1000 AND 2000"
    resp, jobs = _run(eng, pql)
    assert jobs == 0 and resp["aggregationResults"][0]["value"] == 0
    assert _answer(resp) == _answer(_spark_answer(eng, pql))
    for pql in ("SELECT count(*) FROM lineitem WHERE l_quantity > 1000",
                "SELECT count(*) FROM lineitem WHERE l_quantity >= 1000"):
        q = parse_pql(pql)
        assert _metadata_response(q, eng.catalog.table("lineitem"),
                                  time.perf_counter()) is None
        assert _run(eng, pql)[1] > 0


def test_literals_compare_in_sparks_type(spark, tmp_path):
    """An integer column compares with an integer literal as integers and
    with a double literal as doubles: 2^53 + 1 is above the integer 2^53,
    but not above the double 2^53, which it rounds to."""
    big = 2 ** 53 + 1
    eng = PQLEngine(spark, _two_part_table(
        tmp_path, "orders",
        {"o_orderkey": pa.array([big], pa.int64())},
        {"o_orderkey": pa.array([big], pa.int64())}))
    as_int = "SELECT count(*) FROM orders WHERE o_orderkey > 9007199254740992"
    as_double = ("SELECT count(*) FROM orders "
                 "WHERE o_orderkey > 9007199254740992.0")
    resp, jobs = _run(eng, as_double)
    assert jobs == 0 and resp["aggregationResults"][0]["value"] == 0
    assert _answer(_spark_answer(eng, as_double)) == _answer(resp)
    resp, jobs = _run(eng, as_int)
    assert jobs > 0 and resp["aggregationResults"][0]["value"] == 2


def test_no_pruning_across_types():
    """Only integer columns with numeric literals, UTF-8 strings with
    string literals, and FLOAT/DOUBLE with NaN-false predicates prune;
    every other pairing keeps the segment."""
    from pyspark.sql.types import (DateType, DoubleType, FloatType,
                                   IntegerType, StringType, TimestampType)

    seg = SegmentMeta(10, {"i": (1, 5, 0), "s": ("b", "d", 0),
                           "d": (1.0, 5.0, 0), "f": (1.0, 5.0, 0),
                           "t": (1, 5, 0), "dt": (1, 5, 0)})
    cols = {"i": IntegerType(), "s": StringType(), "d": DoubleType(),
            "f": FloatType(), "t": TimestampType(), "dt": DateType()}

    def prunes(where: str) -> bool:
        return _prunes(parse_pql(f"SELECT * FROM x WHERE {where}").where,
                       seg, cols)

    for where in ["i > 5", "i = 5.5", "i BETWEEN 5.5 AND 6", "i IN (0, 9)",
                  "6 <= i", "s = 'a'", "s > 'd'", "s IN ('a', 'e')",
                  "d < 1", "d = 6", "d BETWEEN 7 AND 8", "d IN (0.5, 9)",
                  "f <= 0.5", "i > 5 AND s = 'c'", "i > 5 OR s = 'a'",
                  "i BETWEEN 4 AND 2"]:
        assert prunes(where), where
    for where in ["i > 4", "i = 5.0", "i <> 9", "i NOT IN (2)",
                  "s = 1", "i = 'x'", "s = 'c'", "d > 6", "d >= 6",
                  "d <> 6", "f < 0", "t > 9", "dt = 9", "i + 1 > 9",
                  "REGEXP_LIKE(s, '^a$')", "i > 5 OR s = 'c'",
                  "missing = 1"]:
        assert not prunes(where), where


def test_no_pruning_through_derived_columns(spark, tmp_path):
    """A column qualifies only if the table frame passes the file's
    column through unchanged: a re-derived ``x`` under the file's name
    is not pruned by the file's statistics, and a filtered callable or
    a derived table has no segment record at all."""
    sf = _two_part_table(tmp_path, "orders",
                         {"x": pa.array([1, 2], pa.int64())},
                         {"x": pa.array([3, 5], pa.int64())})
    path = os.path.join(sf, "orders.parquet")
    eng = PQLEngine(spark, sf)
    cat = eng.catalog
    cat.register_derived("shifted", lambda: spark.read.parquet(path)
                         .withColumn("x", F.col("x") + 1000))
    cat.register_derived("filtered",
                         lambda: spark.read.parquet(path).where("x > 1"))
    assert segment_columns(cat.table("shifted")) == {}
    resp = eng.execute("SELECT count(*) FROM shifted WHERE x >= 1001")
    assert resp["aggregationResults"][0]["value"] == 4
    assert segment_columns(cat.table("filtered")) is None
    assert table_segments(cat.table("filtered")) is None
    resp, jobs = _run(eng, "SELECT count(*) FROM filtered")
    assert jobs > 0 and resp["aggregationResults"][0]["value"] == 3


def test_derived_table_never_takes_the_path(eng):
    funnel = eng.catalog.table("funnel")
    assert segment_columns(funnel) is None
    q = parse_pql("SELECT count(*) FROM funnel")
    assert _metadata_response(q, funnel, time.perf_counter()) is None


def test_events_ts_is_re_derived_unstaged(spark, tmp_path, monkeypatch):
    """Read unstaged, ``events.ts`` is re-derived from the file's column
    (the µs normalization), so it has no pruning entry; the columns the
    frame passes through do."""
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_STAGE", "0")
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), tmp_path)
    cols = segment_columns(Catalog(spark, str(tmp_path)).table("events"))
    assert "event_type" in cols and "ts" not in cols and "ts_ns" not in cols
