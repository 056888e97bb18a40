"""Unit tests for the PQL front end: parser IR shape (Pql2CompilerTest.java
analog), defaults, and response shaping."""

from __future__ import annotations

import pytest

from realtime_olap_spark.plans.pql import (BoolOp, Between, Cmp, Func, Ident,
                                           In, Lit, PQLEngine, RegexpLike,
                                           parse_pql)
from tests.conftest import SF_DIR, SF_DIR_ORACLE


def test_parse_selection_defaults():
    q = parse_pql("SELECT a, b FROM t")
    assert q.table == "t"
    assert q.select == [(Ident("a"), None), (Ident("b"), None)]
    assert q.limit is None and q.top is None and not q.is_aggregation


def test_parse_star():
    q = parse_pql("SELECT * FROM t LIMIT 5")
    assert q.select == [(Ident("*"), None)] and q.limit == (0, 5)


def test_parse_limit_offset():
    q = parse_pql("SELECT a FROM t LIMIT 20, 30")
    assert q.limit == (20, 30)


def test_parse_infix_compiles_to_functions():
    q = parse_pql("SELECT a + b * 2 FROM t")
    assert q.select[0][0] == Func("add", (Ident("a"), Func("mult", (Ident("b"), Lit(2)))))


def test_parse_filter_tree():
    q = parse_pql("SELECT a FROM t WHERE (x = 1 AND y <> 'z') OR w BETWEEN 2 AND 3")
    p = q.where
    assert isinstance(p, BoolOp) and p.op == "OR"
    assert isinstance(p.operands[0], BoolOp) and p.operands[0].op == "AND"
    assert p.operands[0].operands[0] == Cmp("=", Ident("x"), Lit(1))
    assert p.operands[1] == Between(Ident("w"), Lit(2), Lit(3))


def test_parse_in_notin_regexp():
    q = parse_pql("SELECT a FROM t WHERE a IN (1, 2) AND b NOT IN ('x') "
                  "AND REGEXP_LIKE(c, '^r.*')")
    ops = q.where.operands
    assert ops[0] == In(Ident("a"), (1, 2))
    assert ops[1] == In(Ident("b"), ("x",), negated=True)
    assert ops[2] == RegexpLike(Ident("c"), "^r.*")


def test_parse_aggregation_with_top():
    q = parse_pql("SELECT flag, sum(qty) FROM t GROUP BY flag TOP 7")
    assert q.is_aggregation and q.top == 7
    assert q.group_by == [Ident("flag")]


def test_parse_percentile_names():
    q = parse_pql("SELECT percentile95(x), percentiletdigest50(y) FROM t")
    assert q.is_aggregation


def test_parse_escaped_quote():
    q = parse_pql("SELECT a FROM t WHERE b = 'it''s'")
    assert q.where == Cmp("=", Ident("a" if False else "b"), Lit("it's"))


def test_parse_error_is_clean():
    with pytest.raises(ValueError, match="PQL"):
        parse_pql("SELECT FROM t")
    with pytest.raises(ValueError, match="PQL"):
        parse_pql("SELECT a FROM t WHERE ???")


def test_execute_selection_default_limit(spark):
    eng = PQLEngine(spark, SF_DIR)
    res = eng.execute("SELECT l_orderkey FROM lineitem")
    assert len(res["selectionResults"]["results"]) == 10  # request.thrift:130-131


def test_execute_scalar_aggregation_response(spark):
    eng = PQLEngine(spark, SF_DIR)
    res = eng.execute("SELECT count(*) FROM lineitem")
    assert res["aggregationResults"][0]["function"] == "count_star"
    assert res["aggregationResults"][0]["value"] == 6000


def test_execute_groupby_response_shape(spark):
    eng = PQLEngine(spark, SF_DIR)
    res = eng.execute("SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag")
    agg = res["aggregationResults"][0]
    assert agg["groupByColumns"] == ["l_returnflag"]
    assert 1 <= len(agg["groupByResult"]) <= 10
    # TOP ordering: values descending (reference orders by aggregate desc)
    vals = [g["value"] for g in agg["groupByResult"]]
    assert vals == sorted(vals, reverse=True)


def test_execute_valuein_and_timeconvert(spark):
    eng = PQLEngine(spark, SF_DIR)
    df = eng.dataframe(
        "SELECT timeconvert(l_partkey, 'DAYS', 'HOURS') FROM lineitem LIMIT 3")
    assert df.collect()[0][0] % 24 == 0


def test_execute_groupby_topn_is_per_function(spark):
    """Reference TOP semantics (docs/pql_examples.rst:239-258): every
    aggregation function returns its OWN top-n groups ordered by that
    function's value desc — the lists can rank groups differently."""
    from realtime_olap_spark.plans.pql import PQLEngine
    from tests.conftest import SF_DIR

    out = PQLEngine(spark, SF_DIR).execute(
        "SELECT l_linenumber, sum(l_quantity), min(l_extendedprice) "
        "FROM lineitem GROUP BY l_linenumber TOP 3")
    results = {r["function"]: r["groupByResult"] for r in out["aggregationResults"]}
    assert set(results) == {"sum_l_quantity", "min_l_extendedprice"}
    for fn, groups in results.items():
        assert len(groups) == 3
        vals = [g["value"] for g in groups]
        assert vals == sorted(vals, reverse=True)


def test_execute_reports_scan_stats(spark):
    """BrokerResponse-style stats come from real executed-plan metrics."""
    from realtime_olap_spark.plans.pql import PQLEngine
    from tests.conftest import SF_DIR

    out = PQLEngine(spark, SF_DIR).execute(
        "SELECT count(*) FROM lineitem WHERE l_returnflag = 'R'")
    assert out["totalDocs"] and out["totalDocs"] > 0
    assert out["numDocsScanned"] is not None
    assert out["numDocsScanned"] <= out["totalDocs"]
    # the filter actually filtered
    assert out["numDocsScanned"] < out["totalDocs"]


def test_execute_reports_full_broker_stat_block(spark):
    """The complete BrokerResponseNative stat block on a FILTERED GROUP-BY
    (BaseBrokerRequestHandler.java:114 fills all of these): entry counts
    derive from filter input rows x predicate columns and docs x ReadSchema
    width; segments = parquet files post pruning; servers = executors."""
    from realtime_olap_spark.plans.pql import PQLEngine
    from tests.conftest import SF_DIR

    out = PQLEngine(spark, SF_DIR).execute(
        "SELECT sum(l_quantity) FROM lineitem WHERE l_returnflag = 'R' "
        "GROUP BY l_linestatus TOP 5")
    total, scanned = out["totalDocs"], out["numDocsScanned"]
    assert total > 0 and 0 < scanned < total
    # filter phase read >= one column value per input doc
    assert out["numEntriesScannedInFilter"] >= total
    # post-filter entries = surviving docs x pruned-scan width (>0 cols)
    assert out["numEntriesScannedPostFilter"] >= scanned
    assert out["numEntriesScannedPostFilter"] % scanned == 0
    width = out["numEntriesScannedPostFilter"] // scanned
    assert 1 <= width <= 4  # column pruning kept the scan narrow
    assert out["numSegmentsQueried"] >= 1
    assert out["numSegmentsProcessed"] == out["numSegmentsQueried"]
    assert out["numSegmentsMatched"] == out["numSegmentsProcessed"]
    assert out["numServersQueried"] == out["numServersResponded"] >= 1
    assert out["totalTimeMs"] >= 0


def test_empty_result_stats_are_ints(spark):
    """A filter that matches no row lets AQE replace the executed plan
    with an empty relation, leaving no scan for ``plan_scan_stats`` to
    read: the queried segments then come from their records, and nothing
    was scanned or matched. Every stat stays an int."""
    eng = PQLEngine(spark, SF_DIR)
    out = eng.execute("SELECT lang, count(*) FROM documents "
                      "WHERE REGEXP_LIKE(source, '^zzz$') GROUP BY lang")
    assert out["aggregationResults"][0]["groupByResult"] == []
    for k, v in out.items():
        if k != "aggregationResults":
            assert isinstance(v, int), (k, v)
    src = eng.catalog.table("documents")
    assert out["totalDocs"] == src.count()
    assert out["numSegmentsQueried"] == len(src.inputFiles())
    assert out["numDocsScanned"] == out["numSegmentsMatched"] == 0
    assert out["numEntriesScannedPostFilter"] == 0


@pytest.mark.parametrize("sf_dir, table, pql", [
    # the row-group stats rule out every row group: the scan reads no row
    (SF_DIR_ORACLE, "lineitem",
     "SELECT count(*) FROM lineitem WHERE l_quantity > 1000"),
    # nothing matched: AQE leaves no scan in the executed plan
    (SF_DIR, "documents", "SELECT lang, count(*) FROM documents "
     "WHERE REGEXP_LIKE(source, '^zzz$') GROUP BY lang"),
])
def test_total_docs_are_the_queried_segments(spark, sf_dir, table, pql):
    """A Spark-path query whose scans read no row still reports the
    queried segments, from their records, as Pinot does: ``totalDocs`` is
    their row total (60,000 for the lineitem query at sf0.01), and every
    segment counts as queried and processed, none as matched."""
    eng = PQLEngine(spark, sf_dir)
    out = eng.execute(pql)
    src = eng.catalog.table(table)
    n_segs = len(src.inputFiles())
    assert out["totalDocs"] == src.count() > 0
    assert out["numSegmentsQueried"] == out["numSegmentsProcessed"] == n_segs
    assert out["numDocsScanned"] == out["numSegmentsMatched"] == 0


def test_parse_is_null_rejected_with_pinot_shape():
    """IS [NOT] NULL parses (PQL2.g4 isClause) then rejects with the
    unsupported-operation message — the IR has no null predicate
    (request.thrift:25-34) — not a token-level syntax error."""
    import pytest

    for pql, frag in [
        ("SELECT count(*) FROM events WHERE props IS NULL", "IS NULL"),
        ("SELECT count(*) FROM events WHERE props IS NOT NULL", "IS NOT NULL"),
    ]:
        with pytest.raises(ValueError, match="Unsupported filter operator"):
            parse_pql(pql)
        with pytest.raises(ValueError, match=frag):
            parse_pql(pql)
    # a malformed IS clause is still a parse error, not the rejection
    with pytest.raises(ValueError, match="expected"):
        parse_pql("SELECT count(*) FROM events WHERE props IS 3")


def test_grouped_stats_count_the_scan_once(spark):
    """The per-function trim branches share one scan, so the Pinot stats of
    a grouped query do not grow with its number of aggregation functions:
    the 1-, 2- and 4-function forms report the table's own row and file
    counts."""
    eng = PQLEngine(spark, SF_DIR)
    src = eng.catalog.table("documents")
    n_rows, n_files = src.count(), len(src.inputFiles())
    for fns in ("count(*)", "count(*), sum(n_chars)",
                "count(*), sum(n_chars), max(n_chars), min(doc_id)"):
        out = eng.execute(f"SELECT lang, {fns} FROM documents GROUP BY lang")
        assert len(out["aggregationResults"]) == fns.count("(")
        assert out["totalDocs"] == n_rows, fns
        assert out["numDocsScanned"] == n_rows, fns
        assert out["numSegmentsQueried"] == n_files, fns


def test_grouped_trim_reuses_one_scan(spark):
    """The executed plan of a 3-function grouped query scans once: the
    first trim branch runs the scan, partial aggregate and shuffle, the
    other two read a ReusedExchange."""
    from realtime_olap_spark.catalog import Catalog
    from realtime_olap_spark.plans.pql import grouped_topn_frame

    q = parse_pql("SELECT event_type, count(*), sum(value), max(value) "
                  "FROM events GROUP BY event_type")
    u, _, fn_cols, _ = grouped_topn_frame(q, Catalog(spark, SF_DIR)
                                          .table("events"))
    u.collect()
    plan = u._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(fn_cols) == 3
    assert final.count("FileScan") == 1
    assert final.count("ReusedExchange") == 2


def test_compile_is_one_sql_call(spark, monkeypatch):
    """Compiling a PQL query makes exactly one ``spark.sql`` call and no
    DataFrame transformation — selection, scalar, grouped (first-function
    trim), HAVING, element-level MV and the per-function trim frame.
    ``group_by_agg`` runs the same statement with one ``spark.sql`` call —
    keyed direct, keyed element-level, the fused scalar MV mix and an MV
    key — and leaves no temp view behind."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from realtime_olap_spark.catalog import Catalog
    from realtime_olap_spark.operators.groupby import Agg, Key, group_by_agg
    from realtime_olap_spark.plans.pql import compile_pql, grouped_topn_frame

    cat = Catalog(spark, SF_DIR)
    queries = [
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'"
        " ORDER BY o_totalprice DESC, o_orderkey LIMIT 2, 5",
        "SELECT count(*), percentile50(l_quantity), percentile90(l_quantity)"
        " FROM lineitem WHERE l_quantity BETWEEN 5 AND 45",
        "SELECT l_quantity / 10, count(*), sum(l_extendedprice * l_discount)"
        " FROM lineitem GROUP BY l_quantity / 10 HAVING count_star > 10 TOP 3",
        "SELECT label, countmv(embedding), percentile50mv(embedding)"
        " FROM embeddings GROUP BY label",
    ]
    srcs = [cat.table(parse_pql(p).table) for p in queries]
    for p, src in zip(queries, srcs):  # the temp view registers once
        compile_pql(parse_pql(p), src)
    calls = {"sql": 0, "df": 0}
    real_sql = SparkSession.sql

    def counting_sql(self, *a, **k):
        calls["sql"] += 1
        return real_sql(self, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", counting_sql)
    df_cls = type(srcs[0])  # the concrete (classic) DataFrame class
    for name in {n for c in df_cls.__mro__[:-1] for n in vars(c)}:
        fn = getattr(df_cls, name)
        if callable(fn) and not name.startswith("_"):
            def counted(*a, _fn=fn, **k):
                calls["df"] += 1
                return _fn(*a, **k)
            monkeypatch.setattr(df_cls, name, counted)
    for p, src in zip(queries, srcs):
        q = parse_pql(p)
        calls.update(sql=0, df=0)
        compile_pql(q, src)
        assert calls == {"sql": 1, "df": 0}, p
        if q.group_by:
            calls.update(sql=0, df=0)
            grouped_topn_frame(q, src)
            assert calls == {"sql": 1, "df": 0}, p

    orders, emb = cat.table("orders"), cat.table("embeddings")
    part = cat.table("part")
    group_by_aggs = {
        "keyed direct": lambda: group_by_agg(
            orders, [Key("o_orderstatus", "status")],
            [Agg("count", None, "n"), Agg("sum", "o_totalprice", "total"),
             Agg("percentile50", "o_totalprice", "p50"),
             Agg("percentile90", "o_totalprice", "p90")],
            where=F.col("o_totalprice") > 1000),
        "keyed element": lambda: group_by_agg(
            emb, [Key("label", "label")],
            [Agg("countmv", "embedding", "countmv"),
             Agg("percentile50mv", "embedding", "p50")]),
        "fused scalar mv": lambda: group_by_agg(
            emb, [], [Agg("count", None, "n"),
                      Agg("countmv", "embedding", "countmv"),
                      Agg("summv", "embedding", "summv"),
                      Agg("percentile50mv", "embedding", "p50")]),
        "mv key": lambda: group_by_agg(
            part, [Key(F.split("p_name", " "), "word", mv=True)],
            [Agg("count", None, "n")]),
    }
    views = sorted(t.name for t in spark.catalog.listTables())
    for case, run in group_by_aggs.items():
        for _ in range(10):
            calls.update(sql=0)
            run()
            assert calls["sql"] == 1, case
    assert sorted(t.name for t in spark.catalog.listTables()) == views
