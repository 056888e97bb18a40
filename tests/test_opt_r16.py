"""Round-16 optimization pins: every entry proves an optimized path is
value-identical to the shape it replaced (and, where the claim is a plan
shape, asserts the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_olap_spark.operators.groupby import Agg, group_by_agg

MV_AGGS = [
    Agg("count", None, "rows_cnt"),
    Agg("countmv", "embedding", "countmv"),
    Agg("minmv", "embedding", "minmv"),
    Agg("maxmv", "embedding", "maxmv"),
    Agg("summv", "embedding", "summv"),
    Agg("avgmv", "embedding", "avgmv"),
    Agg("minmaxrangemv", "embedding", "rangemv"),
    Agg("percentile50mv", "embedding", "p50"),
    Agg("percentile90mv", "embedding", "p90"),
]


@pytest.fixture(scope="module")
def mv_edge_df(spark):
    rows = [
        (1, [0.5, -1.25, 3.0]),
        (2, []),           # empty array: counts 0 elements, keeps the row
        (3, None),         # NULL array
        (4, [None, 2.0]),  # NULL element: decimal fold row-poisons
        (5, [1e9, -5.0]),  # |x| > fx clamp: routes SUMMV/AVGMV to decimal
        (6, [0.125]),
    ]
    return spark.createDataFrame(rows, "id long, embedding array<double>")


def _vals(df):
    return df.collect()[0].asDict()


def test_fused_scalar_mv_matches_split_paths(mv_edge_df):
    """The fused single-pass (folds recomputed element-wise inside the
    exploded aggregate) must equal the split fold-aggregate x element-
    aggregate construction bit for bit — including the NULL-array /
    NULL-element / decimal-risk edge cases."""
    fused = _vals(group_by_agg(mv_edge_df, [], MV_AGGS))
    split = {**_vals(group_by_agg(mv_edge_df, [], MV_AGGS[:7])),
             **_vals(group_by_agg(mv_edge_df, [], MV_AGGS[7:]))}
    assert fused == split
    # fx branch (no large-magnitude rows): same equality
    small = mv_edge_df.where("id != 5")
    fused2 = _vals(group_by_agg(small, [], MV_AGGS))
    split2 = {**_vals(group_by_agg(small, [], MV_AGGS[:7])),
              **_vals(group_by_agg(small, [], MV_AGGS[7:]))}
    assert fused2 == split2


def test_fused_scalar_mv_single_scan_plan(mv_edge_df):
    """The fused path is ONE aggregate over ONE Generate — no cross join
    of two scans (the shape it replaced)."""
    plan = (group_by_agg(mv_edge_df, [], MV_AGGS)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") == 1
    # The per-row risk/has-null folds must sit BELOW the Generate (the
    # generator's child projection), not above it where they would be
    # re-evaluated once per exploded ELEMENT (r16: 0.94 s -> 0.68 s
    # interleaved A/B at sf0.1 on the real MV column).
    above_generate = plan.split("Generate", 1)[0]
    assert "array_max" not in above_generate
    assert "exists" not in above_generate


def test_pql_scalar_mv_mix_takes_the_fused_plan(spark):
    """PQL renders the group-by statement ``group_by_agg`` runs, so its
    scalar MV mix gets the same fused plan — one Generate, no cross join
    of two scans — and the same row."""
    from realtime_olap_spark.catalog import Catalog
    from realtime_olap_spark.plans.pql import PQLEngine
    from tests.conftest import SF_DIR

    pql = PQLEngine(spark, SF_DIR).dataframe(
        "SELECT count(*), countmv(embedding), summv(embedding), "
        "percentile50mv(embedding) FROM embeddings")
    plan = pql._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") == 1
    lib = group_by_agg(Catalog(spark, SF_DIR).table("embeddings"), [], [
        Agg("count", None, "count_star"),
        Agg("countmv", "embedding", "countmv_embedding"),
        Agg("summv", "embedding", "summv_embedding"),
        Agg("percentile50mv", "embedding", "percentile50mv_embedding")])
    assert pql.columns == lib.columns
    assert _vals(pql) == _vals(lib)


def test_fused_path_not_taken_with_keys(spark):
    """Grouped mixed MV queries keep the join-back path (the fusion is
    scalar-only); results unchanged by the routing guard."""
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0]), (3, "b", [])],
        "id long, k string, embedding array<double>")
    from realtime_olap_spark.operators.groupby import Key
    out = group_by_agg(df, [Key("k", "k")], [
        Agg("countmv", "embedding", "countmv"),
        Agg("percentile50mv", "embedding", "p50"),
    ]).orderBy("k").collect()
    assert [(r["k"], r["countmv"], r["p50"]) for r in out] == [
        ("a", 3, 2.0), ("b", 0, None)]


# ---------------------------------------------------------------------------
# litarray: single-node literal arrays (from_json of a JSON literal)
# replacing N-child CreateArray trees in the LUT/bitmap/codebook builders
# (importance, classifier, similarity._lit_vec, cms, bloom, pca, bpe).
# ---------------------------------------------------------------------------

def test_lit_doubles_bit_equal_to_cast_array(spark):
    """from_json parsing (Jackson Double.parseDouble) must reproduce the
    exact bits of the CAST('repr' AS DOUBLE) path it replaced — including
    subnormals, negative zero, and values needing all 17 digits."""
    import math
    import struct
    from realtime_olap_spark.litarray import lit_doubles
    vals = [0.1, -0.0, 5e-324, 1.7976931348623157e308, 2.0 / 3.0,
            -1.2345678901234567e-100, math.pi, 1e16 + 2.0]
    cast_arr = F.expr("array(" + ",".join(
        f"CAST('{v!r}' AS DOUBLE)" for v in vals) + ")")
    row = spark.range(1).select(lit_doubles(vals).alias("a"),
                                cast_arr.alias("b")).collect()[0]
    packed = [struct.pack("d", v) for v in vals]
    assert [struct.pack("d", v) for v in row["a"]] == packed
    assert [struct.pack("d", v) for v in row["b"]] == packed


def test_lit_doubles_nonfinite_fallback(spark):
    """JSON has no Infinity/NaN tokens: non-finite inputs take the
    CreateArray fallback and still evaluate correctly."""
    import math
    from realtime_olap_spark.litarray import lit_doubles
    vals = [1.0, float("inf"), float("-inf"), float("nan")]
    got = spark.range(1).select(lit_doubles(vals).alias("a")).collect()[0]["a"]
    assert got[0] == 1.0 and got[1] == math.inf and got[2] == -math.inf
    assert math.isnan(got[3])


def test_lit_strings_exact_roundtrip(spark):
    """JSON escaping must be exact for quotes, backslashes, newlines and
    non-ASCII (the BPE vocab path's content)."""
    from realtime_olap_spark.litarray import lit_strings
    vals = ["it's", "a\\b", 'q"t', "nl\n", "émoji✓", ""]
    got = spark.range(1).select(lit_strings(vals).alias("a")).collect()[0]["a"]
    assert got == vals


def test_lit_arrays_constant_fold(spark):
    """The from_json node must be constant-folded by the optimizer into a
    plain array Literal — per-row execution identical to CreateArray (no
    JSON parse at runtime)."""
    from realtime_olap_spark.litarray import lit_doubles, lit_longs
    df = spark.range(3).select(
        F.element_at(lit_doubles([1.5, 2.5]), 1).alias("d"),
        F.element_at(lit_longs([7, 8, 9]), 2).alias("l"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized
    # here even the element_at folded to scalars; a non-foldable index
    # keeps the array, which must appear as a plain literal
    df2 = spark.range(3).select(F.element_at(
        lit_longs([7, 8, 9]), (F.col("id") + 1).cast("int")).alias("l"))
    opt2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt2 and "[7,8,9]" in opt2
    assert df.collect()[0].asDict() == {"d": 1.5, "l": 8}
    assert [r["l"] for r in df2.orderBy("id").collect()] == [7, 8, 9]
