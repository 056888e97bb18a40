"""DSIR-style importance resampling — python twin of the scoring fold,
distribution-shift direction, neutral-model identity, determinism, and
the zero-shuffle scoring plan."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators.importance import (bucket_counts,
                                                      dsir_resample,
                                                      gram_buckets,
                                                      importance_weights,
                                                      log_ratio_lut)
from tests.conftest import SF_DIR

B = 1024


def _docs(spark):
    return (Catalog(spark, SF_DIR).table("documents")
            .select("doc_id", "text", "source"))


@pytest.fixture(scope="module")
def split(spark):
    """Target = one source's docs (a 'high-quality' slice), raw = the
    whole corpus — the DSIR setting, on real testdata."""
    df = _docs(spark)
    target_src = df.select("source").orderBy("source").first()["source"]
    return df, df.where(F.col("source") == target_src), target_src


def test_weights_match_python_twin(spark, split):
    """The fold equals a driver-side replay: same buckets (fetched from
    the same Spark expression), same LUT values, same left-to-right
    summation order — tolerance only for the final compare."""
    df, target, _ = split
    lut = log_ratio_lut(bucket_counts(target, "text", B),
                        bucket_counts(df, "text", B), B)
    got = (importance_weights(df, "doc_id", "text", lut)
           .select("doc_id", "log_weight",
                   gram_buckets("text", B).alias("bks"))
           .orderBy("doc_id").limit(40).collect())
    for r in got:
        want = 0.0
        for bk in r["bks"]:
            want = want + lut[bk]
        assert abs(r["log_weight"] - want) <= 1e-9 * max(1.0, abs(want))


def test_neutral_model_gives_zero_weights(spark, split):
    """target == source ⇒ every LUT entry is exactly 0 ⇒ every doc
    weight is exactly 0 (the fold adds zeros)."""
    df, _, _ = split
    counts = bucket_counts(df, "text", B)
    lut = log_ratio_lut(counts, counts, B)
    assert all(x == 0.0 for x in lut)
    out = importance_weights(df.limit(50), "doc_id", "text", lut)
    assert all(r["log_weight"] == 0.0 for r in out.collect())


def test_shift_direction(spark, split):
    """Docs FROM the target slice must average a higher importance
    weight than the rest — the defining property of the estimator."""
    df, target, target_src = split
    lut = log_ratio_lut(bucket_counts(target, "text", B),
                        bucket_counts(df, "text", B), B)
    means = {r["grp"]: r["m"]
             for r in (importance_weights(df, "doc_id", "text", lut)
                       .groupBy((F.col("source") == target_src)
                                .alias("grp"))
                       .agg(F.avg("log_weight").alias("m"))).collect()}
    assert means[True] > means[False]


def test_empty_doc_scores_zero_not_null(spark):
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "a b")],
                               ["doc_id", "text"])
    lut = [0.5] * B
    out = {r["doc_id"]: r["log_weight"]
           for r in importance_weights(df, "doc_id", "text",
                                       lut).collect()}
    assert out[1] == 0.0 and out[2] == 0.0
    assert abs(out[3] - 0.5 * 3) < 1e-12  # 2 unigrams + 1 bigram


def test_resample_deterministic_and_weight_sensitive(spark, split):
    df, target, _ = split
    lut = log_ratio_lut(bucket_counts(target, "text", B),
                        bucket_counts(df, "text", B), B)
    scored = importance_weights(df, "doc_id", "text", lut)
    a = [r["doc_id"] for r in dsir_resample(scored, "doc_id", 25,
                                            seed=7).collect()]
    b = [r["doc_id"] for r in dsir_resample(scored, "doc_id", 25,
                                            seed=7).collect()]
    c = [r["doc_id"] for r in dsir_resample(scored, "doc_id", 25,
                                            seed=8).collect()]
    assert a == b
    assert a != c
    # heavily-weighted (target-like) docs must be overrepresented vs a
    # uniform draw: weight the target slice up by construction
    srcs = {r["doc_id"]: r["source"] for r in df.collect()}
    target_src = split[2]
    frac_sel = sum(srcs[i] == target_src for i in a) / len(a)
    frac_pop = sum(v == target_src for v in srcs.values()) / len(srcs)
    assert frac_sel > frac_pop


def test_lut_smoothing_finite_everywhere(spark, split):
    df, target, _ = split
    lut = log_ratio_lut(bucket_counts(target, "text", B),
                        bucket_counts(df, "text", B), B)
    assert len(lut) == B
    assert all(math.isfinite(x) for x in lut)


def test_scoring_plan_has_no_shuffle_no_python(spark, split):
    df, target, _ = split
    lut = log_ratio_lut(bucket_counts(target, "text", B),
                        bucket_counts(df, "text", B), B)
    plan = (importance_weights(df, "doc_id", "text", lut)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
