"""Quality classifier: numpy-twin GD equivalence, separation on held-out
docs, loss monotonicity, zero-shuffle scoring plan, zero-gram contract."""

from __future__ import annotations

import math

import numpy as np
import pytest

from realtime_olap_spark.operators import classifier as CL
from realtime_olap_spark.operators.importance import gram_buckets

POS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a well written article about science history and careful analysis",
    "researchers published new findings about climate models this year",
    "the museum opened a new exhibit featuring renaissance paintings",
    "students learn mathematics through practice and clear explanation",
    "the committee approved funding for the public library renovation",
]
NEG = [
    "click here click here buy now buy now free free free",
    "xxx zzz qqq www lol lol lol spam spam spam spam",
    "buy cheap buy cheap discount discount click click click",
    "aaa bbb aaa bbb aaa bbb aaa bbb aaa bbb",
    "free money free money click now click now win win",
    "qqq spam qqq spam zzz lol zzz lol www click",
]
B = 256


@pytest.fixture(scope="module")
def model(spark):
    pos = spark.createDataFrame([(t,) for t in POS], ["text"])
    neg = spark.createDataFrame([(t,) for t in NEG], ["text"])
    return CL.fit_quality_classifier(pos, neg, "text", n_buckets=B,
                                     iters=20, lr=2.0, l2=1e-4)


def _numpy_twin(spark, iters=20, lr=2.0, l2=1e-4):
    """The identical batch-GD in numpy, from the SAME hashed buckets
    (collected via the Spark expression so the feature space matches
    bit-for-bit)."""
    rows = []
    for label, texts in ((1.0, POS), (0.0, NEG)):
        df = spark.createDataFrame([(t,) for t in texts], ["text"])
        got = df.select(gram_buckets("text", B).alias("bk")).collect()
        rows += [(r["bk"], label) for r in got]
    X = np.zeros((len(rows), B))
    y = np.array([lab for _, lab in rows])
    for i, (bks, _) in enumerate(rows):
        for bk in bks:
            X[i, bk] += 1.0 / len(bks)
    w = np.zeros(B)
    b0 = 0.0
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b0)))
        r = p - y
        b0 -= lr * r.mean()
        w -= lr * ((X.T @ r) / len(rows) + l2 * w)
    return w, b0


def test_matches_numpy_twin(spark, model):
    w_np, b_np = _numpy_twin(spark)
    assert abs(model.bias - b_np) < 1e-9
    assert np.allclose(np.array(model.weights), w_np, atol=1e-9)


def test_loss_decreases(model):
    assert len(model.losses) == 20
    assert model.losses[-1] < model.losses[0]
    assert model.losses[0] == pytest.approx(math.log(2.0), rel=1e-6)


def test_separates_held_out(spark, model):
    held = spark.createDataFrame([
        (1, "the scientists published a careful analysis of river history"),
        (2, "buy now free spam click click lol zzz qqq"),
    ], ["id", "text"])
    got = {r["id"]: r["s"] for r in held.select(
        "id", CL.quality_score("text", model).alias("s")).collect()}
    assert got[1] > 0.5 > got[2]


def test_filter_and_score_col(spark, model):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(POS + NEG)], ["id", "text"])
    kept = CL.quality_filter(df, "text", model, threshold=0.5)
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == list(range(len(POS)))          # training split recovered
    scored = CL.quality_filter(df, "text", model, score_col="q")
    assert scored.count() == len(POS + NEG)      # attach mode keeps all


def test_scoring_is_scan_side(spark, model):
    df = spark.createDataFrame([(t,) for t in POS], ["text"])
    plan = (df.select(CL.quality_score("text", model).alias("s"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_zero_gram_doc_scores_prior(spark, model):
    df = spark.createDataFrame([("",), ("   ",)], ["text"])
    prior = 1.0 / (1.0 + math.exp(-model.bias))
    for r in df.select(CL.quality_score("text", model).alias("s")).collect():
        assert r["s"] == pytest.approx(prior, rel=1e-12)


def test_scoring_deterministic_under_relayout(spark, model):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(POS + NEG)], ["id", "text"])
    a = {r["id"]: r["s"] for r in df.select(
        "id", CL.quality_score("text", model).alias("s")).collect()}
    b = {r["id"]: r["s"] for r in df.repartition(7).select(
        "id", CL.quality_score("text", model).alias("s")).collect()}
    assert a == b


def test_model_json_round_trip_scores_identically(spark, model):
    from realtime_olap_spark.operators.classifier import QualityModel

    loaded = QualityModel.from_json(model.to_json())
    assert loaded == model          # full dataclass equality, losses incl.
    df = spark.createDataFrame([(t,) for t in POS + NEG], ["text"])
    a = [r["s"] for r in df.select(
        CL.quality_score("text", model).alias("s")).collect()]
    b = [r["s"] for r in df.select(
        CL.quality_score("text", loaded).alias("s")).collect()]
    assert a == b          # bit-identical after the repr round trip


def test_portable_margin_contract(spark):
    from realtime_olap_spark.catalog import Catalog

    d = Catalog(spark, "/root/testdata/sf0.001").table("documents")
    m = d.select("doc_id",
                 CL.quality_margin_portable("text").alias("m"))
    rows = {r["doc_id"]: r["m"] for r in m.collect()}
    assert len(rows) == d.count()
    # non-degenerate: both keep and drop decisions occur on the corpus
    signs = {v >= 0 for v in rows.values()}
    assert signs == {True, False}
    # deterministic under re-layout (row property)
    again = {r["doc_id"]: r["m"] for r in
             d.repartition(7).select(
                 "doc_id",
                 CL.quality_margin_portable("text").alias("m"))
             .collect()}
    assert rows == again
    # zero-gram docs carry the bias alone
    empty = spark.createDataFrame([("",)], ["text"]).select(
        CL.quality_margin_portable("text", bias=0.25).alias("m"))
    assert empty.collect()[0]["m"] == 0.25
