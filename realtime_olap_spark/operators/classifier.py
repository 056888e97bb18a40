"""Learned quality classifier — fastText/DCLM-style logistic regression
over hashed n-gram features.

Modern curation pipelines (CCNet's fastText LM filter, Llama's quality
classifiers, DCLM's fastText distillation — all public) train a linear
classifier on hashed bag-of-ngram features to score documents as
"high-quality-like" vs "web-noise-like", because a linear model over
hashed grams is the only thing cheap enough to score 100 TB. This module
is that classifier, Spark-first:

- **Features**: the DSIR gram space (`operators/importance.py` — unigram
  + bigram buckets via ``pmod(xxhash64(gram), B)``), L1-normalized per
  doc (``x[b] = count_b / n_grams``) so every doc has the same feature
  scale regardless of length.
- **Training** = hand-rolled distributed batch gradient descent, the same
  shape as the k-means / PQ trainers (`operators/clustering.py`,
  `operators/pq.py`): the working set (bucket array + label per doc) is
  persisted ONCE; each iteration is a scan-side margin fold against the
  current literal weight LUT plus ONE map-side-combined shuffle whose
  output is at most B+1 rows (per-bucket gradient sums + the bias cell) —
  the corpus itself is never re-shuffled, and the model (B doubles) lives
  driver-side like the k centroids.
- **Inference** = a zero-shuffle scan-side fold: ``margin = bias +
  (Σ_grams w[bucket(gram)]) / n_grams``, ``score = sigmoid(margin)`` —
  identical plumbing to ``importance_weights``; at 100 TB the scoring
  pass costs exactly one scan of the text column.

No reference analog (a model trainer is a training-data concern); the
iterate-with-literal-parameters discipline mirrors ``kmeans_fit``
(reference analog for prebuilt-model reuse: the segment-level star-tree,
core/startree/v2/StarTreeV2.java:29).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X
from realtime_olap_spark.operators.importance import gram_buckets

#: Default feature-space size: small enough that the weight LUT is one
#: constant-folded literal array, large enough for quality signal.
DEFAULT_BUCKETS = 2048


@dataclass(frozen=True)
class QualityModel:
    """Fitted classifier: B weights + bias (+ the loss trace, for tests
    and monitoring)."""

    weights: tuple[float, ...]
    bias: float
    losses: tuple[float, ...] = ()

    @property
    def n_buckets(self) -> int:
        return len(self.weights)

    def to_json(self) -> str:
        """Portable artifact: ``repr`` round-trips every finite double
        exactly (shortest-representation), so a reloaded model scores
        bit-identically AND compares equal to the original (the loss
        trace is part of the frozen dataclass's equality, so it ships
        too)."""
        import json
        return json.dumps({"weights": [repr(x) for x in self.weights],
                           "bias": repr(self.bias),
                           "losses": [repr(x) for x in self.losses]})

    @classmethod
    def from_json(cls, s: str) -> QualityModel:
        import json
        d = json.loads(s)
        return cls(tuple(float(x) for x in d["weights"]),
                   float(d["bias"]),
                   tuple(float(x) for x in d.get("losses", [])))


def _lut_expr(values: list[float]) -> Column:
    """B doubles -> ONE single-node array literal (bit-equal repr
    round-trip, O(1) driver calls AND O(1) analyzer cost — the
    importance_weights lesson; B F.lit calls would cost seconds of py4j
    round trips, a B-child CreateArray costs ~60 ms/1k elements per
    downstream transformation in the JVM analyzer)."""
    from realtime_olap_spark.litarray import lit_doubles  # noqa: PLC0415
    return lit_doubles(values)


def _margin(buckets: Column, n_grams: Column, weights: list[float],
            bias: float) -> Column:
    """``bias + (Σ w[bucket]) / n_grams`` — zero-gram docs fall back to
    the bias alone (the model's prior), never NULL/NaN."""
    lut = _lut_expr(weights)
    s = F.aggregate(buckets, F.lit(0.0),
                    lambda acc, bk: acc + F.element_at(lut, bk + 1))
    return F.lit(float(bias)) + F.when(
        n_grams > 0, s / n_grams.cast("double")).otherwise(F.lit(0.0))


def _features(df: DataFrame, text_col: str, label: int,
              n_buckets: int) -> DataFrame:
    # NULL text coalesces to the empty gram array so such docs still
    # contribute their bias/loss sentinel row — otherwise they'd count
    # in n_docs but emit no gradient rows (explode(NULL) = nothing),
    # silently shrinking every step and desyncing the numpy twin
    b = F.coalesce(gram_buckets(text_col, n_buckets),
                   F.array().cast("array<int>"))
    return df.select(b.alias("bk"), F.size(b).alias("ng"),
                     F.lit(float(label)).alias("y"))


def fit_quality_classifier(pos: DataFrame, neg: DataFrame, text_col: str,
                           n_buckets: int = DEFAULT_BUCKETS,
                           iters: int = 30, lr: float = 2.0,
                           l2: float = 1e-4) -> QualityModel:
    """Train on a positive corpus (curated text: wiki/books/instruction
    data) vs a negative corpus (raw web) — the DCLM/CCNet recipe. Batch
    GD on the mean log-loss with L2; deterministic given the inputs (the
    per-bucket float sums are shuffle-order dependent only in the last
    ulps).

    Per iteration: one job. The margin is a scan-side fold over the
    PERSISTED working set; the gradient arrives as ≤ B+1 rows via one
    map-side-combined ``groupBy(bucket)`` (bucket −1 carries the bias
    cell: each doc contributes its residual once there, and
    ``residual/n_grams`` per gram occurrence elsewhere — exactly the
    ∂/∂w of ``w·x/n``)."""
    feats = (_features(pos, text_col, 1, n_buckets)
             .unionByName(_features(neg, text_col, 0, n_buckets))
             .persist())
    n_docs = feats.count()  # materializes the working set
    if n_docs == 0:
        raise ValueError("empty training corpus")

    w = [0.0] * n_buckets
    b0 = 0.0
    losses: list[float] = []
    try:
        w, b0 = _gd_loop(feats, n_docs, w, b0, losses, iters, lr, l2)
    finally:
        feats.unpersist()  # a failed iteration must not leak the cache
    return QualityModel(tuple(w), b0, tuple(losses))


def _gd_loop(feats: DataFrame, n_docs: int, w: list[float], b0: float,
             losses: list[float], iters: int, lr: float,
             l2: float) -> tuple[list[float], float]:
    for _ in range(iters):
        m = _margin(F.col("bk"), F.col("ng"), w, b0)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
        r = (p - F.col("y")).alias("r")
        # per-gram contribution r/ng to its bucket; one extra row per doc
        # (bucket -1, contribution r) for the bias — plus the doc's
        # log-loss on the same sentinel row so one aggregation returns
        # gradient AND loss
        scored = feats.select(
            F.col("bk"), F.col("ng"), F.col("y"), r,
            (-(F.col("y") * F.log(F.greatest(p, F.lit(1e-12)))
               + (F.lit(1.0) - F.col("y"))
               * F.log(F.greatest(F.lit(1.0) - p, F.lit(1e-12)))))
            .alias("ll"))
        exploded = scored.select(
            F.explode(
                F.concat(
                    F.transform(
                        F.col("bk"),
                        lambda bk: F.struct(
                            bk.alias("bucket"),
                            F.when(F.col("ng") > 0,
                                   F.col("r") / F.col("ng").cast("double"))
                            .otherwise(F.lit(0.0)).alias("g"),
                            F.lit(0.0).alias("ll"))),
                    F.array(F.struct(F.lit(-1).alias("bucket"),
                                     F.col("r").alias("g"),
                                     F.col("ll").alias("ll"))))
            ).alias("c"))
        rows = (exploded.groupBy(F.col("c.bucket").alias("bucket"))
                .agg(F.sum("c.g").alias("g"), F.sum("c.ll").alias("ll"))
                .collect())
        grad = {int(row["bucket"]): float(row["g"]) for row in rows}
        loss = sum(float(row["ll"]) for row in rows) / n_docs
        losses.append(loss + 0.5 * l2 * sum(x * x for x in w))
        b0 -= lr * grad.get(-1, 0.0) / n_docs
        w = [x - lr * (grad.get(i, 0.0) / n_docs + l2 * x)
             for i, x in enumerate(w)]
    return w, b0


def quality_score(text: str, model: QualityModel) -> Column:
    """P(high-quality | doc) of the column named ``text`` — the
    zero-shuffle scoring fold. Zero-gram docs score ``sigmoid(bias)``
    (the class prior)."""
    b = gram_buckets(text, model.n_buckets)
    m = _margin(b, F.size(b), list(model.weights), model.bias)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))


def quality_margin_portable(text: str, n_buckets: int = 1024,
                            bias: float = 0.0) -> Column:
    """The scoring fold over the column named ``text`` in
    ORACLE-CHECKABLE form: the linear margin
    ``bias + (Σ_grams w[bucket(gram)]) / n_grams`` over the PORTABLE md5
    bucket space (``sqlexpr.gram_buckets_md5_sql`` — byte-identical in any
    engine with md5), with DETERMINISTIC weights computed inline from the
    bucket id, ``w[b] = ((3·b) mod 7 − 3) / 5`` — exact integer
    arithmetic then one correctly-rounded division, so any SQL engine
    renders the identical doubles and the sequential in-order fold is
    bit-equal (the ``favored_hits`` / fingerprint discipline). The
    sigmoid is deliberately omitted: engine ``exp`` is not cross-engine
    reproducible (the log2 lesson), and the margin's SIGN already is the
    keep decision. Zero shuffle; zero-gram docs carry the bias alone."""
    b = X.gram_buckets_md5_sql(X.col_sql(text), n_buckets)
    s = (f"aggregate({b}, 0.0D, (acc, bk) -> "
         f"acc + CAST((bk * 3) % 7 - 3 AS DOUBLE) / 5.0D)")
    return F.expr(f"CAST('{float(bias)!r}' AS DOUBLE) + "
                  f"CASE WHEN size({b}) > 0 "
                  f"THEN {s} / CAST(size({b}) AS DOUBLE) ELSE 0.0D END")


def quality_filter(df: DataFrame, text_col: str, model: QualityModel,
                   threshold: float = 0.5,
                   score_col: str | None = None) -> DataFrame:
    """Keep rows scoring ≥ threshold (or, with ``score_col``, attach the
    score and keep every row) — pure scan, composes with the rest of the
    curation pipeline like the mixture / decontam gates."""
    s = quality_score(text_col, model)
    if score_col is not None:
        return df.withColumn(score_col, s)
    return df.where(s >= F.lit(float(threshold)))
