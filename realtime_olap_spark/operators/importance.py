"""Hashed n-gram importance resampling — DSIR-style data selection.

DSIR (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023 — public) selects pretraining documents whose
hashed n-gram distribution resembles a small high-quality target corpus:
each doc's features are its unigram+bigram counts hashed into B buckets;
the importance weight is ``log w(doc) = Σ_grams log(p_target[bucket] /
p_source[bucket])``; selection is Gumbel top-k over the weights
(sampling without replacement).

Spark-first shape, designed so the 100 TB corpus is NEVER shuffled:

- **Fit** = two bucket-count aggregations (one over the target corpus,
  one over the raw corpus): each is ONE map-side-combined shuffle
  carrying ``(bucket, count)`` pairs — at most B rows out, B ≤ ~10⁴.
  The B-row collect that follows is a fixed-size model parameter fetch,
  not a data collect.
- **Score** = a scan-side fold: the per-bucket log-ratio table is a
  B-element literal array (constant-folded by Catalyst into ONE array
  literal, so the per-gram cost is an O(1) ``element_at`` lookup, not a
  per-element array build), and the doc weight is
  ``aggregate(grams, 0.0, acc + lut[hash(gram) mod B])`` — zero
  shuffle, zero UDF, whole-stage plumbing identical to the decontam /
  mixture scan-side decisions.
- **Resample** = deterministic Gumbel top-k: the uniform comes from
  ``xxhash64(id, seed)``, so membership is a row property (stable under
  re-runs and re-partitioning, like ``sampling.hash_sample``), and the
  top-k is a TakeOrderedAndProject.

No reference analog (data selection is a training-data concern); the
broadcast/fold shape mirrors ``operators/decontam.py`` and
``operators/mixture.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X

#: Default feature-space size. DSIR uses 10k buckets; small enough that
#: the log-ratio LUT is one literal array in the plan.
DEFAULT_BUCKETS = 8192


def gram_buckets(text: str, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Bucket ids for every ``sqlexpr.doc_grams_sql`` gram of the column
    named ``text``: ``pmod(xxhash64(gram), B)``."""
    return F.expr(f"transform({X.doc_grams_sql(X.col_sql(text))}, "
                  f"g -> CAST(pmod(xxhash64(g), {n_buckets}) AS INT))")


def bucket_counts(df: DataFrame, text_col: str,
                  n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Corpus bucket histogram ``(bucket, n)`` — one count shuffle of at
    most B rows (map-side combined)."""
    return (df.select(F.explode(gram_buckets(text_col, n_buckets))
                      .alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def log_ratio_lut(target_counts: DataFrame, source_counts: DataFrame,
                  n_buckets: int = DEFAULT_BUCKETS,
                  smoothing: float = 1.0) -> list[float]:
    """The B-element model: ``lut[b] = log(p_target[b]) − log(p_source[b])``
    with add-``smoothing`` Laplace smoothing on both sides (empty buckets
    get a finite, symmetric penalty). Driver-side: two B-row collects —
    the fitted parameters, not data."""
    def probs(cdf: DataFrame) -> list[float]:
        got = {r["bucket"]: r["n"] for r in cdf.collect()}
        total = sum(got.values()) + smoothing * n_buckets
        return [(got.get(b, 0) + smoothing) / total for b in range(n_buckets)]

    pt, ps = probs(target_counts), probs(source_counts)
    return [math.log(t) - math.log(s) for t, s in zip(pt, ps)]


def importance_weights(df: DataFrame, id_col: str, text_col: str,
                       lut: list[float],
                       n_buckets: int | None = None,
                       weight_col: str = "log_weight") -> DataFrame:
    """Attach ``log w(doc)`` — the scan-side fold over the doc's gram
    buckets against the literal LUT. Zero-gram docs get weight 0.0 (the
    fold base), never NULL, so every input row appears in the output
    with a concrete score. No shuffle: the corpus is only scanned."""
    b = n_buckets if n_buckets is not None else len(lut)
    if b != len(lut):
        raise ValueError(f"lut has {len(lut)} buckets, expected {b}")
    if not all(math.isfinite(x) for x in lut):
        raise ValueError("lut entries must be finite")
    # ONE single-node array literal (litarray.lit_doubles: from_json of
    # a JSON string, constant-folded) instead of B python-side F.lit
    # calls (B=8192 F.lit columns cost ~4 s of per-literal round trips)
    # or a B-child CreateArray tree (the analyzer walks every child on
    # every downstream transformation — ~0.28 s per withColumn at
    # B=1024, r16 measurement). Values stay bit-equal (repr round-trip,
    # pinned in tests); per-gram cost inside the fold is one O(1)
    # element_at lookup on the folded literal either way.
    from realtime_olap_spark.litarray import lit_doubles  # noqa: PLC0415
    lut_arr = lit_doubles(lut)
    w = F.aggregate(
        gram_buckets(text_col, b),
        F.lit(0.0),
        lambda acc, bk: acc + F.element_at(lut_arr, bk + 1))
    return df.withColumn(weight_col, w)


def gumbel_key(logw: Column, id_col: Column, seed: int,
               resolution: int = 1 << 30) -> Column:
    """``logw + Gumbel(0,1)`` with the uniform drawn from
    ``xxhash64(id, seed)`` — deterministic per (id, seed), independent of
    partitioning. ``u ∈ ((0,1))`` via the +0.5 midpoint so the double
    log never sees 0."""
    u = ((F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(resolution))
          .cast("double") + F.lit(0.5)) / F.lit(float(resolution)))
    return logw - F.log(-F.log(u))


def dsir_resample(df: DataFrame, id_col: str, k: int, seed: int = 0,
                  weight_col: str = "log_weight") -> DataFrame:
    """Select ``k`` docs by Gumbel top-k over the importance weights —
    equivalent to sampling k docs without replacement with probability
    ∝ w(doc) (Gumbel-max trick), but deterministic given ``seed``.
    TakeOrderedAndProject: scale-safe for the usual k ≪ corpus."""
    key = gumbel_key(F.col(weight_col), F.col(id_col), seed)
    return (df.withColumn("__gk", key)
              .orderBy(F.col("__gk").desc(), F.col(id_col).asc())
              .limit(k).drop("__gk"))


# ---------------------------------------------------------------------------
# Portable (cross-engine) bucketing + the integer favored-bucket surrogate
# ---------------------------------------------------------------------------

#: Bucket count for the portable md5 feature space (small enough that the
#: favored-bucket bitmap is one literal array in the plan/SQL).
PORTABLE_BUCKETS = 1024


def bucket_counts_md5(df: DataFrame, text_col: str,
                      n_buckets: int = PORTABLE_BUCKETS) -> DataFrame:
    """``bucket_counts`` over the portable md5 buckets."""
    return (df.select(F.explode(F.expr(X.gram_buckets_md5_sql(
                          X.col_sql(text_col), n_buckets)))
                      .alias("bucket"))
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def favored_buckets(target_counts: DataFrame, source_counts: DataFrame,
                    n_buckets: int = PORTABLE_BUCKETS) -> list[int]:
    """0/1 bitmap of *target-favored* buckets: bucket b is favored iff
    its smoothed target probability exceeds its smoothed source
    probability — ``(ct+1)·(S+B) > (cs+1)·(T+B)`` in EXACT integer
    arithmetic (T, S = total gram counts), so the decision is
    bit-reproducible in SQL. This is the sign of the DSIR log-ratio; the
    per-doc count of favored grams is the integer surrogate of the
    importance weight that a value-hash oracle can check."""
    tc = {r["bucket"]: r["n"] for r in target_counts.collect()}
    sc = {r["bucket"]: r["n"] for r in source_counts.collect()}
    tt, st = sum(tc.values()), sum(sc.values())
    return [1 if (tc.get(b, 0) + 1) * (st + n_buckets)
            > (sc.get(b, 0) + 1) * (tt + n_buckets) else 0
            for b in range(n_buckets)]
