"""Unigram language-model scoring — the perplexity-proxy quality signal.

CCNet-style pipelines bucket documents by LM perplexity; the reproducible,
engine-neutral core of that signal is a unigram LM trained on the corpus
itself: ``score(doc) = mean over tokens of log(count(w) / N)`` (natural
log; higher = more typical text, lower = rare-token soup). Real pipelines
swap in KenLM — the *Spark shape* is identical: a frequency table joined
into an exploded token stream.

Scale design (100 TB):

- The frequency table is ONE map-side-combined count shuffle carrying
  ``(word, count)`` pairs — vocabulary-sized, never corpus-sized. Train it
  once, persist it, reuse it across batches (pass ``freqs`` explicitly).
- Scoring explodes tokens scan-side and equi-joins the frequency table on
  the word. Natural-language vocabularies fit in a broadcast (millions of
  rows × 16 bytes); above the threshold Catalyst/AQE falls back to a
  shuffled join keyed on the word — still never pairwise.
- OOV tokens (scoring a NEW batch against a previously-trained table) get
  add-one smoothing: ``log(1 / N)`` — deterministic and SQL-mirrorable.

The whole pipeline is exact integer counts + one log per distinct
(word, count) — differentially testable against DuckDB to the ULP
(log is correctly rounded on both JVMs and C runtimes for these inputs;
the mean is a SUM/COUNT of identical doubles in both engines only when
summation order is fixed, so the per-doc mean sums log-probs through
DECIMAL-exact token counts: sum of doubles is order-dependent, hence the
differential compares to 1e-9 tolerance, not hash equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X


def train_unigram_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus unigram table ``(word, n_occ)`` + the grand total attached
    as a constant column ``n_total`` (1-row broadcast cross join — the
    scorer needs both). One count shuffle; persist the result at ingest."""
    toks = df.select(F.explode(F.expr(X.words_sql(X.col_sql(text_col))))
                     .alias("word"))
    freqs = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occ"))
    total = freqs.agg(F.sum("n_occ").alias("n_total"))
    return freqs.crossJoin(F.broadcast(total))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    freqs: DataFrame | None = None,
                    broadcast_agg: bool = False) -> DataFrame:
    """Per-document mean unigram log-probability ``(id, n_tokens,
    mean_logprob)``. ``freqs`` defaults to training on ``df`` itself
    (self-scoring); pass a persisted table to score new batches against a
    fixed reference corpus — unseen words then cost ``log(1/N)``.

    EVERY input document appears in the output: zero-token docs (empty /
    whitespace-only text, which the explode+groupBy would silently drop —
    r5 advisory) come back with ``n_tokens = 0`` and ``mean_logprob``
    NULL, so downstream joins never lose rows without signal."""
    if freqs is None:
        freqs = train_unigram_freqs(df, text_col)
    toks = df.select(F.col(id_col),
                     F.explode(F.expr(X.words_sql(X.col_sql(text_col))))
                     .alias("word"))
    # n_total rides along on every freq row (constant column), so OOV rows
    # from the left join need it re-derived: take the max over the table
    # once and attach as a literal-free 1-row broadcast.
    total = freqs.agg(F.max("n_total").alias("__nt"))
    scored = (toks.join(F.broadcast(freqs.select("word", "n_occ")),
                        "word", "left")
              .crossJoin(F.broadcast(total))
              .select(id_col,
                      F.log(F.coalesce(F.col("n_occ"), F.lit(1)).cast("double")
                            / F.col("__nt").cast("double")).alias("lp")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                (F.sum("lp") / F.count(F.lit(1))).alias("mean_logprob")))
    # ``broadcast_agg``: when the caller scores a SMALL doc set (an
    # audit trim), the per-doc aggregate is at most |df| rows — hinting
    # it broadcast turns the closing left join from a sort-merge (two
    # exchanges + sorts) into a broadcast hash join. Leave False for
    # corpus-scale scoring, where agg ~ |corpus| must not broadcast.
    if broadcast_agg:
        agg = F.broadcast(agg)
    return (df.select(F.col(id_col)).join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
                    .alias("n_tokens"),
                    F.col("mean_logprob")))


def bucket_by_cutoffs(score: Column, cutoffs: list[float]) -> Column:
    """Scan-side bucket id from FIXED cutoffs (ascending): bucket = number
    of cutoffs strictly greater than the score, so bucket 0 is the
    best/most-typical tier (score ≥ the highest cutoff) — the same
    orientation as ``ntile`` over a descending sort. NULL scores (e.g.
    zero-token docs) land in the worst bucket ``len(cutoffs)`` — a
    concrete id, never NULL. Pure comparisons, no window, no shuffle."""
    bucket: Column = F.lit(0)
    for c in cutoffs:
        bucket = bucket + F.when(score < F.lit(float(c)), 1).otherwise(0)
    return (F.when(score.isNull(), F.lit(len(cutoffs)))
            .otherwise(bucket)).cast("long")


def perplexity_buckets(scores: DataFrame, n_buckets: int = 3,
                       score_col: str = "mean_logprob",
                       method: str = "cutoffs",
                       relative_error: float = 1e-4) -> DataFrame:
    """CCNet-style head/middle/tail split by score quantile: adds
    ``bucket`` (0 = best/most-typical).

    Default (``method='cutoffs'``): ONE ``approxQuantile`` aggregate
    (Greenwald-Khanna, driver receives n_buckets−1 doubles) computes the
    quantile cutoffs, then bucketing is a scan-side comparison — no
    window, no global sort, no shuffle of the score table. This is the
    shape that survives a billions-of-rows score table;
    ``relative_error=0.0`` makes the cutoffs exact (heavier aggregate,
    same O(1) result size).

    ``method='ntile'`` is the exact-rank opt-in for SMALL frames: a
    global ``ntile`` window — one single-partition sort of the whole
    table, the r5-flagged scale-killer — kept only because exact equal-
    sized tiers (vs. equal-score-boundary tiers) occasionally matter for
    tiny calibration sets. The two agree everywhere except rows tied with
    a cutoff value (property-tested in tests/test_lm_score.py)."""
    if method == "ntile":
        from pyspark.sql import Window  # noqa: PLC0415
        w = Window.orderBy(F.col(score_col).desc())
        return scores.withColumn(
            "bucket", (F.ntile(n_buckets).over(w) - 1).cast("long"))
    if method != "cutoffs":
        raise ValueError(f"unknown method {method!r} (cutoffs | ntile)")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scores.where(F.col(score_col).isNotNull()) \
                 .approxQuantile(score_col, probs, relative_error)
    return scores.withColumn(
        "bucket", bucket_by_cutoffs(F.col(score_col), sorted(cuts)))


# ---------------------------------------------------------------------------
# Interpolated bigram LM — one order deeper than the unigram signal
# ---------------------------------------------------------------------------

def train_bigram_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus bigram table ``(w1, w2, n_pair)`` — one count shuffle over
    (prev, word) pairs (map-side combined, vocabulary²-bounded but in
    practice Zipf-sparse). Persist alongside the unigram table at
    ingest; both are reusable across scoring batches."""
    pairs = df.select(F.explode(F.expr(X.bigrams_sql(
        X.words_sql(X.col_sql(text_col))))).alias("pair"))
    return (pairs
            .select(F.split(F.col("pair"), " ").getItem(0).alias("w1"),
                    F.split(F.col("pair"), " ").getItem(1).alias("w2"))
            .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair")))


def bigram_logprob(df: DataFrame, id_col: str, text_col: str,
                   lam: float = 0.7,
                   unigram_freqs: DataFrame | None = None,
                   bigram_freqs: DataFrame | None = None) -> DataFrame:
    """Per-document mean INTERPOLATED bigram log-probability ``(id,
    n_scored, mean_logprob2)`` — the standard Jelinek-Mercer backoff
    one order below KenLM pipelines:

        p(w | prev) = λ · n(prev,w)/n(prev) + (1−λ) · p_uni(w)

    with the unigram term add-one smoothed (so unseen words keep finite
    mass) and the conditional term dropping to 0 for unseen bigrams —
    the unigram interpolation IS the backoff. Scoring explodes each
    doc's (prev, word) pairs scan-side, joins the two frequency tables
    (broadcast under the usual vocab sizes, shuffled hash join above),
    and averages per doc: one groupBy(id) with map-side partial sums.

    Docs with < 2 tokens have no bigrams: they come back with
    ``n_scored = 0`` and NULL score (same every-doc-appears contract as
    ``unigram_logprob``)."""
    if unigram_freqs is None:
        unigram_freqs = train_unigram_freqs(df, text_col)
    if bigram_freqs is None:
        bigram_freqs = train_bigram_freqs(df, text_col)
    ctx = unigram_freqs.select(F.col("word").alias("w1"),
                               F.col("n_occ").alias("n_ctx"))
    uni = unigram_freqs.select(F.col("word").alias("w2"),
                               F.col("n_occ").alias("n_uni"))
    total = unigram_freqs.agg(F.max("n_total").alias("__nt"))
    pairs = df.select(
        F.col(id_col),
        F.explode(F.expr(X.bigrams_sql(X.words_sql(X.col_sql(text_col)))))
        .alias("pair"))
    scored = (pairs
              .select(id_col,
                      F.split(F.col("pair"), " ").getItem(0).alias("w1"),
                      F.split(F.col("pair"), " ").getItem(1).alias("w2"))
              .join(F.broadcast(ctx), "w1", "left")
              .join(F.broadcast(uni), "w2", "left")
              .join(F.broadcast(
                  bigram_freqs.select("w1", "w2", "n_pair")),
                  ["w1", "w2"], "left")
              .crossJoin(F.broadcast(total))
              .select(
                  id_col,
                  F.log(
                      F.lit(float(lam))
                      * (F.coalesce(F.col("n_pair"), F.lit(0))
                         .cast("double")
                         / F.coalesce(F.col("n_ctx"), F.lit(1))
                         .cast("double"))
                      + F.lit(1.0 - float(lam))
                      * (F.coalesce(F.col("n_uni"), F.lit(1))
                         .cast("double")
                         / F.col("__nt").cast("double"))).alias("lp")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_scored"),
                (F.sum("lp") / F.count(F.lit(1))).alias("mean_logprob2")))
    return (df.select(F.col(id_col)).join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_scored"), F.lit(0).cast("long"))
                    .alias("n_scored"),
                    F.col("mean_logprob2")))
