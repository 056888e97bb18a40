"""Deduplication operators for large-scale training-data pipelines.

These extend the reference's query surface (it has nothing comparable) with
the standard near-dup stack used on web-scale corpora: exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard verification, and embedding-cosine
near-dup. Everything is declarative DataFrame ops — hashing via md5 (a
built-in in both Spark and common SQL oracles, so every stage is
differentially testable) and the pair-generation joins are band-key
equi-joins that Catalyst shuffles on the band key.

Scale design (100 TB corpus):
- signatures are computed per row with JVM array expressions — no explode
  until banding, so the shuffle input is one row per doc per band;
- candidate pairs come from an equi-join on band keys — never a cross join;
  the join key cardinality (band buckets) grows with the corpus, keeping
  partitions balanced. A hot bucket (degenerate band, e.g. empty docs) is
  the one skew risk — cap bucket size or salt if observed;
- verification (exact Jaccard) runs only on candidate pairs, which is the
  LSH point: candidates ≪ n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, cols: list[str]) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated value combo with its
    multiplicity. At scale this is a single shuffle on the content hash."""
    return (df.groupBy(*cols).agg(F.count(F.lit(1)).alias("dup_count"))
              .where(F.col("dup_count") > 1))


def dedup_exact(df: DataFrame, cols: list[str], keep_by: str) -> DataFrame:
    """Keep one representative per duplicate group (min ``keep_by``) —
    min_by avoids a window sort; single shuffle."""
    reps = df.groupBy(*cols).agg(F.min(keep_by).alias(keep_by))
    return df.join(reps, on=[*cols, keep_by], how="leftsemi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(words: Column, num_hashes: int) -> list[Column]:
    """MinHash: the i-th signature component is min over shingles of
    md5(i || shingle). Lexicographic min over the hex digest is a uniform
    hash order, and md5 exists in every engine → oracle-comparable."""
    def component(i: int) -> Column:
        # single-arg lambda: a 2-arg lambda would receive the array INDEX
        # as its second argument and shadow the captured i
        return F.array_min(
            F.transform(words, lambda w: F.md5(F.concat(F.lit(f"{i}|"), w)))
        ).alias(f"mh{i}")

    return [component(i) for i in range(num_hashes)]


def lsh_band_keys(sig_cols: list[str], band_size: int) -> list[Column]:
    """Banding: hash each band of ``band_size`` signature components; docs
    sharing any band key are candidate duplicates (probability calibrated by
    bands × band_size)."""
    assert len(sig_cols) % band_size == 0
    return [
        F.md5(F.concat_ws("|", F.lit(str(b)), *sig_cols[b * band_size:(b + 1) * band_size]))
        .alias(f"band{b}")
        for b in range(len(sig_cols) // band_size)
    ]


def lsh_candidate_pairs(bands: DataFrame, id_col: str,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a ``(id, band_key)`` band table
    (``minhash_bands`` — computed inline or, the 100 TB shape, a table
    materialized once at ingest and shared by every dedup consumer):
    self-equi-join on the band key (ONE shuffle, no cross join) →
    distinct pairs.

    ``max_bucket_size`` caps degenerate band buckets (empty/boilerplate
    docs hash to one band key and would emit O(n²) pairs from a single
    hot bucket — the skew killer at corpus scale): buckets above the cap
    are skipped, bounding any bucket's pair output at cap·(cap−1)/2.
    Docs in a skipped bucket still pair through their other bands. The
    size pass is a map-side-combined count on the band key — O(bands)
    rows, no extra data shuffle of the docs themselves.
    """
    if max_bucket_size is not None:
        sizes = bands.groupBy("band_key").agg(F.count(F.lit(1)).alias("__n"))
        bands = (bands.join(sizes.where(F.col("__n") <= max_bucket_size),
                            "band_key")
                 .drop("__n"))
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 8, band_size: int = 2,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via MinHash banding.

    Plan shape: per-row signature (no shuffle) → explode to one row per
    (doc, band) (``minhash_bands``) → ``lsh_candidate_pairs``.
    """
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size)
    return lsh_candidate_pairs(bands, id_col, max_bucket_size)


def jaccard(words_a: Column, words_b: Column) -> Column:
    """Exact Jaccard over shingle sets — integer set sizes, so the double
    division is bit-deterministic."""
    inter = F.size(F.array_intersect(words_a, words_b))
    union = F.size(F.array_union(words_a, words_b))
    return (inter.cast("double") / union.cast("double"))


def hashed_word_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc ``(id, wh, nw)``: 60-bit-hashed distinct word shingles +
    set size — the verify-side table every Jaccard stage consumes (and
    the ``corpus_words`` contract of ``minhash_lsh_pairs_against``). At
    ingest scale, materialize this once next to the band table."""
    text = X.col_sql(text_col)
    return df.select(
        F.col(id_col),
        F.expr(X.word_hashes_sql(text)).alias("wh"),
        F.expr(f"size({X.word_set_sql(text)})").alias("nw"))


def jaccard_verify(cands: DataFrame, words: DataFrame, id_col: str,
                   threshold: float = 0.5,
                   broadcast_words: bool | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs ``(id_a, id_b)``
    against a ``hashed_word_sets`` table → ``(id_a, id_b, jaccard ≥
    threshold)``. Only candidate ids are ever joined — the LSH point:
    candidates ≪ n².

    - shingles are compared as 60-bit hashes (collision-free in practice;
      same Jaccard as the string sets), making the intersection a
      primitive hash-set op instead of string equality;
    - |A∪B| = |A|+|B|−|A∩B| — one set operation per pair, not two.

    ``broadcast_words`` (the r5-flagged scale default, now size-aware):

    - ``None`` (default): no hint — Catalyst picks by its size estimate
      and AQE re-plans from the TRUE runtime size of the words side, so
      a small corpus broadcasts and a 100 TB corpus falls back to a
      shuffled join keyed on the candidate ids, automatically;
    - ``True``: force broadcast — opt in where the corpus is KNOWN small
      relative to executor memory (the suite queries at bench SFs);
    - ``False``: force a shuffled hash join — opt out under memory
      pressure regardless of estimates.

    Both forced paths and the default are plan-asserted in
    tests/test_dedup_scale.py.
    """
    a = words.select(F.col(id_col).alias("id_a"),
                     F.col("wh").alias("wh_a"), F.col("nw").alias("nw_a"))
    b = words.select(F.col(id_col).alias("id_b"),
                     F.col("wh").alias("wh_b"), F.col("nw").alias("nw_b"))
    if broadcast_words is True:
        a, b = F.broadcast(a), F.broadcast(b)
    elif broadcast_words is False:
        a, b = a.hint("shuffle_hash"), b.hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("wh_a"), F.col("wh_b")))
    jac = inter.cast("double") / (F.col("nw_a") + F.col("nw_b") - inter).cast("double")
    return (cands
            .join(a, "id_a")
            .join(b, "id_b")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_lsh_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 8, band_size: int = 2,
                            threshold: float = 0.5,
                            broadcast_words: bool | None = None,
                            max_bucket_size: int | None = None) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify ≥
    threshold (``minhash_bands`` → ``lsh_candidate_pairs`` →
    ``jaccard_verify`` — each stage independently materializable; the
    suite persists the scored pairs once and filters per-τ)."""
    cands = minhash_lsh_pairs(df, id_col, text_col, num_hashes, band_size,
                              max_bucket_size=max_bucket_size)
    return jaccard_verify(cands, hashed_word_sets(df, id_col, text_col),
                          id_col, threshold, broadcast_words)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit j of the fingerprint is the sign of
    Σ_words (±1 per word's hash bit j) — equivalently, set iff more than
    half the word hashes have bit j set (2·cnt_j > n). Near-dup docs differ
    in few bits.

    Implementation: hash every distinct word once into a materialized array
    column, then run ``bits`` independent primitive scalar folds (one long
    accumulator each) over it. The hash array is referenced ``bits`` times,
    so Catalyst's CollapseProject keeps it materialized rather than inlining
    the md5 per fold; each fold step is a bare add — no per-word array
    allocation (the array-accumulator zip_with formulation allocates two
    16-element arrays per word and runs ~8× slower at sf0.1). Entirely
    scan-side: no explode, no shuffle, one md5 per word; at 100 TB the
    operator costs exactly one pass over the text column.
    """
    hashed = df.select(
        F.col(id_col),
        F.expr(X.word_hashes_sql(X.col_sql(text_col))).alias("__wh"))
    return hashed.select(F.col(id_col),
                         F.expr(X.simhash_fp_sql("__wh", bits))
                         .alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (zip_with + aggregate) — the same
    addition order any engine's list_inner_product uses."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             bucket_col: str, threshold: float = 0.8,
                             refine_centroids: list[list[float]] | None = None,
                             ) -> DataFrame:
    """Near-dup embedding pairs within a blocking bucket: equi-join on the
    bucket (no cross join), exact cosine ≥ threshold. The left-fold dot
    product is bit-identical to SQL engines' list_inner_product (verified
    exhaustively), so no rounding is needed for differential testing.

    A coarse bucket (a label / cluster id) alone makes the join O(Σ b²) —
    quadratic in the hottest bucket, a scale-killer on skewed corpora.
    ``refine_centroids`` composes the block key with an IVF cell
    (similarity.ivf_assign, deterministic literal centroids): the join key
    becomes (bucket, cell), shrinking every bucket by ~K× for K centroids.
    Near-dup vectors (cosine ≥ τ, τ high) almost always share the nearest
    centroid, so recall loss is the standard ANN trade — and the assignment
    is deterministic, so differential oracles express the identical key.

    Norms are precomputed per ROW before the join (sqrt(v·v) once per
    vector, not twice per candidate pair), cutting the per-pair work to a
    single fold — same IEEE result, ~3× less float work. With centroids the
    per-row (cell, norm) assignment runs through the Arrow-vectorized
    ``ivf_assign_norm`` (bit-identical to the fold — see its docstring);
    the pair-phase cosine stays a JVM fold, since candidates ≪ rows."""
    keys = ["bk"]
    cols = [F.col(id_col), F.col(bucket_col).alias("bk"),
            F.col(vec_col).alias("v")]
    if refine_centroids is not None:
        from realtime_olap_spark.operators.similarity import ivf_assign_norm
        sides = (df.select(*cols,
                           ivf_assign_norm(vec_col, refine_centroids).alias("__an"))
                 .select(F.col(id_col), "bk", "v",
                         F.col("__an.cell").alias("cell"),
                         F.col("__an.nrm").alias("nrm")))
        # Both join sides read this projection, and Spark evaluates the
        # (Arrow) UDF once PER SIDE — a lazy localCheckpoint materializes
        # the assignment once, so the corpus crosses the Python boundary
        # once per query instead of twice (guide §4.1; r16 A/B at sf0.1:
        # 0.85 s → 0.61 s min-of-5, output bit-identical).
        sides = sides.localCheckpoint(eager=False)
        keys.append("cell")
    else:
        cols.append(F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("nrm"))
        sides = df.select(*cols)
    left = sides.select(F.col(id_col).alias("id_a"), *keys,
                        F.col("v").alias("va"), F.col("nrm").alias("na"))
    right = sides.select(F.col(id_col).alias("id_b"), *keys,
                         F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (left.join(right, keys)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")))
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) near-dup
# ---------------------------------------------------------------------------

def minhash_bands(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """Per-document LSH band table ``(id, band_key)`` — the materialization
    unit of INCREMENTAL dedup: persist this for the corpus once (partition
    or bucket by ``band_key``), and each new ingest batch joins its own
    (tiny) band table against it instead of re-pairing the corpus."""
    sigs = df.select(F.col(id_col), *minhash_signature(
        F.expr(X.word_set_sql(X.col_sql(text_col))), num_hashes))
    return sigs.select(
        F.col(id_col),
        F.explode(F.array(*lsh_band_keys([f"mh{i}" for i in range(num_hashes)],
                                         band_size))).alias("band_key"))


def minhash_lsh_pairs_against(new_df: DataFrame, corpus_bands: DataFrame,
                              corpus_words: DataFrame, id_col: str,
                              text_col: str, num_hashes: int = 8,
                              band_size: int = 2, threshold: float = 0.5,
                              max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING corpus:
    ``(id_new, id_corpus, jaccard)`` with exact Jaccard ≥ threshold.

    The asymmetric ingestion shape that survives 100 TB: the corpus side
    is the pre-materialized band table (``minhash_bands``) plus a
    ``(id, wh)`` hashed-word-set table — both written once at ingest, both
    keyed for pruning — so per-batch cost is O(batch bands ⋈ matching
    corpus bands), never O(corpus²) and never a corpus re-scan. The
    optional ``max_bucket_size`` caps degenerate CORPUS buckets exactly
    like the symmetric pipeline (a boilerplate band key shared by millions
    of corpus docs would otherwise amplify every new doc that hits it).

    ``corpus_words`` must carry ``(id_col, wh)`` where ``wh`` is
    ``sqlexpr.word_hashes_sql(text)`` — the same encoding the
    verify phase uses everywhere."""
    nb = minhash_bands(new_df, id_col, text_col, num_hashes, band_size)
    cb = corpus_bands
    if max_bucket_size is not None:
        sizes = cb.groupBy("band_key").agg(F.count(F.lit(1)).alias("__n"))
        cb = (cb.join(sizes.where(F.col("__n") <= max_bucket_size),
                      "band_key").drop("__n"))
    cands = (nb.select(F.col(id_col).alias("id_new"), "band_key")
             .join(cb.select(F.col(id_col).alias("id_corpus"), "band_key"),
                   "band_key")
             .where(F.col("id_new") != F.col("id_corpus"))
             .select("id_new", "id_corpus")
             .distinct())
    new_words = (hashed_word_sets(new_df, id_col, text_col)
                 .select(F.col(id_col).alias("id_new"),
                         F.col("wh").alias("wh_a"),
                         F.col("nw").alias("nw_a")))
    cw = corpus_words.select(F.col(id_col).alias("id_corpus"),
                             F.col("wh").alias("wh_b"),
                             F.size("wh").alias("nw_b"))
    inter = F.size(F.array_intersect(F.col("wh_a"), F.col("wh_b")))
    jac = inter.cast("double") / (F.col("nw_a") + F.col("nw_b") - inter).cast("double")
    return (cands
            .join(F.broadcast(new_words), "id_new")
            .join(cw, "id_corpus")
            .withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_new", "id_corpus", "jaccard"))
