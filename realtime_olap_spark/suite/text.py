"""Text-analysis suite on the documents table — language ID, quality
scoring, token counting, fingerprinting — each paired with a full DuckDB
oracle. All features are integer-derived (counts, integer sums, single
divisions), so even the double-valued scores compare bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X
from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import text as T
from realtime_olap_spark.suite.registry import query

# DuckDB renderings of the same expressions (RE2 regexes; 'g' = replace-all
# to match Spark's regexp_replace semantics).
_WS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"
_NTOK = f"len({_WS})"
_NPUNCT = r"(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))"
_NUPPER = "(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))"
_STOPLIST = "['" + "', '".join(T.LANG_MARKERS["en"]) + "']"
_NSTOP = f"len(list_filter({_WS}, w -> list_contains({_STOPLIST}, w)))"
_WCHARS = f"CAST(list_sum(list_transform({_WS}, w -> length(w))) AS BIGINT)"
_BPE = f"len(regexp_extract_all(text, '{T.BPE_ISH_PATTERN}'))"
# word bigrams, DuckDB 1-based list indexing — twin of X.word_ngrams_sql(n=2)
_BIGRAMS = (f"list_transform(generate_series(1, greatest({_NTOK} - 1, 0)), "
            f"i -> concat_ws(' ', {_WS}[i], {_WS}[i + 1]))")
# word trigrams — twin of X.word_ngrams_sql(n=3), for the decontamination pass
_TRIGRAMS = (f"list_transform(generate_series(1, greatest({_NTOK} - 2, 0)), "
             f"i -> concat_ws(' ', {_WS}[i], {_WS}[i + 1], {_WS}[i + 2]))")

#: Decontamination benchmark size: the corpus's own first N docs stand in
#: for an eval set (guaranteed overlap at any scale factor or generator
#: seed — a doc is its own benchmark item), so the driver-recorded query
#: always exercises non-zero hit counts.
DECONTAM_BENCH_DOCS = 5

# unigram+bigram gram list (DSIR/classifier feature space) and the
# deterministic-weight classifier margin — the portable twin of
# classifier.quality_margin_portable: md5 bucket, inline integer weight
# arithmetic, in-order left fold, one division (bias 0)
_GRAMS12 = f"list_concat({_WS}, {_BIGRAMS})"
_CLF_TERM = ("CAST((CAST(('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 "
             "AS INT) * 3) % 7 - 3 AS DOUBLE) / 5.0")
_CLF_MARGIN = (f"(CASE WHEN len({_GRAMS12}) > 0 THEN "
               f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
               f"list_transform({_GRAMS12}, g -> {_CLF_TERM})), "
               f"(acc, x) -> acc + x) / CAST(len({_GRAMS12}) AS DOUBLE) "
               f"ELSE 0.0 END)")

_LANGS = sorted(T.LANG_MARKERS)
_SCORES = "[" + ", ".join(
    " + ".join(
        f"(CASE WHEN list_contains(list_distinct({_WS}), '{m}') THEN 1 ELSE 0 END)"
        for m in T.LANG_MARKERS[lang])
    for lang in _LANGS) + "]"
_LANG_LIST = "['" + "', '".join(_LANGS) + "']"
_DETECT = (f"(CASE WHEN list_max({_SCORES}) >= 1 "
           f"THEN {_LANG_LIST}[list_indexof({_SCORES}, list_max({_SCORES}))] "
           f"ELSE 'und' END)")


@query("text_lang_quality", f"""
WITH scored AS (
  SELECT {_DETECT} AS detected,
         least(CAST({_NSTOP} AS DOUBLE) / CAST({_NTOK} AS DOUBLE) * 2.0, 0.4)
         + (CASE WHEN CAST({_WCHARS} AS DOUBLE) / CAST({_NTOK} AS DOUBLE)
                 BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END)
         + greatest(0.2 - CAST({_NPUNCT} AS DOUBLE) / CAST(length(text) AS DOUBLE), 0.0)
         AS q,
         {_NTOK} - len(list_distinct({_WS})) AS dup1,
         {_NTOK} AS tot1,
         len({_BIGRAMS}) - len(list_distinct({_BIGRAMS})) AS dup2,
         len({_BIGRAMS}) AS tot2,
         {_BIGRAMS} AS bg,
         {_CLF_MARGIN} AS clfm
  FROM documents),
agg AS (
  SELECT detected,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN clfm >= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS clf_kept,
         CAST(SUM(dup1) AS BIGINT) AS dup_word_occ,
         CAST(SUM(tot1) AS BIGINT) AS total_words,
         CAST(CAST(SUM(dup2) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(tot2) AS BIGINT) AS DOUBLE) AS rep_bigram_frac
  FROM scored
  GROUP BY detected),
tops AS (
  SELECT detected, gram AS top_bigram,
         CAST(n_occ AS BIGINT) AS top_bigram_n
  FROM (
    SELECT detected, gram, COUNT(*) AS n_occ,
           ROW_NUMBER() OVER (PARTITION BY detected
                              ORDER BY COUNT(*) DESC, gram ASC) AS rk
    FROM (SELECT detected, unnest(bg) AS gram FROM scored)
    GROUP BY detected, gram)
  WHERE rk = 1)
SELECT agg.*, tops.top_bigram, tops.top_bigram_n
FROM agg LEFT JOIN tops ON agg.detected = tops.detected
ORDER BY agg.detected ASC
""")
def text_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (marker-word argmax against literal per-language
    profiles) + the curation gate in one pass: per DETECTED language, doc
    counts, keep counts at quality_score ≥ 0.5, and the Gopher-style
    repetition signals (duplicated word occurrences; repeated-bigram
    fraction). Numerators and denominators are summed as integers and
    divided once per group, so the corpus-level fractions are exact in
    any engine.

    ``clf_kept`` puts the LEARNED-classifier scoring path under the
    driver oracle end-to-end: the per-doc linear margin
    (classifier.quality_margin_portable — md5 bucket space,
    deterministic inline weights, bit-equal in-order fold) thresholded
    at ≥ 0 and counted per language, the integer reduction of the
    sigmoid gate a production run applies."""
    from realtime_olap_spark.operators import classifier as CL  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    # ONE split per row, shared by language ID, quality, and repetition —
    # CollapseProject keeps multi-referenced non-cheap aliases materialized
    staged = (d.select("text", F.expr(X.words_sql("text")).alias("ws"))
               .select("text", "ws",
                       F.array_distinct(F.col("ws")).alias("wsd"),
                       F.expr(X.bigrams_sql("ws")).alias("bg")))
    dup2, tot2 = T.repeated_ngram_counts_from(F.col("bg"))
    scored = staged.select(
        T.detect_language_from(F.col("wsd")).alias("detected"),
        T.quality_score_from(F.col("text"), F.col("ws")).alias("q"),
        (F.size("ws") - F.size("wsd")).cast("long").alias("dup1"),
        F.size("ws").cast("long").alias("tot1"),
        dup2.alias("dup2"), tot2.alias("tot2"),
        F.col("bg"),
        CL.quality_margin_portable("text").alias("clfm"))
    agg = (scored.groupBy("detected")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("q") >= 0.5, 1).otherwise(0)).alias("n_kept"),
                F.sum(F.when(F.col("clfm") >= 0.0, 1).otherwise(0))
                .cast("long").alias("clf_kept"),
                F.sum("dup1").alias("dup_word_occ"),
                F.sum("tot1").alias("total_words"),
                (F.sum("dup2").cast("double") / F.sum("tot2").cast("double"))
                .alias("rep_bigram_frac")))
    # corpus heavy hitter per language: the boilerplate-detection pass
    w = Window.partitionBy("detected").orderBy(F.col("n_occ").desc(),
                                               F.col("gram").asc())
    tops = (scored.select("detected", F.explode("bg").alias("gram"))
            .groupBy("detected", "gram")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("detected", F.col("gram").alias("top_bigram"),
                    F.col("n_occ").alias("top_bigram_n")))
    return (agg.join(tops, "detected", "left")
            .orderBy(F.col("detected").asc()))


# DuckDB twin of operators.sampling._bucket over the doc_id key
_BUCKET = ("(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
           "AS UBIGINT) AS BIGINT) % 1000000)")

#: FIXED unigram-LM bucket cutoffs (ascending mean-logprob; natural log).
#: Fixed literals, NOT quantiles: the per-doc mean of doubles is summed in
#: engine-dependent order, so the MEAN can differ in the last ULP between
#: Spark and DuckDB — but a bucket id only flips if a doc's score lies
#: within that ULP of a cutoff. Round two-decimal cutoffs sit ≥ 1e-6 from
#: every doc score at every SF (asserted in tests/test_lm_score.py), so
#: the integer bucket is hash-exact while exercising unigram_logprob end
#: to end. Rendered into the oracle via CAST(VARCHAR AS DOUBLE) — the
#: correctly-rounded parse, identical to Python's float literal.
LM_BUCKET_CUTOFFS = [-3.41, -3.40]

_LM_CUTS_SQL = " + ".join(
    f"(CASE WHEN lm.mlp < CAST('{c!r}' AS DOUBLE) THEN 1 ELSE 0 END)"
    for c in LM_BUCKET_CUTOFFS)
_LM_BUCKET = (f"CAST((CASE WHEN lm.mlp IS NULL THEN {len(LM_BUCKET_CUTOFFS)} "
              f"ELSE {_LM_CUTS_SQL} END) AS BIGINT)")


@query("text_doc_features", f"""
WITH bench AS (SELECT text FROM documents
               ORDER BY doc_id LIMIT {DECONTAM_BENCH_DOCS}),
bg AS (SELECT DISTINCT unnest({_TRIGRAMS}) AS gram FROM bench),
dg AS (SELECT doc_id, unnest(list_distinct({_TRIGRAMS})) AS gram
       FROM documents),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         FROM dg JOIN bg USING (gram) GROUP BY doc_id),
toks AS (SELECT doc_id, unnest({_WS}) AS word FROM documents),
freqs AS (SELECT word, COUNT(*) AS n_occ FROM toks GROUP BY word),
tot AS (SELECT CAST(SUM(n_occ) AS DOUBLE) AS n FROM freqs),
lm AS (SELECT doc_id AS lm_doc_id, AVG(ln(n_occ / (SELECT n FROM tot))) AS mlp
       FROM toks JOIN freqs USING (word) GROUP BY doc_id),
dsir_ws AS (SELECT doc_id, source,
            list_filter(string_split_regex(lower(text), '\\s+'),
                        x -> x <> '') AS ws FROM documents),
dsir_b AS (SELECT doc_id, source,
           CAST(('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS INT)
             AS bucket
           FROM (SELECT doc_id, source,
                 unnest(ws || list_transform(range(1, len(ws)),
                                             i -> ws[i] || ' ' || ws[i+1]))
                   AS g
                 FROM dsir_ws)),
dsir_t AS (SELECT bucket, COUNT(*) AS ct FROM dsir_b
           WHERE source = (SELECT MIN(source) FROM documents)
           GROUP BY bucket),
dsir_tot AS (SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dsir_b
   WHERE source = (SELECT MIN(source) FROM documents)) AS tt,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM dsir_b) AS st),
dsir_fav AS (SELECT s.bucket
             FROM (SELECT bucket, COUNT(*) AS cs FROM dsir_b
                   GROUP BY bucket) s
             LEFT JOIN dsir_t t USING (bucket), dsir_tot
             WHERE (COALESCE(t.ct, 0) + 1) * (st + 1024)
                   > (s.cs + 1) * (tt + 1024)),
dsir_hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS fav_hits
              FROM dsir_b JOIN dsir_fav USING (bucket) GROUP BY doc_id)
SELECT doc_id,
       length(text) AS n_chars_m,
       {_NTOK} AS n_tokens,
       CAST({_WCHARS} AS DOUBLE) / CAST({_NTOK} AS DOUBLE) AS mean_word_len,
       CAST({_NSTOP} AS DOUBLE) / CAST({_NTOK} AS DOUBLE) AS stopword_ratio,
       CAST({_NPUNCT} AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
       CAST({_NUPPER} AS DOUBLE) / CAST(length(text) AS DOUBLE) AS upper_ratio,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      [CAST(ascii(c) AS BIGINT) for c in string_split(text, '') if c != '']),
         (acc, c) -> (acc * 31 + c) % {T.FINGERPRINT_MOD}) AS fingerprint,
       ({_BUCKET} < 200000) AS in_sample,
       (CASE WHEN {_BUCKET} < 100000 THEN 'test' ELSE 'train' END) AS split,
       ROW_NUMBER() OVER (PARTITION BY lang, source
                          ORDER BY {_BUCKET} ASC,
                                   CAST(doc_id AS VARCHAR) ASC) AS strat_rank,
       COALESCE((SELECT n_hits FROM hits WHERE hits.doc_id = documents.doc_id),
                CAST(0 AS BIGINT)) AS contam_hits,
       {_LM_BUCKET} AS lm_bucket,
       COALESCE((SELECT fav_hits FROM dsir_hits
                 WHERE dsir_hits.doc_id = documents.doc_id),
                CAST(0 AS BIGINT)) AS dsir_fav_hits
FROM documents
LEFT JOIN lm ON lm.lm_doc_id = documents.doc_id
ORDER BY doc_id ASC
LIMIT 30
""")
def text_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (length / token stats / stopword,
    punctuation, uppercase ratios) + the order-sensitive rolling polynomial
    fingerprint (Rabin-Karp-style) — all pure scan-side expressions — plus
    the deterministic curation-sampling decisions (operators/sampling.py):
    hash-sample membership at 20%, the 10% train/test split, the
    stratified per-(lang, source) rank whose ``rank <= n`` is the balanced
    take, and the decontamination audit (operators/decontam.py): distinct
    trigrams shared with the benchmark (= the corpus's own first
    DECONTAM_BENCH_DOCS docs, so hits are guaranteed at any SF/seed;
    benchmark gram hashes broadcast, corpus never shuffled). Content-hash
    decisions are row properties, so the audit columns are reproducible on
    any engine or partitioning.

    ``lm_bucket`` puts the unigram-LM perplexity-proxy signal
    (operators/lm_score.py) under the driver oracle end-to-end: the
    self-trained corpus LM scores every doc and the FIXED literal
    cutoffs (LM_BUCKET_CUTOFFS) reduce the order-dependent double mean
    to a hash-exact integer tier.

    Plan shape (r16 profile passes — was the suite's slowest query for
    four rounds): every signal except ``strat_rank`` is a PER-ROW
    property, so the 30-doc trim happens FIRST — ONE corpus text scan,
    materialized (localCheckpoint) and shared by every text-heavy pass
    (quality folds, fingerprint, DSIR hits, contamination grams,
    benchmark grams, LM scoring), where the first r16 pass still ran
    four separate TakeOrderedAndProject corpus scans. ``strat_rank``
    comes from ``sampling.stratified_rank_probe``: a broadcast
    count-join over a NARROW (doc_id, lang, source) corpus projection
    — no corpus shuffle, no sort — instead of the full stratified
    window (value-identical, pinned in tests/test_sampling.py). All
    closing joins broadcast their ≤30-row sides (zero exchanges). On
    the trimmed rows the interpreted JVM expression fold
    (``sqlexpr.rolling_fingerprint_sql``) replaces the Arrow pandas_udf
    fast path: one Python-worker stage costs ~0.45 s of round-trip
    overhead regardless of row count (this box's measurement), which
    dwarfs 30 rows of per-char lambda evals — the pandas_udf remains
    the right call for the full-corpus scans
    (``text.rolling_fingerprint_fast`` docstring). A/B at sf0.1:
    1.31 s -> 0.99 s (trim-first), then 0.99 s -> see
    OPTIMIZATION_r16.md (single-scan + broadcast joins + probe rank);
    outputs bit-equal at sf0.001/0.01/0.1. Full-corpus throughput of
    the heavy passes stays measured by the dedicated bench entries
    (``decontam_scan_bench``, ``importance_scan_bench``,
    ``bench_classifier_scan``)."""
    from realtime_olap_spark.operators import decontam as DC  # noqa: PLC0415
    from realtime_olap_spark.operators import importance as IMP  # noqa: PLC0415
    from realtime_olap_spark.operators import lm_score as LM  # noqa: PLC0415
    from realtime_olap_spark.operators import sampling as S  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    # ONE corpus text pass materializes the 30-doc trim; the r16 before-
    # plan ran FOUR separate TakeOrderedAndProject corpus scans (main
    # projection, contamination grams, benchmark grams, LM tokens) to
    # produce the same 30 rows (guide §1.2 step 1 / §2.4: don't compute
    # things twice). Recomputed per call — nothing survives the query.
    trim_full = (d.select("doc_id", "text", "lang", "source")
                 .orderBy("doc_id").limit(30).localCheckpoint(eager=True))
    trim = trim_full.select("doc_id", "text")
    # first 5 of the first 30 = the global first 5: derive the benchmark
    # from the trim instead of a second corpus scan
    bench = (trim_full.orderBy("doc_id").limit(DECONTAM_BENCH_DOCS)
             .select("text"))
    # broadcast count-rank over the narrow corpus scan instead of a full
    # (lang, source) window shuffle+sort: only the 30 probe docs need a
    # rank (value-identical — pinned in tests/test_sampling.py)
    ranks = S.stratified_rank_probe(
        d.select("doc_id", "lang", "source"),
        trim_full.select("doc_id", "lang", "source"),
        ["lang", "source"], "doc_id")
    hits = DC.contamination_hits(
        trim, DC.benchmark_gram_hashes(bench, "text", 3),
        "doc_id", "text", 3)
    lm = (LM.unigram_logprob(trim, "doc_id", "text",
                             freqs=_lm_freqs(spark, sf_dir),
                             broadcast_agg=True)
          .select("doc_id",
                  LM.bucket_by_cutoffs(F.col("mean_logprob"),
                                       LM_BUCKET_CUTOFFS).alias("lm_bucket")))
    fav = _dsir_favored(spark, sf_dir)
    # every join side below is ≤ 30 rows — broadcast them all, so the
    # closing joins are hash joins with zero exchanges. (r17 examined
    # pre-joining the three sides into ONE broadcast: it ADDED a job —
    # the combined side's nested broadcasts serialize what the three
    # independent broadcast-exchange threads build concurrently.)
    return (trim.select("doc_id",
                        *X.quality_features_sql("text"),
                        F.expr(X.rolling_fingerprint_sql(
                            "text", T.FINGERPRINT_MOD))
                        .alias("fingerprint"),
                        F.expr(X.favored_hits_sql("text", fav))
                        .alias("dsir_fav_hits"))
            .withColumn("in_sample", S.sample_flag("doc_id", 0.2))
            .transform(lambda df: S.train_test_split(df, "doc_id", 0.1))
            .join(F.broadcast(hits), "doc_id", "left")
            .withColumn("contam_hits",
                        F.coalesce(F.col("n_hits"), F.lit(0).cast("long")))
            .join(F.broadcast(lm), "doc_id", "left")
            .join(F.broadcast(ranks), "doc_id")
            .drop("n_hits")
            .orderBy(F.col("doc_id").asc()).limit(30))


_PACK_BUDGET = 2048

#: Hash-shards per source for the packing window. Packing order only needs
#: determinism WITHIN a shard, so the window partitions on the composite
#: (source, hash(doc_id) % PACK_SHARDS) — no single task ever sorts a
#: whole source (testdata has a handful of sources; at corpus scale one
#: source ≈ the corpus). Raise N and the window partition count scales
#: with it. The shard hash is md5-based, not doc_id % N: synthetic doc_ids
#: are arithmetically correlated with source, which collapses a modulo to
#: 2 residues per source; md5 computes identically in Spark and DuckDB.
PACK_SHARDS = 8

_SHARD_SQL = (f"CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) "
              f"AS INTEGER) % {PACK_SHARDS} AS BIGINT)")


def _shard_col() -> F.Column:
    """Spark twin of ``_SHARD_SQL`` — same md5-hex prefix, same modulus."""
    hex4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return F.pmod(F.conv(hex4, 16, 10).cast("long"),
                  F.lit(PACK_SHARDS)).cast("long")


@query("text_token_budget", f"""
WITH toks AS (
  SELECT doc_id, source, {_SHARD_SQL} AS shard,
         CAST({_NTOK} AS BIGINT) AS ntok, CAST({_BPE} AS BIGINT) AS bpe
  FROM documents),
packed AS (
  SELECT *,
         SUM(bpe) OVER (PARTITION BY source, shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - bpe AS start_tok
  FROM toks),
shards AS (
  SELECT source, shard,
         COUNT(*) AS n_docs,
         SUM(ntok) AS ws_tokens,
         SUM(bpe) AS bpe_tokens,
         MAX(bpe) AS max_bpe,
         MAX((start_tok + bpe - 1) // {_PACK_BUDGET}) + 1 AS n_seqs,
         SUM(CASE WHEN (start_tok + bpe - 1) // {_PACK_BUDGET}
                  > start_tok // {_PACK_BUDGET} THEN 1 ELSE 0 END)
           AS n_straddle
  FROM packed
  GROUP BY source, shard)
SELECT source,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
       MAX(max_bpe) AS max_bpe,
       CAST(SUM(bpe_tokens) AS DOUBLE) / CAST(SUM(n_docs) AS DOUBLE)
         AS avg_bpe,
       CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
       CAST(SUM(n_straddle) AS BIGINT) AS n_straddle,
       CAST(CAST(SUM(bpe_tokens) AS BIGINT) AS DOUBLE)
       / CAST(SUM(n_seqs) * {_PACK_BUDGET} AS DOUBLE) AS fill_ratio
FROM shards
GROUP BY source
ORDER BY source ASC
""")
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting per source: whitespace + BPE-ish counts (integer
    sums → exact), the sizing pass for training-data mixes — plus the
    concat-and-cut sequence-packing summary (operators/packing.py):
    sequences at a {_PACK_BUDGET}-token budget, boundary-straddling doc
    count, and the token fill ratio. Packing is per (source, shard) —
    PACK_SHARDS hash shards per source, mirrored in the oracle's
    PARTITION BY, so the window never funnels a whole source through one
    task. Every doc has bpe > 0 in this corpus, so MAX(last_seq)+1 ==
    ceil(shard_total/budget) per shard; per-source n_seqs is the sum of
    its shards' sequence counts."""
    from realtime_olap_spark.operators.packing import pack_chunked  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select(
        "doc_id", "source",
        _shard_col().alias("shard"),
        T.token_count(F.col("text")).cast("long").alias("ntok"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe"))
    packed = pack_chunked(toks, "bpe", ["doc_id"], _PACK_BUDGET,
                          partition_cols=["source", "shard"])
    shard_seqs = (F.max("last_seq") + 1).cast("long")
    shards = (packed.groupBy("source", "shard")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("ntok").alias("ws_tokens"),
                   F.sum("bpe").alias("bpe_tokens"),
                   F.max("bpe").alias("max_bpe"),
                   shard_seqs.alias("n_seqs"),
                   F.sum(F.when(F.col("n_splits") > 0, 1).otherwise(0))
                   .alias("n_straddle")))
    n_seqs = F.sum("n_seqs").cast("long")
    return (shards.groupBy("source")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("ws_tokens").alias("ws_tokens"),
                 F.sum("bpe_tokens").alias("bpe_tokens"),
                 F.max("max_bpe").alias("max_bpe"),
                 (F.sum("bpe_tokens").cast("double")
                  / F.sum("n_docs").cast("double")).alias("avg_bpe"),
                 n_seqs.alias("n_seqs"),
                 F.sum("n_straddle").cast("long").alias("n_straddle"),
                 (F.sum("bpe_tokens").cast("double")
                  / (n_seqs * _PACK_BUDGET).cast("double"))
                 .alias("fill_ratio"))
            .orderBy(F.col("source").asc()))



def decontam_scan_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only full-corpus decontamination scan (NOT in the driver
    window — `text_doc_features` carries the oracled `contam_hits` audit;
    this entry records the raw throughput of the broadcast semi-join shape
    at bench SF).

    Scans every document, explodes its distinct trigram hashes scan-side,
    broadcast-joins the benchmark gram-hash set and counts per-doc hits —
    the 100 TB decontamination plan from operators/decontam.py, measured
    over the whole corpus instead of the 30-row oracled trim."""
    from realtime_olap_spark.operators import decontam as DC  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    bench = d.orderBy("doc_id").limit(DECONTAM_BENCH_DOCS).select("text")
    return DC.contamination_hits(
        d, DC.benchmark_gram_hashes(bench, "text", 3), "doc_id", "text", 3)


def _lm_freqs(spark: SparkSession, sf_dir: str):
    """Trained unigram-LM frequency table, once per (session, corpus):
    the vocab count table is the fitted MODEL (train_unigram_freqs'
    docstring: "persist the result at ingest"), so the per-query cost is
    the SCORING join+fold, not refitting — the same train-once contract
    as the DSIR LUT and the IVF/PQ codebooks."""
    from realtime_olap_spark.operators import lm_score as LM  # noqa: PLC0415
    from realtime_olap_spark.suite.memo import session_memo  # noqa: PLC0415
    return session_memo(
        spark, sf_dir, "lm_freqs",
        lambda: LM.train_unigram_freqs(
            Catalog(spark, sf_dir).table("documents"), "text"))


def _dsir_lut(spark: SparkSession, sf_dir: str) -> list[float]:
    """Fitted DSIR log-ratio LUT, once per (session, corpus): the fit
    (two B-row count shuffles + a B-row parameter fetch) is train-once
    model estimation — timed consumers measure the scoring scan."""
    from realtime_olap_spark.operators import importance as IMP  # noqa: PLC0415
    from realtime_olap_spark.suite.memo import session_memo  # noqa: PLC0415

    def build() -> list[float]:
        d = Catalog(spark, sf_dir).table("documents")
        target_src = d.select("source").orderBy("source").first()["source"]
        target = d.where(F.col("source") == target_src)
        return IMP.log_ratio_lut(IMP.bucket_counts(target, "text"),
                                 IMP.bucket_counts(d, "text"))

    return session_memo(spark, sf_dir, "dsir_lut", build)


def importance_scan_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only DSIR importance-weight scan (NOT in the driver
    window): score EVERY document's hashed unigram+bigram buckets
    against the fitted log-ratio LUT — a zero-shuffle scan-side fold —
    and reduce to per-source weight sums. Records the throughput of the
    data-selection scoring pass at bench SF."""
    from realtime_olap_spark.operators import importance as IMP  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    scored = IMP.importance_weights(d, "doc_id", "text",
                                    _dsir_lut(spark, sf_dir))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("log_weight").alias("sum_log_weight"))
            .orderBy("source"))


def _quality_model(spark: SparkSession, sf_dir: str):
    """Distilled quality classifier, once per (session, corpus): labels
    come from the heuristic gate (the DCLM-style teacher), training is
    the train-once model fit — timed consumers measure the scoring
    scan."""
    from realtime_olap_spark.operators import classifier as CL  # noqa: PLC0415
    from realtime_olap_spark.operators.text import quality_score  # noqa: PLC0415
    from realtime_olap_spark.suite.memo import session_memo  # noqa: PLC0415

    def build():
        d = Catalog(spark, sf_dir).table("documents")
        teacher = quality_score("text")
        return CL.fit_quality_classifier(
            d.where(teacher >= 0.3), d.where(teacher < 0.3), "text",
            n_buckets=1024, iters=10, lr=2.0)

    return session_memo(spark, sf_dir, "quality_model", build)


def classifier_scan_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only learned-quality scoring scan (NOT in the driver
    window): sigmoid-fold every document against the fitted literal
    weight LUT — zero shuffle until the per-source reduction. Records
    the throughput of the classifier gate at bench SF."""
    from realtime_olap_spark.operators import classifier as CL  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    model = _quality_model(spark, sf_dir)
    scored = d.withColumn("q", CL.quality_score("text", model))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("q").alias("sum_q"),
                 F.sum((F.col("q") >= 0.5).cast("long")).alias("n_pass"))
            .orderBy("source"))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """Trained BPE merge table, once per (session, corpus) — tokenizer
    training is the canonical train-once artifact."""
    from realtime_olap_spark.operators import bpe as B  # noqa: PLC0415
    from realtime_olap_spark.suite.memo import session_memo  # noqa: PLC0415
    return session_memo(
        spark, sf_dir, "bpe_merges",
        lambda: B.train_bpe(Catalog(spark, sf_dir).table("documents"),
                            "text", num_merges=200, max_vocab=20_000))


def bpe_count_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only real-BPE tokenization scan (NOT in the driver window):
    Arrow-batched greedy encode + count over every document, reduced to
    per-source token totals — the exact-budget pass a shard build runs."""
    from realtime_olap_spark.operators import bpe as B  # noqa: PLC0415
    d = Catalog(spark, sf_dir).table("documents")
    counted = B.bpe_token_count(d, "text", _bpe_merges(spark, sf_dir))
    return (counted.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bpe").alias("total_bpe"))
            .orderBy("source"))


def span_dedup_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only exact-substring span-dedup audit (NOT in the driver
    window): corpus-level duplication totals over the per-doc span audit
    table — read from the SHARED per-session materialization
    (`suite/dedup.shared_span_stats`; the one (hash, id, pos) shuffle is
    the ingest-time window-table build, warmed untimed in bench like the
    scored-pair and IVF/PQ index builds)."""
    from realtime_olap_spark.suite.dedup import shared_span_stats  # noqa: PLC0415
    stats = shared_span_stats(spark, sf_dir)
    return (stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_dup_windows").alias("dup_windows"),
        F.sum("dup_tokens").alias("dup_tokens"),
        F.sum("n_tokens").alias("total_tokens")))


def _dsir_favored(spark: SparkSession, sf_dir: str) -> list[int]:
    """Portable DSIR favored-bucket bitmap, once per (session, corpus) —
    same train-once contract as the LUT; the fit is two B-row md5-bucket
    count shuffles + integer comparisons."""
    from realtime_olap_spark.operators import importance as IMP  # noqa: PLC0415
    from realtime_olap_spark.suite.memo import session_memo  # noqa: PLC0415

    def build() -> list[int]:
        d = Catalog(spark, sf_dir).table("documents")
        tgt = d.where(F.col("source") == d.agg(F.min("source")).first()[0])
        return IMP.favored_buckets(IMP.bucket_counts_md5(tgt, "text"),
                                   IMP.bucket_counts_md5(d, "text"))

    return session_memo(spark, sf_dir, "dsir_favored", build)
