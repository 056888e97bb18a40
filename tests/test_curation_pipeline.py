"""End-to-end curation pipeline: the LLM-data operators composed the way a
real pre-training dataset build chains them —

    decontaminate → quality gate → near-dup keep-one → temperature mix →
    chunk → pack

Each stage is individually differential-tested elsewhere; this pins the
COMPOSITION: stages commute with determinism (two runs, same output),
row-flow is monotone non-increasing until chunking, and every stage's
output schema feeds the next without adapters. All scan-side / broadcast
stages — the composed plan still never shuffles the corpus except at the
explicit dedup groupBy."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import dedup as D
from realtime_olap_spark.operators.chunking import chunk_documents
from realtime_olap_spark.operators.decontam import decontaminate
from realtime_olap_spark.operators.mixture import temperature_mixture_sample
from realtime_olap_spark.operators.packing import pack_greedy
from realtime_olap_spark.operators.text import quality_score
from tests.conftest import SF_DIR


def _pipeline(spark):
    docs = Catalog(spark, SF_DIR).table("documents")
    bench = docs.orderBy("doc_id").limit(3).select("text")

    clean = decontaminate(docs, bench, "doc_id", "text", n=3)
    gated = clean.where(quality_score("text") >= 0.3)
    kept = D.dedup_exact(gated, ["text"], keep_by="doc_id")
    toks = kept.withColumn(
        "ntok", F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                                lambda w: w != "")).cast("long"))
    total = toks.agg(F.sum("ntok")).first()[0]
    mixed = temperature_mixture_sample(toks, "source", "doc_id", "ntok",
                                       alpha=0.5,
                                       target_tokens=float(total) * 0.5)
    chunks = chunk_documents(mixed, "doc_id", "text", 32, 8)
    packed = pack_greedy(
        chunks.withColumnRenamed("chunk_ntok", "ctok"),
        "ctok", ["doc_id", "chunk_idx"], budget=256,
        partition_cols=[])
    return docs, clean, gated, kept, mixed, chunks, packed


def test_pipeline_row_flow_and_determinism(spark):
    docs, clean, gated, kept, mixed, chunks, packed = _pipeline(spark)
    n_docs = docs.count()
    n_clean = clean.count()
    n_gated = gated.count()
    n_kept = kept.count()
    n_mixed = mixed.count()
    # monotone filtering stages, none degenerate-empty
    assert n_docs >= n_clean >= n_gated >= n_kept >= n_mixed > 0
    assert n_clean < n_docs  # the seeded benchmark really removed docs

    n_chunks = chunks.count()
    assert n_chunks >= n_mixed  # chunking amplifies (≥1 chunk per doc)

    # packing covers every chunk exactly once, within budget per sequence
    per_seq = (packed.groupBy("seq_id")
               .agg(F.sum("ctok").alias("fill"),
                    F.count(F.lit(1)).alias("n")))
    assert packed.count() == n_chunks
    # a sequence may exceed budget only when it is a single oversized chunk
    bad = per_seq.where((F.col("fill") > 256) & (F.col("n") > 1)).count()
    assert bad == 0

    # determinism: a second identical build selects the identical doc set
    _, _, _, _, mixed2, _, _ = _pipeline(spark)
    ids1 = {r["doc_id"] for r in mixed.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in mixed2.select("doc_id").collect()}
    assert ids1 == ids2


def test_incremental_ingest_equals_from_scratch(spark, tmp_path):
    """Second-batch ingestion composes with the curation stages: clean →
    gate → exact-dedup the batch, then near-dup-drop it against the
    corpus's MATERIALIZED band/word tables (written to parquet at 'ingest'
    time, read back for the probe — the 100 TB shape where the corpus is
    never re-paired). The incrementally-built kept corpus must equal the
    from-scratch pipeline over the union under the same first-wins
    policy (corpus ids < batch ids, so min-id keep-one and cross-pair
    drops coincide by construction)."""
    docs = Catalog(spark, SF_DIR).table("documents")
    split, tau = 250, 0.5
    first = docs.where(F.col("doc_id") < split)
    second = docs.where(F.col("doc_id") >= split)
    bench = docs.orderBy("doc_id").limit(3).select("text")

    def clean_gate(df):
        c = decontaminate(df, bench, "doc_id", "text", n=3)
        return c.where(quality_score("text") >= 0.3)

    # --- incremental build: corpus curated once, artifacts materialized
    corpus_kept = D.dedup_exact(clean_gate(first), ["text"], keep_by="doc_id")
    D.minhash_bands(corpus_kept, "doc_id", "text", 8, 2) \
        .write.parquet(str(tmp_path / "bands"))
    D.hashed_word_sets(corpus_kept, "doc_id", "text") \
        .select("doc_id", "wh").write.parquet(str(tmp_path / "words"))
    corpus_bands = spark.read.parquet(str(tmp_path / "bands"))
    corpus_words = spark.read.parquet(str(tmp_path / "words"))

    batch = D.dedup_exact(clean_gate(second), ["text"], keep_by="doc_id") \
        .join(corpus_kept.select("text"), "text", "left_anti")
    inc_pairs = D.minhash_lsh_pairs_against(
        batch, corpus_bands, corpus_words, "doc_id", "text", threshold=tau)
    dropped = inc_pairs.select(F.col("id_new").alias("doc_id")).distinct()
    batch_kept = batch.join(dropped, "doc_id", "left_anti")
    combined_inc = {r["doc_id"] for r in
                    corpus_kept.select("doc_id").collect()} | \
                   {r["doc_id"] for r in batch_kept.select("doc_id").collect()}

    # --- from-scratch over the union, same policy
    all_kept = D.dedup_exact(clean_gate(docs), ["text"], keep_by="doc_id")
    full_pairs = D.minhash_lsh_dedup_pairs(all_kept, "doc_id", "text",
                                           num_hashes=8, band_size=2,
                                           threshold=tau)
    cross_drop = {max(r["id_a"], r["id_b"]) for r in full_pairs.collect()
                  if (r["id_a"] < split) != (r["id_b"] < split)}
    combined_scratch = {r["doc_id"] for r in
                        all_kept.select("doc_id").collect()} - cross_drop

    assert combined_inc == combined_scratch
    n_dropped = dropped.count()
    assert n_dropped > 0  # the near-dup stage really fired
    assert combined_inc  # and did not wipe the corpus


def test_pipeline_plan_shape(spark):
    """The composed filter stages stay scan-side: the only exchanges in
    the pre-chunking plan belong to the dedup groupBy, the mixture's tiny
    aggregates, and their broadcasts — the corpus is never repartitioned
    for the filters themselves."""
    _, _, _, _, mixed, _, _ = _pipeline(spark)
    plan = mixed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # decontam + mixture rate attach


def test_extended_pipeline_line_span_importance(spark):
    """The r6 stages compose into the same build: per-line C4 cleaning →
    corpus-wide span dedup (keep-first removal) → decontaminate →
    quality gate → exact dedup → DSIR importance selection → chunk.
    Pins determinism, monotone row flow, that span removal only shrinks
    documents, and that the importance stage prefers target-like docs."""
    from realtime_olap_spark.operators.importance import (bucket_counts,
                                                          dsir_resample,
                                                          importance_weights,
                                                          log_ratio_lut)
    from realtime_olap_spark.operators.lines import c4_line_filter
    from realtime_olap_spark.operators.spans import remove_duplicated_spans

    docs = Catalog(spark, SF_DIR).table("documents")
    bench = docs.orderBy("doc_id").limit(3).select("text")

    lined = c4_line_filter(docs, "text", min_words=3)
    tok0 = {r["doc_id"]: r["n"] for r in
            lined.select("doc_id", F.size(F.split(F.col("text"), r"\s+"))
                 .alias("n")).collect()}
    spanned = remove_duplicated_spans(lined, "doc_id", "text", k=8)
    tok1 = {r["doc_id"]: r["n"] for r in
            spanned.select("doc_id", F.size(F.split(F.col("text"), r"\s+"))
                   .alias("n")).collect()}
    assert set(tok1) == set(tok0)            # span removal never drops docs
    assert all(tok1[i] <= tok0[i] for i in tok0)
    assert any(tok1[i] < tok0[i] for i in tok0)  # and really fired

    # span removal can empty a document; drop husks before the quality
    # score (which is undefined at zero tokens)
    nonempty = spanned.where(F.trim(F.col("text")) != "")
    # surgical decontamination first (cut benchmark windows — docs keep
    # their clean remainder), then the doc-level gate as a BACKSTOP: a
    # cut can juxtapose two kept tokens into a new matching gram, and
    # the gate catches exactly that residue
    from realtime_olap_spark.operators.decontam import \
        remove_contaminated_spans
    surgical = remove_contaminated_spans(nonempty, bench, "doc_id",
                                         "text", n=3)
    clean = decontaminate(surgical, bench, "doc_id", "text", n=3)
    assert clean.count() >= nonempty.count() - bench.count() * 20, \
        "surgery should preserve nearly every doc for the gate"
    gated = clean.where(quality_score("text") >= 0.3)
    kept = D.dedup_exact(gated, ["text"], keep_by="doc_id")

    target_src = kept.agg(F.min("source")).first()[0]
    lut = log_ratio_lut(
        bucket_counts(kept.where(F.col("source") == target_src), "text",
                      1024),
        bucket_counts(kept, "text", 1024), 1024)
    scored = importance_weights(kept, "doc_id", "text", lut)
    n_kept = kept.count()
    selected = dsir_resample(scored, "doc_id", n_kept // 2, seed=3)
    assert selected.count() == n_kept // 2

    # the selection is target-leaning (expected under ∝-weight sampling)
    frac_sel = (selected.where(F.col("source") == target_src).count()
                / (n_kept // 2))
    frac_pop = kept.where(F.col("source") == target_src).count() / n_kept
    assert frac_sel >= frac_pop

    chunks = chunk_documents(selected, "doc_id", "text", 32, 8)
    assert chunks.count() >= selected.count()

    # determinism end to end
    again = dsir_resample(
        importance_weights(kept, "doc_id", "text", lut),
        "doc_id", n_kept // 2, seed=3)
    assert ({r["doc_id"] for r in selected.select("doc_id").collect()}
            == {r["doc_id"] for r in again.select("doc_id").collect()})


def test_pipeline_with_urls_classifier_bpe(spark):
    """The second-round r6 stages compose into the same build: URL
    canonical dedup + per-domain cap → LEARNED quality gate (classifier
    distilled from the heuristic's verdicts) → real-BPE token accounting
    → greedy packing. Pins: variant URLs collapse, the cap binds, the
    learned gate agrees with its teacher better than chance, BPE counts
    drive packing within budget, end-to-end determinism."""
    from realtime_olap_spark.operators import bpe as B
    from realtime_olap_spark.operators import classifier as CL
    from realtime_olap_spark.operators import urls as U

    docs = Catalog(spark, SF_DIR).table("documents")
    # synthetic per-doc URLs on the documents corpus (source => domain),
    # plus tracking-param/trailing-slash VARIANTS of the first 10 docs
    # re-ingested under shifted ids — the crawl-twin situation url_dedup
    # exists for
    with_url = docs.withColumn(
        "url", F.concat(F.lit("https://www."), F.col("source"),
                        F.lit(".com/doc/"), F.col("doc_id")))
    max_id = docs.agg(F.max("doc_id")).first()[0]
    variants = (docs.orderBy("doc_id").limit(10)
                .withColumn("doc_id", F.col("doc_id") + F.lit(max_id + 1))
                .withColumn("url", F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".com/doc/"), F.col("doc_id") - F.lit(max_id + 1),
                    F.lit("/?utm_source=crawl"))))
    corpus = with_url.unionByName(variants)

    deduped = U.url_dedup(corpus, "url", keep_by="doc_id")
    assert deduped.count() == docs.count()      # every variant collapsed
    assert deduped.agg(F.max("doc_id")).first()[0] <= max_id  # originals won

    capped = U.domain_frequency_cap(deduped, "url", F.col("text"), cap=15)
    per_dom = (capped.select(U.registered_domain(U.url_host("url"))
                             .alias("d"))
               .groupBy("d").agg(F.count(F.lit(1)).alias("n")))
    assert per_dom.agg(F.max("n")).first()[0] <= 15

    # distill the heuristic gate into the learned classifier
    teacher = quality_score("text")
    pos = capped.where(teacher >= 0.3)
    neg = capped.where(teacher < 0.3)
    if neg.count() < 3:       # corpus too clean: synthesize hard negatives
        neg = spark.createDataFrame(
            [("click click spam spam buy buy " * 4,)] * 5, ["text"])
    model = CL.fit_quality_classifier(pos, neg, "text", n_buckets=512,
                                      iters=12, lr=2.0)
    gated = CL.quality_filter(capped, "text", model, threshold=0.5)
    n_gated = gated.count()
    assert 0 < n_gated <= capped.count()
    # the student agrees with its teacher on the vast majority
    agree = capped.withColumn(
        "t", (teacher >= 0.3).cast("int")).withColumn(
        "s", (CL.quality_score("text", model) >= 0.5).cast("int"))
    frac = (agree.where(F.col("t") == F.col("s")).count()
            / max(capped.count(), 1))
    assert frac >= 0.8

    merges = B.train_bpe(gated, "text", num_merges=64, max_vocab=5000)
    budgeted = B.bpe_token_count(gated, "text", merges)
    from realtime_olap_spark.operators.packing import pack_greedy
    packed = pack_greedy(budgeted, "n_bpe", ["doc_id"], budget=4096,
                         partition_cols=[])
    assert packed.count() == n_gated            # every doc packed once
    per_seq = packed.groupBy("seq_id").agg(F.sum("n_bpe").alias("fill"),
                                           F.count(F.lit(1)).alias("n"))
    assert per_seq.where((F.col("fill") > 4096) & (F.col("n") > 1)) \
        .count() == 0

    # determinism of the whole chain
    again = CL.quality_filter(
        U.domain_frequency_cap(
            U.url_dedup(corpus, "url", keep_by="doc_id"),
            "url", F.col("text"), cap=15),
        "text", model, threshold=0.5)
    assert ({r["doc_id"] for r in gated.select("doc_id").collect()}
            == {r["doc_id"] for r in again.select("doc_id").collect()})


def test_pipeline_bpe_exact_budget_to_shards(spark, tmp_path):
    """r6 directive #5: the pipeline tail budgets + packs + SHARDS on
    REAL BPE counts, and the manifest's token totals are EXACT subword
    accounting — they equal an independent re-encode of exactly the
    shipped rows, not the regex proxy. (The oracled text_token_budget
    keeps the SQL-expressible proxy; this is the exact-variant e2e.)"""
    from realtime_olap_spark.operators import bpe as B
    from realtime_olap_spark.operators.packing import pack_greedy
    from realtime_olap_spark.sources.shards import (read_manifest,
                                                    read_shards,
                                                    write_training_shards)

    docs = Catalog(spark, SF_DIR).table("documents")
    merges = B.train_bpe(docs, "text", num_merges=64, max_vocab=5000)
    counted = B.bpe_token_count(docs, "text", merges)
    BUDGET = 1024
    packed = pack_greedy(counted, "n_bpe", ["doc_id"], budget=BUDGET,
                         partition_cols=[])
    assert packed.count() == docs.count()       # every doc packed once
    per_seq = packed.groupBy("seq_id").agg(F.sum("n_bpe").alias("fill"),
                                           F.count(F.lit(1)).alias("n"))
    assert per_seq.where((F.col("fill") > BUDGET) & (F.col("n") > 1)) \
        .count() == 0

    path = str(tmp_path / "bpe_ds")
    write_training_shards(packed, path, "doc_id", 4, token_col="n_bpe")
    man = read_manifest(spark, path)
    assert man.agg(F.sum("n_rows")).first()[0] == docs.count()

    # EXACT accounting: manifest token total == an independent second
    # encode pass over the rows the dataset actually ships
    shipped = read_shards(spark, path)
    recount = (B.encode(shipped.select("doc_id", "text"), "text", merges)
               .agg(F.sum(F.coalesce(F.size("bpe"), F.lit(0))
                          .cast("long")).alias("t"))
               .first()["t"])
    assert man.agg(F.sum("n_tokens")).first()[0] == recount

    # per-shard accounting survives a partition-pruned single-shard read
    s0 = man.where(F.col("shard") == 0).first()
    shard0 = read_shards(spark, path, shards=[0])
    assert shard0.agg(F.sum("n_bpe")).first()[0] == s0["n_tokens"]
    assert shard0.count() == s0["n_rows"]


def test_pipeline_tail_ships_shards(spark, tmp_path):
    """The pipeline tail: chunked sequences ship through the shard sink
    with exact token accounting — manifest totals equal the chunk table,
    and a single-shard read is partition-pruned."""
    from realtime_olap_spark.sources.shards import (read_manifest,
                                                    read_shards,
                                                    write_training_shards)

    docs = Catalog(spark, SF_DIR).table("documents")
    chunks = chunk_documents(docs, "doc_id", "text", 32, 8) \
        .withColumn("chunk_key",
                    F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx")))
    path = str(tmp_path / "ds")
    write_training_shards(chunks, path, "chunk_key", 4,
                          token_col="chunk_ntok")
    man = read_manifest(spark, path)
    assert man.agg(F.sum("n_rows")).first()[0] == chunks.count()
    assert (man.agg(F.sum("n_tokens")).first()[0]
            == chunks.agg(F.sum("chunk_ntok")).first()[0])
    assert read_shards(spark, path, shards=[2]).count() \
        == man.where(F.col("shard") == 2).first()["n_rows"]


def test_cross_round_ingest_gate_via_published_bloom(spark, tmp_path):
    """The cross-ROUND loop: round 1 curates and publishes shards with a
    content Bloom filter; round 2's raw batch gates against the
    PUBLISHED dataset (never the in-memory round-1 state), ships only
    genuinely-new docs, and the union of both rounds' datasets contains
    every distinct content exactly once — the incremental-ingest
    contract at dataset grain."""
    from realtime_olap_spark.sources.shards import (dedup_against_dataset,
                                                    read_shards,
                                                    write_training_shards)

    docs = Catalog(spark, SF_DIR).table("documents") \
        .select("doc_id", "text")
    round1 = docs.where(F.col("doc_id") % 3 != 2)
    p1 = str(tmp_path / "round1")
    write_training_shards(round1, p1, "doc_id", 4, content_key="text")

    # round 2 arrives as a mix: re-crawled round-1 docs + new docs
    round2_raw = docs.where(F.col("doc_id") % 2 == 0)
    fresh = dedup_against_dataset(round2_raw, p1, "text",
                                  large_corpus=True)
    # nothing shipped in round 1 re-ships
    r1_keys = {r[0] for r in round1.select(F.md5("text")).collect()}
    f_keys = {r[0] for r in fresh.select(F.md5("text")).collect()}
    assert not (f_keys & r1_keys)
    p2 = str(tmp_path / "round2")
    write_training_shards(fresh, p2, "doc_id", 2, content_key="text")

    # union of the two published datasets covers round2's content with
    # no duplicate content keys across rounds
    shipped = read_shards(spark, p1).select("text").unionByName(
        read_shards(spark, p2).select("text"))
    want = round1.select("text").unionByName(round2_raw.select("text")) \
        .select(F.md5("text").alias("k")).distinct().count()
    assert shipped.select(F.md5("text").alias("k")).distinct().count() \
        == want
