"""Streaming dedup: exact and watermarked in-stream dedup + against-corpus
anti join, each drained with availableNow and compared to the batch
semantics on the same data."""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

from realtime_olap_spark.streaming.dedup import (corpus_key_table,
                                                 dedup_against_corpus,
                                                 dedup_stream,
                                                 dedup_stream_exact)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("text", T.StringType()),
])


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        [(i, f"2024-01-01 00:{m:02d}:00", t) for i, m, t in rows],
        ["doc_id", "ts_s", "text"]) \
        .select("doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    df.coalesce(1).write.mode("append").parquet(path)


def _drain(stream_df, sink, ckpt):
    q = (stream_df.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)


def _stream(spark, src, files_per_trigger=1):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger).parquet(src))


def test_dedup_stream_exact_first_arrival_wins(spark, tmpdir):
    src, sink, ckpt = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ckpt"
    _write_batch(spark, src, [(1, 1, "alpha"), (2, 2, "beta"), (3, 3, "alpha")])
    _write_batch(spark, src, [(4, 4, "beta"), (5, 5, "gamma"), (6, 6, "alpha")])
    _drain(dedup_stream_exact(_stream(spark, src)).drop("__ck"), sink, ckpt)

    got = {r["text"]: r["doc_id"]
           for r in spark.read.schema(SCHEMA).parquet(sink).collect()}
    assert set(got) == {"alpha", "beta", "gamma"}
    # batches arrive in file order -> the FIRST doc_id of each text survives
    assert got["alpha"] == 1 and got["beta"] == 2 and got["gamma"] == 5


def test_dedup_stream_watermarked_drops_dups_within_delay(spark, tmpdir):
    src, sink, ckpt = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ckpt"
    _write_batch(spark, src, [(1, 1, "alpha"), (2, 2, "beta")])
    _write_batch(spark, src, [(3, 3, "alpha"), (4, 4, "gamma")])  # dup in delay
    _write_batch(spark, src, [(5, 5, "beta"), (6, 6, "delta")])
    _drain(dedup_stream(_stream(spark, src), "ts", "1 hour").drop("__ck"),
           sink, ckpt)

    texts = sorted(r["text"]
                   for r in spark.read.schema(SCHEMA).parquet(sink).collect())
    assert texts == ["alpha", "beta", "delta", "gamma"]


def test_dedup_stream_bounded_state_in_plan(spark, tmpdir):
    """The watermarked variant must plan a dedup-within-watermark node
    (TTL state), not the unbounded dropDuplicates state store."""
    src = f"{tmpdir}/src"
    _write_batch(spark, src, [(1, 1, "alpha")])
    plan = dedup_stream(_stream(spark, src), "ts", "10 minutes") \
        ._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan


def test_dedup_against_corpus_matches_batch_anti_join(spark, tmpdir):
    src, sink, ckpt = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ckpt"
    corpus = spark.createDataFrame(
        [(100, "alpha"), (101, "gamma")], ["doc_id", "text"])
    keys = corpus_key_table(corpus)
    _write_batch(spark, src, [(1, 1, "alpha"), (2, 2, "beta")])
    _write_batch(spark, src, [(3, 3, "gamma"), (4, 4, "delta"), (5, 5, "beta")])
    _drain(dedup_against_corpus(_stream(spark, src), keys), sink, ckpt)

    got = sorted((r["doc_id"], r["text"])
                 for r in spark.read.schema(SCHEMA).parquet(sink).collect())
    # corpus texts dropped; in-stream dups NOT deduped by this operator
    assert got == [(2, "beta"), (4, "delta"), (5, "beta")]


def test_streaming_decontamination_matches_batch(spark, tmp_path):
    """Decontamination at ingest: the benchmark gram-hash set (tiny,
    broadcast) left-anti-joins the STREAM of incoming documents — the
    stream-static shape Spark supports statelessly, so contaminated docs
    never enter the corpus. availableNow drain must equal the batch
    decontaminate on the same files."""
    from realtime_olap_spark.operators.decontam import (
        benchmark_gram_hashes, decontaminate, ngram_hash_set)

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "alpha beta gamma delta epsilon"),
                              (2, 2, "zeta eta theta iota kappa"),
                              (3, 3, "alpha beta gamma zz qq")])
    _write_batch(spark, src, [(4, 4, "completely novel words here now"),
                              (5, 5, "zeta eta theta wholly reused")])

    bench = spark.createDataFrame(
        [("alpha beta gamma was seen",), ("zeta eta theta too",)], ["text"])
    bh = benchmark_gram_hashes(bench, "text", 3)

    # stream side: stateless per-row flag — any doc gram in the benchmark
    # set contaminates (array intersect against the broadcast hash set)
    bench_hashes = [r["gram_hash"] for r in bh.collect()]
    flag = F.arrays_overlap(
        ngram_hash_set("text", 3),
        F.array(*[F.lit(h) for h in bench_hashes]))
    clean_stream = _stream(spark, src).where(~flag)
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(clean_stream, sink, ckpt)
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}

    batch = decontaminate(spark.read.schema(SCHEMA).parquet(src), bench,
                          "doc_id", "text", n=3)
    want = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert got == want
    # 1,3 hit 'alpha beta gamma'; 2,5 hit 'zeta eta theta' — only 4 is clean
    assert got == {4}


def test_streaming_near_dup_probe_matches_batch(spark, tmp_path):
    """NEAR-dup parity: an availableNow drain of the streaming LSH probe
    against a static corpus band/word table equals the batch incremental
    operator (minhash_lsh_pairs_against) on the same files — pair for
    pair, Jaccard for Jaccard."""
    from realtime_olap_spark.operators.dedup import (hashed_word_sets,
                                                     minhash_bands,
                                                     minhash_lsh_pairs_against)
    from realtime_olap_spark.streaming.dedup import near_dup_pairs_against

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "pack my box with five dozen liquor jugs"),
         (102, "sphinx of black quartz judge my vow")],
        ["doc_id", "text"])
    corpus_bands = minhash_bands(corpus, "doc_id", "text")
    corpus_words = hashed_word_sets(corpus, "doc_id", "text")
    # materialize static sides (the ingest-time contract)
    cb_path, cw_path = f"{tmp_path}/cb", f"{tmp_path}/cw"
    corpus_bands.write.parquet(cb_path)
    corpus_words.select("doc_id", "wh").write.parquet(cw_path)
    cb = spark.read.parquet(cb_path)
    cw = spark.read.parquet(cw_path)

    src, sink, ckpt = f"{tmp_path}/src", f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _write_batch(spark, src, [
        (1, 1, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (2, 2, "the quick brown fox leaps over the lazy dog"),   # near dup
        (3, 3, "completely unrelated text about nothing")])
    _write_batch(spark, src, [
        (4, 4, "pack my box with five dozen liquor jugs today"), # near dup
        (5, 5, "sphinx of black quartz judge my vow"),           # exact dup
        (6, 6, "another totally different document entirely")])

    flagged = near_dup_pairs_against(
        _stream(spark, src), cb, cw, "doc_id", "text", threshold=0.5)
    _drain(flagged, sink, ckpt)
    got = {(r["doc_id"], r["id_corpus"], round(r["jaccard"], 12))
           for r in spark.read.parquet(sink).collect()}

    batch = minhash_lsh_pairs_against(
        spark.read.schema(SCHEMA).parquet(src), cb, cw,
        "doc_id", "text", threshold=0.5)
    want = {(r["id_new"], r["id_corpus"], round(r["jaccard"], 12))
            for r in batch.collect()}
    assert got == want
    assert {d for d, _, _ in got} >= {1, 5}  # the exact dups must flag
    assert 3 not in {d for d, _, _ in got}
    assert 6 not in {d for d, _, _ in got}


def test_streaming_near_dup_probe_watermarked_state(spark, tmp_path):
    """The watermark-TTL variant drains the same matches on in-order
    data and its plan uses dedup-within-watermark state, not unbounded
    pair-key state."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from realtime_olap_spark.operators.dedup import (hashed_word_sets,
                                                     minhash_bands)
    from realtime_olap_spark.streaming.dedup import near_dup_pairs_against

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    cb = minhash_bands(corpus, "doc_id", "text")
    cw = hashed_word_sets(corpus, "doc_id", "text").select("doc_id", "wh")

    src = f"{tmp_path}/src"
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _write_batch(spark, src, [
        (1, 1, "the quick brown fox jumps over the lazy dog"),
        (2, 2, "nothing shared with anything else here")])
    flagged = near_dup_pairs_against(
        _stream(spark, src), cb, cw, "doc_id", "text",
        threshold=0.5, ts_col="ts", delay="10 minutes")
    plan = flagged._jdf.queryExecution().analyzed().toString()
    assert "dropDuplicatesWithinWatermark" in plan.lower() \
        or "DeduplicateWithinWatermark".lower() in plan.lower()
    _drain(flagged, sink, ckpt)
    got = {(r["doc_id"], r["id_corpus"])
           for r in spark.read.parquet(sink).collect()}
    assert got == {(1, 100)}
