"""Streaming curation parity: the scan-side curation scorers (DSIR
importance weights, C4 line filters) are stateless row transforms, so
they apply to a Structured Streaming ingest unchanged — an availableNow
drain must equal the batch operator on the same files. Span dedup joins
the story as a stream-static probe of the materialized corpus window
table (within-stream-only duplicates remain the incremental-batch
path's job, like in-stream content dedup vs against-corpus dedup)."""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import functions as F

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


def _stream(spark, src):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src))


def test_streaming_importance_weights_match_batch(spark, tmp_path):
    """Importance scoring at ingest: the LUT is a fitted model (literal
    array in the plan — no state, no join), so the SAME
    importance_weights call transforms the stream; per-doc weights from
    an availableNow drain equal the batch scores bit-for-bit (identical
    fold over identical grams)."""
    from realtime_olap_spark.operators.importance import importance_weights

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "alpha beta gamma"),
                              (2, 2, "delta epsilon zeta"),
                              (3, 3, "alpha beta eta")])
    _write_batch(spark, src, [(4, 4, "theta iota kappa"),
                              (5, 5, "")])

    lut = [((7 * i) % 13 - 6) / 10.0 for i in range(1024)]
    scored = importance_weights(_stream(spark, src), "doc_id", "text", lut)
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(scored, sink, ckpt)
    got = {r["doc_id"]: r["log_weight"]
           for r in spark.read.parquet(sink).collect()}

    batch = importance_weights(spark.read.schema(SCHEMA).parquet(src),
                               "doc_id", "text", lut)
    want = {r["doc_id"]: r["log_weight"] for r in batch.collect()}
    assert got == want
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[5] == 0.0  # empty doc: concrete zero, not dropped


def test_streaming_quality_classifier_matches_batch(spark, tmp_path):
    """Learned quality scoring at ingest: a fitted QualityModel is a
    literal LUT + bias (no state, no join), so quality_score transforms
    the stream unchanged; drained scores equal the batch fold
    bit-for-bit, and the zero-gram prior survives the stream path."""
    import math

    from realtime_olap_spark.operators import classifier as CL

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "alpha beta gamma delta"),
                              (2, 2, "spam spam spam spam"),
                              (3, 3, "")])
    model = CL.QualityModel(
        tuple(((3 * i) % 7 - 3) / 5.0 for i in range(256)), bias=0.25)
    scored = _stream(spark, src).withColumn(
        "q", CL.quality_score("text", model))
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(scored, sink, ckpt)
    got = {r["doc_id"]: r["q"] for r in spark.read.parquet(sink).collect()}

    batch = spark.read.schema(SCHEMA).parquet(src).withColumn(
        "q", CL.quality_score("text", model))
    want = {r["doc_id"]: r["q"] for r in batch.collect()}
    assert got == want
    assert got[3] == 1.0 / (1.0 + math.exp(-0.25))


def test_streaming_url_normalize_matches_batch(spark, tmp_path):
    """URL canonicalization at ingest (the dedup KEY is computed on the
    stream; the keep-one itself is the streaming-dedup operator's job):
    normalize_url is pure scan-side regex/array work, so the drained
    canon column equals the batch one."""
    from realtime_olap_spark.operators import urls as U

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [
        (1, 1, "https://www.Example.com:443/a/?utm_source=x&q=1#f"),
        (2, 2, "http://sub.shop.co.uk/x?b=2&a=1"),
        (3, 3, "not a url")])
    canon = _stream(spark, src).withColumn(
        "canon", U.normalize_url(F.col("text"))).withColumn(
        "dom", U.registered_domain(U.url_host(F.col("text"))))
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(canon, sink, ckpt)
    got = {r["doc_id"]: (r["canon"], r["dom"])
           for r in spark.read.parquet(sink).collect()}

    batch = spark.read.schema(SCHEMA).parquet(src).withColumn(
        "canon", U.normalize_url(F.col("text"))).withColumn(
        "dom", U.registered_domain(U.url_host(F.col("text"))))
    want = {r["doc_id"]: (r["canon"], r["dom"]) for r in batch.collect()}
    assert got == want
    assert got[1][0] == "https://example.com/a?q=1"
    assert got[2][1] == "shop.co.uk"


def test_streaming_span_dedup_probe_matches_batch(spark, tmp_path):
    """Span dedup at ingest (r6 directive #6): the corpus window table is
    static (batch-materialized ``spans.window_table``); the stream probes
    it with a stateless scan-side window hash + stream-static LEFT SEMI
    join. The availableNow drain equals (a) the same probe run as a
    batch, row-for-row, and (b) the exploded
    ``duplicated_positions_against`` marks for docs whose duplicated
    windows all come from the corpus."""
    from realtime_olap_spark.operators import spans as SP
    from realtime_olap_spark.streaming.dedup import span_marks_against_corpus

    K = 3
    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "pack my box with five dozen liquor jugs")],
        ["doc_id", "text"])
    corpus_windows = SP.window_table(corpus, "doc_id", "text", K)
    # materialize like an ingest pipeline would (static side of the join)
    corpus_windows = spark.createDataFrame(
        corpus_windows.collect(), corpus_windows.schema)

    src = f"{tmp_path}/src"
    # doc 1: one corpus window ('quick brown fox') at pos 1; doc 2 clean;
    # doc 3: two corpus windows from the second corpus doc
    _write_batch(spark, src, [(1, 1, "a quick brown fox ran far"),
                              (2, 2, "completely novel words only here")])
    _write_batch(spark, src, [(3, 3, "pack my box with care")])

    marked = span_marks_against_corpus(_stream(spark, src), corpus_windows,
                                       "doc_id", "text", K)
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(marked, sink, ckpt)
    got = {(r["doc_id"], r["pos"])
           for r in spark.read.parquet(sink).collect()}

    batch_docs = spark.read.schema(SCHEMA).parquet(src)
    want = {(r["doc_id"], r["pos"])
            for r in span_marks_against_corpus(
                batch_docs, corpus_windows, "doc_id", "text", K).collect()}
    assert got == want
    assert (1, 1) in got                      # 'quick brown fox'
    assert all(d != 2 for d, _ in got)        # clean doc: no marks
    assert {p for d, p in got if d == 3} == {0, 1}  # 'pack my box (with)'

    # (b) ties the probe to the canonical batch semantics: these docs
    # share no NEW duplicated window among themselves, so the marks are
    # exactly the exploded incremental position lists
    inc = SP.duplicated_positions_against(batch_docs, corpus_windows,
                                          "doc_id", "text", K)
    want_inc = {(r["doc_id"], p) for r in inc.collect()
                for p in r["dup_pos"]}
    assert got == want_inc


def test_streaming_line_filter_matches_batch(spark, tmp_path):
    """C4 line filtering at ingest: pure per-row array expressions, so
    c4_line_filter applies to the stream directly; the drain equals the
    batch rewrite, including dropping docs that lose every line."""
    from realtime_olap_spark.operators.lines import c4_line_filter

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [
        (1, 1, "good long sentence here.\nok\nanother fine line stays"),
        (2, 2, "x\ny"),
        (3, 3, "keep this full line please\njavascript junk line here")])

    filtered = c4_line_filter(_stream(spark, src), "text", min_words=3)
    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(filtered, sink, ckpt)
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(sink).collect()}

    batch = c4_line_filter(spark.read.schema(SCHEMA).parquet(src),
                           "text", min_words=3)
    want = {r["doc_id"]: r["text"] for r in batch.collect()}
    assert got == want
    assert 2 not in got          # every line under min_words
    assert "javascript" not in got[3]


def test_streaming_cms_boilerplate_flag_matches_batch(spark, tmp_path):
    """Hot-key flagging at ingest: a CMS built OFFLINE over yesterday's
    corpus flags stream rows whose boilerplate line estimate clears the
    threshold — stateless scan-side work (literal or broadcast lookup,
    no join, no state), so the SAME cms_estimate call transforms the
    stream and an availableNow drain equals the batch flags exactly."""
    from realtime_olap_spark.operators.cms import cms_build, cms_estimate

    boiler = "SUBSCRIBE NOW"
    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, f"alpha beta\n{boiler}"),
                              (2, 2, "unique text one"),
                              (3, 3, f"gamma delta\n{boiler}")])
    _write_batch(spark, src, [(4, 4, f"{boiler}\nmore words"),
                              (5, 5, "unique text two")])

    # offline sketch over the historical corpus's exploded lines
    hist = spark.createDataFrame(
        [(boiler,)] * 40 + [(f"noise {i}",) for i in range(60)], ["line"])
    sk = cms_build(hist, "line", width=512, depth=3)

    def flag(df):
        lines = df.select("doc_id",
                          F.explode(F.split("text", "\n")).alias("line"))
        return lines.withColumn(
            "hot", cms_estimate(df.sparkSession, "line", sk,
                                "literal") >= 40)

    sink, ckpt = f"{tmp_path}/sink", f"{tmp_path}/ckpt"
    _drain(flag(_stream(spark, src)), sink, ckpt)
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple,
                      flag(spark.read.schema(SCHEMA).parquet(src))
                      .collect()))
    assert got == want
    hot_docs = {d for d, _, h in got if h}
    assert hot_docs == {1, 3, 4}


def test_streaming_sketch_ingest_merges_to_batch_sketch(spark, tmp_path):
    """Ingest-time sketch accumulation: each microbatch builds its own
    Bloom filter / CMS (foreachBatch), folded into the running corpus
    artifact via the merge laws (OR / sum). After an availableNow drain
    the merged sketches equal the ones built over the whole corpus in
    one batch pass, bit-for-bit — so a streaming ingest can publish the
    same dataset-grain artifacts the batch shard sink does."""
    from realtime_olap_spark.operators.bloom import (bloom_build,
                                                     bloom_merge,
                                                     optimal_params)
    from realtime_olap_spark.operators.cms import cms_build, cms_merge

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "alpha beta"), (2, 2, "gamma delta")])
    _write_batch(spark, src, [(3, 3, "alpha beta"), (4, 4, "epsilon")])
    _write_batch(spark, src, [(5, 5, "zeta eta theta")])

    m, k = optimal_params(8, 1e-2)
    acc = {"bf": None, "cms": None}

    def fold(batch_df, _batch_id):
        keys = batch_df.select(F.md5("text").alias("__ck"))
        words = batch_df.select(
            F.explode(F.split("text", " ")).alias("w"))
        bf = bloom_build(keys, "__ck", m, k)
        cs = cms_build(words, "w", width=64, depth=2)
        acc["bf"] = bf if acc["bf"] is None else bloom_merge(acc["bf"], bf)
        acc["cms"] = cs if acc["cms"] is None else cms_merge(acc["cms"], cs)

    q = (_stream(spark, src).writeStream.foreachBatch(fold)
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    corpus = spark.read.schema(SCHEMA).parquet(src)
    want_bf = bloom_build(corpus.select(F.md5("text").alias("__ck")),
                          "__ck", m, k)
    want_cms = cms_build(corpus.select(
        F.explode(F.split("text", " ")).alias("w")), "w",
        width=64, depth=2)
    assert acc["bf"] == want_bf
    assert acc["cms"] == want_cms


def test_streaming_mg_fold_keeps_sandwich_bound(spark, tmp_path):
    """Ingest-time Misra-Gries accumulation: each microbatch's partial
    summaries fold into one running summary via the driver-side merge
    law (operators/mg.mg_merge_counts). MG is not bit-stable across
    partitionings, but its deterministic guarantee is: after the drain,
    every merged estimate sandwiches the true corpus count
    (est <= true <= est + total decrement) and every key hotter than the
    accumulated decrement is present — the same certificate the batch
    build carries."""
    from collections import Counter

    from realtime_olap_spark.operators.mg import mg_merge_counts, mg_partials

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "alpha beta alpha"),
                              (2, 2, "alpha gamma delta")])
    _write_batch(spark, src, [(3, 3, "alpha beta epsilon zeta"),
                              (4, 4, "alpha eta theta iota kappa")])
    _write_batch(spark, src, [(5, 5, "alpha beta lambda mu nu xi")])

    K = 4
    acc = {"counts": {}, "dec": 0}

    def fold(batch_df, _batch_id):
        words = batch_df.select(
            F.explode(F.split("text", " ")).alias("w"))
        for r in mg_partials(words, "w", K).collect():
            if r["key"] is None:
                acc["dec"] += r["dec"]
            else:
                merged, d = mg_merge_counts(acc["counts"],
                                            {r["key"]: r["est"]}, K)
                acc["counts"] = merged
                acc["dec"] += d

    q = (_stream(spark, src).writeStream.foreachBatch(fold)
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    corpus = spark.read.schema(SCHEMA).parquet(src)
    true = Counter(w for r in corpus.select("text").collect()
                   for w in r["text"].split(" ") if w)
    assert len(acc["counts"]) <= K
    for w, est in acc["counts"].items():
        assert est <= true[w] <= est + acc["dec"], (w, est, true[w])
    for w, c in true.items():
        if c > acc["dec"]:
            assert w in acc["counts"], (w, c, acc["dec"])
    assert "alpha" in acc["counts"]


def test_streaming_ohlc_fold_merges_to_batch(spark, tmp_path):
    """OHLC candles are mergeable aggregates (open/close = struct
    min/max, high/low/n = min/max/sum), so per-microbatch candles fold
    into the batch candle exactly — the same publish-per-segment,
    merge-at-read contract as the Bloom/CMS/theta artifacts."""
    from realtime_olap_spark.operators.downsample import ohlc

    src = f"{tmp_path}/src"
    _write_batch(spark, src, [(1, 1, "a"), (2, 2, "b")])
    _write_batch(spark, src, [(3, 1, "c"), (4, 5, "d")])
    _write_batch(spark, src, [(5, 9, "e")])

    acc = {}

    def fold(batch_df, _batch_id):
        # per-batch partials carry (t, v) struct extremes — the open/close
        # merge needs the TIME of each batch's candle edges, which the
        # plain candle row drops
        part = batch_df.withColumn("v", F.col("doc_id") * 10.0).select(
            F.window("ts", "5 minutes").start.alias("bucket"),
            F.struct(F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                     F.col("v").alias("v")).alias("tv"),
            F.col("v"))
        for r in (part.groupBy("bucket")
                  .agg(F.min("tv").alias("mn"), F.max("tv").alias("mx"),
                       F.max("v").alias("h"), F.min("v").alias("l"),
                       F.count(F.lit(1)).alias("n")).collect()):
            b = r["bucket"]
            rec = (tuple(r["mn"]), tuple(r["mx"]), r["h"], r["l"], r["n"])
            cur = acc.get(b)
            if cur is None:
                acc[b] = rec
            else:
                acc[b] = (min(cur[0], rec[0]), max(cur[1], rec[1]),
                          max(cur[2], rec[2]), min(cur[3], rec[3]),
                          cur[4] + rec[4])

    q = (_stream(spark, src).writeStream.foreachBatch(fold)
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    corpus = spark.read.schema(SCHEMA).parquet(src) \
        .withColumn("v", F.col("doc_id") * 10.0)
    want = {r["bucket"]: (r["open"], r["high"], r["low"], r["close"], r["n"])
            for r in ohlc(corpus, "ts", 300, [], "v").collect()}
    got = {b: (rec[0][1], rec[2], rec[3], rec[1][1], rec[4])
           for b, rec in acc.items()}
    assert got == want and len(want) >= 2


def test_streaming_media_decode_matches_batch(spark, tmp_path):
    """decode_media is a stateless mapInPandas, so the SAME call
    transforms a streaming ingest: decoding a mixed PNG/JPEG/corrupt
    payload stream via availableNow equals the batch decode row-for-row
    (dims, status), proving the real codecs ride the streaming
    consuming-segment path unchanged."""
    import os as _os

    from realtime_olap_spark.operators.multimodal import decode_media
    from tests.test_multimodal import (FIXTURES, _encode_flat_jpeg,
                                       _encode_png)
    import numpy as np

    png = _encode_png(np.arange(4 * 3 * 3, dtype=np.uint8)
                      .reshape(3, 4, 3), [0, 1, 2], 2)
    ext = open(_os.path.join(FIXTURES, "python.png"), "rb").read()
    rows = [(1, "image", png), (2, "image", ext),
            (3, "image", b"corrupt"), (4, "image", None)]
    src = str(tmp_path / "src")
    mdf = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary")
    mdf.coalesce(1).write.parquet(src)

    want = sorted(map(tuple, decode_media(
        spark.read.parquet(src), decoder="png",
        with_status=True).collect()))

    stream = (spark.readStream.schema(mdf.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = decode_media(stream, decoder="png", with_status=True)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (out.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert got == want and len(got) == 4
    by_id = {r[0]: r for r in got}
    assert by_id[2][2:4] == (16, 16) and by_id[2][-1] == "ok"
    assert by_id[3][-1] == "corrupt"


def test_streaming_transcode_probe_audio_match_batch(spark, tmp_path):
    """The r11 media operators (transcode_images, probe_media,
    decode_audio decoder='auto') are stateless mapInPandas passes too:
    an availableNow drain over a mixed stream — including NULL
    payloads, the r10 bug class — equals the batch result
    row-for-row."""
    import os as _os

    from realtime_olap_spark.operators.multimodal import (decode_audio,
                                                          probe_media,
                                                          transcode_images)
    from tests.test_multimodal import FIXTURES

    rows = [
        (1, "image", open(_os.path.join(FIXTURES, "python.jpg"),
                          "rb").read()),
        (2, "video", open(_os.path.join(FIXTURES, "probe.mp4"),
                          "rb").read()),
        (3, "image", open(_os.path.join(FIXTURES, "python.gif"),
                          "rb").read()),
        (4, "audio", open(_os.path.join(FIXTURES, "pluck-ulaw.au"),
                          "rb").read()),
        (5, "audio", open(_os.path.join(FIXTURES, "pluck-pcm16.aiff"),
                          "rb").read()),
        (6, "image", b"corrupt bytes"),
        (7, "image", None),
    ]
    src = str(tmp_path / "src")
    mdf = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary")
    mdf.coalesce(1).write.parquet(src)

    from realtime_olap_spark.operators.multimodal import decode_frames

    for name, op in [
            ("transcode", lambda d: transcode_images(d, 8, 8)),
            ("probe", lambda d: probe_media(d, with_status=True)),
            ("audio", lambda d: decode_audio(d, decoder="auto",
                                             with_status=True)),
            ("frames", lambda d: decode_frames(d, every_ms=1000))]:
        want = sorted(map(tuple, op(spark.read.parquet(src)).collect()))
        stream = (spark.readStream.schema(mdf.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sink = str(tmp_path / f"sink_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        q = (op(stream).writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.read.parquet(sink).collect()))
        assert got == want and len(got) == 7, name
