"""Streaming deduplication — the ingest-time twin of ``operators/dedup``.

The reference has no dedup at all (its aggregateMetrics rollup merges
identical DIMENSION rows, MutableSegmentImpl.java:88 — a sum, not a drop);
a training-data pipeline needs real one-per-content semantics at ingest:

- **In-stream dedup**: emit the first arrival of each content key, drop
  re-arrivals. Exact mode keeps all keys in state forever (bounded only by
  distinct-key cardinality); watermarked mode keeps state for the
  watermark delay only — the at-scale default, correct whenever a dup
  arrives within the delay of its original (the CDC/at-least-once-source
  case, where re-deliveries cluster near the original).
- **Against-corpus dedup**: drop stream rows whose content key already
  exists in a static historical corpus — a stream-static LEFT ANTI join.
  Spark broadcasts the corpus side when small; at 100 TB the corpus side
  is a pre-bucketed key table and the anti join stays shuffle-free on the
  stream side (the static side is loaded per-bucket), or a Bloom filter
  built offline prunes first (``operators/bloom.dedup_exact_against_bloom``
  — stateless scan-side gate, streaming-legal as-is, availableNow ≡ batch
  tested in ``tests/test_bloom.py``).

All state is per-key-hash, so the stream side never holds documents in
state — ``content_key`` reduces each row to one 32-byte hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_key(text: Column | str) -> Column:
    """Stable 128-bit content hash of the exact text bytes (md5 — engine
    and partitioning independent)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def dedup_stream_exact(events: DataFrame, text_col: str = "text",
                       key_out: str = "__ck") -> DataFrame:
    """First-arrival-wins on content key with UNBOUNDED state (exact
    across the whole stream lifetime). State is one entry per distinct
    key hash — viable when distinct content is bounded; otherwise use
    :func:`dedup_stream` (watermarked TTL state)."""
    return (events.withColumn(key_out, content_key(text_col))
                  .dropDuplicates([key_out]))


def dedup_stream(events: DataFrame, ts_col: str, delay: str,
                 text_col: str = "text", key_out: str = "__ck") -> DataFrame:
    """First-arrival-wins on content key with watermark-bounded state:
    a duplicate arriving within ``delay`` of the first copy is dropped;
    state for a key is evicted once the watermark passes it
    (``dropDuplicatesWithinWatermark`` — state TTL, not event-time
    windows, so the FIRST copy is emitted immediately)."""
    return (events.withColumn(key_out, content_key(text_col))
                  .withWatermark(ts_col, delay)
                  .dropDuplicatesWithinWatermark([key_out]))


def dedup_against_corpus(events: DataFrame, corpus_keys: DataFrame,
                         text_col: str = "text",
                         corpus_key_col: str = "__ck") -> DataFrame:
    """Drop stream rows whose content already exists in a STATIC corpus:
    stream-static LEFT ANTI join on the content hash. ``corpus_keys`` is
    the offline side — one hashed-key column, typically the output of
    :func:`corpus_key_table` persisted by a batch job."""
    return (events.withColumn("__ck", content_key(text_col))
                  .join(corpus_keys.select(F.col(corpus_key_col)
                                           .alias("__ck")),
                        on="__ck", how="left_anti")
                  .drop("__ck"))


def corpus_key_table(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content keys of a historical corpus — the small static
    side of :func:`dedup_against_corpus` (store this, not the text)."""
    return corpus.select(content_key(text_col).alias("__ck")).distinct()


def near_dup_pairs_against(docs: DataFrame, corpus_bands: DataFrame,
                           corpus_words: DataFrame, id_col: str,
                           text_col: str, num_hashes: int = 8,
                           band_size: int = 2, threshold: float = 0.5,
                           max_bucket_size: int | None = None,
                           ts_col: str | None = None,
                           delay: str | None = None) -> DataFrame:
    """NEAR-dup probe of (streaming or batch) docs against a STATIC
    corpus: ``(id, id_corpus, jaccard)`` for every corpus document whose
    exact Jaccard with the incoming doc is ≥ ``threshold`` — the
    streaming twin of ``operators/dedup.minhash_lsh_pairs_against``,
    completing the parity story exact dedup and span dedup already have.

    Shape: per-row MinHash bands (scan-side, ``minhash_bands`` — a
    stateless select+explode, streaming-legal), stream-static equi-join
    on ``band_key`` against the pre-materialized (and here pre-capped,
    mirroring the batch op's hot-bucket discipline) corpus band table,
    stream-static equi-join on ``id_corpus`` against the corpus
    hashed-word-set table, scan-side Jaccard filter. A doc that collides
    with the same corpus doc in several bands would emit the pair once
    per band, so the tail is first-arrival-wins on the pair key — the
    module's standard state story: ``ts_col=None`` keeps exact
    per-pair-key state (``dropDuplicates``; bounded by emitted MATCHES,
    which LSH keeps ≪ batch×corpus), else watermark-TTL state
    (``dropDuplicatesWithinWatermark``). An availableNow drain equals
    the batch operator row-for-row (tested); within-stream-only
    near-dups stay the incremental-batch path's job, exactly like the
    exact and span variants above."""
    from realtime_olap_spark import sqlexpr as X
    from realtime_olap_spark.operators.dedup import (lsh_band_keys,
                                                     minhash_signature)

    cb = corpus_bands
    if max_bucket_size is not None:
        sizes = cb.groupBy("band_key").agg(F.count(F.lit(1)).alias("__n"))
        cb = (cb.join(sizes.where(F.col("__n") <= max_bucket_size),
                      "band_key").drop("__n"))
    # Signature, hashed word set, and band keys all in ONE projection
    # over the stream — joining separately-derived band and word frames
    # back together would be a stream-stream self-join (illegal without
    # watermark gymnastics); one lineage keeps every join below
    # stream-STATIC.
    carry = [F.col(ts_col)] if ts_col is not None else []
    text = X.col_sql(text_col)
    base = docs.select(
        F.col(id_col), *carry,
        F.expr(X.word_hashes_sql(text)).alias("wh"),
        F.expr(f"size({X.word_set_sql(text)})").alias("nw"),
        *minhash_signature(F.expr(X.word_set_sql(text)), num_hashes))
    probe = (base.select(
        F.col(id_col), *carry, "wh", "nw",
        F.explode(F.array(*lsh_band_keys(
            [f"mh{i}" for i in range(num_hashes)], band_size)))
        .alias("band_key"))
        .join(cb.select(F.col(id_col).alias("id_corpus"), "band_key"),
              "band_key")
        .where(F.col(id_col) != F.col("id_corpus")))
    cw = corpus_words.select(
        F.col(id_col).alias("id_corpus"),
        F.col("wh").alias("wh_b"), F.size("wh").alias("nw_b"))
    inter = F.size(F.array_intersect(F.col("wh"), F.col("wh_b")))
    jac = (inter.cast("double")
           / (F.col("nw") + F.col("nw_b") - inter).cast("double"))
    matched = (probe.join(cw, "id_corpus")
               .withColumn("jaccard", jac)
               .where(F.col("jaccard") >= threshold))
    if ts_col is not None and delay is not None:
        return (matched.withWatermark(ts_col, delay)
                .dropDuplicatesWithinWatermark([id_col, "id_corpus"])
                .select(id_col, "id_corpus", "jaccard"))
    return (matched.dropDuplicates([id_col, "id_corpus"])
            .select(id_col, "id_corpus", "jaccard"))


def span_marks_against_corpus(docs: DataFrame, corpus_windows: DataFrame,
                              id_col: str, text_col: str,
                              k: int) -> DataFrame:
    """Exact-substring span-dedup probe against a STATIC corpus window
    table (``operators/spans.window_table`` materialized by the batch
    ingest): emits one ``(id, pos)`` row per k-token window of ``docs``
    that already exists in the corpus — the streaming decision table for
    span removal.

    Stateless by construction (scan-side window hashing + a
    stream-static LEFT SEMI join on the 8-byte hash), so the SAME call
    transforms a streaming frame or a batch frame and an availableNow
    drain equals the batch run row-for-row. Duplicates BETWEEN stream
    documents that are not yet in the corpus are out of scope here by
    design — they are the incremental-batch path's job
    (``spans.duplicated_positions_against`` after appending the batch's
    windows to the corpus table, tested equal to a from-scratch build),
    exactly like ``dedup_against_corpus`` vs in-stream dedup above.
    On marks equality: for documents whose duplicated windows all come
    from the corpus, these rows are precisely the exploded
    ``duplicated_positions_against`` position lists (tested)."""
    from realtime_olap_spark.operators.spans import window_table
    occ = window_table(docs, id_col, text_col, k)
    hashes = corpus_windows.select("h").distinct()
    return (occ.join(hashes, "h", "left_semi")
            .select(id_col, "pos"))
