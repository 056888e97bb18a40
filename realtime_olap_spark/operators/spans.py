"""Exact-substring span dedup — corpus-wide duplicated k-token windows.

Lee et al. ("Deduplicating Training Data Makes Language Models Better",
ACL 2022 — public) remove exact substrings ≥ ~50 tokens that occur more
than once across the corpus, using a suffix array. A suffix array is a
single-machine structure; the distributed equivalent of "find every
duplicated run of ≥ k tokens" is sliding k-token window hashes: a
duplicated window ⇔ a duplicated k-token substring, and any duplicated
run of length L ≥ k is exactly the union of its L−k+1 duplicated
windows — so window-level detection reconstructs the full duplicated
spans without ever building a global index.

Scale design (100 TB):

- Window hashing is scan-side: the ``sqlexpr.ngrams_sql`` shifted slices
  (O(tokens) array work per row) + one ``xxhash64`` per window — no
  UDF, no shuffle.
- The ONE shuffle carries ``(window_hash, id, pos)`` tuples — 8-byte
  hashes, never window text. Per-hash aggregation yields counts and the
  canonical (first) occurrence.
- Per-document results (dup-window positions) are aggregated into
  position lists; only documents containing a duplicated window appear,
  so the decision table is join-side small and the corpus itself is
  never shuffled — the final flag/removal pass is a (broadcastable)
  join + scan-side positional array filter, the same shape as
  ``operators/lines.py`` duplicate-line removal and
  ``operators/decontam.py``.
- A hash collision can only over-mark a span as duplicated —
  conservative for dedup, same contract as the line/gram hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X


def window_hashes_from(th: Column, k: int) -> Column:
    """A 64-bit hash of every sliding k-token window, in position order,
    from a token-hash array column: the k token hashes are combined
    pairwise with ``xxhash64(acc, next)`` over k shifted slices — the
    ``sqlexpr.ngrams_sql`` zip_with shape, but over longs instead of
    building a k-word string per window (overflow-free under ANSI mode,
    unlike a wrapping polynomial mix). Two windows are equal ⇔ their
    token sequences are equal, up to 64-bit collision. NOTE: ``th``
    appears k+1 times at the top level of this expression and
    interpreted evaluation does no common-subexpression sharing — pass
    a staged column reference (see ``_occurrences``), not a heavy
    expression, or the tokenize+hash runs k+1 times per row."""
    m = F.greatest(F.size(th) - (k - 1), F.lit(0))
    out = F.slice(th, 1, m)
    for j in range(1, k):
        out = F.zip_with(out, F.slice(th, j + 1, m),
                         lambda a, b: F.xxhash64(a, b))
    return out


def _occurrences(docs: DataFrame, id_col: str, text_col: str,
                 k: int) -> DataFrame:
    """(id, pos, h): every window occurrence, 0-based token position.
    The per-token hash array is staged as a projection alias so the
    split+hash pass runs ONCE per row, not once per shifted slice."""
    ws = X.words_sql(X.col_sql(text_col))
    staged = docs.select(
        F.col(id_col),
        F.expr(f"transform({ws}, w -> xxhash64(w))").alias("__th"))
    return (staged.select(
        F.col(id_col),
        F.posexplode(window_hashes_from(F.col("__th"), k))
        .alias("pos", "h")))


def duplicated_window_positions(docs: DataFrame, id_col: str,
                                text_col: str, k: int,
                                min_count: int = 2,
                                keep: str = "first") -> DataFrame:
    """Per-document duplicated-window position lists ``(id, dup_pos
    array<int>)``, sorted. ``keep='first'`` exempts the canonical
    (minimum ``(id, pos)``) occurrence of each window — the occurrence
    that survives removal; ``keep='none'`` marks every occurrence (for
    flagging/statistics). Only documents with at least one marked window
    appear — join-side small on real corpora."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    occ = _occurrences(docs, id_col, text_col, k)
    per_hash = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct(id_col, "pos")).alias("canon"))
    hits = occ.join(per_hash.where(F.col("n") >= F.lit(min_count)), "h")
    if keep == "first":
        hits = hits.where(
            (F.col(id_col) != F.col("canon").getField(id_col))
            | (F.col("pos") != F.col("canon").getField("pos")))
    return (hits.groupBy(id_col)
            .agg(F.sort_array(F.collect_list("pos")).alias("dup_pos")))


def covered_token_count(dup_pos: Column, k: int) -> Column:
    """Tokens covered by the union of the k-wide intervals starting at
    the SORTED positions in ``dup_pos``: a left fold pairing each start
    with its successor — ``min(k, next − cur)`` per interval, ``k`` for
    the last. Scan-side; the position lists are per-doc small."""
    n = F.size(dup_pos)
    nexts = F.slice(F.concat(dup_pos, F.array(F.lit(None).cast("int"))),
                    2, F.greatest(n, F.lit(1)))
    gaps = F.zip_with(dup_pos, nexts,
                      lambda c, nx: F.least(F.lit(k),
                                            F.coalesce(nx - c, F.lit(k))))
    return F.when(n == 0, F.lit(0)).otherwise(
        F.aggregate(gaps, F.lit(0), lambda a, x: a + x))


def span_dup_stats(docs: DataFrame, id_col: str, text_col: str,
                   k: int, min_count: int = 2,
                   broadcast_marks: bool | None = None) -> DataFrame:
    """Per-document duplication audit: ``(id, n_tokens, n_windows,
    n_dup_windows, dup_tokens, dup_token_frac)`` where ``dup_tokens``
    counts tokens inside ANY duplicated window (keep='none' coverage —
    the doc-level signal RefinedWeb-style pipelines threshold on).
    EVERY input document appears; clean docs carry zeros.

    ``broadcast_marks``: ``None`` (default) leaves the join strategy to
    Catalyst/AQE, which broadcasts from TRUE runtime size — right both
    on real corpora (few docs marked → broadcast) and under pervasive
    duplication (crawl re-ingests: marks are corpus-sized → sort-merge;
    the forced broadcast measured 159.75 s vs 65.49 s sort-merge on the
    every-doc-duplicated 1000× soak corpus). ``True``/``False`` force
    broadcast / sort-merge — the same size-aware contract as the dedup
    verify join (``dedup.jaccard_verify``)."""
    marks = duplicated_window_positions(docs, id_col, text_col, k,
                                        min_count, keep="none")
    if broadcast_marks is True:
        marks = F.broadcast(marks)
    elif broadcast_marks is False:
        marks = marks.hint("merge")
    n_tokens = F.expr(f"size({X.words_sql(X.col_sql(text_col))})")
    n_windows = F.greatest(n_tokens - (k - 1), F.lit(0))
    empty = F.array().cast("array<int>")
    dup_pos = F.coalesce(F.col("dup_pos"), empty)
    dup_tokens = F.least(covered_token_count(dup_pos, k), n_tokens)
    return (docs.join(marks, id_col, "left")
            .select(F.col(id_col),
                    n_tokens.cast("long").alias("n_tokens"),
                    n_windows.cast("long").alias("n_windows"),
                    F.size(dup_pos).cast("long").alias("n_dup_windows"),
                    dup_tokens.cast("long").alias("dup_tokens"),
                    F.when(n_tokens > 0,
                           dup_tokens.cast("double") /
                           n_tokens.cast("double"))
                    .otherwise(F.lit(0.0)).alias("dup_token_frac")))


def window_table(docs: DataFrame, id_col: str, text_col: str,
                 k: int) -> DataFrame:
    """``(id, pos, h)`` — every window occurrence, the materialization
    unit of INCREMENTAL span dedup: persist this for the corpus once
    (partition/bucket by ``h``), and each ingest batch probes it with
    its own (tiny) window table instead of re-hashing the corpus."""
    return _occurrences(docs, id_col, text_col, k)


def duplicated_positions_against(batch: DataFrame, corpus_windows: DataFrame,
                                 id_col: str, text_col: str,
                                 k: int) -> DataFrame:
    """Incremental marking: a NEW batch's duplicated-window positions
    against a materialized corpus window table — ``(id, dup_pos)`` for
    batch docs only. A batch window is marked iff it already exists in
    the corpus (the corpus occurrence is canonical — first-wins across
    ingest time) OR it repeats within the batch and is not the batch's
    own canonical occurrence. Equals the symmetric keep-first marks on
    (corpus ∪ batch) restricted to batch docs whenever corpus ids sort
    before batch ids (tested). Per-batch cost: O(batch windows) ⋈
    matching corpus hashes — the corpus is never re-paired."""
    occ = _occurrences(batch, id_col, text_col, k)
    corpus_hits = occ.join(
        corpus_windows.select("h").distinct(), "h", "left_semi")
    per_hash = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct(id_col, "pos")).alias("canon"))
    batch_dups = (occ.join(per_hash.where(F.col("n") >= 2), "h")
                  .where((F.col(id_col) != F.col("canon").getField(id_col))
                         | (F.col("pos") != F.col("canon").getField("pos")))
                  .select(id_col, "pos", "h"))
    marked = corpus_hits.unionByName(batch_dups).distinct()
    return (marked.groupBy(id_col)
            .agg(F.sort_array(F.collect_list("pos")).alias("dup_pos")))


def remove_duplicated_spans(docs: DataFrame, id_col: str, text_col: str,
                            k: int, min_count: int = 2,
                            broadcast_marks: bool | None = None,
                            out_col: str | None = None) -> DataFrame:
    """Rebuild every document with the tokens of non-canonical
    duplicated windows deleted (the first occurrence of each duplicated
    substring survives — Lee et al.'s keep-one semantics at window
    granularity). The corpus is never shuffled: one (hash, id, pos)
    shuffle inside the marker, then a join against the per-doc position
    lists (strategy AQE-decided by default from true runtime size;
    ``broadcast_marks`` forces broadcast/sort-merge, same contract as
    ``span_dup_stats``) and a scan-side positional token filter.

    Token i is dropped iff some marked window start p has
    ``p ≤ i < p+k`` — an ``exists`` probe over the (small) per-doc list."""
    marks = duplicated_window_positions(docs, id_col, text_col, k,
                                        min_count, keep="first")
    if broadcast_marks is True:
        marks = F.broadcast(marks)
    elif broadcast_marks is False:
        marks = marks.hint("merge")
    kept = X.uncovered_text_sql(X.col_sql(text_col), "dup_pos", k)
    out = out_col or text_col
    return (docs.join(marks, id_col, "left")
            .withColumn(out, F.expr(kept))
            .drop("dup_pos"))
