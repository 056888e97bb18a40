"""Benchmark decontamination — flagging training documents that overlap an
evaluation set.

Outside the reference's surface (it has no string functions, SURVEY.md
§2.9); this is the standard pre-training hygiene pass: a training document
is *contaminated* when it shares at least ``min_hits`` word n-grams with
any benchmark item (GPT-3 appendix C / The Pile use 13-gram overlap; the
default here is parameterized).

Scale design (100 TB corpus, benchmark ≪ corpus):

- The benchmark side reduces to DISTINCT n-gram hashes — a few million
  longs even for large eval suites — and is **broadcast**, so the corpus
  is never shuffled: contamination detection is a scan-side explode +
  broadcast semi-join + per-doc count.
- Hashes are ``xxhash64(gram)`` (JVM-side, codegen), not the gram strings:
  the broadcast carries 8 bytes per gram and join comparison is integer
  equality. A hash collision can only ADD a false contamination hit
  (conservative direction for decontamination).
- When the benchmark outgrows the broadcast threshold, the same plan
  degrades gracefully to a shuffled equi-join on the hash — still
  gram-blocked, never pairwise.

No reference analog (decontamination is a training-data concern); the
Spark shape mirrors the MinHash band join in ``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X


def ngram_hash_set(text: str, n: int) -> Column:
    """``sqlexpr.ngram_hash_set_sql`` of the column named ``text`` — a
    name under ``F.col`` semantics (dots mean struct-field access;
    reserved words and operator characters stay names)."""
    return F.expr(X.ngram_hash_set_sql(X.col_sql(text), n))


def benchmark_gram_hashes(bench: DataFrame, text_col: str, n: int) -> DataFrame:
    """The benchmark's distinct n-gram hash table: one ``gram_hash`` long
    column. Explode → distinct is one small shuffle over the (small)
    benchmark; the result is the broadcast side of every decontamination
    scan."""
    return (bench
            .select(F.explode(ngram_hash_set(text_col, n))
                    .alias("gram_hash"))
            .distinct())


def contamination_hits(docs: DataFrame, bench_hashes: DataFrame,
                       id_col: str, text_col: str, n: int) -> DataFrame:
    """Per-document benchmark-overlap counts: ``(id, n_hits)`` where
    ``n_hits`` is how many DISTINCT doc n-grams appear anywhere in the
    benchmark. Docs with zero hits are absent (inner semi-style join) —
    the common case at scale, so the output is tiny.

    Plan: explode the doc's distinct gram hashes scan-side, broadcast-join
    the benchmark hash set, count per id. The corpus never shuffles; the
    only aggregation is over the (rare) matching grams."""
    grams = docs.select(
        F.col(id_col),
        F.explode(ngram_hash_set(text_col, n)).alias("gram_hash"))
    return (grams
            .join(F.broadcast(bench_hashes), "gram_hash")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def decontaminate(docs: DataFrame, bench: DataFrame, id_col: str,
                  text_col: str, bench_text_col: str | None = None,
                  n: int = 3, min_hits: int = 1,
                  keep: str = "clean") -> DataFrame:
    """Split the corpus on benchmark overlap.

    ``keep='clean'`` returns documents with fewer than ``min_hits``
    overlapping n-grams (the training set after hygiene); ``keep='dirty'``
    returns the flagged documents with their ``n_hits`` for auditing.

    ``n`` is the gram length (13 in GPT-3-style decontamination; lower for
    short-document corpora), ``min_hits`` the overlap tolerance."""
    if keep not in ("clean", "dirty"):
        raise ValueError(f"keep must be 'clean' or 'dirty', got {keep!r}")
    bh = benchmark_gram_hashes(bench, bench_text_col or text_col, n)
    hits = contamination_hits(docs, bh, id_col, text_col, n)
    flagged = hits.where(F.col("n_hits") >= min_hits)
    if keep == "dirty":
        return docs.join(flagged, id_col).select(docs["*"], flagged["n_hits"])
    return docs.join(flagged.select(id_col), id_col, "left_anti")


def contaminated_positions(docs: DataFrame, bench_hashes: DataFrame,
                           id_col: str, text_col: str,
                           n: int) -> DataFrame:
    """Per-document 0-based token positions of n-gram windows that
    appear in the benchmark: ``(id, hit_pos array<int>)`` — only
    contaminated docs appear. One scan-side posexplode of the doc's
    window hashes, one (broadcast) semi-join against the benchmark hash
    set, one per-id aggregation of the (tiny) hit lists."""
    grams = X.word_ngrams_sql(X.col_sql(text_col), n)
    occ = (docs.select(
        F.col(id_col),
        F.posexplode(F.expr(f"transform({grams}, g -> xxhash64(g))"))
        .alias("pos", "h")))
    hits = occ.join(
        F.broadcast(bench_hashes.select(F.col("gram_hash").alias("h"))),
        "h", "left_semi")
    return (hits.groupBy(id_col)
            .agg(F.sort_array(F.collect_list("pos")).alias("hit_pos")))


def remove_contaminated_spans(docs: DataFrame, bench: DataFrame,
                              id_col: str, text_col: str,
                              bench_text_col: str | None = None,
                              n: int = 13,
                              out_col: str | None = None) -> DataFrame:
    """SURGICAL decontamination: instead of dropping every document that
    overlaps the benchmark (``decontaminate``), cut ONLY the tokens
    covered by a benchmark-matching n-gram window and keep the rest of
    the document — the span-removal treatment (GPT-3 App. C removes a
    window around each collision; n=13 is its gram size). EVERY document
    survives with its id; the rebuilt text is the kept token sequence
    (lowercased/whitespace-normalized — the same tokenization contract
    as span-dedup removal, so clean docs keep every token).

    Plan shape: benchmark reduces to a broadcast hash set; the corpus is
    scanned twice (once to find hit positions, once to rebuild) and
    never shuffled — the marks table is contaminated-docs-small and
    broadcasts back, the token filter is the same scan-side positional
    exists-probe as span dedup (operators/spans.py)."""
    bcol = bench_text_col or text_col
    marks = contaminated_positions(
        docs, benchmark_gram_hashes(bench, bcol, n), id_col, text_col, n)
    kept = X.uncovered_text_sql(X.col_sql(text_col), "hit_pos", n)
    out = out_col or text_col
    return (docs.join(F.broadcast(marks), id_col, "left")
            .withColumn(out, F.expr(kept))
            .drop("hit_pos"))
