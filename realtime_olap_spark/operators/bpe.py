"""Byte-pair encoding tokenizer — trained distributed, applied Arrow-batched.

The token accounting elsewhere in the suite (``text_token_budget``) uses a
BPE-ish regex PROXY because counts had to be SQL-expressible for the
oracle; this module is the real thing (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016 — public): learn
greedy merge rules from corpus statistics, encode text as subword tokens.

Spark-first split of the work, which is also how production tokenizer
trainers run:

- **Corpus statistics** = ONE map-side-combined ``groupBy(word)`` count
  shuffle. The merge loop then operates on the WORD-FREQUENCY TABLE, not
  the corpus — pair counts are exact sums over distinct words weighted by
  frequency, so training from the counted vocab is mathematically
  identical to training from the raw corpus, at ~1e-5 of the data volume.
  A ``max_vocab`` cap (deterministic top-by-count) bounds the driver-side
  table the way real trainers subsample — at 100 TB the corpus is touched
  exactly once, for the count shuffle.
- **Merge loop** (driver-side, O(vocab · merges)): repeatedly merge the
  most frequent adjacent symbol pair; ties break lexicographically so the
  learned merge list is deterministic.
- **Encoding** = Arrow-batched pandas UDF (a greedy rank-guided merge per
  word is genuinely not expressible in SQL — the documented UDF escape
  hatch, like the fingerprint fast path) with per-batch word memoization:
  Zipf says a batch's distinct-word count is far below its token count,
  so each distinct word is encoded once per batch.

No reference analog (tokenization is a training-data concern).
"""

from __future__ import annotations

import numpy as np  # noqa: F401  (module-level for pandas_udf pickling)
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X

#: End-of-word marker symbol (kept distinct from any character so merges
#: crossing word boundaries are impossible and decoding is unambiguous).
END = "</w>"


def word_counts(df: DataFrame, text_col: str,
                max_vocab: int | None = None) -> DataFrame:
    """``(word, n)`` corpus vocabulary — the one corpus-wide shuffle of
    BPE training. ``max_vocab`` keeps the most frequent words
    (count desc, word asc: deterministic)."""
    wc = (df.select(F.explode(F.expr(X.words_sql(X.col_sql(text_col))))
                    .alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("n")))
    if max_vocab is not None:
        wc = wc.orderBy(F.col("n").desc(), F.col("word").asc()) \
               .limit(max_vocab)
    return wc


def train_merges_from_counts(counts: dict[str, int],
                             num_merges: int) -> list[tuple[str, str]]:
    """Classic BPE on a word-frequency dict: each word is a symbol
    sequence ``chars + [END]``; per round, merge the (count-max,
    lexicographically-least) adjacent pair everywhere. Stops early when
    no pair repeats."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + [END], n) for w, n in sorted(counts.items())]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for sym, n in seqs:
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _ = best
        merged = a + b
        new_seqs = []
        for sym, n in seqs:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_seqs.append((out, n))
        seqs = new_seqs
        merges.append((a, b))
    return merges


def train_bpe(df: DataFrame, text_col: str, num_merges: int,
              max_vocab: int | None = 50_000) -> list[tuple[str, str]]:
    """Distributed-stats BPE training: word-count shuffle → driver-side
    merge loop over the (bounded) vocabulary table."""
    counts = {r["word"]: int(r["n"])
              for r in word_counts(df, text_col, max_vocab).collect()}
    return train_merges_from_counts(counts, num_merges)


def encode(df: DataFrame, text_col: str, merges: list[tuple[str, str]],
           out_col: str = "bpe") -> DataFrame:
    """Attach ``array<string>`` BPE tokens (lowest-rank pair merged first
    within each word — the standard greedy application order). Arrow
    batches; the merge table ships once per task via closure capture.
    Everything the worker runs is a CLOSURE (pickled by value), so
    executors never import this package — the repo's worker-fn rule."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    end = END

    def batch(texts: pd.Series) -> pd.Series:
        import re  # noqa: PLC0415 (closure-local: pickled by value)

        # the SAME word boundary the training statistics used: Java's
        # \s is ASCII-only ([ \t\n\x0B\f\r]) while Python str.split()
        # splits on ALL Unicode whitespace (e.g.   in scraped
        # HTML), which would desynchronize learned merges from applied
        # tokens — so mirror the JVM class explicitly
        ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")
        def encode_word(word: str, cache: dict) -> list:
            got = cache.get(word)
            if got is not None:
                return got
            sym = list(word) + [end]
            while len(sym) > 1:
                best_rank, best_i = None, -1
                for i, pair in enumerate(zip(sym, sym[1:])):
                    r = ranks.get(pair)
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
            cache[word] = sym
            return sym

        cache: dict[str, list[str]] = {}
        out = []
        for s in texts:
            if s is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in ws.split(s.lower()):
                if w:
                    toks.extend(encode_word(w, cache))
            out.append(toks)
        return pd.Series(out, dtype=object)

    from pyspark.sql.types import ArrayType, StringType  # noqa: PLC0415
    udf = F.pandas_udf(batch, ArrayType(StringType()))
    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_token_count(df: DataFrame, text_col: str,
                    merges: list[tuple[str, str]],
                    out_col: str = "n_bpe") -> DataFrame:
    """Exact subword token count per doc — the budget/packing input when
    the real tokenizer (not the regex proxy) is required. NULL text
    counts 0 (a concrete number the packing cumsum can add, never the
    NULL/−1 that ``size`` alone would emit — the unigram_logprob
    every-row contract)."""
    enc = encode(df, text_col, merges, out_col="__bpe")
    n = F.when(F.col("__bpe").isNull(), F.lit(0)) \
         .otherwise(F.size("__bpe")).cast("long")
    return enc.withColumn(out_col, n).drop("__bpe")


#: Reserved id for tokens outside the vocabulary (id 0; real tokens
#: start at 1) — the standard <unk> slot.
UNK_ID = 0


def vocab_from_merges(merges: list[tuple[str, str]],
                      alphabet: list[str]) -> dict[str, int]:
    """Deterministic token -> id table: ``<unk>`` = 0, then the sorted
    base alphabet (+ END), then one merged symbol per merge rule in
    learned order — the conventional BPE vocab layout, so ids are stable
    across runs given the same merges."""
    vocab: dict[str, int] = {}
    for sym in sorted(set(alphabet) | {END}):
        vocab.setdefault(sym, len(vocab) + 1)
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab) + 1)
    return vocab


def encode_ids(df: DataFrame, text_col: str, merges: list[tuple[str, str]],
               vocab: dict[str, int], out_col: str = "ids") -> DataFrame:
    """``array<int>`` token ids (unknown symbols -> UNK_ID) — the
    training-shard payload. Scan-side mapping over the encoded tokens:
    the vocab ships as ONE parsed ``map_from_arrays(array(…), array(…))``
    expression — a realistic 50k-token vocab as per-entry ``F.lit`` calls
    would cost tens of thousands of py4j round trips (the
    importance_weights / _lut_expr lesson); a single parsed literal is
    O(1) driver calls and constant-folded."""
    enc = encode(df, text_col, merges, out_col="__tok")

    from realtime_olap_spark.litarray import lit_ints, lit_strings  # noqa: PLC0415
    vmap = F.map_from_arrays(lit_strings(list(vocab)),
                             lit_ints(vocab.values()))
    # try_element_at: missing map keys are NULL, not an ANSI error
    ids = F.transform(F.col("__tok"),
                      lambda t: F.coalesce(
                          F.try_element_at(vmap, t), F.lit(UNK_ID)).cast("int"))
    return enc.withColumn(out_col, ids).drop("__tok")


def merges_to_json(merges: list[tuple[str, str]]) -> str:
    """Portable tokenizer artifact — merge order IS the model."""
    import json
    return json.dumps([[a, b] for a, b in merges])


def merges_from_json(s: str) -> list[tuple[str, str]]:
    import json
    return [(a, b) for a, b in json.loads(s)]


def decode(tokens: Column) -> Column:
    """Inverse of ``encode`` up to whitespace normalization: concatenate
    and turn END markers back into single spaces — scan-side."""
    return F.trim(F.regexp_replace(F.array_join(tokens, ""), END, " "))
