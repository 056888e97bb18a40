"""Text-analysis operators for training-data curation.

Outside the reference's surface (Pinot ~2019 has no string functions at all
— SURVEY.md §2.9 "absent scalar families"); these are the standard corpus
curation passes: language ID, quality scoring, token counting, and document
fingerprinting.

Scale design: every function is a pure per-row JVM expression (regexp /
split / aggregate folds over the text column) — no UDF, no shuffle, no
state. On 100 TB these run scan-side inside WholeStageCodegen and pipeline
straight into whatever aggregation or filter follows; the only exchanges
belong to the downstream operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X

# Tiny per-language stopword marker sets: the n-gram-heuristic language ID
# (score = how many of the language's markers appear as words). Real
# pipelines use fastText/CLD3; the *Spark shape* — per-row scoring against
# literal profiles, argmax via array_position — is identical.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "es", "una"],
}


def lang_score_from(distinct_words: Column, markers: list[str]) -> Column:
    """Number of marker words present (distinct markers hit), over an
    already-distinct word array — share ONE split+distinct across all
    language profiles instead of recomputing per profile."""
    score = F.lit(0)
    for m in markers:
        score = score + F.when(F.array_contains(distinct_words, m), 1) \
            .otherwise(0)
    return score


def detect_language_from(distinct_words: Column,
                         profiles: dict[str, list[str]] | None = None,
                         min_score: int = 1) -> Column:
    """Argmax language over marker profiles from a shared distinct-word
    array; ties go to the first profile in (sorted-key) order; below
    ``min_score`` → 'und' (undetermined)."""
    profiles = profiles or LANG_MARKERS
    langs = sorted(profiles)
    scores = F.array(*[lang_score_from(distinct_words, profiles[lang])
                       for lang in langs])
    best = F.array_max(scores)
    pick = F.element_at(F.array(*[F.lit(lang) for lang in langs]),
                        F.array_position(scores, best).cast("int"))
    return F.when(best >= min_score, pick).otherwise(F.lit("und"))


def detect_language(text: str, profiles: dict[str, list[str]] | None = None,
                    min_score: int = 1) -> Column:
    """Argmax language of the column named ``text`` over marker
    profiles; ties go to the first profile in (sorted-key) order; below
    ``min_score`` → 'und' (undetermined)."""
    distinct = F.expr(f"array_distinct({X.words_sql(X.col_sql(text))})")
    return detect_language_from(distinct, profiles, min_score)


def token_count(text: Column) -> Column:
    """Whitespace token count — the number of ``\\S+`` runs, which equals
    the size of ``sqlexpr.words_sql(text)`` for every string (non-empty
    split segments ARE the non-space runs, and lowercasing moves no token
    boundary; parity pinned in tests/test_opt_r17.py). ``regexp_count``
    counts matches without materializing a token array per row (r17,
    guide §1.2 step 2: ~10%% off the text_token_budget scan at sf0.1)."""
    return F.regexp_count(text, F.lit(r"\S+"))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword count: runs of letters, runs of digits, and single
    non-space punctuation each count as one token — the standard cheap
    proxy for tokenizer cost used to budget training data. RE2-compatible
    alternation (no lookarounds) so any regex engine agrees. Counted via
    ``regexp_count`` (no per-row match-array materialization; value-
    identical to ``size(regexp_extract_all(...))``, pinned)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def total_word_chars(ws: Column) -> Column:
    """Integer sum of token lengths (order-independent, exact).
    ``length(concat_ws('', ws))`` is a single native JVM pass — same
    integer as a per-word fold, ~n interpreted lambda evals cheaper."""
    return F.length(F.concat_ws("", ws)).cast("long")


def stopword_occurrences(ws: Column, markers: list[str]) -> Column:
    """Total occurrences of any marker word. ``size - size(array_remove)``
    per marker is native JVM; markers are distinct so the per-marker
    occurrence counts sum to the total — bit-identical to filtering the
    array through a membership lambda, without the interpreted lambda."""
    n = F.size(ws)
    total = F.lit(0)
    for m in markers:
        total = total + (n - F.size(F.array_remove(ws, m)))
    return total


def quality_score_from(text: Column, ws: Column) -> Column:
    """Scalar [0,1] quality score over a shared word array: stopword
    presence up, punctuation soup down, degenerate token lengths down — a
    deterministic stand-in for a model-based scorer with the same plan
    shape. Every float derives from an integer ratio, so the score is
    bit-reproducible in any engine.

    Zero-token / zero-length documents score 0.0 (the worst tier) via a
    guard rather than dividing by zero — ANSI mode would otherwise fail
    the whole query, and Catalyst freely reorders conjunctive filters,
    so an upstream 'drop empty docs' predicate cannot protect this
    expression. Identical results on any non-degenerate document, so
    the differential oracles are unaffected."""
    n_tok = F.size(ws).cast("double")
    n_chars = F.length(text).cast("double")
    stop_r = stopword_occurrences(ws, LANG_MARKERS["en"]).cast("double") / \
        F.when(n_tok > 0, n_tok).otherwise(F.lit(1.0))
    punct_r = (F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
               ).cast("double") / F.when(n_chars > 0, n_chars).otherwise(F.lit(1.0))
    mean_len = total_word_chars(ws).cast("double") / \
        F.when(n_tok > 0, n_tok).otherwise(F.lit(1.0))
    score = (F.least(stop_r * 2.0, F.lit(0.4))
             + F.when((mean_len >= 3.0) & (mean_len <= 10.0), 0.4).otherwise(0.0)
             + F.greatest(F.lit(0.2) - punct_r, F.lit(0.0)))
    return F.when(n_tok > 0, score).otherwise(F.lit(0.0))


def quality_score(text: str) -> Column:
    """`quality_score_from` over the column named ``text``, with its own
    split (single-use convenience)."""
    return quality_score_from(F.col(text),
                              F.expr(X.words_sql(X.col_sql(text))))


def repeated_ngram_counts_from(grams: Column) -> tuple[Column, Column]:
    """(duplicated occurrences, total) over a shared n-gram array."""
    total = F.size(grams)
    dup = total - F.size(F.array_distinct(grams))
    return dup.cast("long"), total.cast("long")


def repeated_ngram_counts(text: str, n: int) -> tuple[Column, Column]:
    """(duplicated n-gram occurrences, total n-grams) of the column named
    ``text`` — the integer parts of the repetition fraction. Summing
    numerator and denominator separately and dividing ONCE per group
    keeps the corpus-level signal exact (no float accumulation order to
    match across engines)."""
    return repeated_ngram_counts_from(
        F.expr(X.word_ngrams_sql(X.col_sql(text), n)))


# PII redaction: RE2-compatible patterns (no lookarounds) so Spark, RE2,
# and DuckDB agree byte-for-byte. Deliberately conservative shapes — the
# point is the scan-side plan (regexp_replace chain inside codegen), not
# regex completeness; swap in audited patterns for production.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(text: Column,
               kinds: tuple[str, ...] = ("email", "phone", "ipv4")) -> Column:
    """Replace each PII match with ``<KIND>`` — a chained scan-side
    ``regexp_replace`` (one pass per kind, all inside WholeStageCodegen;
    order matters: emails first so phone-like digit runs inside addresses
    are already gone)."""
    out = text
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_count(text: Column,
              kinds: tuple[str, ...] = ("email", "phone", "ipv4")) -> Column:
    """Number of PII matches by the same patterns (redaction audit metric).
    Counted on the progressively-redacted text exactly like redact_pii, so
    count and redaction always agree on overlapping matches."""
    total = F.lit(0).cast("long")
    cur = text
    for kind in kinds:
        pat = F.lit(PII_PATTERNS[kind])
        total = total + F.size(F.regexp_extract_all(cur, pat, 0)).cast("long")
        cur = F.regexp_replace(cur, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return total


def top_ngrams(df, text_col: str, n: int, k: int,
               group_cols: list[str] | None = None):
    """Corpus-level heavy hitters: the ``k`` most frequent word n-grams
    (optionally per group) — the boilerplate-detection pass (repeated
    headers/footers surface instantly). One explode → one count shuffle
    with map-side combine → TakeOrderedAndProject (per-group rank when
    grouped); ties break on the gram text ascending, so results are
    deterministic in any engine. At 100 TB the count shuffle carries
    (gram, partial count) pairs, never documents."""
    from pyspark.sql import Window  # noqa: PLC0415
    groups = group_cols or []
    grams = df.select(*groups,
                      F.explode(F.expr(X.word_ngrams_sql(X.col_sql(text_col), n)))
                      .alias("gram"))
    counts = (grams.groupBy(*groups, "gram")
              .agg(F.count(F.lit(1)).alias("n_occ")))
    if groups:
        w = Window.partitionBy(*groups).orderBy(F.col("n_occ").desc(),
                                                F.col("gram").asc())
        return (counts.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= k).drop("rk"))
    return counts.orderBy(F.col("n_occ").desc(), F.col("gram").asc()).limit(k)


FINGERPRINT_MOD = 1_000_000_007  # keeps acc*31 + c far below int64 overflow


_fingerprint_arrow = None


def rolling_fingerprint_fast(text: Column) -> Column:
    """Fast path for ``sqlexpr.rolling_fingerprint_sql`` at the default
    modulus: same value on every input (equality-tested in
    tests/test_text_ops.py), Arrow-batched.

    Identical integer fold — h ← h·31 + codepoint (mod p), left-to-right —
    but vectorized: codepoints come from a utf-32 reinterpret (no per-char
    Python), and Horner's rule is re-expressed as Σ code_i·31^(n-1-i) mod p
    so the whole document reduces in one numpy pass. Every per-term product
    is < p·0x110000 ≈ 1.1e15 (int64-safe) and each term is reduced mod p
    before the final sum. ~1000× cheaper per row than the interpreted
    per-char lambda evals of the expression fold (~1 μs each, this repo's
    own measurement).

    The UDF is a lazily-built CLOSURE, not a module-level function: schema
    parsing needs an active SparkSession, and a closure pickles by value so
    executors never need this package importable (the driver may run the
    repo from an un-installed checkout)."""
    global _fingerprint_arrow
    if _fingerprint_arrow is None:
        mod = FINGERPRINT_MOD

        def batch(texts: pd.Series) -> pd.Series:
            out = np.zeros(len(texts), dtype=np.int64)
            mask = np.zeros(len(texts), dtype=bool)
            lens = texts.str.len()
            maxlen = int(lens.max()) if len(texts) and not lens.isna().all() else 0
            pows = np.empty(max(maxlen, 1), dtype=np.int64)
            acc = 1
            for i in range(max(maxlen, 1)):
                pows[i] = acc
                acc = (acc * 31) % mod
            for i, s in enumerate(texts):
                if s is None:
                    continue
                mask[i] = True
                if not s:
                    continue
                codes = np.frombuffer(s.encode("utf-32-le"),
                                      dtype=np.uint32).astype(np.int64)
                n = codes.shape[0]
                out[i] = int(((codes * pows[:n][::-1]) % mod).sum() % mod)
            res = pd.Series(out, dtype="Int64")
            res[~mask] = pd.NA
            return res

        from pyspark.sql.types import LongType  # noqa: PLC0415
        _fingerprint_arrow = F.pandas_udf(batch, LongType())
    return _fingerprint_arrow(text)
