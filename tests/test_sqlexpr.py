"""Each sqlexpr rendering against an independent python twin on the real
corpus: the SQL string is the only engine-side implementation, so these
pin its VALUES (the DuckDB oracles of text_doc_features,
text_lang_quality and the dedup queries pin them a second time)."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X
from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators.text import FINGERPRINT_MOD, LANG_MARKERS

from conftest import SF_DIR

# Java's \s (the split regex of words_sql) is ASCII-only
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _words(t: str) -> list[str]:
    return [w for w in _JAVA_WS.split(t.lower()) if w]


def _ngrams(ws: list[str], n: int) -> list[str]:
    return [" ".join(ws[i:i + n]) for i in range(max(len(ws) - n + 1, 0))]


def _doc_grams(t: str) -> list[str]:
    ws = _words(t)
    return ws + _ngrams(ws, 2)


def _md5_prefix(s: str, hex_chars: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


def _word_set(t: str) -> list[str]:
    return list(dict.fromkeys(t.lower().split(" ")))


def _rows(spark, *cols):
    """(text, *rendered values) for every corpus document."""
    d = Catalog(spark, SF_DIR).table("documents")
    return d.select("text", *[c.alias(f"v{i}") for i, c in enumerate(cols)]) \
        .collect()


def _check(spark, rendered: str, ref) -> None:
    rows = _rows(spark, F.expr(rendered))
    assert rows
    for r in rows:
        assert r["v0"] == ref(r["text"]), r["text"]


@pytest.mark.parametrize("n", [2, 3])
def test_word_ngrams_twin(spark, n):
    _check(spark, X.word_ngrams_sql("text", n),
           lambda t: _ngrams(_words(t), n))


def test_words_twin(spark):
    _check(spark, X.words_sql("text"), _words)


def test_ngram_hash_set_twin(spark):
    """Distinct gram hashes in first-occurrence order; the reference
    hashes the python grams with the engine's own xxhash64."""
    rows = _rows(spark, F.expr(X.ngram_hash_set_sql("text", 3)))
    grams = sorted({g for r in rows for g in _ngrams(_words(r["text"]), 3)})
    code = {r["g"]: r["h"] for r in spark.createDataFrame(
        [(g,) for g in grams], "g string")
        .select("g", F.xxhash64("g").alias("h")).collect()}
    for r in rows:
        distinct = dict.fromkeys(_ngrams(_words(r["text"]), 3))
        assert r["v0"] == [code[g] for g in distinct], r["text"]


def test_doc_grams_twin(spark):
    _check(spark, X.doc_grams_sql("text"), _doc_grams)


def test_gram_buckets_md5_twin(spark):
    _check(spark, X.gram_buckets_md5_sql("text", 1024),
           lambda t: [_md5_prefix(g, 8) % 1024 for g in _doc_grams(t)])


def test_favored_hits_twin(spark):
    favored = [(i * 7 + 3) % 2 for i in range(1024)]
    _check(spark, X.favored_hits_sql("text", favored),
           lambda t: sum(favored[_md5_prefix(g, 8) % 1024]
                         for g in _doc_grams(t)))


def test_quality_features_twin(spark):
    d = Catalog(spark, SF_DIR).table("documents")
    rows = d.select("text", *X.quality_features_sql("text")).collect()
    assert rows
    markers = set(LANG_MARKERS["en"])
    for r in rows:
        t = r["text"]
        ws = _words(t)
        n_punct = len(t) - len(re.sub(r"[^\w\s]", "", t, flags=re.ASCII))
        n_upper = sum("A" <= c <= "Z" for c in t)
        assert (r["n_chars_m"], r["n_tokens"]) == (len(t), len(ws))
        assert r["mean_word_len"] == len("".join(ws)) / len(ws)
        assert r["stopword_ratio"] == \
            sum(w in markers for w in ws) / len(ws)
        assert r["punct_ratio"] == n_punct / len(t)
        assert r["upper_ratio"] == n_upper / len(t)


def test_rolling_fingerprint_twin(spark):
    def fold(t):
        h = 0
        for c in t:
            h = (h * 31 + ord(c)) % FINGERPRINT_MOD
        return h

    _check(spark, X.rolling_fingerprint_sql("text", FINGERPRINT_MOD), fold)


def test_word_set_and_hash_twin(spark):
    _check(spark, X.word_set_sql("text"), _word_set)
    _check(spark, X.word_hashes_sql("text"),
           lambda t: [_md5_prefix(w, 15) for w in _word_set(t)])


def test_simhash_fp_twin(spark):
    def fp(t):
        hs = [_md5_prefix(w, 15) for w in _word_set(t)]
        return sum(1 << j for j in range(16)
                   if 2 * sum((h >> j) & 1 for h in hs) > len(hs))

    d = Catalog(spark, SF_DIR).table("documents").select(
        "text", F.expr(X.word_hashes_sql("text")).alias("__wh"))
    rows = d.select("text", F.expr(X.simhash_fp_sql("__wh", 16))
                    .alias("v")).collect()
    assert rows
    for r in rows:
        assert r["v"] == fp(r["text"]), r["text"]
