"""BPE tokenizer: the classic hand-computable example, count-table ==
raw-corpus training equivalence, greedy-application invariants, decode
round-trip, and the distributed end-to-end on the documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_olap_spark.operators import bpe as B

# Sennrich et al.'s worked example vocabulary (ACL 2016, public):
SENNRICH = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_sennrich_example_merges():
    merges = B.train_merges_from_counts(SENNRICH, 4)
    # hand-derivable: es(9) -> est(9) -> est</w>(9) -> lo(7)
    assert merges == [("e", "s"), ("es", "t"), ("est", B.END), ("l", "o")]


def test_merge_determinism_and_tie_break():
    # 'ab' and 'ba' tie at count 2 inside "abab"; lexicographic least wins
    merges = B.train_merges_from_counts({"abab": 2}, 1)
    assert merges == [("a", "b")]
    assert B.train_merges_from_counts(SENNRICH, 4) == \
        B.train_merges_from_counts(dict(reversed(SENNRICH.items())), 4)


def test_early_stop_when_no_pair_repeats():
    merges = B.train_merges_from_counts({"ab": 1, "cd": 1}, 50)
    assert merges == []        # every pair occurs once: nothing to learn


def test_count_table_equals_raw_corpus_training(spark):
    texts = ["low low low low low lower lower",
             "newest newest newest", "newest newest newest widest",
             "widest widest"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    distributed = B.train_bpe(df, "text", num_merges=4)
    # raw-corpus twin: expand every occurrence instead of weighting
    raw: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            raw[w] = raw.get(w, 0) + 1
    assert raw == SENNRICH
    assert distributed == B.train_merges_from_counts(SENNRICH, 4)


def test_encode_applies_lowest_rank_first(spark):
    merges = B.train_merges_from_counts(SENNRICH, 4)
    df = spark.createDataFrame(
        [(1, "newest"), (2, "low"), (3, "lowest"), (4, "unseen")],
        ["id", "t"])
    got = {r["id"]: r["bpe"]
           for r in B.encode(df, "t", merges).collect()}
    assert got[1] == ["n", "e", "w", "est</w>"]
    assert got[2] == ["lo", "w", "</w>"]
    assert got[3] == ["lo", "w", "est</w>"]          # subwords compose
    assert got[4] == ["u", "n", "s", "e", "e", "n", "</w>"]


def test_decode_round_trip(spark):
    df = spark.createDataFrame(
        [(1, "the newest widest low thing"), (2, ""), (3, "LOWER CASE")],
        ["id", "t"])
    merges = B.train_merges_from_counts(SENNRICH, 4)
    enc = B.encode(df, "t", merges)
    got = {r["id"]: r["d"] for r in
           enc.select("id", B.decode(F.col("bpe")).alias("d")).collect()}
    assert got[1] == "the newest widest low thing"
    assert got[2] == ""
    assert got[3] == "lower case"                    # lowercasing is lossy


def test_token_count_and_null_counts_zero(spark):
    merges = B.train_merges_from_counts(SENNRICH, 2)
    df = spark.createDataFrame([(1, "newest low"), (2, None)], ["id", "t"])
    got = {r["id"]: r["n_bpe"] for r in
           B.bpe_token_count(df, "t", merges).collect()}
    # newest -> n e w est </w> (5), low -> l o w </w> (4)
    assert got[1] == 9
    # NULL text counts a concrete 0 — budget arithmetic downstream
    # (packing cumsum, manifest totals) must never see NULL/-1
    assert got[2] == 0


def test_encode_tokenizes_like_training(spark):
    """Java \\s (training's words_sql) is ASCII-only; the encoder must not
    split on Unicode whitespace the statistics treated as word chars."""
    nbsp_word = "foo bar"
    df = spark.createDataFrame([(1, nbsp_word), (2, "foo bar")], ["id", "t"])
    merges: list[tuple[str, str]] = []
    got = {r["id"]: r["bpe"] for r in B.encode(df, "t", merges).collect()}
    # one token sequence for the nbsp word (nbsp is a CHARACTER), two for
    # the spaced version
    assert got[1].count(B.END) == 1 and " " in "".join(got[1])
    assert got[2].count(B.END) == 2
    # and the spark-side tokenizer agrees
    from realtime_olap_spark import sqlexpr as X
    ws = df.select("id", F.expr(X.words_sql("t")).alias("w")).collect()
    n = {r["id"]: len(r["w"]) for r in ws}
    assert n[1] == 1 and n[2] == 2


def test_documents_end_to_end(spark):
    from realtime_olap_spark.catalog import Catalog
    d = Catalog(spark, "/root/testdata/sf0.001").table("documents")
    merges = B.train_bpe(d, "text", num_merges=64, max_vocab=5000)
    assert 0 < len(merges) <= 64
    enc = B.bpe_token_count(d, "text", merges)
    rows = enc.select("doc_id", "n_bpe").collect()
    assert len(rows) == d.count()
    assert all(r["n_bpe"] >= 0 for r in rows)
    # merges compress: fewer tokens than raw characters+markers
    stats = (B.encode(d, "text", merges)
             .select((F.size("bpe")
                      < F.length("text") + F.size(F.split("text", r"\s+")))
                     .alias("ok"))
             .agg(F.min("ok")).collect()[0][0])
    assert stats is True


def test_vocab_and_ids(spark):
    merges = B.train_merges_from_counts(SENNRICH, 4)
    alphabet = sorted({c for w in SENNRICH for c in w})
    vocab = B.vocab_from_merges(merges, alphabet)
    # unk=0; every base symbol and merged symbol has a distinct id ≥ 1
    assert B.UNK_ID == 0 and 0 not in vocab.values()
    assert len(set(vocab.values())) == len(vocab)
    assert {"es", "est", "est</w>", "lo"} <= set(vocab)
    df = spark.createDataFrame([(1, "newest"), (2, "zebra")], ["id", "t"])
    got = {r["id"]: r["ids"]
           for r in B.encode_ids(df, "t", merges, vocab).collect()}
    assert got[1] == [vocab["n"], vocab["e"], vocab["w"], vocab["est</w>"]]
    # 'z', 'b', 'a', 'r' are outside the training alphabet -> UNK
    assert B.UNK_ID in got[2]
    # ids invert to tokens (ignoring UNKs): round-trip through the table
    inv = {v: k for k, v in vocab.items()}
    assert [inv[i] for i in got[1]] == ["n", "e", "w", "est</w>"]


def test_encode_deterministic_under_relayout(spark):
    from realtime_olap_spark.catalog import Catalog
    d = Catalog(spark, "/root/testdata/sf0.001").table("documents")
    merges = B.train_bpe(d, "text", num_merges=32)
    a = {r["doc_id"]: r["bpe"] for r in B.encode(d, "text", merges).collect()}
    b = {r["doc_id"]: r["bpe"] for r in
         B.encode(d.repartition(5), "text", merges).collect()}
    assert a == b


def test_merges_json_round_trip(spark):
    merges = B.train_merges_from_counts(SENNRICH, 4)
    loaded = B.merges_from_json(B.merges_to_json(merges))
    assert loaded == merges
    df = spark.createDataFrame([(1, "newest lowest")], ["id", "t"])
    a = B.encode(df, "t", merges).collect()[0]["bpe"]
    b = B.encode(df, "t", loaded).collect()[0]["bpe"]
    assert a == b
