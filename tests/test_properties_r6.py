"""Seeded-random property sweeps for the r6 operators — hundreds of
adversarial cases per property, batched into ONE DataFrame per test so
the sweep costs one Spark job, not one per example. Tiny alphabets make
window/gram collisions dense (the hard regime for dedup algebra)."""

from __future__ import annotations

import random
import re
from collections import defaultdict

from pyspark.sql import functions as F

from realtime_olap_spark.operators.importance import importance_weights
from realtime_olap_spark.operators.spans import (covered_token_count,
                                                 duplicated_window_positions)

ALPHABET = ["aa", "bb", "cc", "dd", "ee"]


def test_covered_token_count_random_interval_unions(spark):
    rng = random.Random(7)
    cases = []
    for i in range(300):
        n = rng.randint(0, 12)
        ps = sorted(rng.sample(range(0, 40), n))
        cases.append((i, ps))
    k = rng.randint(2, 6)
    df = (spark.createDataFrame(cases, ["i", "ps"])
          .select("i", F.col("ps").cast("array<int>").alias("ps")))
    got = {r["i"]: r["c"] for r in
           df.select("i", covered_token_count(F.col("ps"), k).alias("c"))
             .collect()}
    for i, ps in cases:
        covered = set()
        for p in ps:
            covered.update(range(p, p + k))
        assert got[i] == len(covered), (i, ps, k)


def test_window_marks_random_dense_corpora(spark):
    """keep='first' and keep='none' marks equal the content-exact twin
    on random tiny-alphabet corpora, where nearly every window repeats
    — the densest-collision regime."""
    rng = random.Random(13)
    k = 3
    corpus = {i: " ".join(rng.choice(ALPHABET)
                          for _ in range(rng.randint(0, 10)))
              for i in range(120)}
    df = spark.createDataFrame(sorted(corpus.items()), ["doc_id", "text"])

    def twin(keep):
        occ = defaultdict(list)
        for did in sorted(corpus):
            ws = [w for w in re.split(r"\s+", corpus[did].lower()) if w]
            for p in range(len(ws) - k + 1):
                occ[" ".join(ws[p:p + k])].append((did, p))
        marks = defaultdict(list)
        for sites in occ.values():
            if len(sites) < 2:
                continue
            survivors = sites if keep == "none" else sorted(sites)[1:]
            for did, p in survivors:
                marks[did].append(p)
        return {d: sorted(v) for d, v in marks.items()}

    for keep in ("first", "none"):
        got = {r["doc_id"]: list(r["dup_pos"])
               for r in duplicated_window_positions(
                   df, "doc_id", "text", k, keep=keep).collect()}
        assert got == twin(keep), keep


def test_importance_fold_bit_exact_random(spark):
    """The scoring fold is BIT-equal to a driver-side left-fold replay
    (the CAST('…' AS DOUBLE) literals round-trip exactly), across random
    docs including empties and heavy repetition."""
    rng = random.Random(29)
    B = 64
    lut = [rng.uniform(-3, 3) for _ in range(B)]
    docs = [(i, " ".join(rng.choice(ALPHABET)
                         for _ in range(rng.randint(0, 15))))
            for i in range(200)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from realtime_olap_spark.operators.importance import gram_buckets
    got = (importance_weights(df, "doc_id", "text", lut)
           .select("doc_id", "log_weight",
                   gram_buckets("text", B).alias("bks")).collect())
    for r in got:
        acc = 0.0
        for bk in r["bks"]:
            acc = acc + lut[bk]
        assert r["log_weight"] == acc, r["doc_id"]
