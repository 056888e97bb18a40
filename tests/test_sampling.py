"""Deterministic hash-based sampling — DuckDB differential (the sampling
decisions themselves are oracle-checked, not just row counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators.sampling import (hash_sample,
                                                    stratified_take,
                                                    train_test_split)
from tests.conftest import SF_DIR, assert_matches_oracle

# DuckDB twin of operators.sampling._bucket over a string key
_B = ("(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
      "AS UBIGINT) AS BIGINT) % 1000000)")


def test_hash_sample_matches_duckdb(spark, duck):
    d = Catalog(spark, SF_DIR).table("documents")
    out = hash_sample(d, "doc_id", 0.2).select("doc_id", "lang")
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT doc_id, lang FROM documents WHERE {_B} < 200000
        """, name="hash_sample")
    n_all = d.count()
    n = out.count()
    assert 0 < n < n_all  # a real subsample, not all/nothing


def test_hash_sample_stable_under_repartition(spark):
    d = Catalog(spark, SF_DIR).table("documents")
    a = {r["doc_id"] for r in hash_sample(d, "doc_id", 0.3)
         .select("doc_id").collect()}
    b = {r["doc_id"] for r in hash_sample(d.repartition(13), "doc_id", 0.3)
         .select("doc_id").collect()}
    assert a == b  # membership is a row property, not a partitioning one


def test_stratified_take_matches_duckdb(spark, duck):
    d = Catalog(spark, SF_DIR).table("documents")
    out = stratified_take(d, ["lang", "source"], "doc_id", 3) \
        .select("doc_id", "lang", "source")
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (PARTITION BY lang, source
                       ORDER BY {_B} ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
            FROM documents)
        WHERE rn <= 3
        """, name="stratified_take")
    sizes = out.groupBy("lang", "source").count().collect()
    assert all(r["count"] <= 3 for r in sizes)


def test_train_test_split_partitions_and_matches(spark, duck):
    d = Catalog(spark, SF_DIR).table("documents")
    out = train_test_split(d, "doc_id", 0.25).select("doc_id", "split")
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT doc_id,
               CASE WHEN {_B} < 250000 THEN 'test' ELSE 'train' END AS split
        FROM documents
        """, name="train_test_split")
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "test"}
    total = sum(counts.values())
    assert 0.1 < counts["test"] / total < 0.4  # ~25%, hash-thin corpus ok


def test_null_keys_share_one_policy_across_samplers(spark):
    """NULL sampling keys hash a fixed sentinel: the row is an ordinary
    universe member in ALL samplers (fraction=1.0 keeps it; the split
    column assigns it by the same bucket as hash_sample uses) — previously
    hash_sample dropped NULL-key rows while train_test_split kept them."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, k string")
    assert hash_sample(df, "k", 1.0).count() == 4  # NULLs not dropped
    assert hash_sample(df, "k", 0.0).count() == 0
    # consistency: membership under fraction f == 'test' side at cut f
    for f in (0.25, 0.5, 0.75):
        in_sample = {r["id"] for r in hash_sample(df, "k", f).collect()}
        test_side = {r["id"] for r in train_test_split(df, "k", f).collect()
                     if r["split"] == "test"}
        assert in_sample == test_side
    # both NULL rows land identically (same sentinel bucket)
    split = {r["id"]: r["split"]
             for r in train_test_split(df, "k", 0.5).collect()}
    assert split[2] == split[4]


def test_mixture_sample_matches_duckdb(spark, duck):
    from realtime_olap_spark.operators.sampling import mixture_sample
    d = Catalog(spark, SF_DIR).table("documents")
    fr = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
    out = mixture_sample(d, "source", "doc_id", fr) \
        .select("doc_id", "source")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(round(f * 1_000_000))}"
        for s, f in sorted(fr.items(), reverse=True))
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT doc_id, source FROM documents
        WHERE {_B} < (CASE {cases} ELSE 0 END)
        """, name="mixture_sample")


def test_mixture_sample_rates(spark):
    from realtime_olap_spark.operators.sampling import mixture_sample
    d = Catalog(spark, SF_DIR).table("documents")
    got = {r["source"]: r["n"] for r in
           mixture_sample(d, "source", "doc_id",
                          {"src0": 1.0, "src1": 0.4})
           .groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= {"src0", "src1"}  # default fraction 0 drops the rest
    assert got["src0"] == 25             # 1.0 keeps the whole stratum
    assert 0 < got.get("src1", 0) < 25


def test_leakage_safe_split_keeps_clusters_together(spark):
    from realtime_olap_spark.operators.sampling import leakage_safe_split
    d = Catalog(spark, SF_DIR).table("documents")
    ids = sorted(r["doc_id"] for r in d.select("doc_id").collect())
    # chains {0,1,2} {3,4} ... over the first 40 ids
    pair_rows = []
    for base in range(0, 36, 5):
        a, b, c, x, y = ids[base:base + 5]
        pair_rows += [(a, b), (b, c), (x, y)]
    pairs = spark.createDataFrame(pair_rows, ["id_a", "id_b"])
    out = leakage_safe_split(d, "doc_id", pairs, test_fraction=0.4)
    side = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(side) == len(ids)  # left join kept every doc exactly once
    for a, b in pair_rows:
        assert side[a] == side[b], (a, b)
    assert {"train", "test"} == set(side.values())


def test_leakage_safe_split_singletons_match_plain_split(spark):
    from realtime_olap_spark.operators.sampling import leakage_safe_split
    d = Catalog(spark, SF_DIR).table("documents")
    ids = sorted(r["doc_id"] for r in d.select("doc_id").collect())
    pairs = spark.createDataFrame([(ids[0], ids[1])], ["id_a", "id_b"])
    safe = {r["doc_id"]: r["split"]
            for r in leakage_safe_split(d, "doc_id", pairs, 0.3).collect()}
    plain = {r["doc_id"]: r["split"]
             for r in train_test_split(
                 d.withColumn("k", F.col("doc_id").cast("long")), "k",
                 0.3).collect()}
    for i in ids[2:]:  # unpaired docs: identical decision to the plain split
        assert safe[i] == plain[i]


def test_stratified_rank_probe_equals_window_rank(spark):
    """The broadcast count-rank (stratified_rank_probe) must assign every
    probe row exactly the rank the full window form assigns it — the
    equivalence text_doc_features' restructured strat_rank rides on."""
    from realtime_olap_spark.operators.sampling import (stratified_rank,
                                                        stratified_rank_probe)
    d = Catalog(spark, SF_DIR).table("documents")
    universe = d.select("doc_id", "lang", "source")
    # probes: an arbitrary slice (first 25 by doc_id) drawn from the universe
    probes = universe.orderBy("doc_id").limit(25)
    got = {r["doc_id"]: r["strat_rank"]
           for r in stratified_rank_probe(universe, probes,
                                          ["lang", "source"],
                                          "doc_id").collect()}
    want_all = (universe
                .withColumn("rk", stratified_rank(["lang", "source"],
                                                  "doc_id"))
                .collect())
    probe_ids = {r["doc_id"] for r in probes.collect()}
    want = {r["doc_id"]: r["rk"] for r in want_all if r["doc_id"] in probe_ids}
    assert got == want and len(got) == 25
