"""Incremental (batch-vs-corpus) near-dup: the asymmetric band join must
agree exactly with the symmetric pipeline restricted to cross pairs, and
with a DuckDB twin of the same asymmetric shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators import dedup as D
from realtime_olap_spark.suite.dedup import _MH_SIGS, _WS
from tests.conftest import SF_DIR, assert_matches_oracle

SPLIT = 250  # doc_id < SPLIT → corpus, >= SPLIT → new batch
THRESHOLD = 0.5


def _halves(spark):
    d = Catalog(spark, SF_DIR).table("documents")
    return (d.where(F.col("doc_id") < SPLIT),
            d.where(F.col("doc_id") >= SPLIT))


def _corpus_tables(corpus):
    bands = D.minhash_bands(corpus, "doc_id", "text", 8, 2)
    words = D.hashed_word_sets(corpus, "doc_id", "text").select("doc_id", "wh")
    return bands, words


def test_incremental_equals_symmetric_cross_pairs(spark):
    """pairs_against(new, corpus) == the full symmetric pairs with one id
    on each side of the split (orientation normalized)."""
    corpus, new = _halves(spark)
    bands, words = _corpus_tables(corpus)
    inc = D.minhash_lsh_pairs_against(new, bands, words, "doc_id", "text",
                                      threshold=THRESHOLD)
    got = {(r["id_new"], r["id_corpus"], round(r["jaccard"], 12))
           for r in inc.collect()}

    full = D.minhash_lsh_dedup_pairs(
        Catalog(spark, SF_DIR).table("documents"), "doc_id", "text",
        num_hashes=8, band_size=2, threshold=THRESHOLD)
    want = {(max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]),
             round(r["jaccard"], 12))
            for r in full.collect()
            if (r["id_a"] < SPLIT) != (r["id_b"] < SPLIT)}
    assert got == want and got


def test_incremental_matches_duckdb(spark, duck):
    corpus, new = _halves(spark)
    bands, words = _corpus_tables(corpus)
    inc = D.minhash_lsh_pairs_against(new, bands, words, "doc_id", "text",
                                      threshold=THRESHOLD)
    assert_matches_oracle(inc, duck(SF_DIR), f"""
WITH ws AS (SELECT doc_id, {_WS} AS w FROM documents),
sigs AS (SELECT doc_id, {_MH_SIGS} FROM ws),
bands AS (SELECT doc_id, unnest([
    md5(concat_ws('|', '0', mh0, mh1)),
    md5(concat_ws('|', '1', mh2, mh3)),
    md5(concat_ws('|', '2', mh4, mh5)),
    md5(concat_ws('|', '3', mh6, mh7))]) AS band_key
  FROM sigs),
cands AS (SELECT DISTINCT n.doc_id AS id_new, c.doc_id AS id_corpus
  FROM bands n JOIN bands c ON n.band_key = c.band_key
  WHERE n.doc_id >= {SPLIT} AND c.doc_id < {SPLIT}),
scored AS (SELECT id_new, id_corpus,
       CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(wa.w, wb.w))) AS DOUBLE)
         AS jaccard
  FROM cands
  JOIN ws wa ON wa.doc_id = id_new
  JOIN ws wb ON wb.doc_id = id_corpus)
SELECT id_new, id_corpus, jaccard FROM scored
WHERE jaccard >= {THRESHOLD}
""", name="incremental_minhash")


def test_corpus_bucket_cap_bounds_candidates(spark):
    """With the corpus-side cap, every surviving band bucket contributes
    at most cap corpus partners per new doc — and the capped pair set is
    a subset of the uncapped one."""
    corpus, new = _halves(spark)
    bands, words = _corpus_tables(corpus)
    capped = D.minhash_lsh_pairs_against(new, bands, words, "doc_id", "text",
                                         threshold=THRESHOLD,
                                         max_bucket_size=10)
    uncapped = D.minhash_lsh_pairs_against(new, bands, words, "doc_id",
                                           "text", threshold=THRESHOLD)
    c = {(r["id_new"], r["id_corpus"]) for r in capped.collect()}
    u = {(r["id_new"], r["id_corpus"]) for r in uncapped.collect()}
    assert c <= u
