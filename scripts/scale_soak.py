"""100x scale soak for the curation/vector operators (r6 directive #2).

Builds 1x / 10x / 100x corpora from the sf0.1 documents + embeddings
tables by shifted-id union (the COVERAGE.md "Measured scale-up"
methodology, extended to 100x: ~5k -> ~500k docs), MATERIALIZED to
parquet so every timed run is a real scan, then times each operator
min-of-RUNS via the noop sink. A 10x sweep can hide a quadratic tail
that 100x cannot — the point is the growth RATIO between scales, not
the absolute numbers (this box's absolute timings are contention-noisy).

Model artifacts (classifier weights, DSIR LUT, BPE merges, PQ/IVF
codebooks) are fitted ONCE at 1x and reused as literals across scales —
the train-once contract; the soak measures the recurring scans.

Usage: python scripts/scale_soak.py [scales...]   (default: 1 10 100)
Writes staged corpora under /tmp/scale_soak/ (reused across runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGE = "/tmp/scale_soak"
RUNS = 2


def staged(spark: SparkSession, table: str, id_col: str, k: int) -> DataFrame:
    """k-times shifted-id union of the sf0.1 table, written once to
    parquet and re-read (timed ops must SCAN, not rebuild the union)."""
    path = f"{STAGE}/{table}_x{k}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        if k == 1:
            out = base
        else:
            m = base.agg(F.max(id_col)).first()[0] + 1
            copies = spark.range(k).select(F.col("id").alias("__copy"))
            out = (base.crossJoin(F.broadcast(copies))
                   .withColumn(id_col,
                               F.col(id_col) + F.col("__copy") * F.lit(m))
                   .drop("__copy"))
        out.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def timed(fn, runs: int = RUNS) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")

    from realtime_olap_spark.operators import bpe as B
    from realtime_olap_spark.operators import classifier as CL
    from realtime_olap_spark.operators import dedup as D
    from realtime_olap_spark.operators import importance as IMP
    from realtime_olap_spark.operators import spans as SP
    from realtime_olap_spark.operators import urls as U

    # train-once artifacts at 1x
    base_docs = staged(spark, "documents", "doc_id", 1)
    merges = B.train_bpe(base_docs, "text", num_merges=200, max_vocab=20_000)
    model = CL.QualityModel(
        tuple(((3 * i) % 7 - 3) / 5.0 for i in range(1024)), bias=0.25)
    lut = [((7 * i) % 13 - 6) / 10.0 for i in range(1024)]

    results: dict[str, dict[int, float]] = {}

    def record(name: str, k: int, sec: float) -> None:
        results.setdefault(name, {})[k] = sec
        print(f"  {name} x{k}: {sec}s", flush=True)

    for k in scales:
        print(f"== scale x{k} ==", flush=True)
        docs = staged(spark, "documents", "doc_id", k)
        with_url = docs.withColumn(
            "url", F.concat(F.lit("https://www."), F.col("source"),
                            F.lit(".com/doc/"), F.col("doc_id")))

        record("span_dup_stats", k, timed(lambda: noop(
            SP.span_dup_stats(docs, "doc_id", "text", k=8))))
        record("classifier_scan", k, timed(lambda: noop(
            docs.select(CL.quality_score("text", model)
                        .alias("q")))))
        record("importance_scan", k, timed(lambda: noop(
            IMP.importance_weights(docs, "doc_id", "text", lut))))
        record("bpe_encode_count", k, timed(lambda: noop(
            B.bpe_token_count(docs, "text", merges)
            .groupBy("source").agg(F.sum("n_bpe")))))
        record("url_dedup", k, timed(lambda: noop(
            U.url_dedup(with_url, "url", keep_by="doc_id"))))
        record("domain_cap_rate", k, timed(lambda: noop(
            U.domain_cap_rate(with_url, "url", F.col("text"), cap=1000))))
        record("domain_cap_exact", k, timed(lambda: noop(
            U.domain_frequency_cap(with_url, "url", F.col("text"),
                                   cap=1000, tiebreak=F.col("doc_id")))))
        record("minhash_bands", k, timed(lambda: noop(
            D.minhash_bands(docs, "doc_id", "text",
                            num_hashes=8, band_size=2))))

        # Bloom-gated corpus dedup: the CORPUS is what grows here, so key
        # on doc_id (distinct across shifted copies; the union duplicates
        # text verbatim, which would pin content-key cardinality at 1x).
        # Expected shape: filter BUILD linear in corpus keys (ingest-time,
        # alongside the key table); gated PROBE of a FIXED batch ~flat as
        # the corpus grows (probe cost is O(batch * k) hashes + the
        # anti-join over ~half the batch, independent of corpus rows).
        # Broadcast mode forced so all scales measure the same code path.
        from realtime_olap_spark.operators import bloom as BL
        ck_path = f"{STAGE}/bloom_keys_x{k}"
        if not os.path.exists(f"{ck_path}/_SUCCESS"):
            (docs.select(F.md5(F.col("doc_id").cast("string"))
                         .alias("__ck"))
             .write.mode("overwrite").parquet(ck_path))
        ckeys = spark.read.parquet(ck_path)
        n_keys = ckeys.count()
        m_bits, n_h = BL.optimal_params(n_keys, 1e-3)
        bf_holder = {}
        record("bloom_build", k, timed(lambda: bf_holder.__setitem__(
            "bf", BL.bloom_build(ckeys, "__ck", m_bits, n_h))))
        # fixed 1x batch, half re-arrivals (even doc_ids, in-corpus keys)
        # and half fresh (odd doc_ids shifted out of every corpus range)
        batch_key = F.md5(F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))
                          .otherwise(F.col("doc_id") + F.lit(10 ** 12))
                          .cast("string"))
        record("bloom_gated_dedup", k, timed(lambda: noop(
            BL.dedup_exact_against_bloom(base_docs, ckeys, batch_key,
                                         bf_holder["bf"],
                                         mode="broadcast"))))

        # Adaptive CC, distributed path FORCED (small_graph_edges=None):
        # graphs over the 2^20-edge broadcast threshold run the star
        # rounds, and this measures that path on a deterministic
        # hash-derived random graph (60k*k edges over 20k*k nodes,
        # staged to parquet like every other input). pmod keeps ANSI
        # happy on negative hashes.
        from realtime_olap_spark.operators.components import \
            connected_components
        edge_path = f"{STAGE}/edges_x{k}"
        if not os.path.exists(f"{edge_path}/_SUCCESS"):
            n_nodes = F.lit(20_000 * k)
            (spark.range(60_000 * k)
             .select(F.pmod(F.xxhash64(F.col("id")), n_nodes).alias("src"),
                     F.pmod(F.xxhash64(F.col("id"), F.lit(1)), n_nodes)
                     .alias("dst"))
             .write.mode("overwrite").parquet(edge_path))
        cc_edges = spark.read.parquet(edge_path)
        record("cc_star_rounds", k, timed(lambda: noop(
            connected_components(cc_edges, small_graph_edges=None))))

        # IVF-PQ: index build is ingest-time (untimed); the probe is the
        # recurring op. Codebooks/centroids from the 1x suite literals.
        emb = staged(spark, "embeddings", "vec_id", k)
        from realtime_olap_spark.operators.pq import (ivfpq_index_write,
                                                      ivfpq_topk, pq_train)
        from realtime_olap_spark.suite.similarity import CENTROIDS
        if "books" not in results.setdefault("_artifacts", {}):
            results["_artifacts"]["books"] = 1.0
            global BOOKS
            BOOKS = pq_train(staged(spark, "embeddings", "vec_id", 1),
                             "embedding", m=8, ksub=16, iters=2)
        idx_path = f"{STAGE}/ivfpq_x{k}"
        if not os.path.exists(f"{idx_path}/cell=0"):
            ivfpq_index_write(emb, idx_path, CENTROIDS, BOOKS)
        query = [float(x) for x in
                 emb.orderBy("vec_id").first()["embedding"]]
        record("ivfpq_probe", k, timed(lambda: noop(
            ivfpq_topk(spark, idx_path, query, CENTROIDS, BOOKS,
                       k=10, nprobe=2, shortlist=100))))

    results.pop("_artifacts", None)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
