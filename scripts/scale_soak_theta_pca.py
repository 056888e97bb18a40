"""Scale soak for the r7 third-session operators: Theta sketches and
PCA/Frequent Directions (same 1x/10x/100x shifted-id-union methodology
and staged corpora as scripts/scale_soak.py — growth RATIOS are the
signal, absolutes are contention-noisy on this box).

Timed per scale:
- theta_build over md5(text) document keys (one map-side-combined
  distinct shuffle + TakeOrderedAndProject) — expected ~scan growth
- theta_build_grouped user-day keys by event_type over events
- pca_fit (exact d=64 Gram, one mapInPandas scan) over embeddings
- fd_sketch (ell=16) over embeddings
- projection scan (broadcast-matmul pandas UDF -> noop sink), model
  fitted ONCE at 1x (train-once contract)
- pca_shortlist_topk probe (projected score-all -> top-100 -> rerank)

Usage: python scripts/scale_soak_theta_pca.py [scales...] (default 1 10 100)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402
from scripts.scale_soak import noop, staged, timed  # noqa: E402


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")

    from realtime_olap_spark.operators import pca as PC
    from realtime_olap_spark.operators import theta as TH

    # train-once artifact at 1x for the projection/probe rows
    base_emb = staged(spark, "embeddings", "vec_id", 1)
    model = PC.pca_fit(base_emb, "embedding", d=64, r=8, center=False)
    qvec = [((5 * i) % 11 - 5) / 7.0 for i in range(64)]

    results: dict[str, dict[int, float]] = {}

    def record(name: str, k: int, sec: float) -> None:
        results.setdefault(name, {})[k] = sec
        print(f"  {name} x{k}: {sec}s", flush=True)

    for k in scales:
        print(f"== scale x{k} ==", flush=True)
        docs = staged(spark, "documents", "doc_id", k)
        ev = staged(spark, "events", "event_id", k)
        emb = staged(spark, "embeddings", "vec_id", k)

        record("theta_build_doc_keys", k, timed(
            lambda: TH.theta_build(docs, F.md5("text"), k=4096)))
        ukey = F.concat_ws("@", F.col("user_id"), F.to_date("ts"))
        record("theta_grouped_user_days", k, timed(
            lambda: TH.theta_build_grouped(ev, ["event_type"], ukey,
                                           k=4096)))
        record("pca_fit_gram", k, timed(
            lambda: PC.pca_fit(emb, "embedding", d=64, r=8, center=False)))
        record("fd_sketch_l16", k, timed(
            lambda: PC.fd_sketch(emb, "embedding", d=64, ell=16)))
        record("pca_project_scan", k, timed(
            lambda: noop(PC.project(emb, "embedding", model))))
        record("pca_shortlist_probe", k, timed(
            lambda: noop(PC.pca_shortlist_topk(
                emb, qvec, model, "vec_id", "embedding", 10,
                shortlist=100))))

    print(json.dumps(results))


if __name__ == "__main__":
    main()
