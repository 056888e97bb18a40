"""Incremental media-dedup cluster-state soak (r16 verdict directive
#1): does the per-epoch cost of ``MediaNearDupIngest._update_clusters``
stay O(frontier) as the persisted corpus grows?

The live decision layer's claim is that union-ing one epoch's pair
edges into the cluster state runs connected components over ONLY the
touched components (previous members star-edged to their root, plus
the new edges) — never over all pairs ever seen. This soak feeds a
constant-size epoch (EPOCH_PAIRS new pair edges, a fixed fraction
touching existing clusters) into a state that has already absorbed
1x / 4x / 16x epochs, and times the update. O(frontier) predicts
near-FLAT per-epoch wall time; O(all pairs) would grow linearly with
the epoch count. The latest-wins reads (clusters()) do scan the full
delta history, so a mild upward drift from the groupBy over
accumulated deltas is expected between compactions — compact() is
run before each timed epoch to isolate the frontier claim, then one
uncompacted timing records the drift the maintenance op exists to
bound.

Parity is asserted at every scale: the incremental assignment must
equal a from-scratch connected_components over ALL edges.

Usage: python scripts/scale_soak_media_clusters.py [scales...=1 4 16]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

STAGE = os.environ.get("SPARK_GRAFT_SOAK_DIR", "/tmp/spark_graft_soak")

EPOCH_PAIRS = 4_000   # new pair edges per epoch (constant)
BASE_EPOCHS = 4       # epochs pre-absorbed at scale 1
PAIRS_SCHEMA = ("modality string, id_a long, id_b long, hamming long, "
                "matched_frames long, offset_ms long")


def epoch_pairs(spark, epoch: int):
    """Deterministic epoch edges: mostly fresh two-node clusters, every
    8th edge reaching back into a prior epoch's id range (the frontier
    fraction — merges without touching most of the corpus)."""
    base = epoch * EPOCH_PAIRS * 2
    prior = max(epoch - 1, 0) * EPOCH_PAIRS * 2
    return (spark.range(EPOCH_PAIRS)
            .select(F.lit("image").alias("modality"),
                    (F.col("id") * 2 + base).alias("id_a"),
                    F.when(F.col("id") % 8 == 0,
                           F.pmod(F.xxhash64("id"),
                                  F.lit(max(prior, 1))))
                    .otherwise(F.col("id") * 2 + base + 1)
                    .alias("id_b"),
                    F.lit(0).cast("long").alias("hamming"),
                    F.lit(None).cast("long").alias("matched_frames"),
                    F.lit(None).cast("long").alias("offset_ms"))
            .where(F.col("id_a") != F.col("id_b")))


def main() -> int:
    from realtime_olap_spark.operators.components import (
        connected_components)
    from realtime_olap_spark.streaming import MediaNearDupIngest

    scales = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("scale-soak")
    print(f"media-cluster soak: epoch={EPOCH_PAIRS} pairs, "
          f"scales {scales} (x{BASE_EPOCHS} pre-absorbed epochs)")
    ok = True
    for k in scales:
        root = f"{STAGE}/media_clusters_x{k}"
        shutil.rmtree(root, ignore_errors=True)
        ingest = MediaNearDupIngest(spark, f"{root}/s", f"{root}/p",
                                    coverage_log=False)
        n_pre = BASE_EPOCHS * k
        for ep in range(n_pre):
            ingest._update_clusters(epoch_pairs(spark, ep), ep)
        ingest.compact()
        t0 = time.time()
        ingest._update_clusters(epoch_pairs(spark, n_pre), n_pre)
        dt = time.time() - t0
        # drift row: one more epoch WITHOUT compaction in between
        t0 = time.time()
        ingest._update_clusters(epoch_pairs(spark, n_pre + 1), n_pre + 1)
        dt2 = time.time() - t0
        # parity: incremental state == from-scratch CC over all edges
        all_edges = None
        for ep in range(n_pre + 2):
            e = epoch_pairs(spark, ep).select("id_a", "id_b")
            all_edges = e if all_edges is None else all_edges.unionByName(e)
        want = connected_components(
            all_edges.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst")))
        diff = (ingest.clusters()
                .join(want.select(F.col("node").alias("media_id"),
                                  F.col("component").alias("want_c")),
                      "media_id", "left")
                .where((F.col("want_c").isNotNull()
                        & (F.col("cluster_id") != F.col("want_c"))))
                .count())
        n_nodes = ingest.clusters().count()
        status = "OK" if diff == 0 else f"PARITY-DIFF {diff}"
        ok = ok and diff == 0
        print(f"x{k:3d}: corpus={n_nodes} nodes "
              f"epoch_update={dt:6.2f}s uncompacted_next={dt2:6.2f}s "
              f"{status}")
    print("media-cluster soak:", "CLEAN" if ok else "FAILURES")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
