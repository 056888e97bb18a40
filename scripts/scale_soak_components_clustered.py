"""Clustered-graph connected-components soak (r9 verdict directive #6):
does ``local_contraction=True`` ever earn default-on?

r9 measured contraction USELESS on hash-random sparse graphs (partition-
visible cycles ≈ 0, and the dual-keyed variant grew rows 2x/pass). Its
claimed niche is CLUSTERED edge sets — near-dup pairs, social graphs —
where many edges land inside small dense blocks, so a partition-local
union-find can collapse a block to a star before the first exchange.
This soak builds deterministic clustered graphs (dense blocks of
``BLOCK`` nodes, ~``INTRA`` intra-block edges per node, sparse bridges
chaining blocks into super-components) at 1x/8x/32x scale and times the
distributed star rounds with contraction OFF vs ON, interleaved and
warmed (min-of-2 per mode, alternating reps — the house A/B discipline:
noop-write sinks, never .count(), JIT order alternated).

Result parity is asserted per scale (component histograms must match).

Usage: python scripts/scale_soak_components_clustered.py [scales…]
Default scales: 1 8 32 (≈1.5M / 12M / 48M edges).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

STAGE = os.environ.get("SPARK_GRAFT_SOAK_DIR", "/tmp/spark_graft_soak")

BLOCK = 32          # nodes per dense block
INTRA = 6           # intra-block edges per node (≈ BLOCK*INTRA per block)
BASE_BLOCKS = 8_000  # blocks at scale 1 → ~1.5M edges


def edges_path(spark, k: int) -> str:
    """Stage the clustered graph for scale k: node ids are globally
    unique (block * BLOCK + slot); intra-block edges pick both endpoints
    from one block via xxhash64; every 4th block bridges to the next
    (super-components of 4 blocks)."""
    path = f"{STAGE}/cc_clustered_x{k}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        n_blocks = BASE_BLOCKS * k
        intra = (spark.range(n_blocks * BLOCK * INTRA)
                 .select((F.col("id") / (BLOCK * INTRA)).cast("long")
                         .alias("b"),
                         F.col("id").alias("i"))
                 .select((F.col("b") * BLOCK
                          + F.pmod(F.xxhash64("i"), F.lit(BLOCK)))
                         .alias("src"),
                         (F.col("b") * BLOCK
                          + F.pmod(F.xxhash64("i", F.lit(1)),
                                   F.lit(BLOCK))).alias("dst")))
        bridges = (spark.range(n_blocks - 1)
                   .where(F.pmod(F.col("id"), F.lit(4)) != 3)
                   .select((F.col("id") * BLOCK).alias("src"),
                           ((F.col("id") + 1) * BLOCK).alias("dst")))
        intra.union(bridges).write.mode("overwrite").parquet(path)
    return path


def solve(spark, path: str, contraction: bool):
    from realtime_olap_spark.operators.components import \
        connected_components
    e = spark.read.parquet(path)
    t0 = time.time()
    out = connected_components(e, small_graph_edges=None,
                               local_contraction=contraction)
    out.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def histogram(spark, path: str, contraction: bool):
    from realtime_olap_spark.operators.components import \
        connected_components
    e = spark.read.parquet(path)
    out = connected_components(e, small_graph_edges=None,
                               local_contraction=contraction)
    rows = (out.groupBy("component").count()
            .groupBy("count").count().collect())
    return sorted((int(r[0]), int(r[1])) for r in rows)


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 8, 32])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    for k in scales:
        path = edges_path(spark, k)
        n_edges = spark.read.parquet(path).count()
        # parity first (also warms the scan cache for both modes)
        h_off = histogram(spark, path, False)
        h_on = histogram(spark, path, True)
        assert h_off == h_on, f"x{k}: contraction changed the result!"
        times = {False: [], True: []}
        for rep in range(2):
            for mode in ([False, True] if rep % 2 == 0 else [True, False]):
                times[mode].append(solve(spark, path, mode))
        off, on = min(times[False]), min(times[True])
        print(f"x{k}: edges={n_edges:,} star_rounds={off:.1f}s "
              f"contracted={on:.1f}s ratio={on / off:.2f} "
              f"(raw off={['%.1f' % t for t in times[False]]} "
              f"on={['%.1f' % t for t in times[True]]})", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
