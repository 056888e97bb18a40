"""Keypoint near-dup join soak (r16): does the banded descriptor
join stay near-linear with planted-pair recall at growing corpus
sizes?

Synthetic DESCRIPTOR tables (no decode — the join is the scaling
question; the describe pass is embarrassingly parallel): N images x
72 keypoints of random 256-bit descriptors, every 50th image given a
"transformed copy" sharing 12 of its descriptors perturbed by ~20
random bit flips (inside the 42-bit verify radius) with the rest
random. At the 24-bit default banding, per-descriptor band survival
at 20 flips is ~0.81 (1 - (1 - e^(-20*24/256))^10), so a planted
pair clears min_matches=5 with probability ~0.9996 — the gate is
recall >= 0.99 (the probabilistic-LSH tail is the documented
trade; 16-bit banding measures 100% recall but was QUADRATIC in
descriptor density: 674M candidates / 125 s at x16 vs ~3x-linear
at 24 bits). Wall time should grow near-linearly.

Usage: python scripts/scale_soak_keypoints.py [scales...=1 4 16]
Scale 1 = 2,000 images (~144k descriptor rows).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

BASE_IMAGES = 2_000
KP = 72
PLANT_EVERY = 50
SHARED = 12
FLIPS = 20


def descriptor_table(spark, n_images: int):
    """Deterministic synthetic descriptors: xxhash64-derived words;
    image i a multiple of PLANT_EVERY gets a twin (id = i + n) whose
    first SHARED keypoints are i's with FLIPS bits flipped."""
    base = (spark.range(n_images * KP)
            .select((F.col("id") / KP).cast("long").alias("media_id"),
                    F.pmod(F.col("id"), F.lit(KP)).alias("kp"),
                    F.lit(0).alias("y"), F.lit(0).alias("x"),
                    *[F.xxhash64(F.col("id"), F.lit(w)).alias(f"w{w}")
                      for w in range(4)]))
    twins_src = base.where(
        (F.pmod(F.col("media_id"), F.lit(PLANT_EVERY)) == 0)
        & (F.col("kp") < SHARED))
    # ~FLIPS flips across the 4 words: XOR a sparse mask per word
    # (5 deterministic single-bit masks per word)
    def mask(w):
        m = F.lit(0).cast("long")
        for j in range(FLIPS // 4):
            bit = F.pmod(F.xxhash64(F.col("media_id"), F.col("kp"),
                                    F.lit(w * 31 + j)), F.lit(64))
            m = m.bitwiseXOR(
                F.call_function("shiftleft", F.lit(1).cast("long"),
                                bit.cast("int")))
        return m

    twins = twins_src.select(
        (F.col("media_id") + n_images).alias("media_id"), "kp",
        "y", "x",
        *[F.col(f"w{w}").bitwiseXOR(mask(w)).alias(f"w{w}")
          for w in range(4)])
    noise = (spark.range(n_images * KP)
             .where(F.pmod((F.col("id") / KP).cast("long"),
                           F.lit(PLANT_EVERY)) == 0)
             .where(F.pmod(F.col("id"), F.lit(KP)) >= SHARED)
             .select(((F.col("id") / KP).cast("long")
                      + n_images).alias("media_id"),
                     F.pmod(F.col("id"), F.lit(KP)).alias("kp"),
                     F.lit(0).alias("y"), F.lit(0).alias("x"),
                     *[F.xxhash64(F.col("id"), F.lit(w + 17))
                       .alias(f"w{w}") for w in range(4)]))
    return base.unionByName(twins).unionByName(noise)


def main() -> int:
    from realtime_olap_spark.operators.keypoints import (
        keypoint_near_dup_pairs)

    scales = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("scale-soak")
    print(f"keypoint soak: base={BASE_IMAGES} images x {KP} kp, "
          f"twin every {PLANT_EVERY} ({SHARED} shared kp, "
          f"{FLIPS} flips), scales {scales}")
    ok = True
    prev = None
    for k in scales:
        n = BASE_IMAGES * k
        sigs = descriptor_table(spark, n).persist()
        sigs.count()
        t0 = time.time()
        pairs = keypoint_near_dup_pairs(sigs)
        planted = n // PLANT_EVERY
        found = (pairs
                 .where(F.col("id_b") == F.col("id_a") + n)
                 .where(F.pmod(F.col("id_a"),
                               F.lit(PLANT_EVERY)) == 0).count())
        total = pairs.count()
        dt = time.time() - t0
        sigs.unpersist()
        recall = found / planted
        rate = dt / prev if prev else None
        prev = dt
        ok = ok and recall >= 0.99
        print(f"x{k:3d}: images={n + planted} pairs={total} "
              f"planted={found}/{planted} recall={recall:.3f} "
              f"join={dt:6.1f}s"
              + (f" (x{rate:.2f} vs prev scale)" if rate else ""))
    print("keypoint soak:", "CLEAN" if ok else "RECALL MISSES")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
