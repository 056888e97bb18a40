"""Perceptual-hash near-dup scale soak (r14): synthetic 64-bit hash
populations with a realistic near-dup structure (clusters of 1/3/6/12
-bit variants around random bases, plus a degenerate flat-image hot
bucket) at 1x/10x/100x rows, through ``phash_near_dup_pairs`` in the
CORPUS configuration — n_bands=4 (16-bit bands, 65k buckets/band,
exact guarantee <=3 bits) with the hot-bucket cap. The default 8-band
config is the small-collection/verified-recall shape; at corpus row
counts its 256-bucket bands saturate ANY cap, which is exactly why
the docstring tells corpus users to drop to 4 bands — this soak pins
that advice. Checks: wall-clock near-linear in rows, recall on the
planted <=3-bit pairs is 100%, the hot bucket stays capped.

Usage: python scripts/scale_soak_phash.py [scale...=[1, 10, 100]]
Base population: 2,000 rows per 1x. Non-zero exit if the largest
scale's rows/s drops below a third of the 10x rate, or any planted
pair is missed.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402

BASE = 2_000


def make_population(n, rnd):
    """(id, hash) rows: 70% singles, 30% in near-dup clusters; plus
    2% sharing one band value (the flat-image hot bucket)."""
    rows = []
    planted = []  # (id_a, id_b) pairs with hamming <= 6
    hid = 0
    while hid < n:
        v = rnd.getrandbits(64)
        rows.append((hid, v))
        base_id = hid
        hid += 1
        if rnd.random() < 0.3 and hid < n:
            for nbits in rnd.sample([1, 3, 6, 12], 2):
                if hid >= n:
                    break
                w = v
                for pos in rnd.sample(range(64), nbits):
                    w ^= 1 << pos
                rows.append((hid, w))
                if nbits <= 3:
                    planted.append((base_id, hid))
                hid += 1
    # hot bucket: 2% of NON-planted rows share their low 16 bits
    skip = {i for p in planted for i in p}
    for i in range(0, len(rows), 50):
        rid, v = rows[i]
        if rid not in skip:
            rows[i] = (rid, (v & ~0xFFFF) | 0x7777)
    return [(i, v - (1 << 64) if v >= (1 << 63) else v)
            for i, v in rows], planted


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.operators.phash import phash_near_dup_pairs

    rates = []
    ok = True
    for k in scales:
        n = BASE * k
        rows, planted = make_population(n, random.Random(k))
        df = spark.createDataFrame(rows, "id long, h long") \
            .repartition(32).cache()
        df.count()
        t0 = time.time()
        pairs = phash_near_dup_pairs(df, "id", "h", max_hamming=3,
                                     n_bands=4, max_bucket_size=100)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        dt = time.time() - t0
        missed = [p for p in planted
                  if p not in got and (p[1], p[0]) not in got]
        rate = n / dt
        rates.append(rate)
        print(f"scale={k}x rows={n} pairs={len(got)} "
              f"planted={len(planted)} missed={len(missed)} "
              f"wall={dt:.2f}s ({rate:.0f} rows/s)", flush=True)
        if missed:
            ok = False
        df.unpersist()
    if len(rates) >= 2 and rates[-1] < rates[1] / 3:
        ok = False
    print(f"PHASH SOAK {'CLEAN' if ok else 'FAILED'}: "
          f"rates={[f'{r:.0f}' for r in rates]}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
