"""Dihedral image near-dup scale soak (r15): the rotation/mirror
pass at corpus rows. Synthetic populations of 8-orientation hash
rows (`image_dihedral_hashes` shape — orientation hashes of one
image are mutually decorrelated, as measured on the real fixtures:
plain hamming between orientations sits at 24-34 bits), with planted
ROTATED copies: copy's identity hash = a <=3-bit perturbation of the
base's τ-orientation hash (a lossy re-encode of a rotated duplicate),
plus a flat-image hot bucket. Through `phash_near_dup_pairs_dihedral`
in the CORPUS configuration — n_bands=4 (16-bit bands, exact
guarantee <=3 bits) with the hot-bucket cap. The probe side carries
8x band rows (one per orientation); the build side stays
identity-only, so candidate growth is 8x, not 64x.

Checks: wall near-linear in images, 100% recall on planted rotated
pairs with the right τ reported, hot bucket capped at scale.

Usage: python scripts/scale_soak_phash_dihedral.py [scale...=[1, 10, 100]]
Base population: 1,000 images per 1x (8,000 hash rows). Non-zero exit
on any miss or if the largest scale's rows/s drops below a third of
the 10x rate.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402

BASE = 1_000


def signed(v):
    return v - (1 << 64) if v >= (1 << 63) else v


def make_population(n, rnd):
    """{img_id: [8 orientation hashes]} + planted (id_a, id_b, tau)."""
    imgs = {}
    planted = []
    iid = 0
    while iid < n:
        hs = [rnd.getrandbits(64) for _ in range(8)]
        imgs[iid] = hs
        base_id = iid
        iid += 1
        if rnd.random() < 0.2 and iid < n:
            tau = rnd.randrange(1, 8)
            copy = [rnd.getrandbits(64) for _ in range(8)]
            v = hs[tau]
            for pos in rnd.sample(range(64), rnd.randrange(0, 4)):
                v ^= 1 << pos
            copy[0] = v  # identity hash of the rotated re-encode
            imgs[iid] = copy
            planted.append((base_id, iid, tau))
            iid += 1
    # hot bucket: ~2% of identity hashes share their low 16 bits
    skip = {i for a, b, _ in planted for i in (a, b)}
    for i in range(0, n, 50):
        if i in imgs and i not in skip:
            imgs[i][0] = (imgs[i][0] & ~0xFFFF) | 0x3333
    return imgs, planted


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.operators.phash import \
        phash_near_dup_pairs_dihedral

    rates = []
    ok = True
    for k in scales:
        n = BASE * k
        imgs, planted = make_population(n, random.Random(100 + k))
        rows = [(i, o, signed(h)) for i, hs in imgs.items()
                for o, h in enumerate(hs)]
        df = spark.createDataFrame(rows, "id long, orient long, h long") \
            .repartition(32).cache()
        df.count()
        t0 = time.time()
        pairs = phash_near_dup_pairs_dihedral(
            df, "id", "h", max_hamming=3, n_bands=4,
            max_bucket_size=100)
        got = {(r["id_a"], r["id_b"]): (r["hamming"], r["orient"])
               for r in pairs.collect()}
        dt = time.time() - t0
        missed = [(a, b) for a, b, _t in planted if (a, b) not in got]
        wrong_tau = [(a, b, got[(a, b)][1], t) for a, b, t in planted
                     if (a, b) in got and got[(a, b)][1] != t
                     and got[(a, b)][0] > 0]  # exact dups may tie
        rate = n / dt
        rates.append(rate)
        print(f"scale={k}x images={n} rows={len(rows)} "
              f"pairs={len(got)} planted={len(planted)} "
              f"missed={len(missed)} wall={dt:.2f}s "
              f"({rate:.0f} images/s)", flush=True)
        if missed:
            ok = False
        df.unpersist()
    if len(rates) >= 2 and rates[-1] < rates[1] / 3:
        ok = False
    print(f"PHASH DIHEDRAL SOAK {'CLEAN' if ok else 'FAILED'}: "
          f"rates={[f'{r:.0f}' for r in rates]}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
