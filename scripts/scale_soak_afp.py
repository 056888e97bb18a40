"""Audio-fingerprint near-dup scale soak (r15): synthetic sub-
fingerprint corpora with a realistic copy structure — clips of random
32-bit Haitsma-Kalker sub-fingerprints, planted SHIFTED copies
(trimmed intros: first k frames dropped) with measured-level
per-frame noise (0-2 bits, the worst cross-format Hamming observed on
the real ten-format fixture family), plus a degenerate hot
fingerprint (silence) shared across clips — through
``audio_near_dup_pairs(align='any_offset')`` in the CORPUS
configuration: ``n_bands=1, max_hamming=0`` — the HK paper's
exact-sub-fingerprint lookup. A true copy matches exactly on its
noise-free frames (~half of them), all voting at ONE delta; the
8-band/4-bit pigeonhole default is the small-collection shape whose
16-value bands saturate any cap at corpus row counts. The hot-bucket
cap is exercised at the larger scales (the silence fingerprint's
bucket crosses the cap and is dropped; planted pairs survive on
their other frames).

Checks: wall-clock near-linear in frames, recall on planted copies
100% with the correct offset, zero false pairs at the vote
threshold, hot bucket capped at the top scale.

Usage: python scripts/scale_soak_afp.py [scale...=[1, 10, 100]]
Base population: 200 clips (~8,000 frames) per 1x. Non-zero exit on
any miss, any false pair, or if the largest scale's frames/s drops
below a third of the 10x rate.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402

BASE_CLIPS = 200
HOP_MS = 64
HOT_FP = 0x5117_CE00  # the "digital silence" fingerprint
MIN_MATCH = 4


def make_population(n_clips, rnd):
    """(media_id, frame_ts_ms, afp) rows + planted [(id_a, id_b,
    offset_ms)] shifted copies (id_a < id_b by construction)."""
    rows = []
    planted = []
    cid = 0
    while cid < n_clips:
        n_frames = rnd.randrange(24, 61)
        fps = [rnd.getrandbits(32) for _ in range(n_frames)]
        # ~2% of frames are the shared silence fingerprint
        for i in range(len(fps)):
            if rnd.random() < 0.02:
                fps[i] = HOT_FP
        rows += [(cid, i * HOP_MS, v) for i, v in enumerate(fps)]
        base_id = cid
        cid += 1
        if rnd.random() < 0.25 and cid < n_clips:
            # shifted copy: drop the first k frames, add per-frame
            # noise at the measured cross-format level (the real
            # ten-format family sits at 0 bits on most frames, worst
            # frame 2 bits)
            k = rnd.randrange(1, 6)
            copy = []
            for v in fps[k:]:
                nbits = rnd.choice((0, 0, 0, 0, 1, 2))
                for pos in rnd.sample(range(32), nbits):
                    v ^= 1 << pos
                copy.append(v)
            rows += [(cid, i * HOP_MS, v) for i, v in enumerate(copy)]
            planted.append((base_id, cid, k * HOP_MS))
            cid += 1
    return rows, planted


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.operators.afp import audio_near_dup_pairs

    rates = []
    ok = True
    for k in scales:
        n_clips = BASE_CLIPS * k
        rows, planted = make_population(n_clips, random.Random(k))
        df = spark.createDataFrame(
            rows, "media_id long, frame_ts_ms long, afp long") \
            .repartition(32).cache()
        n_frames = df.count()
        t0 = time.time()
        pairs = audio_near_dup_pairs(
            df, max_hamming=0, n_bands=1,
            min_matched_frames=MIN_MATCH, align="any_offset",
            max_bucket_size=1000)
        got = {(r["id_a"], r["id_b"]): r["offset_ms"]
               for r in pairs.collect()}
        dt = time.time() - t0
        missed = [(a, b) for a, b, _off in planted
                  if (a, b) not in got]
        # offset check: copy starts k frames INTO the base, so the
        # canonical (id_a=base < id_b=copy) delta is +k*HOP_MS
        wrong_off = [(a, b, got[(a, b)], off)
                     for a, b, off in planted
                     if (a, b) in got and got[(a, b)] != off]
        extras = [p for p in got if p not in
                  {(a, b) for a, b, _ in planted}]
        rate = n_frames / dt
        rates.append(rate)
        print(f"scale={k}x clips={n_clips} frames={n_frames} "
              f"pairs={len(got)} planted={len(planted)} "
              f"missed={len(missed)} wrong_offset={len(wrong_off)} "
              f"false={len(extras)} wall={dt:.2f}s "
              f"({rate:.0f} frames/s)", flush=True)
        if missed or wrong_off or extras:
            ok = False
        df.unpersist()
    if len(rates) >= 2 and rates[-1] < rates[1] / 3:
        ok = False
    print(f"AFP SOAK {'CLEAN' if ok else 'FAILED'}: "
          f"rates={[f'{r:.0f}' for r in rates]}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
