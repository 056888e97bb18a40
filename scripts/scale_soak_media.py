"""Media-decode scale soak: the pure-Python codecs ride mapInPandas, so
the 100 TB claim is "per-row cost is constant and throughput scans
linearly — the payload bytes never hit a shuffle". This measures
decode_media (PNG and JPEG) and decode_audio (WAV) over synthetic
corpora at 1x/10x/100x rows and prints rows/s per scale; a flat
rows/s column IS the linearity evidence (each scale is a single scan,
timed via noop write like every soak in this repo).

Payloads are K distinct template files rendered driver-side (zlib PNGs,
flat-block JPEGs, PCM WAVs — all via the same public-spec byte layouts
the unit goldens use) and fanned out by ``element_at(literal array,
pmod(id, K))`` — constant-folded, so generation cost stays out of the
timed region after the untimed warm pass.

Usage: python scripts/scale_soak_media.py [scales…]   (default 1 10 100)
"""

from __future__ import annotations

import os
import struct
import sys
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

BASE_ROWS = 2_000
K = 16  # distinct payload templates


def make_png(seed: int) -> bytes:
    """48x32 RGB PNG, filter-0 rows (decoder cost dominated by zlib +
    numpy defilter, same code path as real files)."""
    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(32, 48, 3), dtype=np.uint8)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(32))

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", 48, 32, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def make_jpeg(seed: int) -> bytes:
    """32x16 grayscale baseline JPEG of flat blocks (exercises the full
    marker+Huffman+IDCT path at a bounded per-row cost)."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from tests.test_multimodal import _encode_flat_jpeg
    rng = np.random.RandomState(seed)
    levels = [int(x) for x in rng.randint(0, 256, 8)]
    return _encode_flat_jpeg([levels], 32, 16)


def make_wav(seed: int) -> bytes:
    rng = np.random.RandomState(seed)
    pcm = (rng.randint(-2 ** 15, 2 ** 15, size=2048)
           .astype("<i2").tobytes())
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(pcm)) + pcm)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def corpus(spark, n_rows: int, payloads: list) -> "F.DataFrame":
    arr = F.array(*[F.lit(p) for p in payloads])
    return (spark.range(n_rows)
            .select(F.col("id").alias("media_id"),
                    F.lit("image").alias("media_type"),
                    F.element_at(arr, (F.pmod(F.col("id"), F.lit(K)) + 1)
                                 .cast("int")).alias("payload")))


def timed_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    from scripts._argv import parse_int_list
    scales = parse_int_list(__doc__, "scale", [1, 10, 100])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    from realtime_olap_spark.operators.multimodal import (decode_audio,
                                                          decode_media)
    pngs = [make_png(i) for i in range(K)]
    jpgs = [make_jpeg(i) for i in range(K)]
    wavs = [make_wav(i) for i in range(K)]
    for name, payloads, plan in [
            ("png", pngs, lambda d: decode_media(d, decoder="png")),
            ("jpeg", jpgs, lambda d: decode_media(d, decoder="jpeg")),
            ("wav", wavs, lambda d: decode_audio(d))]:
        # warm once untimed (JIT + Arrow worker spin-up)
        timed_noop(plan(corpus(spark, BASE_ROWS, payloads)
                        .repartition(32)))
        for k in scales:
            n = BASE_ROWS * k
            df = corpus(spark, n, payloads).repartition(32)
            # correctness probe: every row must decode (no silent NULLs)
            out = plan(df)
            ok_col = ("decoded_width" if name != "wav" else "n_frames")
            bad = out.where(F.col(ok_col).isNull()).count()
            assert bad == 0, (name, k, bad)
            secs = min(timed_noop(plan(df)) for _ in range(2))
            print(f"{name} x{k}: rows={n:,} {secs:.2f}s "
                  f"{n / secs:,.0f} rows/s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
