"""Media-decode soak at REALISTIC image sizes (r10 verdict directive
#3): the r10 soak measured 48x16 tiles, where the fixed per-row
overhead dominates; real web images are 0.1-2 MP, where the pure-Python
entropy/defilter loops dominate. This measures decode_media (PNG and
JPEG) at ~0.3 MP and ~1 MP through the same mapInPandas path and
reports BOTH wall rows/s and s/MP/core (cpu-seconds per megapixel at
full occupancy — the honest unit for "what does a 100 TB image corpus
cost").

Payload realism:
- PNG: RGB photo-like field (smooth low-frequency + noise), filter
  types cycling [paeth, up, sub, average] like a real optimizing
  encoder — paeth/average rows are the decoder's sequential
  (per-byte Python) path, so this measures the true wall, not the
  vectorized best case.
- JPEG: baseline grayscale, standard Annex-K luminance quant table,
  per-image OPTIMIZED canonical Huffman tables (symbols assigned to
  the standard BITS length profile by frequency — what jpegtran -o
  emits), full run/size AC coding. ~10-20 symbols per block like a
  real photo, so the entropy loop does representative work.

Both encoders are driver-side numpy (forward DCT via the decoder's own
orthonormal basis transposed — independent code path; PNG filters
vectorized on the ORIGINAL pixels, which encoding allows). Decoded
output is verified against the source (JPEG: mean abs error < 3 levels;
PNG: bit-exact) before anything is timed.

Usage: python scripts/scale_soak_media_mp.py [rows_03mp] [rows_1mp]
Defaults: 96 rows at 0.3 MP, 48 at 1 MP.
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

K = 4  # distinct templates per (format, size)

ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

# ITU T.81 Annex K.1 luminance quantization table (public spec)
QLUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], np.float64)

# standard DC/AC BITS length profiles (Annex K.3) — symbols are assigned
# to this shape by descending frequency (an "optimized tables" encoder)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]


def photo_field(w, h, seed):
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    img = (128 + 55 * np.sin(xx / 37.0) * np.cos(yy / 29.0)
           + 30 * np.sin((xx + yy) / 101.0)
           + rng.normal(0, 10, (h, w)))
    return np.clip(img, 0, 255)


def _canonical(bits_profile, symbols_by_freq):
    """Assign symbols (most frequent first) to the standard length
    profile, truncating unused TAIL slots; return (bits, vals, codes)
    with codes built exactly like the decoder's build_huff."""
    n = len(symbols_by_freq)
    bits = list(bits_profile)
    total = sum(bits)
    assert n <= total, (n, total)
    drop = total - n
    for ln in range(15, -1, -1):  # trim longest-code slots first
        take = min(drop, bits[ln])
        bits[ln] -= take
        drop -= take
    vals = list(symbols_by_freq)
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return bits, vals, codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value, nbits):
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)


def make_photo_jpeg(w, h, seed):
    """Baseline grayscale JPEG of a photo-like field with optimized
    canonical Huffman tables — returns (bytes, source_pixels)."""
    img = photo_field(w, h, seed)
    H8, W8 = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(img, ((0, H8 - h), (0, W8 - w)), mode="edge")
    blocks = (padded.reshape(H8 // 8, 8, W8 // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0)
    # forward DCT with the orthonormal basis (decoder uses C.T @ c @ C)
    n_ = np.arange(8)
    basis = np.cos((2 * n_[None, :] + 1) * n_[:, None] * np.pi / 16)
    basis[0] *= 1 / np.sqrt(2)
    basis *= 0.5
    coef = np.einsum("ij,njk,lk->nil", basis, blocks, basis)
    # quality ~75: half the Annex-K steps (libjpeg's scaling), the
    # common web default — more surviving AC coefficients per block
    qtab = np.maximum(np.rint(QLUM * 0.5), 1.0)
    q = np.rint(coef / qtab).astype(np.int64)
    zz = q.reshape(-1, 64)[:, ZZ]

    # gather symbols: DC size categories on diffs, AC (run, size)
    def size_of(v):
        return int(abs(v)).bit_length()

    dc = zz[:, 0]
    diffs = np.diff(dc, prepend=0)
    dc_syms = [size_of(d) for d in diffs]
    ac_runs = []  # per block: list of (sym, value) with EOB/ZRL
    for row in zz:
        runs, zeros = [], 0
        last_nz = 0
        nz = np.nonzero(row[1:])[0]
        last_nz = nz[-1] + 1 if len(nz) else 0
        for kk in range(1, last_nz + 1):
            v = int(row[kk])
            if v == 0:
                zeros += 1
                if zeros == 16:
                    runs.append((0xF0, 0))
                    zeros = 0
                continue
            runs.append(((zeros << 4) | size_of(v), v))
            zeros = 0
        if last_nz < 63:
            runs.append((0x00, 0))
        ac_runs.append(runs)
    from collections import Counter
    dc_freq = Counter(dc_syms)
    ac_freq = Counter(s for runs in ac_runs for s, _ in runs)
    dc_bits, dc_vals, dc_codes = _canonical(
        DC_BITS, [s for s, _ in dc_freq.most_common()])
    ac_bits, ac_vals, ac_codes = _canonical(
        AC_BITS, [s for s, _ in ac_freq.most_common()])

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(marker + struct.pack(">H", len(payload) + 2) + payload)

    qzz = np.maximum(np.rint(QLUM * 0.5), 1.0).astype(np.uint8) \
        .reshape(64)[ZZ]
    seg(b"\xff\xdb", bytes([0]) + bytes(qzz.tolist()))
    seg(b"\xff\xc4", bytes([0x00] + dc_bits + dc_vals))
    seg(b"\xff\xc4", bytes([0x10] + ac_bits + ac_vals))
    seg(b"\xff\xc0", struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    seg(b"\xff\xda", bytes([1, 1, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    for bi, (d, runs) in enumerate(zip(diffs, ac_runs)):
        s = size_of(d)
        ln, code = dc_codes[s]
        bw.put(code, ln)
        if s:
            bw.put(int(d) if d >= 0 else int(d) + (1 << s) - 1, s)
        for sym, v in runs:
            ln, code = ac_codes[sym]
            bw.put(code, ln)
            sz = sym & 15
            if sz:
                bw.put(int(v) if v >= 0 else int(v) + (1 << sz) - 1, sz)
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")
    return bytes(out), np.clip(np.rint(img), 0, 255).astype(np.uint8)


def make_photo_png(w, h, seed):
    """RGB photo-like PNG with filter types cycling [4,2,1,3] (paeth/
    up/sub/average) — encoding filters are computed on the ORIGINAL
    pixels, which numpy vectorizes; decode must be bit-exact."""
    r = photo_field(w, h, seed)
    g = photo_field(w, h, seed + 1000)
    b = photo_field(w, h, seed + 2000)
    px = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0,
                 255).astype(np.uint8)
    flat = px.reshape(h, w * 3).astype(np.int32)
    up = np.vstack([np.zeros((1, w * 3), np.int32), flat[:-1]])
    left = np.zeros_like(flat)
    left[:, 3:] = flat[:, :-3]
    upleft = np.zeros_like(flat)
    upleft[1:, 3:] = flat[:-1, :-3]
    p = left + up - upleft
    pa, pb, pc = (np.abs(p - left), np.abs(p - up), np.abs(p - upleft))
    paeth = np.where((pa <= pb) & (pa <= pc), left,
                     np.where(pb <= pc, up, upleft))
    preds = {1: left, 2: up, 3: (left + up) >> 1, 4: paeth}
    raw = bytearray()
    cycle = [4, 2, 1, 3]
    for y in range(h):
        f = cycle[y % 4]
        raw.append(f)
        raw += ((flat[y] - preds[f][y]) & 0xFF).astype(np.uint8).tobytes()

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
           + chunk(b"IEND", b""))
    return png, px


def make_photo_gif(w, h, seed):
    """Grayscale photo-like GIF (256-entry gray palette). Independent
    literal-code LZW writer: one 8-bit literal per pixel after an
    initial CLEAR — a valid GIF89a stream whose decode cost is one
    dictionary step per pixel, representative of real LZW work.
    Returns (bytes, source_pixels)."""
    img = np.clip(np.rint(photo_field(w, h, seed)), 0,
                  255).astype(np.uint8)
    out = bytearray()
    acc = nbits = 0
    width, next_code, first = 9, 258, True

    def put(c, w_):
        nonlocal acc, nbits
        acc |= c << nbits
        nbits += w_
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(256, width)  # CLEAR
    for v in img.reshape(-1).tolist():
        put(int(v), width)
        if first:
            first = False
        else:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    put(257, width)  # EOI
    if nbits:
        out.append(acc & 0xFF)
    gct = bytes(v for i in range(256) for v in (i, i, i))
    sub = bytearray()
    for i in range(0, len(out), 255):
        blk = out[i:i + 255]
        sub += bytes([len(blk)]) + blk
    gif = (b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x87, 0, 0])
           + gct + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
           + bytes([0, 8]) + bytes(sub) + b"\x00\x3b")
    return gif, img



def make_photo_webp(w, h, seed, lossless):
    """Photo-field WebP via the SYSTEM libwebp encoder (the realistic
    bitstream source — transforms/segmentation/partitions as a real
    encoder emits them). Returns None when the library is absent."""
    import ctypes
    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:  # pragma: no cover - env without libwebp
        return None, None
    field = photo_field(w, h, seed)
    px = np.dstack([field, np.roll(field, 3, 1), np.roll(field, 5, 0)])
    px = np.ascontiguousarray(px, np.uint8)
    out = ctypes.POINTER(ctypes.c_ubyte)()
    if lossless:
        lib.WebPEncodeLosslessRGB.restype = ctypes.c_size_t
        n = lib.WebPEncodeLosslessRGB(px.tobytes(), w, h, w * 3,
                                      ctypes.byref(out))
    else:
        lib.WebPEncodeRGB.restype = ctypes.c_size_t
        n = lib.WebPEncodeRGB(px.tobytes(), w, h, w * 3,
                              ctypes.c_float(75.0), ctypes.byref(out))
    data = bytes(bytearray(out[i] for i in range(n)))
    lib.WebPFree(out)
    return data, px


def corpus(spark, n_rows, payloads):
    arr = F.array(*[F.lit(p) for p in payloads])
    return (spark.range(n_rows)
            .select(F.col("id").alias("media_id"),
                    F.lit("image").alias("media_type"),
                    F.element_at(arr, (F.pmod(F.col("id"), F.lit(len(payloads)))
                                       + 1).cast("int")).alias("payload")))


def timed_noop(df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main():
    from scripts._argv import parse_int_args
    rows_03, rows_1, webm_rows, webm_frames = parse_int_args(
        __doc__, [("rows_0.3MP", 96), ("rows_1MP", 48),
                  ("webm_rows", 32), ("webm_frames", 120)])
    sizes = [("0.3MP", 640, 480, rows_03), ("1.0MP", 1152, 864, rows_1)]
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    ncores = spark.sparkContext.defaultParallelism
    from realtime_olap_spark.operators import multimodal as mm
    png_dec = mm._make_png_decoder()
    jpg_dec = mm._make_jpeg_decoder()

    gif_dec = mm._make_gif_decoder()
    from realtime_olap_spark.operators.webp import _make_webp_decoder
    webp_dec = _make_webp_decoder(mm.MAX_DECODE_PIXELS)
    for label, w, h, rows in sizes:
        if rows <= 0:
            continue  # skip template build+verify for unmeasured sizes
        mp = w * h / 1e6
        pngs, jpgs, gifs = [], [], []
        webps_l, webps_y = [], []
        for i in range(K):
            png, src = make_photo_png(w, h, 7 * i + 1)
            got = png_dec(png)
            assert isinstance(got, tuple) and (got[3] == src).all(), \
                ("png verify", label, i)
            pngs.append(png)
            jpg, src = make_photo_jpeg(w, h, 11 * i + 3)
            got = jpg_dec(jpg)
            assert isinstance(got, tuple), ("jpeg verify", label, i)
            err = np.abs(got[3][:, :, 0].astype(float) - src.astype(float))
            # quality-75 quantization of sigma-10 texture loses ~4
            # levels on average — codec loss, not decoder error
            assert err.mean() < 6.0, ("jpeg err", label, i, err.mean())
            jpgs.append(jpg)
            gif, src = make_photo_gif(w, h, 13 * i + 5)
            got = gif_dec(gif)
            assert isinstance(got, tuple) and \
                (got[3][:, :, 0] == src).all(), ("gif verify", label, i)
            gifs.append(gif)
            wl, src_px = make_photo_webp(w, h, 17 * i + 7, True)
            if wl is not None:
                got = webp_dec(wl)
                assert isinstance(got, tuple) and \
                    (got[3][:, :, :3] == src_px).all(), \
                    ("webp-lossless verify", label, i)
                webps_l.append(wl)
                wy, src_px = make_photo_webp(w, h, 19 * i + 9, False)
                got = webp_dec(wy)
                assert isinstance(got, tuple), ("webp verify", label, i)
                err = np.abs(got[3][:, :, 0].astype(float)
                             - src_px[:, :, 0].astype(float))
                assert err.mean() < 8.0, ("webp err", label, i, err.mean())
                webps_y.append(wy)
        plans = [
            ("png", pngs,
             lambda d: mm.decode_media(d, decoder="png"), "decoded_width"),
            ("jpeg", jpgs,
             lambda d: mm.decode_media(d, decoder="jpeg"), "decoded_width"),
            ("gif", gifs,
             lambda d: mm.decode_media(d, decoder="gif"), "decoded_width"),
            # full transcode: decode + bilinear thumbnail + PNG encode
            ("transcode-jpeg", jpgs,
             lambda d: mm.transcode_images(d, 256, 256), "width"),
        ]
        if webps_l:
            plans.append(("webp-lossless", webps_l,
                          lambda d: mm.decode_media(d, decoder="webp"),
                          "decoded_width"))
            plans.append(("webp-lossy", webps_y,
                          lambda d: mm.decode_media(d, decoder="webp"),
                          "decoded_width"))
        for name, payloads, plan, ok_col in plans:
            df = corpus(spark, rows, payloads).repartition(ncores)
            timed_noop(plan(df))  # warm untimed
            bad = plan(df).where(F.col(ok_col).isNull()).count()
            assert bad == 0, (name, label, bad)
            secs = min(timed_noop(plan(df)) for _ in range(2))
            per_mp_core = secs * ncores / (rows * mp)
            kb = sum(len(p) for p in payloads) / K / 1024
            print(f"{name} {label} ({w}x{h}, ~{kb:.0f} KiB/file): "
                  f"rows={rows} wall={secs:.2f}s "
                  f"{rows / secs:.1f} rows/s "
                  f"{per_mp_core:.2f} s/MP/core", flush=True)
    if webm_rows > 0:
        soak_webm_inter(spark, ncores, webm_rows, webm_frames)
    spark.stop()




# ---------------------------------------------------------------------------
# r13 verdict directive #4: WebM INTER-decode steady-state soak — a
# multi-second inter-heavy sequence (real libwebp key frame + randomized
# ZEROMV/NEWMV-quarter-pel/SPLITMV inter frames, one hidden altref) gets
# the same MP-soak discipline as the stills. Bit-identity is re-pinned
# before timing: the WebM container path's RGB frames must equal the
# sequence decoder driven directly over the same payloads.
# ---------------------------------------------------------------------------

def make_inter_webm(n_frames, w=320, h=240):
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tests"))
    import random

    from test_vp8_inter import (_MBSPLIT_COUNT, _MBSPLITS, MAXPX,
                                InterFrameEncoder, _keyframe_and_planes,
                                _mux_webm_mixed)
    from test_webp_config_sweep import _libwebp

    from realtime_olap_spark.operators.webp import _make_webm_video_decoder

    if _libwebp() is None:  # pragma: no cover
        return None, 0
    payload, seq, kf = _keyframe_and_planes(w=w, h=h, seed=3)
    w, h = kf[0], kf[1]
    mbw, mbh = w // 16, h // 16
    nmb = mbw * mbh
    rng = random.Random("webm-inter-soak")
    blocks = [(0, payload, True)]
    for i in range(1, n_frames):
        if i == n_frames // 2:  # one hidden altref + a frame using it
            enc = InterFrameEncoder(mbw, mbh)
            blocks.append((33 * i, enc.assemble(
                mbs=[{"mode": "intra_dc"}] * nmb,
                refresh_last=0, refresh_alt=1, show=0), False))
            enc = InterFrameEncoder(mbw, mbh)
            blocks.append((33 * i + 1, enc.assemble(
                mbs=[{"mode": "zero", "ref": 3}] * nmb,
                refresh_last=0), False))
            continue
        mbs = []
        for _ in range(nmb):
            r = rng.random()
            if r < 0.7:
                mbs.append({"mode": "zero"})
            elif r < 0.9:
                mbs.append({"mode": "new",
                            "mv": (2 * rng.randrange(-8, 9),
                                   2 * rng.randrange(-8, 9))})
            else:
                st = rng.randrange(4)
                per = [(2 * rng.randrange(-8, 9),
                        2 * rng.randrange(-8, 9))
                       for _ in range(_MBSPLIT_COUNT[st])]
                mbs.append({"mode": "split", "split_type": st,
                            "submvs": [per[_MBSPLITS[st][sb]]
                                       for sb in range(16)]})
        enc = InterFrameEncoder(mbw, mbh)
        blocks.append((33 * i, enc.assemble(mbs=mbs), False))
    data = _mux_webm_mixed(blocks, 33 * n_frames + 33)
    # ---- bit-identity pin: container path == direct sequence decode
    res = _make_webm_video_decoder(MAXPX)(data)
    assert isinstance(res, tuple), res
    gw, gh, frames = res
    assert (gw, gh) == (w, h)
    assert len(frames) == len(blocks) - 1  # hidden altref emits nothing
    seq.reset()
    import numpy as np_

    def to_rgb(y, u, v):  # BT.601 full-range int math (decoder's own)
        hh, ww = y.shape
        uu = u.repeat(2, 0).repeat(2, 1)[:hh, :ww].astype(np_.int32) - 128
        vv = v.repeat(2, 0).repeat(2, 1)[:hh, :ww].astype(np_.int32) - 128
        c = y.astype(np_.int32) - 16
        return np_.dstack([
            np_.clip((298 * c + 409 * vv + 128) >> 8, 0, 255),
            np_.clip((298 * c - 100 * uu - 208 * vv + 128) >> 8, 0, 255),
            np_.clip((298 * c + 516 * uu + 128) >> 8, 0, 255),
        ]).astype(np_.uint8)

    fi = 0
    for _, pl, _k in blocks:
        r = seq(pl)
        assert isinstance(r, tuple)
        if r[5]:
            assert (frames[fi][2][:, :, :3] == to_rgb(*r[2:5])).all(), fi
            fi += 1
    return data, len(blocks)


def soak_webm_inter(spark, ncores, rows, n_frames):
    from realtime_olap_spark.operators import multimodal as mm

    data, n_blocks = make_inter_webm(n_frames)
    if data is None:
        print("webm-inter: SKIP (libwebp unavailable)")
        return
    df = (spark.range(rows)
          .select(F.col("id").alias("media_id"),
                  F.lit("video").alias("media_type"),
                  F.lit(bytearray(data)).alias("payload"))
          .repartition(ncores))
    plan = lambda d: mm.decode_frames(d, every_ms=1000)  # noqa: E731
    timed_noop(plan(df))  # warm untimed
    bad = plan(df).where(F.col("payload").isNull()).count()
    assert bad == 0, bad
    secs = min(timed_noop(plan(df)) for _ in range(2))
    fps_core = rows * n_blocks / (secs * ncores)
    print(f"webm-inter 320x240: rows={rows} x {n_blocks} blocks "
          f"({len(data) / 1024:.0f} KiB/file) wall={secs:.2f}s "
          f"{secs * ncores / (rows * n_blocks) * 1000:.1f} ms/frame/core "
          f"({fps_core:.1f} frames/s/core)", flush=True)


if __name__ == "__main__":
    main()
