"""Round-15 ADVICE fixes, each pinned by a regression test.

1. (Retired: a live table is a session view over its sink, with no
   catalog location to guard.)
2. bench.py records per-query run counts (default + exceptions map)
   instead of one inaccurate scalar.
3. media_id (xxhash64 of path) collisions are detectable
   (media_id_collisions) and media_dir_near_dups refuses to run over
   a colliding listing instead of silently merging two files.
4. audio_near_dup_pairs defaults max_bucket_size to a FINITE cap —
   align='any_offset' over 4-bit bands is near-quadratic uncapped.
5. ID3v2 extended header is skipped (v2.3 plain / v2.4 syncsafe
   sizes) and unsynchronisation is reversed (v2.2/v2.3 whole-tag,
   v2.4 per-frame) instead of corrupting the frame walk.

Plus the r14-verdict directive-#1 single-decode contract:
media_dir_near_dups reads each payload byte exactly ONCE (previously
the image and audio pipelines each re-scanned the directory).
"""

from __future__ import annotations

import glob as globmod
import inspect
import os
import struct

import pytest

from realtime_olap_spark.operators import multimodal as M

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


# ---------------------------------------------------------------------------
# 2. bench.py per-query run counts
# ---------------------------------------------------------------------------

def test_bench_records_per_query_run_counts():
    import bench

    summary, _ = bench._records(
        {"q_a": [0.3, 0.2, 0.25], "q_b": [1.0, 1.1, 0.9, 1.2, 1.0]}, 3, 0.1,
        {})
    # the summary carries a default + an exceptions map keyed by query
    assert summary["runs_per_query_default"] == 3
    assert summary["runs_per_query"] == {"q_b": 5}


# ---------------------------------------------------------------------------
# 3. media_id collision detection
# ---------------------------------------------------------------------------

def test_media_id_collisions_detected(spark, monkeypatch):
    from realtime_olap_spark.sources import media as med

    # a healthy listing is clean
    files = med.read_media_dir(spark, FIXTURES)
    assert med.media_id_collisions(files).count() == 0
    # a crafted collision (two paths, one media_id) is surfaced …
    bad = spark.createDataFrame(
        [(7, "/a/x.png"), (7, "/b/y.png"), (8, "/c/z.png")],
        "media_id long, path string")
    hits = med.media_id_collisions(bad).collect()
    assert len(hits) == 1 and hits[0]["n_paths"] == 2
    # … and the one-call near-dup pass REFUSES to run over it
    def fake_read(spark_, path, **kw):
        return spark_.createDataFrame(
            [(7, "/a/x.png", "ok", None), (7, "/b/y.png", "ok", None)],
            "media_id long, path string, status string, payload binary")
    monkeypatch.setattr(med, "read_media_dir", fake_read)
    with pytest.raises(ValueError, match="media_id collision"):
        med.media_dir_near_dups(spark, "/ignored")


# ---------------------------------------------------------------------------
# 4. audio near-dup default bucket cap is finite
# ---------------------------------------------------------------------------

def test_audio_near_dup_default_cap_finite():
    from realtime_olap_spark.operators.afp import audio_near_dup_pairs
    from realtime_olap_spark.sources.media import (media_dir_near_dups,
                                                   media_near_dup_pairs)

    for fn in (audio_near_dup_pairs, media_near_dup_pairs,
               media_dir_near_dups):
        d = inspect.signature(fn).parameters["max_bucket_size"].default
        assert isinstance(d, int) and 0 < d, fn.__name__


# ---------------------------------------------------------------------------
# 5. ID3v2 extended header + unsynchronisation
# ---------------------------------------------------------------------------

def _syncsafe(n):
    return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])


def _id3(ver, flags, body):
    return bytes([0x49, 0x44, 0x33, ver, 0]) + bytes([flags]) \
        + _syncsafe(len(body)) + body


def _frame(fid, payload, ver, fflags=b"\x00\x00"):
    if ver >= 4:
        return fid + _syncsafe(len(payload)) + fflags + payload
    return fid + struct.pack(">I", len(payload)) + fflags + payload


def test_id3_v23_extended_header_skipped():
    parse = M._make_tags_parser()
    frames = _frame(b"TIT2", b"\x00Ext Title", 3)
    # v2.3 ext header: 4-byte plain size EXCLUDING itself (6), then
    # flags(2) + padding-size(4)
    ext = struct.pack(">I", 6) + b"\x00\x00" + struct.pack(">I", 0)
    got = parse(_id3(3, 0x40, ext + frames))
    assert got["title"] == "Ext Title"
    # without the fix the ext bytes parsed as a bogus frame id/size —
    # also pin that a CRC-bearing ext header (size 10) walks fine
    ext10 = struct.pack(">I", 10) + b"\x80\x00" \
        + struct.pack(">I", 0) + b"\x12\x34\x56\x78"
    got = parse(_id3(3, 0x40, ext10 + frames))
    assert got["title"] == "Ext Title"


def test_id3_v24_extended_header_skipped():
    parse = M._make_tags_parser()
    frames = _frame(b"TIT2", b"\x03Ext4", 4)
    # v2.4 ext header: syncsafe size INCLUDING the size field (6),
    # then number-of-flag-bytes(1) + flags(1)
    ext = _syncsafe(6) + b"\x01\x00"
    got = parse(_id3(4, 0x40, ext + frames))
    assert got["title"] == "Ext4"


def test_id3_v23_whole_tag_unsync_reversed():
    parse = M._make_tags_parser()
    # latin-1 text containing 0xFF bytes; v2.3 unsync applies to the
    # WHOLE tag: every FF gets a 00 stuffed after it
    raw = _frame(b"TIT2", b"\x00a\xffb\xff", 3)
    stored = raw.replace(b"\xff", b"\xff\x00")
    assert stored != raw
    got = parse(_id3(3, 0x80, stored))
    assert got["title"] == "a\xffb\xff".encode("latin-1") \
        .decode("latin-1")
    # the same tag WITHOUT the flag set keeps the stuffed bytes
    # (structurally valid either way — sizes are consistent)
    got2 = parse(_id3(3, 0x00, stored))
    assert got2 is None or isinstance(got2, dict)


def test_id3_v24_per_frame_unsync_reversed():
    parse = M._make_tags_parser()
    content = b"\x00c\xffd"
    stored = content.replace(b"\xff", b"\xff\x00")
    # frame format-flags bit 0x02 = unsynchronised frame
    f = _frame(b"TIT2", stored, 4, fflags=b"\x00\x02")
    got = parse(_id3(4, 0x00, f))
    assert got["title"] == "c\xffd"
    # global v2.4 unsync flag means every frame is unsynced
    f2 = _frame(b"TIT2", stored, 4)
    got = parse(_id3(4, 0x80, f2))
    assert got["title"] == "c\xffd"


def test_id3_extended_header_truncation_never_raises():
    parse = M._make_tags_parser()
    ext = struct.pack(">I", 6) + b"\x00\x00" + struct.pack(">I", 0)
    tag = _id3(3, 0xC0, ext + _frame(b"TIT2", b"\x00T", 3)
               .replace(b"\xff", b"\xff\x00"))
    for k in range(len(tag)):
        r = parse(tag[:k])
        assert r is None or isinstance(r, (dict, str)), k


# ---------------------------------------------------------------------------
# Directive #1: one payload scan for the one-call near-dup pass
# ---------------------------------------------------------------------------

def test_media_dir_near_dups_single_payload_pass(spark, monkeypatch):
    """Each ok file's payload is handed to the signature worker
    exactly ONCE for the whole image+audio near-dup run (r14 scanned
    the directory twice — once per modality). Counted through an
    accumulator-instrumented payload column injected under
    read_media_dir."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from realtime_olap_spark.sources import media as med

    acc = spark.sparkContext.accumulator(0)
    real = med.read_media_dir

    def counted(spark_, path, **kw):
        def tap(b):
            acc.add(1)
            return b
        return real(spark_, path, **kw).withColumn(
            "payload", F.udf(tap, BinaryType())(F.col("payload")))

    monkeypatch.setattr(med, "read_media_dir", counted)
    pairs = med.media_dir_near_dups(spark, FIXTURES).collect()
    n_ok = real(spark, FIXTURES).where("status = 'ok'").count()
    assert acc.value == n_ok
    # and the instrumented run still finds the fixture families
    assert any(r["modality"] == "image" for r in pairs)
    assert any(r["modality"] == "audio" for r in pairs)


def test_media_signatures_match_dedicated_passes(spark):
    """The combined one-pass signatures are BIT-IDENTICAL to the
    dedicated single-modality operators (same worker closures)."""
    from pyspark.sql import functions as F

    from realtime_olap_spark.operators.afp import audio_fingerprint
    from realtime_olap_spark.operators.phash import image_perceptual_hash
    from realtime_olap_spark.sources.media import (media_signatures,
                                                   read_media_dir)

    ok = read_media_dir(spark, FIXTURES).where(
        F.col("status") == "ok").select("media_id", "payload")
    sigs = media_signatures(ok).collect()
    img = {(r["media_id"]): r["sig"] for r in sigs
           if r["modality"] == "image"}
    aud = {(r["media_id"], r["frame_ts_ms"]): r["sig"] for r in sigs
           if r["modality"] == "audio"}
    want_img = {r["media_id"]: r["phash"]
                for r in image_perceptual_hash(ok).collect()
                if r["phash"] is not None}
    want_aud = {(r["media_id"], r["frame_ts_ms"]): r["afp"]
                for r in audio_fingerprint(ok).collect()
                if r["afp"] is not None}
    assert img == want_img
    assert aud == want_aud
    assert len(img) >= 7 and len(want_aud) > 0


# ---------------------------------------------------------------------------
# r15 paeth defilter rewrite (zip + rotating registers): bit identity
# ---------------------------------------------------------------------------

def test_paeth_defilter_rewrite_bit_identity_large():
    """All-paeth 97x61 images at every 8-bit channel count through the
    independent test-side encoder — the rewritten inner loop must
    reproduce the source bit-exactly (incl. the x < bpp boundary and
    the rotating-register wraparound on odd strides)."""
    import numpy as np

    from test_multimodal import _encode_png

    for ctype, ch in ((0, 1), (4, 2), (2, 3), (6, 4)):
        rng = np.random.RandomState(1000 + ctype)
        px = rng.randint(0, 256, size=(61, 97, ch), dtype=np.uint8)
        png = _encode_png(px, [4], ctype)  # every row paeth
        w, h, nch, out = M._make_png_decoder()(png)
        assert (w, h, nch) == (97, 61, ch)
        assert (out == px).all(), (ctype, ch)


# ---------------------------------------------------------------------------
# r15 JPEG IDCT: einsum -> BLAS matmul (1.6x decode A/B), uint8 identity
# ---------------------------------------------------------------------------

def test_jpeg_idct_matmul_uint8_identity():
    """The matmul IDCT's float sums differ from the einsum path in
    the last ulp; the DECODED uint8 output must not. Reference = an
    einsum IDCT applied to the same dequantized coefficients, through
    rint like the decoder: equality asserted on knife-edge material
    (DC-only constants that land on exact halves) and random photo
    blocks."""
    import numpy as np

    n_ = np.arange(8)
    basis = np.cos((2 * n_[None, :] + 1) * n_[:, None]
                   * np.pi / 16) * np.sqrt(2 / 8.0)
    basis[0] /= np.sqrt(2)
    rng = np.random.default_rng(7)
    arr = np.concatenate([
        rng.normal(0, 50, (4096, 8, 8)),
        # DC-only blocks whose constant output is exactly k + 0.5
        # (rint ties): DC = (k+0.5-128)*8 reconstructs k+0.5 flat
        np.array([[[(k + 0.5 - 128) * 8.0 if (y, x) == (0, 0) else 0.0
                    for x in range(8)] for y in range(8)]
                  for k in range(120, 136)]),
    ])
    ein = np.einsum("ji,njk,kl->nil", basis, arr, basis) + 128.0
    mm = (basis.T @ arr) @ basis + 128.0
    a = np.clip(np.rint(ein), 0, 255).astype(np.uint8)
    b = np.clip(np.rint(mm), 0, 255).astype(np.uint8)
    assert np.array_equal(a, b)
    # and through the real decoder on the external golden: decoded
    # pixels stay within the pinned tolerance of the lossless source
    # (the golden test), while flat-block synthetics stay bit-exact
    # (test_multimodal's jpeg battery, run in CI) — here just pin that
    # the decoder still decodes the real-encoder golden
    with open(os.path.join(FIXTURES, "python.jpg"), "rb") as f:
        r = M._make_jpeg_decoder()(f.read())
    assert isinstance(r, tuple) and r[0] == 16


# ---------------------------------------------------------------------------
# r15: inventory with_tags = ONE payload scan (probe + tags same pass)
# ---------------------------------------------------------------------------

def test_media_dir_inventory_with_tags_single_payload_pass(
        spark, monkeypatch):
    """probe + tag walks share one worker pass: each ok file's payload
    is read exactly once for a with_tags inventory (was probe scan +
    tags scan + join), and the combined pass's tags equal the
    dedicated extract_media_tags operator's."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from realtime_olap_spark.sources import media as med

    acc = spark.sparkContext.accumulator(0)
    real = med.read_media_dir

    def counted(spark_, path, **kw):
        def tap(b):
            acc.add(1)
            return b
        return real(spark_, path, **kw).withColumn(
            "payload", F.udf(tap, BinaryType())(F.col("payload")))

    monkeypatch.setattr(med, "read_media_dir", counted)
    inv = {os.path.basename(r["path"]): r
           for r in med.media_dir_inventory(
               spark, FIXTURES, with_tags=True).collect()}
    n_ok = real(spark, FIXTURES).where("status = 'ok'").count()
    assert acc.value == n_ok
    monkeypatch.undo()
    # combined-pass tags == the dedicated operator's, row for row
    want = {r["media_id"]: (dict(r["tags"]) if r["tags"] is not None
                            else None)
            for r in M.extract_media_tags(
                real(spark, FIXTURES).where("status = 'ok'")
                .select("media_id", "payload")).collect()}
    got = {r["media_id"]: (dict(r["tags"]) if r["tags"] is not None
                           else None)
           for r in med.media_dir_inventory(
               spark, FIXTURES, with_tags=True).collect()}
    assert got == want
    assert got and any(v for v in got.values())


# ---------------------------------------------------------------------------
# r15 differential catch: signed-char saturation in the loop filter
# ---------------------------------------------------------------------------

def test_vp8_loop_filter_signed_char_clamp_pinned():
    """r15 catch (surfaced by the wave-batch A/B differential): the
    RFC 6386 vp8_signed_char_clamp on ADJUSTED pixel sums was missing
    in the loop-filter write-backs, so a filter push past the pixel
    bound wrapped (0 for libwebp's 255). Gradient content at q5 hits
    it; the four catch configs are pinned against real libwebp."""
    import random
    import sys

    import numpy as np

    sys.path.insert(0, os.path.dirname(__file__))
    from test_webp_lossy import (MAXPX, _decode_yuv_ref, _encode_rgb,
                                 _image, _libwebp,
                                 _make_vp8_planes_decoder,
                                 _vp8_payload)

    lib = _libwebp()
    if lib is None:  # pragma: no cover
        import pytest
        pytest.skip("libwebp.so.7 not present")
    dec = _make_vp8_planes_decoder(MAXPX)
    for seed in (10314, 10346, 10686, 10774):
        rng = random.Random(seed)
        w = rng.randrange(1, 200)
        h = rng.randrange(1, 160)
        q = rng.choice([5, 20, 40, 60, 75, 95])
        px = _image(rng, w, h, "gradient")
        data = _encode_rgb(lib, px, q)
        _, _, ry, ru, rv = _decode_yuv_ref(lib, data)
        r = dec(_vp8_payload(data))
        assert isinstance(r, tuple), seed
        assert np.array_equal(r[2], ry), seed
        assert np.array_equal(r[3], ru), seed
        assert np.array_equal(r[4], rv), seed


# ---------------------------------------------------------------------------
# r15 fuzz catch: FLAC prediction-feedback bound
# ---------------------------------------------------------------------------

def test_flac_prediction_feedback_bomb_is_gated():
    """Fuzz catch (seed 1050946 over pluck-pcm16.flac): crafted LPC/
    FIXED coefficients make the prediction feedback grow exponentially
    — unbounded Python ints raised OverflowError at the np.int64
    conversion (contract violation) and cost bignum CPU on the way.
    The first sample past 2^62 now marks the stream malformed (valid
    streams stay under ~2^53).

    The payload list is FROZEN at its r15 shape: the seed-pinned
    draw indexes into the golden list, so the live harness growing
    new goldens (r16 added Ogg/tagged-FLAC entries) must not silently
    change which mutation this regression replays."""
    import os as _os
    import random
    import sys

    sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..",
                                     "scripts"))
    import randomized_sweep_media_fuzz as mz

    from realtime_olap_spark.operators.flac import _make_flac_decoder

    r15_goldens = {
        "png": ["python.png", "file.png", "minus.png",
                "variant-16bit.png", "variant-pal4-adam7.png",
                "variant-colorkey.png"],
        "jpeg": ["python.jpg"], "gif": ["python.gif"],
        "bmp": ["python.bmp", "variant-core8.bmp",
                "variant-core24.bmp"],
        "tiff": ["python.tiff", "variant-planar.tiff",
                 "variant-planar-tiled.tiff", "variant-jpeg.tiff",
                 "variant-16bit-deflate.tiff", "variant-planar16.tiff",
                 "variant-pal16.tiff"],
        "apng": ["variant-anim.png"],
        "wav": ["pluck-pcm8.wav", "pluck-pcm16.wav",
                "pluck-pcm24.wav", "pluck-pcm32.wav"],
        "aiff": ["pluck-pcm16.aiff", "pluck-pcm8.aiff",
                 "pluck-ulaw.aifc", "pluck-alaw.aifc"],
        "au": ["pluck-ulaw.au"], "flac": ["pluck-pcm16.flac"],
        "mp3": ["test.mp3"], "mp4": ["probe.mp4"],
        "avi": ["probe.avi", "variant-mjpeg.avi"],
        "avif": ["probe.avif", "probe.heic"],
        "webp": ["python.webp"],
        "webm": ["probe.webm", "inter.webm", "inter2.webm"],
    }
    fixtures = _os.path.join(_os.path.dirname(__file__), "fixtures")
    payloads = [(fmt, name,
                 open(_os.path.join(fixtures, name), "rb").read())
                for fmt, names in r15_goldens.items() for name in names]
    rnd = random.Random("media-fuzz-1050946")
    fmt, name, data = payloads[rnd.randrange(len(payloads))]
    _, _, other = payloads[rnd.randrange(len(payloads))]
    assert (fmt, name) == ("flac", "pluck-pcm16.flac")
    mutated = mz._mutate(rnd, data, other)
    dec = _make_flac_decoder()
    assert dec(mutated) is None  # malformed, not a raise
    # the real golden still decodes bit-for-bit (suite asserts values)
    assert isinstance(dec(data), tuple)
