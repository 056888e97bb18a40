"""Round-14 ADVICE fixes, each pinned by a regression test.

1. WebM hidden-block decode-bomb guard: total decoded blocks bounded
   at 4*max_frames (previously only SHOWN frames counted — a crafted
   stream of tiny hidden altref blocks forced unbounded full-frame
   reconstructions).
2. realtime_segments_table input validation: the table name must be
   a plain identifier.
3. (Retired: the catalog no longer mirrors its tables as SQL views.)
4. decode_frames APNG fallback: a PNG whose animation chunks are
   malformed falls back to the still decode (the spec's display-the-
   default-image rule) instead of nulling out.
"""

import struct

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# 1. WebM hidden-block bomb guard
# ---------------------------------------------------------------------------

def test_webm_hidden_block_bomb_guard():
    """A stream of many hidden (show_frame=0) blocks is bounded at
    4*max_frames TOTAL decoded blocks even though none are shown."""
    from test_vp8_inter import (InterFrameEncoder, _keyframe_and_planes,
                                _mux_webm_mixed)

    from realtime_olap_spark.operators.webp import \
        _make_webm_video_decoder

    payload, seq, kf = _keyframe_and_planes(w=32, h=16)
    w, h = kf[0], kf[1]
    nmb = (w // 16) * (h // 16)

    def hidden():
        enc = InterFrameEncoder(w // 16, h // 16)
        return enc.assemble(mbs=[{"mode": "intra_dc"}] * nmb,
                            refresh_last=0, refresh_alt=1, show=0)

    dec = _make_webm_video_decoder(1 << 24, max_frames=2)
    # key (shown) + 8 hidden = 9 blocks > 4*2: guard fires
    blocks = [(0, payload, True)] + [
        (100 + 10 * i, hidden(), False) for i in range(8)]
    res = dec(_mux_webm_mixed(blocks, 400))
    assert res == "unsupported: more than 8 decoded blocks"
    # within BOTH caps (2 shown, <=8 total) still decodes fine
    enc = InterFrameEncoder(w // 16, h // 16)
    shown_inter = enc.assemble(mbs=[{"mode": "zero"}] * nmb)
    ok = dec(_mux_webm_mixed(
        [(0, payload, True), (50, hidden(), False),
         (100, shown_inter, False)], 200))
    assert isinstance(ok, tuple) and len(ok[2]) == 2
    # the pre-existing SHOWN cap still fires on its own
    enc = InterFrameEncoder(w // 16, h // 16)
    s2 = enc.assemble(mbs=[{"mode": "zero"}] * nmb)
    enc = InterFrameEncoder(w // 16, h // 16)
    s3 = enc.assemble(mbs=[{"mode": "zero"}] * nmb)
    res = dec(_mux_webm_mixed(
        [(0, payload, True), (100, s2, False), (200, s3, False)], 300))
    assert res == "unsupported: more than 2 shown frames"


# ---------------------------------------------------------------------------
# 2. realtime_segments_table validation
# ---------------------------------------------------------------------------

def test_realtime_segments_table_validates_inputs(spark, tmp_path):
    from realtime_olap_spark.streaming import realtime_segments_table

    sink = str(tmp_path / "sinkv")
    sch = "a long"
    spark.createDataFrame([(1,)], sch).write.parquet(sink)
    with pytest.raises(ValueError, match="invalid table name"):
        realtime_segments_table(spark, "bad`name", sink, sch)
    with pytest.raises(ValueError, match="invalid table name"):
        realtime_segments_table(spark, "bad name; drop", sink, sch)
    # happy path registers and reads
    df = realtime_segments_table(spark, "rt_valid_r14", sink, sch)
    assert df.count() == 1
    # a re-call with the same sink is fine
    assert realtime_segments_table(
        spark, "rt_valid_r14", sink, sch).count() == 1
    spark.sql("DROP TABLE rt_valid_r14")


# ---------------------------------------------------------------------------
# 4. APNG malformed-animation fallback to the default image
# ---------------------------------------------------------------------------

def test_decode_frames_apng_malformed_falls_back_to_still(spark):
    from test_multimodal import _assemble_apng, _rgba

    from realtime_olap_spark.operators import multimodal as M

    f0 = _rgba(4, 4, 10, 20, 30)
    good = _assemble_apng(4, 4, [({"dop": 0, "bop": 0}, f0)])
    # break the fcTL sequence number: the APNG compositor returns
    # None, but IDAT (the default image) is intact
    bad = bytearray(good)
    i = bad.find(b"fcTL")
    bad[i + 4:i + 8] = struct.pack(">I", 7)
    bad = bytes(bad)
    assert M._make_apng_decoder()(bad) is None  # compositor: malformed
    df = spark.createDataFrame(
        [(1, "image", bad)],
        "media_id long, media_type string, payload binary")
    rows = M.decode_frames(df, every_ms=50).collect()
    assert len(rows) == 1 and rows[0]["status"] == "ok"
    assert rows[0]["frame_ts_ms"] == 0
    png = M._make_png_decoder()
    px = png(bytes(rows[0]["payload"]))[3]
    assert (px[:, :, :3] == np.asarray(f0)[:, :, :3]).all()
    # a TRULY corrupt PNG (broken IDAT too) still reports corrupt
    worse = bad[:bad.find(b"IDAT") + 8] + b"\x00" * 4
    df2 = spark.createDataFrame(
        [(1, "image", worse)],
        "media_id long, media_type string, payload binary")
    rows2 = M.decode_frames(df2, every_ms=50).collect()
    assert len(rows2) == 1 and rows2[0]["status"] == "corrupt"
