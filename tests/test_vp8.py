"""From-scratch VP8 intra decoder (functions/vp8.py, RFC 6386).

Two-sided verification:
* Self round-trip: encode_vp8 (fixture writer, explicit modes +
  quantized levels) → decode_vp8_yuv, no external library needed.
* Golden parity (skipped when no system libwebp): the decoder must be
  BIT-EXACT against libwebp's own WebPDecodeYUV on (a) streams produced
  by libwebp's real encoder across content/size/quality, and (b)
  adversarial streams from encode_vp8 covering every prediction mode,
  both loop filters, sharpness, and int16-wrap coefficient extremes.
"""
import random

import encoders as E
import numpy as np
import pytest
import vp8sys

import unfurl_spark.functions.vp8 as V

needs_libwebp = pytest.mark.skipif(
    not vp8sys.available(), reason="system libwebp not present")


def _payload(webp: bytes) -> bytes:
    import struct
    pos = 12
    while pos + 8 <= len(webp):
        fourcc = webp[pos:pos + 4]
        sz = struct.unpack("<I", webp[pos + 4:pos + 8])[0]
        if fourcc == b"VP8 ":
            return webp[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    raise AssertionError("no VP8 chunk")


def _empty_mb(ymode=0, uvmode=0, bmodes=None):
    return {"ymode": ymode, "uvmode": uvmode,
            "bmodes": bmodes or [0] * 16, "y2": [0] * 16,
            "y": [[0] * 16 for _ in range(16)],
            "u": [[0] * 16 for _ in range(4)],
            "v": [[0] * 16 for _ in range(4)]}


def test_bool_coder_roundtrip():
    rng = random.Random(1)
    for _ in range(50):
        seq = [(rng.randint(0, 1), rng.randint(1, 255))
               for _ in range(rng.randint(1, 400))]
        enc = E.BoolEncoder()
        for v, p in seq:
            enc.bool(v, p)
        data = enc.bytes()
        dec = V.BoolDecoder(data, 0, len(data))
        assert [dec.bool(p) for _, p in seq] == [v for v, _ in seq]


def test_self_roundtrip_no_libwebp():
    """encode_vp8 → decode_vp8_yuv without any external decoder."""
    rng = random.Random(3)
    mbs = []
    for ym in (0, 1, 2, 3, 4, 0):
        mb = _empty_mb(ymode=ym, uvmode=ym % 4,
                       bmodes=[rng.randrange(10) for _ in range(16)])
        if ym != 4:
            mb["y2"][0] = 8
        mb["y"][5][1] = -20
        mbs.append(mb)
    data = E.encode_vp8(3, 2, mbs, qi=40, filter_level=12)
    y, u, v = V.decode_vp8_yuv(data)
    assert y.shape == (32, 48) and u.shape == (16, 24)


def test_rejects_non_keyframe_and_garbage():
    from unfurl_spark.functions.codecs import CodecError
    with pytest.raises(CodecError):
        V.decode_vp8_yuv(b"\x01\x00\x00\x9d\x01\x2a" + b"\x00" * 32)
    with pytest.raises(CodecError):
        V.decode_vp8_yuv(b"\x00" * 6)


@needs_libwebp
def test_parity_real_encoder_matrix():
    rng = np.random.default_rng(7)

    def smooth(h, w):
        return np.clip(
            128 + 60 * np.sin(np.arange(h) / 6)[:, None]
            * np.cos(np.arange(w) / 9)[None, :], 0, 255).astype(np.uint8)

    tests = {
        "flat": np.full((16, 16), 128, np.uint8),
        "smooth48": smooth(48, 48),
        "noise": rng.integers(0, 256, (48, 64), dtype=np.uint8),
        "odd61x45": rng.integers(0, 256, (45, 61), dtype=np.uint8),
    }
    for name, g in tests.items():
        im = np.stack([g, g, g, np.full(g.shape, 255, np.uint8)], -1)
        for q in (5, 40, 75, 95):
            data = vp8sys.webp_encode_rgba(im, q)
            gy, gu, gv = vp8sys.webp_decode_yuv(data)
            my, mu, mv = V.decode_vp8_yuv(_payload(data))
            assert np.array_equal(my, gy), (name, q, "Y")
            assert np.array_equal(mu, gu), (name, q, "U")
            assert np.array_equal(mv, gv), (name, q, "V")


@needs_libwebp
def test_parity_every_bmode_isolated():
    for b in range(10):
        data = E.encode_vp8(1, 1, [_empty_mb(ymode=4, bmodes=[b] * 16)],
                            qi=60)
        gy, gu, gv = vp8sys.webp_decode_yuv(E.wrap_webp(data))
        my, mu, mv = V.decode_vp8_yuv(data)
        assert np.array_equal(my, gy), ("bmode", b)
        assert np.array_equal(mu, gu) and np.array_equal(mv, gv), b


@needs_libwebp
def test_parity_adversarial_fuzz():
    rng = random.Random(9)

    def rand_mb():
        ymode = rng.choice([0, 1, 2, 3, 4])
        mb = _empty_mb(ymode=ymode, uvmode=rng.choice([0, 1, 2, 3]),
                       bmodes=[rng.randrange(10) for _ in range(16)])
        if ymode != 4:
            for i in rng.sample(range(16), rng.randint(0, 6)):
                mb["y2"][i] = rng.randint(-60, 60)
        for sb in range(16):
            lo = 1 if ymode != 4 else 0
            for i in rng.sample(range(lo, 16), rng.randint(0, 5)):
                # extreme levels exercise the int16-wrap transform
                # dispatch (full vs AC3 vs DC paths)
                mb["y"][sb][i] = rng.randint(-150, 150)
        for k in "uv":
            for sb in range(4):
                for i in rng.sample(range(16), rng.randint(0, 3)):
                    mb[k][sb][i] = rng.randint(-40, 40)
        return mb

    for trial in range(12):
        mw, mh = rng.choice([(1, 1), (2, 1), (2, 2), (3, 2)])
        mbs = [rand_mb() for _ in range(mw * mh)]
        fl = rng.choice([0, 5, 30, 63])
        ft = rng.choice([0, 1]) if fl else 0
        sh = rng.choice([0, 0, 3, 7])
        data = E.encode_vp8(mw, mh, mbs, qi=rng.randint(0, 127),
                            filter_level=fl, filter_type=ft, sharpness=sh)
        gy, gu, gv = vp8sys.webp_decode_yuv(E.wrap_webp(data))
        my, mu, mv = V.decode_vp8_yuv(data)
        assert np.array_equal(my, gy), (trial, fl, ft, sh)
        assert np.array_equal(mu, gu) and np.array_equal(mv, gv), trial


@needs_libwebp
def test_decode_webp_lossy_end_to_end():
    from unfurl_spark.functions.vp8l import decode_webp
    img = np.zeros((40, 56, 4), np.uint8)
    img[:, :, :3] = (np.arange(40)[:, None, None] * 3
                     + np.arange(56)[None, :, None] * 2).astype(np.uint8)
    img[..., 3] = 255
    px = decode_webp(vp8sys.webp_encode_rgba(img, 80))
    assert px.shape == (40, 56, 3)
    assert abs(float(px.mean()) - float(img[:, :, :3].mean())) < 3


@needs_libwebp
def test_multimodal_webp_lossy_real_decode(spark):
    """decode_media reports ok='ok' with real dims for lossy WebP now."""
    from unfurl_spark.functions.multimodal import decode_media
    img = np.full((24, 40, 4), 90, np.uint8)
    img[..., 3] = 255
    payload = vp8sys.webp_encode_rgba(img, 75)
    df = spark.createDataFrame(
        [("a.webp", "image/webp", payload)],
        "media_ref string, ctype string, payload binary")
    row = decode_media(df).collect()[0]
    assert row.container == "webp"
    assert (row.width, row.height) == (40, 24)
    assert row.ok == "ok"


def test_tables_shapes():
    from unfurl_spark.functions import vp8_tables as t
    assert len(t.COEFF_PROBS) == 4 * 8 * 3 * 11
    assert len(t.COEFF_UPDATE_PROBS) == 4 * 8 * 3 * 11
    assert len(t.KF_BMODE_PROBS) == 10 * 10 * 9
    assert len(t.DC_QLOOKUP) == 128 and t.DC_QLOOKUP[127] == 157
    assert len(t.AC_QLOOKUP) == 128 and t.AC_QLOOKUP[127] == 284
    # RFC 6386 published rows
    assert list(t.COEFF_PROBS[33:39]) == [253, 136, 254, 255, 228, 219]
    assert list(t.KF_BMODE_PROBS[:9]) == [231, 120, 48, 89, 115, 113,
                                          120, 152, 112]


@needs_libwebp
def test_alpha_plane_bit_exact():
    """ALPH chunk (lossy WebP with transparency): the decoded alpha
    plane must match libwebp's RGBA output exactly across gradient /
    diagonal / noise alpha patterns and qualities."""
    from unfurl_spark.functions.vp8l import decode_webp
    rng = np.random.default_rng(11)
    for t in range(6):
        h, w = int(rng.integers(8, 90)), int(rng.integers(8, 90))
        img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        if t % 3 == 0:
            img[:, :, 3] = np.repeat(
                np.linspace(0, 255, h).astype(np.uint8)[:, None], w, 1)
        elif t % 3 == 1:
            img[:, :, 3] = ((np.arange(h)[:, None]
                             + np.arange(w)[None, :]) % 256).astype(np.uint8)
        data = vp8sys.webp_encode_rgba(img, float(rng.integers(1, 101)))
        px = decode_webp(data)
        gold = vp8sys.webp_decode_rgba(data)
        assert px.shape[2] == 4
        assert np.array_equal(px[:, :, 3], gold[:, :, 3]), t


def test_webp_frames_of_a_lossy_still_keep_its_alpha():
    """The ALPH plane of a still lossy WebP reaches decode_webp_frames as
    it reaches decode_webp (the frames path painted alpha 255)."""
    import struct

    from unfurl_spark.functions.vp8l import decode_webp, decode_webp_frames

    def chunk(tag, body):
        return (tag + struct.pack("<I", len(body)) + body
                + b"\x00" * (len(body) & 1))

    alpha = np.arange(0, 256, dtype=np.uint8).reshape(16, 16)
    body = (chunk(b"VP8X", bytes([0x10]) + b"\x00" * 3
                  + (15).to_bytes(3, "little") + (15).to_bytes(3, "little"))
            + chunk(b"ALPH", b"\x00" + alpha.tobytes())  # raw, unfiltered
            + chunk(b"VP8 ", E.encode_vp8(1, 1, [_empty_mb()], qi=40)))
    data = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    still = decode_webp(data)
    assert np.array_equal(still[:, :, 3], alpha)
    (frame, ts), = decode_webp_frames(data)
    assert ts == 0 and np.array_equal(frame, still)


def test_decode_alpha_filters_raw():
    """Raw (uncompressed) alpha with each reverse filter, self-built."""
    from unfurl_spark.functions.vp8l import decode_alpha
    rng = np.random.default_rng(3)
    plane = rng.integers(0, 256, (6, 7), dtype=np.uint8)
    # no filter, raw compression
    chunk = bytes([0]) + plane.tobytes()
    assert np.array_equal(decode_alpha(chunk, 7, 6), plane)
    # horizontal filter: forward-apply then expect inverse recovery
    filt = plane.astype(np.int32).copy()
    for y in range(6):
        pred0 = 0 if y == 0 else int(plane[y - 1, 0])
        row = plane[y].astype(np.int32)
        f = np.empty(7, np.int32)
        f[0] = (row[0] - pred0) & 0xFF
        f[1:] = (row[1:] - row[:-1]) & 0xFF
        filt[y] = f
    chunk = bytes([0 | (1 << 2)]) + filt.astype(np.uint8).tobytes()
    assert np.array_equal(decode_alpha(chunk, 7, 6), plane)


def test_filter_level_zero_disables_filter_despite_seg_lf():
    """libwebp gate (VP8ParseFilterHeader): frame filter_level==0 turns
    the loop filter off entirely, even with nonzero ABSOLUTE per-segment
    LF values — pixels must match the segmentation-free stream."""
    import random
    rng = random.Random(99)
    mbs = []
    for _ in range(4):
        mb = _empty_mb(ymode=rng.choice([0, 1, 2, 3]),
                       uvmode=rng.choice([0, 1]))
        for sb in range(16):
            for i in rng.sample(range(1, 16), 4):
                mb["y"][sb][i] = rng.randint(-80, 80)
        mbs.append(mb)
    plain = V.decode_vp8(E.encode_vp8(2, 2, mbs, qi=30, filter_level=0))
    seg = V.decode_vp8(E.encode_vp8(2, 2, mbs, qi=30, filter_level=0,
                                    seg_lf_abs=[40, 40, 40, 40]))
    assert np.array_equal(plain, seg)
    # sanity: with a nonzero frame level the filter DOES run and the
    # absolute segment value drives it (different from the plain stream)
    filt = V.decode_vp8(E.encode_vp8(2, 2, mbs, qi=30, filter_level=1,
                                     seg_lf_abs=[40, 40, 40, 40]))
    assert not np.array_equal(plain, filt)
