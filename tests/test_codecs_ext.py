"""ICO / SVG / APNG / FLAC / TIFF — round-trips, dispatch, fuzz."""

import struct
import time
import tracemalloc
import zlib

import numpy as np
import pytest
from encoders import (
    deflate_zeros,
    encode_apng,
    encode_flac,
    encode_ico,
    encode_png,
    encode_tiff,
)

from unfurl_spark.functions.codecs import CodecError
from unfurl_spark.functions.codecs_ext import (
    decode_apng_frames,
    decode_flac,
    decode_ico,
    decode_tiff,
    svg_info,
)
from unfurl_spark.functions.media import (
    XMP_INFLATE_CAP,
    _png_info,
    _sniff,
    exif_image,
    exiftool_image,
)

RNG = np.random.default_rng(42)


# --- ICO -------------------------------------------------------------------

def test_ico_roundtrip_dib_and_png():
    img = RNG.integers(0, 256, (17, 23, 4), dtype=np.uint8)
    for png_entry in (False, True):
        out = decode_ico(encode_ico(img, png_entry=png_entry))
        assert np.array_equal(out, img)


def test_ico_rgb_input_gets_opaque_alpha():
    img = RNG.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    out = decode_ico(encode_ico(img))
    assert np.array_equal(out[:, :, :3], img)
    assert (out[:, :, 3] == 255).all()


def test_ico_palette_entry_with_and_mask():
    import struct
    w, h = 5, 3
    palette = b"".join(struct.pack("<BBBB", i, 2 * i, 3 * i, 0)
                       for i in range(16))
    stride = ((w * 8 + 31) // 32) * 4
    rows = b"".join(bytes((r * w + c) % 16 for c in range(w))
                    + b"\x00" * (stride - w) for r in range(h))
    mask_stride = ((w + 31) // 32) * 4
    # mask row 0 (bottom): first pixel transparent (MSB set)
    mask = b"\x80" + b"\x00" * (mask_stride - 1) \
        + b"\x00" * (mask_stride * (h - 1))
    dib = struct.pack("<IiihHIIiiII", 40, w, h * 2, 1, 8, 0, 0, 0, 0,
                      16, 0) + palette + rows + mask
    entry = struct.pack("<BBBBHHII", w, h, 16, 0, 1, 8, len(dib), 22)
    out = decode_ico(b"\x00\x00\x01\x00\x01\x00" + entry + dib)
    assert out.shape == (h, w, 4)
    for r in range(h):
        for c in range(w):
            i = (r * w + c) % 16
            # DIB row r is output row h-1-r (bottom-up storage)
            assert tuple(out[h - 1 - r, c, :3]) == (3 * i, 2 * i, i)
    assert out[h - 1, 0, 3] == 0          # masked pixel transparent
    assert out[0, 0, 3] == 255


def test_ico_picks_largest_entry():
    small = encode_ico(np.zeros((4, 4, 4), np.uint8))
    big_img = RNG.integers(0, 256, (16, 16, 4), dtype=np.uint8)
    big = encode_ico(big_img)
    import struct
    # two-entry ICO: entries point into the concatenated bodies
    b_small, b_big = small[22:], big[22:]
    e1 = struct.pack("<BBBBHHII", 4, 4, 0, 0, 1, 32, len(b_small), 38)
    e2 = struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 32, len(b_big),
                     38 + len(b_small))
    ico = b"\x00\x00\x01\x00\x02\x00" + e1 + e2 + b_small + b_big
    assert np.array_equal(decode_ico(ico), big_img)


def test_ico_gray_png_entries_decode_to_rgba():
    """A gray or gray+alpha PNG entry decodes to RGBA like any other
    entry: gray repeated into RGB, its alpha kept or 255.  (encode_ico
    promotes its input to RGBA, so the ICO is built around the PNG.)"""
    def ico(png):
        return (b"\x00\x00\x01\x00\x01\x00"
                + struct.pack("<BBBBHHII", 4, 4, 0, 0, 1, 32, len(png), 22)
                + png)

    gray = RNG.integers(0, 256, (4, 4), dtype=np.uint8)
    alpha = RNG.integers(0, 256, (4, 4), dtype=np.uint8)
    out = decode_ico(ico(encode_png(gray)))
    assert out.shape == (4, 4, 4)
    assert np.array_equal(
        out, np.dstack([gray, gray, gray, np.full_like(gray, 255)]))
    out = decode_ico(ico(encode_png(np.dstack([gray, alpha]))))
    assert out.shape == (4, 4, 4)
    assert np.array_equal(out, np.dstack([gray, gray, gray, alpha]))


def test_ico_rejects_garbage():
    with pytest.raises(CodecError):
        decode_ico(b"\x00\x00\x01\x00")
    with pytest.raises(CodecError):
        decode_ico(b"not an icon at all")


# --- SVG -------------------------------------------------------------------

def test_svg_info_variants():
    assert svg_info(b'<svg width="120px" height="80"></svg>') == (120, 80)
    assert svg_info(b'<?xml version="1.0"?>\n<svg viewBox="0 0 640 480"/>'
                    ) == (640, 480)
    assert svg_info(b"<svg viewBox='0,0,12,8' width='100'></svg>"
                    ) == (100, 8)
    w, h = svg_info(b"<svg></svg>")
    assert w is None and h is None
    with pytest.raises(CodecError):
        svg_info(b"<html><body>no svg root")


# --- APNG ------------------------------------------------------------------

def test_apng_roundtrip_and_timestamps():
    frames = [RNG.integers(0, 256, (9, 13, 4), dtype=np.uint8)
              for _ in range(4)]
    data = encode_apng(frames, [40, 60, 80, 100])
    got = decode_apng_frames(data)
    assert [t for _, t in got] == [0, 40, 100, 180]
    for (g, _), f in zip(got, frames):
        assert np.array_equal(g, f)
    assert len(decode_apng_frames(data, max_frames=2)) == 2


def test_apng_split_idat_default_frame():
    """libpng splits IDAT at 8 KiB; a multi-IDAT default image that is
    also frame 0 must decode identically to the single-chunk form."""
    import struct
    import zlib as z
    frames = [RNG.integers(0, 256, (16, 16, 4), dtype=np.uint8)
              for _ in range(3)]
    data = encode_apng(frames, [40, 60, 80])
    # locate the single IDAT chunk and split its body into 2 IDATs
    pos = 8
    out = bytearray(data[:8])
    while pos < len(data):
        (clen,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + clen]
        if tag == b"IDAT":
            mid = max(1, clen // 2)
            for part in (body[:mid], body[mid:]):
                out += struct.pack(">I", len(part)) + b"IDAT" + part
                out += struct.pack(
                    ">I", z.crc32(b"IDAT" + part) & 0xFFFFFFFF)
        else:
            out += data[pos:pos + 12 + clen]
        pos += 12 + clen
    got = decode_apng_frames(bytes(out))
    assert [t for _, t in got] == [0, 40, 100]
    for (g, _), f in zip(got, frames):
        assert np.array_equal(g, f)


def test_apng_plain_png_single_frame():
    img = RNG.integers(0, 256, (6, 7, 3), dtype=np.uint8)
    got = decode_apng_frames(encode_png(img))
    assert len(got) == 1 and got[0][1] == 0
    assert np.array_equal(got[0][0][:, :, :3], img)


def test_apng_region_compositing():
    """A second frame covering a sub-region with blend=source."""
    import struct
    import zlib as z
    base = np.zeros((8, 8, 4), np.uint8)
    base[:, :, 3] = 255
    data = bytearray(encode_apng([base], [10]))
    # append an fcTL + fdAT painting a 2x2 red patch at (3,2)
    patch = np.zeros((2, 2, 4), np.uint8)
    patch[:, :, 0] = 200
    patch[:, :, 3] = 255
    raw = z.compress(b"".join(b"\x00" + patch[y].tobytes()
                              for y in range(2)))

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", z.crc32(tag + body) & 0xFFFFFFFF))

    fctl = chunk(b"fcTL", struct.pack(">IIIIIHHBB", 1, 2, 2, 3, 2,
                                      25, 1000, 0, 0))
    fdat = chunk(b"fdAT", struct.pack(">I", 2) + raw)
    iend = data[-12:]
    data = bytes(data[:-12]) + fctl + fdat + iend
    # patch acTL frame count 1 → 2 (recompute crc)
    actl_at = data.find(b"acTL") - 4
    new_actl = chunk(b"acTL", struct.pack(">II", 2, 0))
    data = data[:actl_at] + new_actl + data[actl_at + 20:]
    got = decode_apng_frames(data)
    assert len(got) == 2
    canvas = got[1][0]
    assert (canvas[2:4, 3:5, 0] == 200).all()
    assert canvas[0, 0, 0] == 0


def test_apng_rejects_fdat_without_fctl():
    img = np.zeros((4, 4, 3), np.uint8)
    png = bytearray(encode_png(img))
    import struct
    import zlib as z
    bad = (struct.pack(">I", 8) + b"fdAT" + struct.pack(">I", 0)
           + b"\x00" * 4 + struct.pack(">I", 0))
    with pytest.raises(CodecError):
        decode_apng_frames(bytes(png[:-12]) + bad + bytes(png[-12:]))


# --- FLAC ------------------------------------------------------------------

def _sig_smooth(n=5000):
    t = np.arange(n)
    return (3000 * np.sin(t / 50) + 200 * np.sin(t / 7)).astype(np.int16)


@pytest.mark.parametrize("name,sig", [
    ("smooth-fixed", _sig_smooth().reshape(-1, 1)),
    ("noise-verbatim",
     np.random.default_rng(1).integers(-32768, 32767, 4000
                                       ).astype(np.int16).reshape(-1, 1)),
    ("constant", np.full((3000, 1), -123, np.int16)),
    ("stereo", np.stack([_sig_smooth(4000),
                         np.random.default_rng(2).integers(
                             -2000, 2000, 4000).astype(np.int16)], axis=1)),
])
def test_flac_roundtrip(name, sig):
    data = encode_flac(44100, sig, blocksize=1024)
    rate, out = decode_flac(data)
    assert rate == 44100
    assert np.array_equal(out, sig), name


def test_flac_odd_tail_block():
    sig = _sig_smooth(1537).reshape(-1, 1)  # not a blocksize multiple
    rate, out = decode_flac(encode_flac(8000, sig, blocksize=512))
    assert rate == 8000 and np.array_equal(out, sig)


def test_flac_crc_detects_corruption():
    data = bytearray(encode_flac(44100, _sig_smooth().reshape(-1, 1)))
    data[len(data) // 2] ^= 0xFF
    with pytest.raises(CodecError):
        decode_flac(bytes(data))


def test_flac_rejects_garbage():
    with pytest.raises(CodecError):
        decode_flac(b"fLaX not flac")
    with pytest.raises(CodecError):
        decode_flac(b"fLaC")


# --- TIFF ------------------------------------------------------------------

@pytest.mark.parametrize("compression,predictor", [
    ("none", False), ("packbits", False), ("lzw", False), ("lzw", True),
    ("deflate", False), ("deflate", True),
])
def test_tiff_roundtrip_rgb(compression, predictor):
    img = RNG.integers(0, 256, (70, 33, 3), dtype=np.uint8)
    out = decode_tiff(encode_tiff(img, compression=compression,
                                  predictor=predictor))
    assert np.array_equal(out, img)


def test_tiff_lzw_decode_is_linear():
    """512x512 RGB noise in LZW (about 1 MB of codes: noise expands)
    decodes in well under a second; a bit reader that shifts the whole
    strip at every byte took about 29 s."""
    img = np.random.default_rng(7).integers(0, 256, (512, 512, 3),
                                            dtype=np.uint8)
    data = encode_tiff(img, compression="lzw")
    t0 = time.perf_counter()
    out = decode_tiff(data)
    assert time.perf_counter() - t0 < 5
    assert np.array_equal(out, img)


def _peak(fn, *args):
    """``fn(*args)`` and the peak bytes Python allocated while it ran."""
    tracemalloc.start()
    try:
        return fn(*args), tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_tiff_deflate_strip_inflates_only_its_rows():
    """A 1x1 RGB TIFF whose 64 KiB deflate strip inflates to 64 MiB
    decodes its pixel without inflating the rest of the stream; a strip
    that inflates to fewer bytes than its rows still raises."""
    bomb = encode_tiff(np.zeros((1, 1, 3), np.uint8), "deflate",
                       deflate=lambda raw: deflate_zeros(64 << 20))
    px, peak = _peak(decode_tiff, bomb)
    assert px.shape == (1, 1, 3) and not px.any()
    assert peak < 4 << 20
    img = RNG.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    for short in (lambda raw: zlib.compress(raw[:-3]),     # ends early
                  lambda raw: zlib.compress(raw)[:-40]):   # cut short
        with pytest.raises(CodecError):
            decode_tiff(encode_tiff(img, "deflate", deflate=short))


def test_tiff_gray_and_multistrip():
    img = RNG.integers(0, 256, (130, 20, 1), dtype=np.uint8)  # 3 strips
    out = decode_tiff(encode_tiff(img))
    assert out.shape == (130, 20)
    assert np.array_equal(out, img[:, :, 0])


def test_tiff_rejects_garbage():
    with pytest.raises(CodecError):
        decode_tiff(b"II+\x00garbage")
    with pytest.raises(CodecError):
        decode_tiff(encode_tiff(RNG.integers(0, 256, (8, 8, 3),
                                             dtype=np.uint8))[:40])


# --- sniff + fuzz ----------------------------------------------------------

def test_sniff_new_containers():
    img = np.zeros((4, 4, 3), np.uint8)
    assert _sniff(encode_ico(img)) == "ico"
    assert _sniff(encode_tiff(img)) == "tiff"
    assert _sniff(encode_flac(8000, np.zeros((16, 1), np.int16))) == "flac"
    assert _sniff(b'<?xml version="1.0"?><svg width="1" height="1"/>'
                  ) == "svg"
    assert _sniff(b"<svg xmlns='x'/>") == "svg"
    assert _sniff(b"<!doctype html><html><svg></svg></html>") != "svg"
    assert _sniff(encode_apng([img], [10])) == "png"


@pytest.mark.parametrize("codec,payload", [
    (decode_ico, None), (decode_tiff, None), (decode_flac, None),
    (decode_apng_frames, None),
])
def test_fuzz_truncations_raise_codec_error(codec, payload):
    img = RNG.integers(0, 256, (12, 12, 4), dtype=np.uint8)
    full = {
        decode_ico: encode_ico(img),
        decode_tiff: encode_tiff(img[:, :, :3]),
        decode_flac: encode_flac(8000, _sig_smooth(1000).reshape(-1, 1)),
        decode_apng_frames: encode_apng([img, img], [10, 10]),
    }[codec]
    rng = np.random.default_rng(7)
    for cut in sorted(set(rng.integers(1, len(full), 40).tolist())):
        try:
            codec(full[:cut])
        except CodecError:
            pass  # typed failure is the contract
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"{codec.__name__} cut={cut}: "
                        f"{type(exc).__name__}: {exc}")


# --- Spark pipeline dispatch -------------------------------------------------

def test_decode_media_new_containers(spark):
    from pyspark.sql import Row

    from unfurl_spark.operators.pipeline import session  # noqa: F401
    from unfurl_spark.functions.multimodal import (
        decode_media, extract_features, sample_frames)

    img = RNG.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    frames = [np.full((8, 8, 4), v, np.uint8) for v in (30, 120, 210)]
    rows = [
        Row(media_ref="fav.ico", payload=encode_ico(img)),
        Row(media_ref="scan.tiff", payload=encode_tiff(img,
                                                       compression="lzw")),
        Row(media_ref="song.flac",
            payload=encode_flac(8000, _sig_smooth(2000).reshape(-1, 1))),
        Row(media_ref="anim.apng", payload=encode_apng(frames,
                                                       [500, 500, 500])),
        Row(media_ref="logo.svg",
            payload=b'<svg width="64" height="48"></svg>'),
    ]
    df = spark.createDataFrame(rows)
    got = {r["media_ref"]: r
           for r in decode_media(df, num_partitions=2).collect()}
    assert got["fav.ico"]["container"] == "ico"
    assert (got["fav.ico"]["width"], got["fav.ico"]["height"]) == (32, 24)
    assert got["fav.ico"]["ok"] == "ok"
    assert got["scan.tiff"]["container"] == "tiff"
    assert (got["scan.tiff"]["width"], got["scan.tiff"]["height"]) == (32, 24)
    assert got["scan.tiff"]["ok"] == "ok"
    assert got["song.flac"]["container"] == "flac"
    assert got["song.flac"]["ok"] == "ok"
    assert got["anim.apng"]["container"] == "png"
    assert got["logo.svg"]["container"] == "svg"
    assert (got["logo.svg"]["width"], got["logo.svg"]["height"]) == (64, 48)
    assert got["logo.svg"]["ok"] == "ok"  # solid subset rasterizes

    feats = {r["media_ref"]: r
             for r in extract_features(df, dim=16).collect()}
    for ref in ("fav.ico", "scan.tiff", "song.flac"):
        assert feats[ref]["ok"] == "ok", ref
    assert feats["logo.svg"]["ok"] == "ok"

    fr = sorted((r for r in sample_frames(df, n_frames=3).collect()
                 if r["media_ref"] == "anim.apng"),
                key=lambda r: r["frame_index"])
    assert [r["ok"] for r in fr] == ["ok"] * 3
    assert [r["frame_ts_ms"] for r in fr] == [0, 500, 1000]
    vals = [np.frombuffer(bytes(r["payload"]), np.uint8)[0] for r in fr]
    assert vals == [30, 120, 210]


def test_exif_entry_points_read_tiff():
    from unfurl_spark.functions.media import exif_image, exiftool_image
    img = RNG.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    t = encode_tiff(img)
    out = exiftool_image("u", t)
    assert (out["width"], out["height"]) == (32.0, 24.0)
    assert out["encodingFormat"] == "image/tiff"
    out2 = exif_image("u", t, "image/tiff")
    assert (out2["width"], out2["height"]) == (32, 24)


_XMP = (b'<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF><rdf:Description '
        b'xmp:CreateDate="2021-03-04T05:06:07Z" '
        b'xmp:ModifyDate="2022-01-02T03:04:05Z"><dc:format>image/png'
        b'</dc:format></rdf:Description></rdf:RDF></x:xmpmeta>')


def _png_with_xmp(text: bytes) -> bytes:
    """A PNG whose iTXt XMP chunk (compression flag 0) holds ``text``."""
    itxt = b"XML:com.adobe.xmp" + bytes(5) + text
    return encode_png(np.zeros((2, 2, 3), np.uint8),
                      extra=((b"iTXt", itxt),))


def test_png_xmp_inflate_stops_at_its_cap():
    """A zlib stream in a PNG's XMP iTXt text inflates to at most
    XMP_INFLATE_CAP bytes: a packet up to the cap parses to the
    properties the plain packet gives, a cut-short stream is read as
    the raw text, and a 64 KiB stream that inflates to 64 MiB costs each
    EXIF entry point about the cap."""
    want = {"CreateDate": "2021-03-04T05:06:07Z",
            "ModifyDate": "2022-01-02T03:04:05Z", "format": "image/png"}
    assert _png_info(_png_with_xmp(_XMP))[2] == want
    padded = _XMP.ljust(XMP_INFLATE_CAP)
    assert _png_info(_png_with_xmp(zlib.compress(padded)))[2] == want
    assert _png_info(_png_with_xmp(zlib.compress(_XMP)[:-4]))[2] == {}
    bomb = _png_with_xmp(deflate_zeros(64 << 20))
    for read in (_png_info, lambda d: exiftool_image("u", d),
                 lambda d: exif_image("u", d, "image/png")):
        _out, peak = _peak(read, bomb)
        assert peak < 4 * XMP_INFLATE_CAP


# --- property-based round-trips ---------------------------------------------

from datetime import timedelta

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=timedelta(seconds=1))
@given(st.integers(1, 40), st.integers(1, 40), st.integers(3, 4),
       st.integers(0, 2**32 - 1))
def test_ico_roundtrip_property(w, h, ch, seed):
    img = np.random.default_rng(seed).integers(
        0, 256, (h, w, ch), dtype=np.uint8)
    out = decode_ico(encode_ico(img))
    assert np.array_equal(out[:, :, :ch], img)


@settings(max_examples=25, deadline=timedelta(seconds=1))
@given(st.integers(1, 50), st.integers(1, 50),
       st.sampled_from(["none", "packbits", "lzw", "deflate"]),
       st.integers(0, 2**32 - 1))
def test_tiff_roundtrip_property(w, h, compression, seed):
    img = np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_tiff(encode_tiff(img, compression=compression))
    assert np.array_equal(out, img)


@settings(max_examples=20, deadline=timedelta(seconds=1))
@given(st.integers(1, 3000), st.integers(1, 2), st.integers(0, 2**32 - 1),
       st.sampled_from([256, 1024, 4096]))
def test_flac_roundtrip_property(n, ch, seed, blocksize):
    rng = np.random.default_rng(seed)
    # mix of smooth and noisy segments exercises FIXED vs VERBATIM
    sig = (rng.integers(-6, 7, (n, ch)).cumsum(axis=0)
           + rng.integers(-3000, 3000, (1, ch))).clip(-32768, 32767
                                                      ).astype(np.int16)
    rate, out = decode_flac(encode_flac(8000, sig, blocksize=blocksize))
    assert np.array_equal(out, sig)


@settings(max_examples=15, deadline=timedelta(seconds=1))
@given(st.integers(1, 16), st.integers(1, 16), st.integers(1, 5),
       st.integers(0, 2**32 - 1))
def test_apng_roundtrip_property(w, h, nframes, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
              for _ in range(nframes)]
    got = decode_apng_frames(encode_apng(frames, [10] * nframes))
    assert len(got) == nframes
    for (g, _), f in zip(got, frames):
        assert np.array_equal(g, f)


# --- AIFF --------------------------------------------------------------------

def test_aiff_roundtrip_mono_stereo():
    from encoders import encode_aiff

    from unfurl_spark.functions.codecs_ext import decode_aiff
    rng = np.random.default_rng(13)
    for rate in (8000, 44100):
        for shape in ((1000, 1), (777, 2)):
            sig = rng.integers(-32768, 32767, shape).astype(np.int16)
            r, out = decode_aiff(encode_aiff(rate, sig))
            assert r == rate and np.array_equal(out, sig)


def test_aiff_sniff_features_and_garbage():
    from encoders import encode_aiff

    from unfurl_spark.functions.codecs_ext import decode_aiff
    sig = _sig_smooth(2000).reshape(-1, 1)
    data = encode_aiff(22050, sig)
    assert _sniff(data) == "aiff"
    from unfurl_spark.functions.multimodal import decode_pixels
    rate, out = decode_pixels(data, "aiff")
    assert rate == 22050 and np.array_equal(out, sig)
    with pytest.raises(CodecError):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFF")
    with pytest.raises(CodecError):
        decode_aiff(data[:60])
