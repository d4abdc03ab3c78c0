"""Pure-codec unit tests (no Spark): round-trips for every format,
plus spec-path fixtures the round-trip alone can't reach — PNG filter
types 1-4 and Adam7 interlace are checked against an independent
per-pixel reference unfilter written directly from the T.81/PNG specs,
so a shared bug in the vectorized path can't hide."""

import struct
import zlib

import encoders as E
import numpy as np
import pytest

from unfurl_spark.functions import codecs as C
from unfurl_spark.functions import jpegc as J


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _png_from_raw(w, h, ctype, depth, raw, extra=b"", interlace=0):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + extra
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def _ref_unfilter(raw, h, stride, bpp):
    """Straight-from-spec scalar unfilter — the independent oracle."""
    out = []
    prev = [0] * stride
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        line = list(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ft == 2:
                line[i] = (line[i] + b) & 0xFF
            elif ft == 3:
                line[i] = (line[i] + ((a + b) >> 1)) & 0xFF
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        out.append(line)
        prev = line
    return np.array(out, np.uint8)


def test_png_roundtrip_all_channel_counts():
    rng = np.random.default_rng(1)
    for c in (1, 2, 3, 4):
        img = rng.integers(0, 256, (13, 17, c), dtype=np.uint8)
        assert (C.decode_png(E.encode_png(img)) == img).all()


def test_png_all_filter_types_vs_reference():
    rng = np.random.default_rng(2)
    w, h, c = 11, 9, 3
    stride = w * c
    raw = bytearray()
    for y in range(h):
        raw.append(y % 5)  # cycle through every filter type
        raw += bytes(rng.integers(0, 256, stride, dtype=np.uint8))
    expect = _ref_unfilter(bytes(raw), h, stride, c).reshape(h, w, c)
    got = C.decode_png(_png_from_raw(w, h, 2, 8, bytes(raw)))
    assert (got == expect).all()


def test_png_adam7_interlace():
    # build pass-ordered raw data for a known image, filter 0 everywhere
    rng = np.random.default_rng(3)
    w, h, c = 10, 7, 3
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in C._ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw.append(0)
            raw += row.tobytes()
    got = C.decode_png(_png_from_raw(w, h, 2, 8, bytes(raw), interlace=1))
    assert (got == img).all()


def test_png_palette_with_transparency():
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R,G,B entries
    raw = b"\x00\x00\x01\x02\x00\x01\x02"[:0]  # built below
    rows = [b"\x00" + bytes([0, 1, 2]), b"\x00" + bytes([2, 1, 0])]
    raw = b"".join(rows)
    png = _png_from_raw(3, 2, 3, 8, raw,
                        extra=_chunk(b"PLTE", pal) + _chunk(b"tRNS",
                                                            bytes([128])))
    got = C.decode_png(png)
    assert got.shape == (2, 3, 4)
    assert tuple(got[0, 0]) == (255, 0, 0, 128)  # entry 0 translucent
    assert tuple(got[0, 1]) == (0, 255, 0, 255)
    assert tuple(got[1, 0]) == (0, 0, 255, 255)


def test_png_sub_byte_and_16bit_depths():
    # 1-bit gray, 6px wide: bits 101101 → 255,0,255,255,0,255
    raw = b"\x00" + bytes([0b10110100])
    got = C.decode_png(_png_from_raw(6, 1, 0, 1, raw))
    assert got.reshape(-1).tolist() == [255, 0, 255, 255, 0, 255]
    # 16-bit gray: MSB survives
    raw16 = b"\x00" + struct.pack(">HHH", 0xFF00, 0x1234, 0x0001)
    got16 = C.decode_png(_png_from_raw(3, 1, 0, 16, raw16))
    assert got16.reshape(-1).tolist() == [0xFF, 0x12, 0x00]


def test_png_header_only_rejected():
    from unfurl_spark.sources.synthetic import _png_bytes
    full = _png_bytes(20, 10)
    img = C.decode_png(full)
    assert img.shape == (10, 20, 3)
    # strip IDAT → CodecError, not a fake success
    ihdr_only = full[:33] + full[-12:]
    with pytest.raises(C.CodecError):
        C.decode_png(ihdr_only)


def test_gif_roundtrip_and_interlace():
    rng = np.random.default_rng(4)
    img = (rng.integers(0, 5, (9, 11, 1)) * 50).astype(np.uint8)
    img3 = np.repeat(img, 3, axis=2)
    assert (C.decode_gif(E.encode_gif(img3)) == img3).all()
    # interlace: permute rows of a known encode per the GIF row order
    enc = bytearray(E.encode_gif(img3))
    # flip the interlace bit in the image descriptor and reorder pixels
    # by re-encoding manually
    h, w = img.shape[:2]
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    shuffled = img3[order]
    enc2 = bytearray(E.encode_gif(shuffled))
    # set interlace flag on the image descriptor of enc2
    idesc = enc2.index(0x2C, 13)
    enc2[idesc + 9] |= 0x40
    assert (C.decode_gif(bytes(enc2)) == img3).all()


def test_gif_lzw_code_width_growth():
    # >256 pixel runs force code-size growth past 9 bits
    rng = np.random.default_rng(5)
    img = (rng.integers(0, 256, (32, 40, 1))).astype(np.uint8)
    img3 = np.repeat(img // 2, 3, axis=2)  # ≤128 distinct values
    assert (C.decode_gif(E.encode_gif(img3)) == img3).all()


def test_bmp_topdown_and_bottom_up():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    enc = E.encode_bmp(img)
    assert (C.decode_bmp(enc) == img).all()
    # negative height = top-down; flip stored rows to compensate
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = enc[54:]
    rows = [body[i * stride:(i + 1) * stride] for i in range(h)]
    td = (enc[:22] + struct.pack("<i", -h) + enc[26:54]
          + b"".join(reversed(rows)))
    assert (C.decode_bmp(td) == img).all()


def test_ppm_comments_and_gray():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    data = b"P5 # cmt\n4 3 255\n" + img.tobytes()
    assert (C.decode_ppm(data) == img).all()


def test_wav_8bit_and_16bit():
    rng = np.random.default_rng(7)
    s16 = rng.integers(-30000, 30000, (64, 2)).astype(np.int16)
    rate, out = C.decode_wav(E.encode_wav(22050, s16))
    assert rate == 22050 and (out == s16).all()
    # 8-bit unsigned mono
    u8 = bytes(range(64))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav = (b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 64) + u8)
    rate, out = C.decode_wav(wav)
    assert rate == 8000 and out.shape == (64, 1)
    assert out[0, 0] == -32768 and out[32, 0] == (32 - 128) << 8


@pytest.mark.parametrize("kw", [{}, {"subsample": True},
                                {"restart_interval": 2},
                                {"subsample": True, "restart_interval": 3},
                                {"multi_scan": True, "restart_interval": 2}])
def test_jpeg_roundtrip_variants(kw):
    yy, xx = np.mgrid[0:37, 0:53]
    img = np.dstack([(xx * 4) % 256, (yy * 5) % 256,
                     ((xx + yy) * 3) % 256]).astype(np.uint8)
    dec = J.decode_jpeg(E.encode_jpeg(img, quality=92, **kw))
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert err < (8 if kw.get("subsample") else 4), (kw, err)


def test_jpeg_lost_restart_marker_raises():
    """A restart interval whose RSTn is damaged fails the frame: the
    decoder stops at the first other marker instead of searching on
    past the scan (here into a second image appended after EOI, as in
    a multi-picture file) and decoding those bytes as this scan's."""
    yy, xx = np.mgrid[0:37, 0:53]
    img = np.dstack([(xx * 4) % 256, (yy * 5) % 256,
                     ((xx + yy) * 3) % 256]).astype(np.uint8)
    enc = bytearray(E.encode_jpeg(img, quality=92, restart_interval=2,
                                  multi_scan=True))
    assert J.decode_jpeg(bytes(enc)).shape == img.shape
    last_rst = max(enc.rfind(bytes([0xFF, m])) for m in range(0xD0, 0xD8))
    enc[last_rst + 1] = 0xFE  # now a COM marker
    enc += E.encode_jpeg(img, quality=92, restart_interval=2)
    with pytest.raises(C.CodecError):
        J.decode_jpeg(bytes(enc))


def test_jpeg_grayscale_and_high_detail():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (24, 24, 1), dtype=np.uint8)
    dec = J.decode_jpeg(E.encode_jpeg(img, quality=95))
    assert dec.shape == img.shape
    # white noise at q95 keeps structure loosely (lossy bound only)
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 30


def test_jpeg_dct_spec_orientation():
    """A single horizontal-frequency coefficient must decode to a
    pattern varying along x — catches a transposed (round-trip-
    consistent but non-conformant) DCT pair."""
    ct = J._DCT_C
    X = np.zeros((8, 8))
    X[0, 1] = 100.0
    px = ct @ X @ ct.T  # the decoder's IDCT expression
    assert np.allclose(px, px[0:1, :], atol=1e-9)  # rows identical
    assert abs(px[0, 0] - px[0, 7]) > 1  # columns vary


def test_jpeg_hierarchical_rejected_arith_total():
    # SOF11 (hierarchical/lossless family) stays an honest
    # CodecUnavailable boundary; SOF9/SOF10 (arithmetic) decode for
    # real — a spliced SOF9 header over Huffman entropy must stay TOTAL
    # (either pixels or a typed CodecError, never a crash)
    img = np.zeros((8, 8, 1), np.uint8)
    enc = bytearray(E.encode_jpeg(img))
    i = enc.index(b"\xFF\xC0")
    enc[i + 1] = 0xCB
    with pytest.raises(C.CodecUnavailable):
        J.decode_jpeg(bytes(enc))
    enc[i + 1] = 0xC9
    try:
        out = J.decode_jpeg(bytes(enc))
        assert out.shape[0] == 8
    except C.CodecError:
        pass


def test_resize_area_preserves_mean_and_solid():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (64, 48, 3), dtype=np.uint8)
    small = C.resize_area(img, 16, 12)
    assert small.shape == (12, 16, 3)
    assert abs(float(small.mean()) - float(img.mean())) < 3
    solid = np.full((33, 17, 3), 77, np.uint8)
    assert (C.resize_area(solid, 5, 9) == 77).all()
    up = C.resize_area(solid, 40, 40)
    assert up.shape == (40, 40, 3) and (up == 77).all()


def test_gif_animation_roundtrip_and_disposal():
    f0 = np.full((8, 10, 3), 50, np.uint8)
    f1 = f0.copy()
    f1[2:5, 3:7] = 200
    f2 = f0.copy()
    f2[0:2, 0:2] = 90
    enc = E.encode_gif_anim([f0, f1, f2], delay_ms=40)
    frames = C.decode_gif_frames(enc)
    assert len(frames) == 3
    assert [d for d, _ in frames] == [40, 40, 40]
    for want, (_d, got) in zip((f0, f1, f2), frames):
        assert (got == want).all()
    # max_frames truncation
    assert len(C.decode_gif_frames(enc, max_frames=2)) == 2
    # single-frame decode still matches the first frame exactly
    assert (C.decode_gif(enc) == f0).all()


def test_gif_transparency_composites_over_previous():
    # frame 2 is a full-screen rect where index 0 is transparent; the
    # composited canvas must keep frame 1 pixels underneath
    f0 = np.full((6, 6, 3), 10, np.uint8)
    enc0 = E.encode_gif_anim([f0, f0], delay_ms=10)
    # hand-tune: mark second frame's GCE transparent_index = its own
    # palette index of color 10 so every pixel is "transparent"
    raw = bytearray(enc0)
    # second GCE: find the 2nd occurrence of 21 F9 04
    first = raw.index(b"\x21\xF9\x04")
    second = raw.index(b"\x21\xF9\x04", first + 1)
    raw[second + 3] |= 0x01   # transparency flag on
    raw[second + 6] = 0       # transparent index 0 (color 10)
    frames = C.decode_gif_frames(bytes(raw))
    assert (frames[1][1] == 10).all()  # shows through, not black


def test_total_catches_valueerror_reshape():
    """numpy reshape/int() faults inside decoders must surface as the
    typed CodecError, not escape as raw ValueError (which crashed the
    whole Arrow stage through sample_frames' narrower except)."""
    import pytest

    from unfurl_spark.functions import codecs as C

    # GIF with a truncated global color table -> reshape ValueError
    gif = (b"GIF89a" + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + bytes([0x80, 0, 0]) + b"\x01\x02\x03\x04")
    with pytest.raises(C.CodecError):
        C.decode_gif_frames(gif)
    # PPM with a non-numeric header token -> int() ValueError
    with pytest.raises(C.CodecError):
        C.decode_ppm(b"P6 ab 4 255\n\x00")


def test_jpeg_cmyk_frame_unavailable():
    """4-component (Adobe CMYK/YCCK) frames must raise CodecUnavailable,
    not silently decode the first 3 planes as YCbCr garbage."""
    import struct

    import pytest

    from unfurl_spark.functions import codecs as C
    from unfurl_spark.functions.jpegc import decode_jpeg

    sof = struct.pack(">BHHB", 8, 4, 4, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0])
    jpg = (b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
           + b"\xff\xd9")
    with pytest.raises(C.CodecUnavailable):
        decode_jpeg(jpg)


def test_jpeg_fill_bytes_in_entropy_segment():
    # T.81 B.1.1.2: 0xFF fill bytes may precede any marker/stuffed byte.
    # FF FF 00 = fill byte + stuffed data 0xFF; FF FF D9 = fill + EOI.
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = E.encode_jpeg(img, quality=95)
    sos = data.find(b"\xff\xda")
    start = sos + 2 + int.from_bytes(data[sos + 2:sos + 4], "big")
    idx = data.find(b"\xff\x00", start, len(data) - 2)
    assert idx > 0, "fixture must contain a stuffed byte"
    base = J.decode_jpeg(data)
    assert (J.decode_jpeg(data[:idx] + b"\xff" + data[idx:]) == base).all()
    eoi = data.rfind(b"\xff\xd9")
    assert (J.decode_jpeg(data[:eoi] + b"\xff\xff" + data[eoi:])
            == base).all()


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive and baseline encodes carry the SAME quantized
    coefficients, so decodes must be pixel-identical — this pins the
    progressive scan machinery (DC/AC first+refine, EOB runs,
    correction bits) against the independently-verified baseline path."""
    rng = np.random.default_rng(7)
    images = [
        np.full((16, 24, 3), 100, np.uint8),                  # EOB runs
        rng.integers(0, 256, (24, 33, 3), dtype=np.uint8),    # dense AC
        np.tile((np.arange(40, dtype=np.uint8) * 6)[None, :, None],
                (28, 1, 3)),                                  # low-freq
        rng.integers(0, 256, (17, 19, 1), dtype=np.uint8),    # grayscale
    ]
    for img in images:
        for q in (50, 85, 95):
            base = J.decode_jpeg(E.encode_jpeg(img, quality=q))
            prog = J.decode_jpeg(
                E.encode_jpeg_progressive(img, quality=q))
            assert (base == prog).all(), (img.shape, q)


def test_jpeg_progressive_subsampled_matches_baseline():
    rng = np.random.default_rng(11)
    for shape in [(32, 48, 3), (23, 37, 3), (8, 8, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = J.decode_jpeg(E.encode_jpeg(img, quality=85,
                                           subsample=True))
        prog = J.decode_jpeg(E.encode_jpeg_progressive(
            img, quality=85, subsample=True))
        assert (base == prog).all(), shape


def test_jpeg_bit_reader_accumulator_stays_bounded():
    """A bit read costs the same at any offset of an entropy segment:
    the Huffman reader's accumulator never holds more than 32 bits, so
    no read shifts a bigint as long as the segment read so far (which
    makes decoding quadratic in the scan's size)."""
    seg = bytes(np.random.default_rng(3).integers(
        0, 0xFF, 64 * 1024, dtype=np.uint8))       # no 0xFF: no markers
    r = J._BitReader(seg, 0)
    out = bytearray()
    for _ in range(len(seg)):
        byte = 0
        for _ in range(8):
            byte = (byte << 1) | r.read_bit()
            assert r.acc.bit_length() <= 32
        out.append(byte)
    assert bytes(out) == seg
    with pytest.raises(C.CodecError):
        r.read_bit()


def test_jpeg_progressive_undefined_huffman_table_is_codec_error():
    """A progressive scan that names an undefined Huffman table is a typed
    CodecError, not an AttributeError from a missing table."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    data = bytearray(E.encode_jpeg_progressive(img, quality=80))
    sos = data.index(b"\xff\xda", data.index(b"\xff\xda") + 2)
    # FF DA len(2) Ns Cs Td<<4|Ta Ss Se Ah<<4|Al: the first AC scan
    assert data[sos + 4] == 1 and data[sos + 7:sos + 9] == b"\x01\x05"
    data[sos + 6] = 0x33
    with pytest.raises(C.CodecError):
        J.decode_jpeg(bytes(data))


def test_jpeg_progressive_truncation_total():
    """Truncated progressive streams raise CodecError or decode a
    partial refinement — never crash, never hang."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = E.encode_jpeg_progressive(img, quality=85)
    for cut in range(2, len(data), max(1, len(data) // 60)):
        try:
            out = J.decode_jpeg(data[:cut])
            assert out.shape == (16, 16, 3)
        except (C.CodecError, C.CodecUnavailable):
            pass


def test_bmp_palette_and_rle():
    """Legacy BMP variants: 8/4/1-bit palette images, RLE8/RLE4 (runs,
    absolute mode with word padding, EOL/EOB/delta escapes)."""
    import struct

    from unfurl_spark.functions.codecs import decode_bmp

    def hdr(w, h, bpp, comp, ncolors, dsize):
        off = 14 + 40 + 4 * ncolors
        return (b"BM" + struct.pack("<IHHI", off + dsize, 0, 0, off)
                + struct.pack("<IiihHIIiiII", 40, w, h, 1, bpp, comp,
                              dsize, 0, 0, ncolors, 0))

    # palette: RGB = (3i, 2i, i) stored as BGRx
    pal = b"".join(struct.pack("<BBBB", i, (2 * i) % 256, (3 * i) % 256, 0)
                   for i in range(16))
    w, h = 5, 3

    # 8-bit uncompressed
    stride = (w + 3) & ~3
    rows = b"".join(bytes([(r * w + c) % 16 for c in range(w)])
                    + b"\x00" * (stride - w) for r in range(h))
    img = decode_bmp(hdr(w, h, 8, 0, 16, len(rows)) + pal + rows)
    for r in range(h):
        for c in range(w):
            i = (r * w + c) % 16
            assert tuple(img[h - 1 - r, c]) == ((3 * i) % 256,
                                                (2 * i) % 256, i)

    # RLE8: runs + absolute mode + EOL + delta-free EOB
    rle = bytes([3, 5, 2, 7, 0, 0,
                 0, 5, 1, 2, 3, 4, 9, 0,
                 0, 0,
                 2, 1, 0, 1])
    img2 = decode_bmp(hdr(w, h, 8, 1, 16, len(rle)) + pal + rle)
    assert [int(img2[2, c, 2]) for c in range(w)] == [5, 5, 5, 7, 7]
    assert [int(img2[1, c, 2]) for c in range(w)] == [1, 2, 3, 4, 9]
    assert [int(img2[0, c, 2]) for c in range(w)] == [1, 1, 0, 0, 0]

    # RLE8 delta escape skips pixels (left as index 0)
    rled = bytes([2, 9, 0, 2, 2, 1, 1, 8, 0, 1])
    img2d = decode_bmp(hdr(w, 2, 8, 1, 16, len(rled)) + pal + rled)
    assert [int(img2d[1, c, 2]) for c in range(w)] == [9, 9, 0, 0, 0]
    assert int(img2d[0, 4, 2]) == 8

    # RLE4 alternating nibbles
    rle4 = bytes([4, 0x25, 0, 1])
    img3 = decode_bmp(hdr(w, 1, 4, 2, 16, len(rle4)) + pal + rle4)
    assert [int(img3[0, c, 2]) for c in range(w)] == [2, 5, 2, 5, 0]

    # 1-bit rows
    img4 = decode_bmp(hdr(5, 1, 1, 0, 2, 4) + pal[:8]
                      + bytes([0b10110000, 0, 0, 0]))
    assert [int(img4[0, c, 2]) for c in range(5)] == [1, 0, 1, 1, 0]

    # 2-bit (non-standard) stays a typed boundary
    import pytest as _pytest

    from unfurl_spark.functions.codecs import CodecError
    with _pytest.raises(CodecError):
        decode_bmp(hdr(2, 2, 2, 0, 4, 16) + pal[:16] + b"\x00" * 16)


def test_bmp_16bit_555_and_565():
    import struct

    from unfurl_spark.functions.codecs import decode_bmp

    def hdr(w, h, comp, dsize, masks=b""):
        off = 14 + 40 + len(masks)
        return (b"BM" + struct.pack("<IHHI", off + dsize, 0, 0, off)
                + struct.pack("<IiihHIIiiII", 40, w, h, 1, 16, comp,
                              dsize, 0, 0, 0, 0) + masks)

    # 555: pure red, pure green, pure blue, white
    px555 = [0x7C00, 0x03E0, 0x001F, 0x7FFF]
    row = b"".join(struct.pack("<H", v) for v in px555)
    img = decode_bmp(hdr(4, 1, 0, len(row)) + row)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[0, 1].tolist() == [0, 255, 0]
    assert img[0, 2].tolist() == [0, 0, 255]
    assert img[0, 3].tolist() == [255, 255, 255]

    # 565 bitfields: mid-green uses the 6-bit channel
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    px565 = [0xF800, 0x07E0, 0x001F, 0x0420]   # r, g, b, green=1<<5+...
    row2 = b"".join(struct.pack("<H", v) for v in px565)
    img2 = decode_bmp(hdr(4, 1, 3, len(row2), masks) + row2)
    assert img2[0, 0].tolist() == [255, 0, 0]
    assert img2[0, 1].tolist() == [0, 255, 0]
    assert img2[0, 2].tolist() == [0, 0, 255]
    g = img2[0, 3, 1]
    assert 0 < g < 255 and img2[0, 3, 0] == 0
