"""Property-based robustness: at 10^12 documents every malformed input
occurs; the kernels must never raise — errors surface per-doc through
the `ok` lineage column, not as task failures.

(The reference has no property tests, SURVEY §5 — this exceeds its
test strategy on purpose: task-killing exceptions are the one failure
mode a 1000-executor run cannot tolerate.)
"""

import struct
import tracemalloc
from datetime import timedelta
from itertools import islice

import encoders as E
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from unfurl_spark.functions.codecs import (
    CodecError,
    CodecUnavailable,
    flac_blocks,
    ico_entries,
    id3_frames,
    jpeg_segments,
    png_chunks,
    riff_chunks,
    tiff_entries,
    tiff_header,
)
from unfurl_spark.functions.content import classify_blocks
from unfurl_spark.functions.engine import flat_document_spans, scrape_document
from unfurl_spark.functions.htmlmeta import parse_html_full
from unfurl_spark.functions.media import (
    XMP_INFLATE_CAP,
    _png_info,
    _walk_ebml,
    _walk_mp4_boxes,
    exif_image,
    exiftool_image,
    exiftool_pdf,
    parse_pdf_info,
)
from unfurl_spark.functions.multimodal import decode_pixels

# text with a bias toward markup-ish characters
markupish = st.text(
    alphabet=st.sampled_from(list("<>=&\"'/ abZ\t\né中\U0001f600"
                                  "!-[]();:{}@#%0129.")),
    max_size=400)


@settings(max_examples=300, deadline=timedelta(seconds=1))
@given(markupish)
def test_parse_html_full_never_raises(text):
    metadata, blocks = parse_html_full(text, "http://fuzz.test/")
    assert metadata is None or isinstance(metadata, dict)
    assert isinstance(blocks, list)


@settings(max_examples=200, deadline=timedelta(seconds=1))
@given(markupish, st.integers(min_value=100, max_value=599))
def test_flat_document_spans_never_raises(text, status):
    spans = flat_document_spans("http://fuzz.test/a", text, status, [])
    assert isinstance(spans, list)
    for i, s in enumerate(spans):
        assert s["offset"] == i  # order invariant holds on garbage too


@settings(max_examples=200, deadline=timedelta(seconds=1))
@given(st.binary(max_size=600))
def test_media_readers_never_raise(data):
    for fn in (exiftool_image, exiftool_pdf):
        out = fn("http://fuzz.test/x", data)
        assert isinstance(out, dict) and "type" in out
    out = exif_image("http://fuzz.test/x", data, "image/jpeg")
    assert isinstance(out, dict)
    assert isinstance(parse_pdf_info(data), dict)


# seed corrupted-but-plausible containers: real magic bytes, garbage tails
@settings(max_examples=200, deadline=timedelta(seconds=1))
@given(st.sampled_from([b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe1",
                        b"RIFF\x00\x00\x00\x00WEBP", b"%PDF-1.4\n"]),
       st.binary(max_size=300))
def test_truncated_containers_never_raise(magic, tail):
    data = magic + tail
    assert isinstance(exiftool_image("http://f.test/x", data), dict)
    assert isinstance(exif_image("http://f.test/x", data, "image/png"), dict)
    assert isinstance(exiftool_pdf("http://f.test/x", data), dict)


@settings(max_examples=100, deadline=timedelta(seconds=1))
@given(markupish,
       st.dictionaries(st.sampled_from(["content-type", "Content-Type"]),
                       st.sampled_from(["text/html", "image/png", "",
                                        "application/pdf; x=y", "junk"]),
                       max_size=1))
def test_scrape_document_never_raises(text, headers):
    out = scrape_document("http://fuzz.test/", 200, headers, text,
                          body_bytes=text.encode("utf-8", "ignore"),
                          plugins=("html", "exif", "exiftool"))
    assert out.get("type") in {"website", "image", "document", "video",
                               "audio", "link"}


@settings(max_examples=100, deadline=timedelta(seconds=1))
@given(st.lists(st.tuples(markupish, st.integers(0, 500),
                          st.booleans()), max_size=20))
def test_classify_blocks_never_raises(blocks):
    out = classify_blocks([(t, min(l, len(t)), b) for t, l, b in blocks])
    assert isinstance(out, list)


def test_exif_ifd_cycle_terminates():
    """A self-referencing ExifIFDPointer must not recurse unboundedly."""
    import struct

    from unfurl_spark.functions.media import exif_image

    # TIFF header -> IFD at 8 with one entry: tag 0x8769 pointing back at 8
    tiff = (b"II*\x00" + struct.pack("<I", 8)
            + struct.pack("<H", 1)
            + struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", 8)
            + struct.pack("<I", 0))
    exif = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + len(exif)) + exif
    jpg = b"\xff\xd8" + app1 + b"\xff\xd9"
    out = exif_image("http://x/i.jpg", jpg, "image/jpeg")
    assert out["type"] == "image"  # terminated, bare image


def test_pdf_noop_escapes_and_outline_title():
    """'\\8'/'\\9' are legal no-op escapes; an outline /Title must not
    override the document's (first truthy match wins)."""
    from unfurl_spark.functions.media import exiftool_pdf, parse_pdf_info

    pdf = (b"%PDF-1.4\n1 0 obj<</Title(foo\\8bar\\9)>>endobj\n"
           b"2 0 obj<</Title(Chapter 5)/Parent 3 0 R>>endobj\n%%EOF")
    info = parse_pdf_info(pdf)
    assert info["Title"] == "foo8bar9"
    out = exiftool_pdf("http://x/d.pdf", pdf)
    assert out["headline"] == "foo8bar9"


# round-5 kernels: metadata walkers return dicts (never raise); the
# decode-class kernels may raise ONLY the typed codec errors their
# operators catch per-row
@settings(max_examples=200, deadline=timedelta(seconds=1))
@given(st.binary(max_size=600))
def test_r5_metadata_walkers_never_raise(data):
    from unfurl_spark.functions.media import (
        embedded_cover,
        mjpeg_samples,
        ogg_metadata,
        pcm_metadata,
    )
    assert isinstance(ogg_metadata(data, total_bytes=10_000), dict)
    assert isinstance(pcm_metadata(data), dict)
    cover = embedded_cover(data)
    assert cover is None or isinstance(cover[0], bytes)
    table = mjpeg_samples(data)
    assert table is None or isinstance(table, list)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.sampled_from([b"OggS", b"fLaC", b"RIFF\x10\x00\x00\x00WAVE",
                        b"FORM\x00\x00\x00\x20AIFF", b"ID3\x03\x00\x00",
                        b"\x00\x00\x00\x18ftypisom"]),
       st.binary(max_size=400))
def test_r5_truncated_audio_containers_never_raise(magic, tail):
    from unfurl_spark.functions.media import (
        embedded_cover,
        mjpeg_samples,
        ogg_metadata,
        pcm_metadata,
    )
    data = magic + tail
    ogg_metadata(data, total_bytes=len(data))
    pcm_metadata(data)
    embedded_cover(data)
    mjpeg_samples(data)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.binary(max_size=400))
def test_svg_rasterizer_only_typed_errors(data):
    from unfurl_spark.functions.codecs import CodecError, CodecUnavailable
    from unfurl_spark.functions.svgraster import rasterize_svg
    svg = b"<svg " + data + b"</svg>"
    try:
        out = rasterize_svg(svg)
        assert out.ndim == 3 and out.shape[2] == 4
    except (CodecError, CodecUnavailable):
        pass   # per-row lineage errors, never task killers


# container framing (ROADMAP item 4): each of the six walkers in
# codecs.py, and media's ISO-BMFF box and EBML element walks, must end on
# any input.  The inputs are a valid signature,
# then units whose size field holds 0, an odd value, all-ones or the
# body's true length, then arbitrary bytes.
_SIZES = st.one_of(st.sampled_from([0, 1, 3, 0xFFFFFFFF]),
                   st.integers(0, 80))


@st.composite
def _framed(draw, head, unit):
    """``head`` + units built by ``unit(size, body)`` + a garbage tail."""
    out = head
    for size, body in draw(st.lists(st.tuples(_SIZES, st.binary(max_size=40)),
                                     max_size=8)):
        out += unit(size, body)
    return out + draw(st.binary(max_size=60))


def _riff_unit(order):
    return lambda size, body: (b"LIST" + size.to_bytes(4, order) + body)


def _spans_advance(data, spans, header):
    """Each (tag, start, end) has its header inside ``data``, starts
    after the previous one and declares no negative length; the walk
    stops within one step per byte."""
    assert len(spans) <= len(data)
    last = -1
    for _tag, start, end in spans:
        assert header <= start <= len(data) and end >= start
        assert start > last
        last = start


def _take(walk, data):
    return list(islice(walk, len(data) + 1))


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.data())
def test_riff_chunks_advance(draw):
    for head, order in ((b"RIFF\xff\xff\xff\xffWAVE", "little"),
                        (b"FORM\x00\x00\x00\x00AIFF", "big")):
        data = draw.draw(_framed(head, _riff_unit(order)))
        _spans_advance(data, _take(riff_chunks(data, 12, order), data), 20)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(_framed(b"\x89PNG\r\n\x1a\n",
               lambda size, body: (size.to_bytes(4, "big") + b"tEXt" + body
                                   + b"\x00" * 4)))
def test_png_chunks_advance(data):
    _spans_advance(data, _take(png_chunks(data), data), 16)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(_framed(b"fLaC", lambda size, body: (
    bytes([4]) + (size & 0xFFFFFF).to_bytes(3, "big") + body)))
def test_flac_blocks_advance(data):
    _spans_advance(data, _take(flac_blocks(data), data), 8)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.sampled_from([2, 3, 4]), st.sampled_from([0, 0x40, 0x80, 0xD0]),
       _SIZES, st.data())
def test_id3_frames_advance(major, flags, tag_size, draw):
    idw = 3 if major == 2 else 4
    frame_id = b"TIT2"[:idw]

    def unit(size, body):
        return (frame_id + (size % (1 << 8 * idw)).to_bytes(idw, "big")
                + (b"" if major == 2 else b"\x00\x00") + body)

    head = (b"ID3" + bytes([major, 0, flags])
            + bytes((tag_size >> s) & 0x7F for s in (21, 14, 7, 0)))
    data = draw.draw(_framed(head, unit))
    frames = _take(id3_frames(data), data)
    # bodies are non-empty slices of the tag, each behind its own header
    assert all(body for _fid, body in frames)
    assert sum(len(b) + 2 * idw for _fid, b in frames) <= len(data)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(_framed(b"\xff\xd8", lambda size, body: (
    b"\xff\xe1" + (size & 0xFFFF).to_bytes(2, "big") + body)))
def test_jpeg_segments_advance(data):
    _spans_advance(data, _take(jpeg_segments(data), data), 6)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.integers(0, 0xFFFF), st.binary(max_size=600))
def test_ico_entries_advance(count, tail):
    data = b"\x00\x00\x01\x00" + count.to_bytes(2, "little") + tail
    entries = _take(ico_entries(data), data)
    assert len(entries) <= min(count, 64, len(tail) // 16)
    assert all(1 <= w <= 256 and 1 <= h <= 256 for w, h, _o, _s in entries)


def _nested_spans_advance(walk, data, start, end, depth=3):
    """``walk(data, start, end)`` yields (tag, payload_start, payload_end)
    spans inside [start, end], each behind its own header and starting
    after the previous one, within one step per byte; and so does each
    payload walked as a nested span, as the metadata readers recurse."""
    spans = list(islice(walk(data, start, end), end - start + 1))
    assert len(spans) <= end - start
    last = start
    for _tag, s, e in spans:
        assert last < s <= e <= end
        last = s
        if depth:
            _nested_spans_advance(walk, data, s, e, depth - 1)


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(_framed(b"", lambda size, body: (
    (size & 0xFFFFFFFF).to_bytes(4, "big") + b"moov" + body)))
def test_mp4_boxes_advance(data):
    _nested_spans_advance(_walk_mp4_boxes, data, 0, len(data))


def _ebml_unit(size, body):
    """A Cluster element: 4-byte id, then a 4-byte size vint, or the
    8-byte unknown size (all value bits set: the span runs to its
    parent's end) for the all-ones size."""
    vint = (b"\x01" + b"\xff" * 7 if size == 0xFFFFFFFF
            else (0x10000000 | size).to_bytes(4, "big"))
    return b"\x1f\x43\xb6\x75" + vint + body


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.sampled_from([b"", b"\x1a\x45\xdf\xa3\xff",
                        b"\x18\x53\x80\x67\x88"]), st.data())
def test_ebml_elements_advance(head, draw):
    data = draw.draw(_framed(head, _ebml_unit))
    _nested_spans_advance(_walk_ebml, data, 0, len(data))


@settings(max_examples=150, deadline=timedelta(seconds=1))
@given(st.sampled_from(["<", ">"]),
       st.one_of(st.sampled_from([8, 0, 1, 0xFFFFFFFF]), st.integers(0, 120)),
       st.one_of(st.sampled_from([0, 1, 0xFFFF]), st.integers(0, 10)),
       st.lists(st.tuples(st.integers(0, 0xFFFF), st.integers(0, 13),
                          _SIZES, _SIZES), max_size=8),
       st.binary(max_size=60))
def test_tiff_entries_advance(order, first, n, entries, tail):
    """Each entry the IFD walk yields is the 12-byte header at its own
    slot inside the input, one slot per step, and the walk ends (by
    running out of entries or with ``CodecError``)."""
    data = ((b"II" if order == "<" else b"MM")
            + struct.pack(order + "HIH", 42, first, n)
            + b"".join(struct.pack(order + "HHII", *e) for e in entries)
            + tail)
    _order, off = tiff_header(data)
    walked = []
    try:
        for entry in islice(tiff_entries(data, order, off), len(data) + 1):
            walked.append(entry)
    except CodecError:
        pass
    declared = (struct.unpack_from(order + "H", data, off)[0]
                if off + 2 <= len(data) else 0)
    assert len(walked) <= min(declared, len(data) // 12)
    for i, (tag, typ, count, start, end) in enumerate(walked):
        pos = off + 2 + 12 * i
        assert pos + 12 <= len(data)
        assert (tag, typ, count) == struct.unpack_from(order + "HHI", data,
                                                        pos)
        assert start == pos + 8 or end - start > 4
        assert end >= start


def _pixel_seeds():
    """TIFF (every compression, with and without the predictor, gray and
    RGB) and WebP (lossless still, lossy still with ALPH, lossless and
    lossy-with-ALPH animations) payloads to mutate."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    seeds = [("tiff", E.encode_tiff(img, compression=c, predictor=p))
             for c in ("none", "lzw", "packbits", "deflate")
             for p in (False, True)]
    seeds.append(("tiff", E.encode_tiff(img[:, :, :1], compression="lzw")))

    def chunk(tag, body):
        return (tag + struct.pack("<I", len(body)) + body
                + b"\x00" * (len(body) & 1))

    def riff(body):
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body

    mb = {"ymode": 0, "uvmode": 0, "bmodes": [0] * 16, "y2": [0] * 16,
          "y": [[0] * 16 for _ in range(16)],
          "u": [[0] * 16 for _ in range(4)],
          "v": [[0] * 16 for _ in range(4)]}
    vp8x = chunk(b"VP8X", bytes([0x12]) + b"\x00" * 3
                 + (15).to_bytes(3, "little") + (15).to_bytes(3, "little"))
    lossy = (chunk(b"ALPH", bytes([4]) + bytes(range(256)))  # horizontal
             + chunk(b"VP8 ", E.encode_vp8(1, 1, [mb], qi=40)))
    frame = (b"\x00" * 6 + (15).to_bytes(3, "little") * 2
             + (40).to_bytes(3, "little") + b"\x00" + lossy)
    rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    seeds += [("webp", E.encode_vp8l(rgba)),
              ("webp", riff(vp8x + lossy)),
              ("webp", E.encode_webp_anim([rgba, rgba[::-1]], [40, 40])),
              ("webp", riff(vp8x + chunk(b"ANIM", bytes(6))
                            + chunk(b"ANMF", frame) * 2))]
    return seeds


@st.composite
def _mutated(draw, seeds):
    """A seed with 1-5 byte flips, truncations or 1-4 byte splices."""
    kind, data = draw(st.sampled_from(seeds))
    buf = bytearray(data)
    for op, at, val in draw(st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 1 << 16),
                      st.binary(min_size=1, max_size=4)),
            min_size=1, max_size=5)):
        at %= len(buf) + 1
        if op == 0 and at < len(buf):
            buf[at] = val[0]
        elif op == 1:
            del buf[max(at, 4):]
        else:
            buf[at:at] = val
    return kind, bytes(buf)


@settings(max_examples=300, deadline=timedelta(seconds=2))
@given(_mutated(_pixel_seeds()))
def test_decode_pixels_tiff_webp_only_typed_errors(case):
    kind, data = case
    try:
        px = decode_pixels(data, kind)
    except (CodecError, CodecUnavailable):
        return
    assert px.dtype == np.uint8 and px.ndim in (2, 3)


_BOMB = E.deflate_zeros(64 << 20)


@st.composite
def _deflate_swapped(draw):
    """A deflate TIFF or a PNG with a zlib-compressed XMP iTXt text,
    whose zlib stream is swapped for a high-ratio one: zeros one byte
    short of, at or past what the reader keeps, or 64 MiB of them, whole
    or cut short."""
    kind = draw(st.sampled_from(["tiff", "png"]))
    cut = draw(st.sampled_from([None, 3, 60]))

    def stream(need):
        n = draw(st.sampled_from([need - 1, need, need + 1, None]))
        z = _BOMB if n is None else E.deflate_zeros(n)
        return z if cut is None else z[:-cut]

    if kind == "png":
        itxt = b"XML:com.adobe.xmp" + bytes(5) + stream(XMP_INFLATE_CAP)
        return kind, E.encode_png(np.zeros((2, 2, 3), np.uint8),
                                  extra=((b"iTXt", itxt),))
    shape = draw(st.sampled_from([(1, 1, 3), (9, 7, 3), (70, 5, 1)]))
    return kind, E.encode_tiff(np.zeros(shape, np.uint8), "deflate",
                               deflate=lambda raw: stream(len(raw)))


@settings(max_examples=100, deadline=timedelta(seconds=2))
@given(_deflate_swapped())
def test_inflates_stay_bounded_on_high_ratio_streams(case):
    """Each inflate stops at what its reader keeps: a TIFF strip at its
    rows, an XMP text at XMP_INFLATE_CAP.  Decoding gives pixels or a
    typed error, the EXIF readers never raise, and no read allocates
    more than a few MiB, however far the stream would inflate."""
    kind, data = case
    tracemalloc.start()
    try:
        if kind == "tiff":
            try:
                px = decode_pixels(data, kind)
                assert px.dtype == np.uint8
            except (CodecError, CodecUnavailable):
                pass
        else:
            _png_info(data)
            exiftool_image("u", data)
            exif_image("u", data, "image/png")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 * XMP_INFLATE_CAP
