"""Property-based robustness: at 10^12 documents every malformed input
occurs; the kernels must never raise — errors surface per-doc through
the `ok` lineage column, not as task failures.

(The reference has no property tests, SURVEY §5 — this exceeds its
test strategy on purpose: task-killing exceptions are the one failure
mode a 1000-executor run cannot tolerate.)
"""

from datetime import timedelta
from itertools import islice

from hypothesis import given, settings
from hypothesis import strategies as st

from unfurl_spark.functions.codecs import (
    flac_blocks,
    ico_entries,
    id3_frames,
    jpeg_segments,
    png_chunks,
    riff_chunks,
)
from unfurl_spark.functions.content import classify_blocks
from unfurl_spark.functions.engine import flat_document_spans, scrape_document
from unfurl_spark.functions.htmlmeta import parse_html_full
from unfurl_spark.functions.media import (
    _walk_ebml,
    _walk_mp4_boxes,
    exif_image,
    exiftool_image,
    exiftool_pdf,
    parse_pdf_info,
)

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
