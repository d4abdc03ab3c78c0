"""Matroska/WebM EBML container metadata (media.mkv_metadata): doctype,
TimestampScale-scaled duration, video track dimensions — on synthesized
containers, truncation, and malformed input."""

import struct

from unfurl_spark.functions.media import _sniff, exiftool_video, mkv_metadata


def _vint_size(n: int) -> bytes:
    """Encode a size as a minimal EBML vint."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            marker = 1 << (7 * length)
            return (marker | n).to_bytes(length, "big")
    raise ValueError(n)


def _el(eid: int, payload: bytes) -> bytes:
    id_len = (eid.bit_length() + 7) // 8
    return eid.to_bytes(id_len, "big") + _vint_size(len(payload)) + payload


def _mkv(doctype=b"webm", scale=None, duration=None, tracks=()):
    header = _el(0x1A45DFA3, _el(0x4282, doctype))
    info = b""
    if scale is not None:
        info += _el(0x2AD7B1, scale.to_bytes(4, "big"))
    if duration is not None:
        info += _el(0x4489, struct.pack(">d", duration))
    seg = _el(0x1549A966, info)
    track_entries = b""
    for ttype, w, h in tracks:
        video = (_el(0xB0, w.to_bytes(2, "big"))
                 + _el(0xBA, h.to_bytes(2, "big"))) if w else b""
        entry = _el(0x83, bytes([ttype]))
        if video:
            entry += _el(0xE0, video)
        track_entries += _el(0xAE, entry)
    if track_entries:
        seg += _el(0x1654AE6B, track_entries)
    return header + _el(0x18538067, seg)


def test_mkv_dims_duration_doctype():
    data = _mkv(doctype=b"webm", scale=1_000_000, duration=2500.0,
                tracks=[(2, 0, 0), (1, 640, 360)])
    assert _sniff(data) == "webm"
    meta = mkv_metadata(data)
    assert meta["doctype"] == "webm"
    assert (meta["width"], meta["height"]) == (640, 360)
    # 2500 ticks × 1ms scale = 2.5 s
    assert meta["duration_s"] == 2.5


def test_mkv_largest_video_track_wins_and_default_scale():
    data = _mkv(duration=1000.0,
                tracks=[(1, 320, 180), (1, 1920, 1080)])
    meta = mkv_metadata(data)
    assert (meta["width"], meta["height"]) == (1920, 1080)
    assert meta["duration_s"] == 1.0  # default TimestampScale = 1 ms


def test_mkv_exiftool_mime_split():
    webm = _mkv(doctype=b"webm")
    mkv = _mkv(doctype=b"matroska")
    assert exiftool_video("u", webm)["encodingFormat"] == "video/webm"
    assert exiftool_video("u", mkv)["encodingFormat"] == "video/x-matroska"


def test_mkv_unknown_size_segment():
    """Streaming muxers write the Segment with unknown size (all vint
    bits set) — the walk must extend it to the buffer end."""
    body = _el(0x1549A966, _el(0x4489, struct.pack(">d", 3000.0)))
    data = (_el(0x1A45DFA3, _el(0x4282, b"webm"))
            + (0x18538067).to_bytes(4, "big") + b"\xff" + body)
    assert mkv_metadata(data)["duration_s"] == 3.0


def test_mkv_truncated_and_garbage_total():
    data = _mkv(scale=1_000_000, duration=10.0, tracks=[(1, 640, 360)])
    for cut in range(0, len(data), 7):
        mkv_metadata(data[:cut])  # never raises
    assert mkv_metadata(b"") == {}
    assert mkv_metadata(b"\x1aE\xdf\xa3" + b"\x00" * 32) == {}
    assert mkv_metadata(b"not ebml at all") == {}


def test_mkv_attached_cover_art():
    """Matroska Attachments carrying an image (the cover.jpg convention)
    feed embedded_cover → decode_pixels real pixels for webm."""
    import numpy as np

    from encoders import encode_png
    from unfurl_spark.functions.media import embedded_cover
    from unfurl_spark.functions.multimodal import decode_pixels

    art = np.zeros((4, 5, 3), dtype=np.uint8)
    art[:, :, 0] = 90
    png = encode_png(art)
    attached = _el(0x61A7,
                   _el(0x466E, "cover.png".encode())
                   + _el(0x4660, b"image/png")
                   + _el(0x465C, png))
    base = _mkv(tracks=((1, 64, 48),))
    # splice Attachments into the Segment: rebuild with extra payload
    header = _el(0x1A45DFA3, _el(0x4282, b"webm"))
    seg_payload = (_el(0x1549A966, b"")
                   + _el(0x1941A469, attached))
    data = header + _el(0x18538067, seg_payload)
    got = embedded_cover(data)
    assert got is not None and got[1] == "mkv:attachment"
    assert got[0] == png
    px = decode_pixels(data, "webm")
    assert np.array_equal(px, art)
    # audio-only attachment (non-image, no cover name) stays a boundary
    att2 = _el(0x61A7, _el(0x466E, b"sub.srt")
               + _el(0x4660, b"text/plain") + _el(0x465C, b"1\n"))
    data2 = header + _el(0x18538067, _el(0x1941A469, att2))
    assert embedded_cover(data2) is None
    assert mkv_metadata(base).get("width") == 64
