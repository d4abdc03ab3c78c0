"""Pure-stdlib + numpy image/audio codecs — the real pixel path behind
the multimodal operators.

The sandbox has no Pillow/ffmpeg, but several production container
formats are decodable with nothing beyond the standard library:

- PNG   — ``zlib`` inflate + scanline unfilter (filters 0-4, bit depths
          1/2/4/8/16, color types gray/RGB/palette/gray-alpha/RGBA).
- GIF   — LZW decompress of the first image descriptor (87a/89a,
          global/local color tables, interlace).
- BMP   — uncompressed BI_RGB 24/32-bit, bottom-up or top-down.
- PPM   — binary P6 / P5.
- WAV   — RIFF PCM 8/16-bit mono/stereo.
- JPEG  — baseline sequential DCT (SOF0): Huffman entropy decode,
          dequantize, numpy IDCT, chroma upsample, YCbCr→RGB.

All decoders return ``numpy.ndarray`` of shape (H, W, C) uint8 for
images (C in {1,3,4}) and (n_samples, n_channels) int16 for audio.
The container framing walks (RIFF/IFF chunks, PNG chunks, FLAC blocks,
ID3v2 frames, JPEG header segments, ICO entries, TIFF directory
entries) live here too, one per family, shared by every decoder and by
``media``'s header readers.
The package only decodes.  The round-trip tests write their fixtures
with the encoders in ``tests/encoders.py``, without any external library.

This mirrors the *role* of the reference's media plugins (container
metadata at packages/unfurl-exif/src/index.ts:16-47 and
packages/unfurl-exiftool/src/index.ts:25-86) but goes one layer deeper:
those stop at headers; a training-data pipeline needs pixels.

Formats that genuinely require out-of-container codec state (video
H.264/VP9, MP3/AAC audio) remain behind ``CodecUnavailable`` — that is
the honest boundary in this environment.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class CodecError(ValueError):
    """Payload is malformed for its declared container."""


class CodecUnavailable(NotImplementedError):
    """Container recognized but its codec is out of scope here
    (compressed video/audio essence)."""


def total(fn):
    """Totality wrapper for decoders: at corpus scale every byte
    pattern occurs, so low-level parse faults (short struct reads,
    index overruns, zlib state errors) must surface as the typed
    ``CodecError`` the operators' lineage columns understand — never
    as a raw ``struct.error`` that looks like an engine bug."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (CodecError, CodecUnavailable):
            raise
        except (struct.error, IndexError, KeyError, OverflowError,
                ZeroDivisionError, zlib.error, UnicodeDecodeError,
                # ValueError catches numpy reshape/broadcast faults and
                # int() header-token parses; CodecError (a ValueError
                # subclass) is already re-raised above, so the typed
                # contract is preserved
                ValueError) as exc:
            raise CodecError(
                f"{fn.__name__}: malformed payload ({exc})") from exc
    return wrapped


# allocation guard: a fuzzed/hostile header can declare 2^31×2^31 pixels;
# decoding allocates O(W*H) BEFORE pixel data length checks can catch it
MAX_PIXELS = 1 << 26  # 64 Mpx ≈ 256 MB RGBA — generous for real corpora


def _check_dims(w: int, h: int, what: str) -> None:
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise CodecError(f"{what}: implausible dimensions {w}x{h}")


def _to_rgba(img: np.ndarray) -> np.ndarray:
    """Gray, gray+alpha, RGB or RGBA pixels → RGBA; an opaque image gets
    alpha 255."""
    img = np.atleast_3d(img)
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    elif img.shape[2] == 2:  # gray+alpha
        img = np.concatenate([np.repeat(img[:, :, :1], 3, axis=2),
                              img[:, :, 1:]], axis=2)
    if img.shape[2] == 3:
        img = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=2)
    return img


# ---------------------------------------------------------------------------
# container framing: one walk per family, shared by the decoders here and
# in codecs_ext/vp8l and by the header readers in media.  A walker only
# frames; each caller keeps its own tag handling and decides whether a
# short or missing part is an error (decoders) or a capped prefix
# (header readers).  Spans are (start, end) as the header declares them:
# ``end`` may pass the end of ``data``, and slicing clips it.  The TIFF
# walk alone raises ``CodecError``, on a header or directory cut short:
# a directory has no length a caller could clip it to.  Every walk
# advances at least one byte per step, so it ends on any input.


def riff_chunks(data: bytes, pos: int, byteorder: str = "little"):
    """Yield (fourcc, start, end) for the chunks from ``pos`` on: RIFF
    (WAV, WebP, an ANMF frame body) is little-endian, IFF (AIFF's
    ``FORM``) big-endian.  An odd-sized chunk is followed by one pad
    byte."""
    while pos + 8 <= len(data):
        size = int.from_bytes(data[pos + 4:pos + 8], byteorder)
        yield data[pos:pos + 4], pos + 8, pos + 8 + size
        pos += 8 + size + (size & 1)


def png_chunks(data: bytes):
    """Yield (type, start, end) for the chunks after the PNG signature,
    through IEND."""
    pos = 8
    while pos + 8 <= len(data):
        size = int.from_bytes(data[pos:pos + 4], "big")
        tag = data[pos + 4:pos + 8]
        yield tag, pos + 8, pos + 8 + size
        if tag == b"IEND":
            return
        pos += 12 + size  # length, type, data, CRC


def flac_blocks(data: bytes):
    """Yield (block type, start, end) for the metadata blocks after the
    ``fLaC`` marker, through the one flagged last.  Audio frames start
    at the ``end`` of the last block yielded."""
    pos = 4
    while pos + 4 <= len(data):
        head = data[pos]
        end = pos + 4 + int.from_bytes(data[pos + 1:pos + 4], "big")
        yield head & 0x7F, pos + 4, end
        if head & 0x80:
            return
        pos = end


def _syncsafe(raw: bytes) -> int:
    v = 0
    for b in raw:
        v = (v << 7) | (b & 0x7F)
    return v


def id3_size(data: bytes) -> int:
    """Bytes the ID3v2 tag at the start of ``data`` declares: the
    10-byte header, the frames and a v2.4 footer."""
    return _syncsafe(data[6:10]) + (20 if data[5] & 0x10 else 10)


def id3_frames(data: bytes):
    """Yield (frame id, body) for the frames of the ID3v2 tag (v2.2-v2.4)
    at the start of ``data``.  Unsynchronisation (FF 00 stuffing) is
    reversed over the whole tag, which covers v2.2/2.3 and the v2.4
    per-frame flag on the frames read; a v2.3/2.4 extended header is
    skipped.  The walk stops at padding or at a frame that does not fit
    the tag."""
    if data[:3] != b"ID3" or len(data) < 10:
        return
    major, flags = data[3], data[5]
    end = min(id3_size(data), len(data))
    if flags & 0x80:
        data = data[:10] + data[10:end].replace(b"\xff\x00", b"\xff")
        end = len(data)
    pos = 10
    if flags & 0x40 and major >= 3:  # extended header
        if pos + 4 > len(data):
            return
        pos += (_syncsafe(data[pos:pos + 4]) if major == 4
                else int.from_bytes(data[pos:pos + 4], "big") + 4)
    idw = 3 if major == 2 else 4  # id and size widths
    while pos + 2 * idw <= end:
        fid = data[pos:pos + idw]
        if fid.strip(b"\x00") == b"":
            return  # padding
        raw = data[pos + idw:pos + 2 * idw]
        size = _syncsafe(raw) if major == 4 else int.from_bytes(raw, "big")
        pos += 2 * idw + (0 if major == 2 else 2)  # v2.3+: 2 flag bytes
        if size <= 0 or pos + size > end:
            return
        yield fid, data[pos:pos + size]
        pos += size


def jpeg_segments(data: bytes):
    """Yield (marker, start, end) for the JPEG header segments before the
    first SOS.  Bytes between segments are skipped one at a time, the
    standalone markers (SOI, TEM, RSTn) take no length, and a length
    below 2 gives an empty span."""
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:
            return
        seglen = int.from_bytes(data[i + 2:i + 4], "big")
        yield marker, i + 4, max(i + 4, i + 2 + seglen)
        i += 2 + seglen


def _restart_marker(data, pos) -> int:
    """The offset after the RSTn marker that ends a restart interval: the
    first marker at or after ``pos`` (0xFF not followed by 0x00 stuffing
    or 0xFF fill).  Any other marker, or none, means the interval's
    marker is lost, and decoding on would read the next segment's bytes
    as this scan's."""
    p = pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
            if 0xD0 <= data[p + 1] <= 0xD7:
                return p + 2
            raise CodecError(
                f"jpeg: marker 0xFF{data[p + 1]:02X} where RSTn expected")
        p += 1
    raise CodecError("jpeg: missing restart marker")


def ico_entries(data: bytes):
    """Yield (width, height, payload offset, payload size) for the ICONDIR
    entries (at most 64), up to the first one cut short.  A width or
    height byte of 0 means 256."""
    count = min(int.from_bytes(data[4:6], "little"), 64)
    for pos in range(6, 6 + 16 * count, 16):
        e = data[pos:pos + 16]
        if len(e) < 16:
            return
        yield (e[0] or 256, e[1] or 256, int.from_bytes(e[12:16], "little"),
               int.from_bytes(e[8:12], "little"))


# bytes per value by TIFF field type.  The signed and float types (6, 8,
# 9, 11, 12) count one byte per value like any unlisted type: no reader
# decodes them, and sizing them per TIFF 6.0 would change which entries
# the EXIF reader skips as out of range, and so its output.
_TIFF_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 10: 8}


def tiff_header(data: bytes) -> tuple[str, int]:
    """(struct byte order, first IFD offset) of a TIFF header: ``<`` for
    ``II``, ``>`` for ``MM``.  Any other mark, or a header shorter than
    8 bytes, is a ``CodecError``.  The magic 42 is not checked."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise CodecError("tiff: bad header")
    order = "<" if data[:2] == b"II" else ">"
    return order, struct.unpack_from(order + "I", data, 4)[0]


def tiff_entries(data: bytes, order: str, off: int):
    """Yield (tag, type, count, start, end) for the 12-byte entries of the
    TIFF directory (IFD) at ``off``.  The value span is the entry's own
    4-byte field when the value fits it, else where that field points.
    A directory whose count or entries run past ``data`` raises
    ``CodecError`` after the entries that fit."""
    if off + 2 > len(data):
        raise CodecError("tiff: IFD offset out of range")
    (n,) = struct.unpack_from(order + "H", data, off)
    for pos in range(off + 2, off + 2 + 12 * n, 12):
        if pos + 12 > len(data):
            raise CodecError("tiff: truncated IFD")
        tag, typ, count, field = struct.unpack_from(order + "HHII", data, pos)
        size = _TIFF_SIZES.get(typ, 1) * count
        start = pos + 8 if size <= 4 else field
        yield tag, typ, count, start, start + size


def _read_f80(b: bytes) -> int:
    """80-bit IEEE 754 extended float (the AIFF sample rate) → int Hz;
    a rate that is not finite or rounds below 1 Hz is a ``CodecError``."""
    if len(b) < 10:
        raise CodecError("aiff: short extended float")
    se, mant = struct.unpack(">HQ", b[:10])
    if se & 0x7FFF == 0x7FFF:
        raise CodecError("aiff: non-finite sample rate")
    try:
        rate = round(mant * 2.0 ** ((se & 0x7FFF) - 16383 - 63))
    except OverflowError:
        rate = 0
    if se & 0x8000 or rate < 1:
        raise CodecError("aiff: implausible sample rate")
    return rate


# ---------------------------------------------------------------------------
# PNG


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int
                  ) -> np.ndarray:
    """Undo per-scanline filtering.  Filters 0 (None) and 2 (Up) are
    fully vectorized; 1 (Sub) uses wrapping add.accumulate; 3/4 need the
    left neighbor mid-row so they run as a tight per-byte loop."""
    if len(raw) < height * (stride + 1):
        raise CodecError("png: truncated image data")
    rows = np.frombuffer(raw[:height * (stride + 1)], np.uint8)
    rows = rows.reshape(height, stride + 1)
    out = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: recon[i] = raw[i] + recon[i-bpp]
            for off in range(bpp):
                seg = line[off::bpp]
                np.add.accumulate(seg, dtype=np.uint8, out=seg)
        elif ftype == 2:  # Up
            line += prev
        elif ftype == 3:  # Average
            li = line.tolist()
            pv = prev.tolist()
            for i in range(stride):
                left = li[i - bpp] if i >= bpp else 0
                li[i] = (li[i] + ((left + pv[i]) >> 1)) & 0xFF
            line = np.array(li, np.uint8)
        elif ftype == 4:  # Paeth
            li = line.tolist()
            pv = prev.tolist()
            for i in range(stride):
                left = li[i - bpp] if i >= bpp else 0
                up_left = pv[i - bpp] if i >= bpp else 0
                li[i] = (li[i] + _paeth(left, pv[i], up_left)) & 0xFF
            line = np.array(li, np.uint8)
        else:
            raise CodecError(f"png: unknown filter type {ftype}")
        out[y] = line
        prev = line
    return out


def _png_unpack_bits(row: np.ndarray, depth: int, width: int) -> np.ndarray:
    """Expand sub-byte samples (depth 1/2/4) to one value per entry."""
    if depth == 8:
        return row[:width]
    bits = np.unpackbits(row)
    per = 8 // depth
    vals = np.zeros(len(row) * per, np.uint8)
    for k in range(depth):
        vals |= (bits[k::depth].astype(np.uint8) << (depth - 1 - k))
    return vals[:width]


# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


@total
def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise CodecError("png: bad signature")
    width = None
    idat, palette, trns = [], None, None
    height = depth = ctype = interlace = 0
    for ctag, start, end in png_chunks(data):
        body = data[start:end]
        if ctag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if comp or filt:
                raise CodecError("png: unknown compression/filter method")
        elif ctag == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctag == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif ctag == b"IDAT":
            idat.append(body)
    if width is None:
        raise CodecError("png: missing IHDR")
    if not idat:
        raise CodecError("png: no image data (header-only payload)")
    _check_dims(width, height, "png")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise CodecError(f"png: bad color type {ctype}")
    # inflate capped at the raw size the header implies (+1 slack byte to
    # detect overrun) — an unbounded decompress would let a 1 KB zip-bomb
    # payload allocate gigabytes before any length check runs
    bits_pp = channels * (16 if depth == 16 else depth)
    max_stride = (width * bits_pp + 7) // 8
    # Adam7 stores ~1.875*height scanlines (each with a filter byte), so
    # 2*height rows upper-bounds both layouts
    expected = 2 * (height + 15) * (max_stride + 1)
    try:
        raw = zlib.decompressobj().decompress(b"".join(idat), expected + 1)
    except zlib.error as exc:
        raise CodecError(f"png: zlib {exc}") from exc
    if len(raw) > expected:
        raise CodecError("png: image data exceeds declared dimensions")

    def deframe(w: int, h: int, buf: bytes) -> tuple[np.ndarray, bytes]:
        """Unfilter one (sub)image of w×h; returns (HxWxC, rest-of-buf)."""
        if depth == 16:
            stride = w * channels * 2
            bpp = channels * 2
        else:
            stride = (w * channels * depth + 7) // 8
            bpp = max(1, channels * depth // 8)
        nbytes = h * (stride + 1)
        flat = _png_unfilter(buf[:nbytes], h, stride, bpp)
        if depth == 16:
            img = flat.reshape(h, -1)[:, ::2].reshape(h, w, channels)
        elif depth == 8:
            img = flat.reshape(h, w, channels)
        else:
            img = np.stack([_png_unpack_bits(flat[y], depth, w)
                            for y in range(h)]).reshape(h, w, 1)
            if ctype == 0:  # scale 1/2/4-bit gray to full range
                img = (img.astype(np.uint16)
                       * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return img, buf[nbytes:]

    if interlace == 0:
        img, _ = deframe(width, height, raw)
    elif interlace == 1:
        img = np.zeros((height, width, channels), np.uint8)
        buf = raw
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            sub, buf = deframe(pw, ph, buf)
            img[y0::dy, x0::dx] = sub
    else:
        raise CodecError(f"png: bad interlace {interlace}")

    if ctype == 3:
        if palette is None:
            raise CodecError("png: palette image without PLTE")
        idx = img[:, :, 0]
        rgb = palette[idx]
        if trns is not None:
            alpha = np.full(256, 255, np.uint8)
            alpha[:len(trns)] = trns
            return np.dstack([rgb, alpha[idx]])
        return rgb
    return img


# ---------------------------------------------------------------------------
# GIF


def _lzw_decode(min_code_size: int, data: bytes,
                max_out: int | None = None) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise CodecError("gif: LZW code out of range")
            out += entry
            if max_out is not None and len(out) > max_out:
                return bytes(out[:max_out])  # bomb guard: dims bound output
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return bytes(out)


def _gif_frames_raw(data: bytes, max_frames: int | None = None):
    """Parse GIF blocks, yielding one raw (un-composited) record per
    image descriptor: (ix, iy, idx_array, palette, transparent_index,
    delay_ms, disposal)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise CodecError("gif: bad signature")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    _check_dims(max(1, sw), max(1, sh), "gif")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(-1, 3)
        pos += 3 * n
    transparent = None
    delay_ms = 0
    disposal = 0
    n_out = 0
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                gflags = data[pos + 1]
                disposal = (gflags >> 2) & 7
                delay_ms = struct.unpack(
                    "<H", data[pos + 2:pos + 4])[0] * 10
                transparent = data[pos + 4] if gflags & 1 else None
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack("<HHHHB",
                                                   data[pos + 1:pos + 10])
            pos += 10
            lct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                lct = np.frombuffer(data[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if lct is None:
                raise CodecError("gif: no color table")
            min_code = data[pos]
            pos += 1
            sub = bytearray()
            while data[pos]:
                ln = data[pos]
                sub += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            _check_dims(iw, ih, "gif")
            idx = np.frombuffer(
                _lzw_decode(min_code, bytes(sub), max_out=iw * ih),
                np.uint8)
            if len(idx) < iw * ih:
                raise CodecError("gif: truncated pixel data")
            idx = idx[:iw * ih].reshape(ih, iw)
            if iflags & 0x40:  # interlaced rows
                deinter = np.zeros_like(idx)
                order = (list(range(0, ih, 8)) + list(range(4, ih, 8))
                         + list(range(2, ih, 4)) + list(range(1, ih, 2)))
                deinter[order] = idx
                idx = deinter
            pal = np.zeros((256, 3), np.uint8)
            pal[:len(lct)] = lct
            yield (sw, sh, ix, iy, idx, pal, transparent, delay_ms,
                   disposal)
            n_out += 1
            if max_frames is not None and n_out >= max_frames:
                return
            transparent = None
            delay_ms = 0
            disposal = 0
        elif block == 0x3B:
            break
        else:
            raise CodecError(f"gif: unknown block 0x{block:02x}")
    if n_out == 0:
        raise CodecError("gif: no image descriptor")


@total
def decode_gif(data: bytes) -> np.ndarray:
    """First frame, un-composited (matches single-image GIFs exactly)."""
    for (_sw, _sh, _ix, _iy, idx, pal, transparent, _d,
         _disp) in _gif_frames_raw(data, max_frames=1):
        rgb = pal[idx]
        if transparent is not None:
            alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
            return np.dstack([rgb, alpha])
        return rgb
    raise CodecError("gif: no image descriptor")


@total
def decode_gif_frames(data: bytes, max_frames: int | None = None
                      ) -> list[tuple[int, np.ndarray]]:
    """Animated GIF → [(delay_ms, HxWx3 canvas), ...] composited per the
    GIF disposal model onto the logical screen: disposal 0/1 leave the
    canvas, 2 restores background (black), 3 restores the previous
    canvas; transparent pixels leave the underlying canvas visible."""
    frames: list[tuple[int, np.ndarray]] = []
    canvas = None
    for (sw, sh, ix, iy, idx, pal, transparent, delay_ms,
         disposal) in _gif_frames_raw(data, max_frames):
        if canvas is None:
            canvas = np.zeros((sh, sw, 3), np.uint8)
        before = canvas.copy() if disposal == 3 else None
        region = canvas[iy:iy + idx.shape[0], ix:ix + idx.shape[1]]
        rh, rw = region.shape[:2]  # clip frames overhanging the screen
        rgb = pal[idx][:rh, :rw]
        if transparent is not None:
            mask = (idx[:rh, :rw] != transparent)[:, :, None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        frames.append((delay_ms, canvas.copy()))
        if disposal == 2:  # restore to background
            canvas[iy:iy + idx.shape[0], ix:ix + idx.shape[1]] = 0
        elif disposal == 3 and before is not None:
            canvas = before
    return frames


# ---------------------------------------------------------------------------
# BMP / PPM


def _bmp_rle(data: bytes, pos: int, w: int, h: int,
             four_bit: bool) -> np.ndarray:
    """RLE8/RLE4 decode → (h, w) palette indices, bottom-up rows.
    Escapes: 00 00 end-of-line, 00 01 end-of-bitmap, 00 02 dx dy
    delta, 00 n≥3 absolute run (word-padded)."""
    idx = np.zeros((h, w), np.uint8)
    x = y = 0
    n = len(data)
    while pos + 1 < n and y < h:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            if four_bit:
                pair = (val >> 4, val & 15)
                for i in range(cnt):
                    if x < w:
                        idx[y, x] = pair[i & 1]
                        x += 1
            else:
                end = min(w, x + cnt)
                idx[y, x:end] = val
                x = min(w, x + cnt)
            continue
        if val == 0:        # end of line
            x, y = 0, y + 1
        elif val == 1:      # end of bitmap
            break
        elif val == 2:      # delta
            if pos + 1 >= n:
                break
            x = min(w, x + data[pos])
            y += data[pos + 1]
            pos += 2
        else:               # absolute mode: val literal pixels
            if four_bit:
                nbytes = (val + 1) // 2
                chunk = data[pos:pos + nbytes]
                pos += nbytes + (nbytes & 1)
                k = 0
                for b in chunk:
                    for nib in (b >> 4, b & 15):
                        if k >= val:
                            break
                        if x < w:
                            idx[y, x] = nib
                            x += 1
                        k += 1
            else:
                chunk = data[pos:pos + val]
                pos += val + (val & 1)
                for b in chunk:
                    if x < w:
                        idx[y, x] = b
                        x += 1
    return idx


@total
def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise CodecError("bmp: bad signature")
    (off,) = struct.unpack("<I", data[10:14])
    hsize, w, h, _planes, bpp, comp = struct.unpack("<IiihHI", data[14:34])
    flip = h > 0
    h = abs(h)
    _check_dims(w, h, "bmp")
    if bpp in (24, 32) and comp == 0:
        nch = bpp // 8
        stride = (w * nch + 3) & ~3
        px = np.frombuffer(data[off:off + stride * h], np.uint8)
        if len(px) < stride * h:
            raise CodecError("bmp: truncated")
        px = px.reshape(h, stride)[:, :w * nch].reshape(h, w, nch)
        img = px[:, :, [2, 1, 0]] if nch == 3 else px[:, :, [2, 1, 0, 3]]
        return img[::-1] if flip else img
    if bpp == 16 and comp in (0, 3):
        # BI_RGB 16-bit = X1R5G5B5; BI_BITFIELDS carries explicit masks
        # right after the info header (565 in practice)
        if comp == 3:
            mpos = 14 + hsize
            if hsize >= 52:     # V2+ header embeds the masks
                mpos = 14 + 40
            masks = struct.unpack("<III", data[mpos:mpos + 12])
        else:
            masks = (0x7C00, 0x03E0, 0x001F)
        stride = (w * 2 + 3) & ~3
        raw = np.frombuffer(data[off:off + stride * h], np.uint8)
        if len(raw) < stride * h:
            raise CodecError("bmp: truncated")
        v = raw.reshape(h, stride)[:, :w * 2].reshape(h, w, 2)
        v16 = v[:, :, 0].astype(np.uint32) | (v[:, :, 1].astype(np.uint32)
                                              << 8)
        chans = []
        for m in masks:
            if not m:
                raise CodecError("bmp: zero bitfield mask")
            shift = (m & -m).bit_length() - 1
            width_bits = (m >> shift).bit_length()
            c = (v16 & m) >> shift
            # expand to 8 bits with rounding (bit replication)
            c = (c * 255 + ((1 << width_bits) - 1) // 2) \
                // ((1 << width_bits) - 1)
            chans.append(c.astype(np.uint8))
        img = np.dstack(chans)
        return img[::-1] if flip else img
    if bpp in (1, 4, 8):
        # palette images: BGRA color table follows the info header
        (clr_used,) = struct.unpack("<I", data[46:50]) \
            if len(data) >= 50 else (0,)
        ncolors = clr_used or (1 << bpp)
        pal_at = 14 + hsize
        pal = np.frombuffer(data[pal_at:pal_at + 4 * ncolors], np.uint8)
        if len(pal) < 4 * ncolors:
            raise CodecError("bmp: truncated palette")
        lut = pal.reshape(-1, 4)[:, [2, 1, 0]]      # BGRx → RGB
        if comp == 0:
            stride = ((w * bpp + 31) // 32) * 4
            raw = np.frombuffer(data[off:off + stride * h], np.uint8)
            if len(raw) < stride * h:
                raise CodecError("bmp: truncated")
            rows = raw.reshape(h, stride)
            if bpp == 8:
                idx = rows[:, :w]
            elif bpp == 4:
                nib = np.empty((h, stride * 2), np.uint8)
                nib[:, 0::2] = rows >> 4
                nib[:, 1::2] = rows & 15
                idx = nib[:, :w]
            else:
                bits = np.unpackbits(rows, axis=1)
                idx = bits[:, :w]
        elif (comp, bpp) in ((1, 8), (2, 4)):
            # RLE rows are ALWAYS bottom-up (top-down RLE is invalid)
            idx = _bmp_rle(data, off, w, h, four_bit=(comp == 2))
        else:
            raise CodecError(f"bmp: compression {comp} unsupported")
        idx = np.clip(idx, 0, ncolors - 1)
        img = lut[idx]
        return img[::-1] if flip else img
    raise CodecError(f"bmp: {bpp}-bit/compression {comp} unsupported")


@total
def decode_ppm(data: bytes) -> np.ndarray:
    magic = data[:2]
    if magic not in (b"P6", b"P5"):
        raise CodecError("ppm: bad magic")
    # header: magic, whitespace-separated w h maxval, single whitespace
    fields, pos, tok = [], 2, b""
    while len(fields) < 3 and pos < len(data):
        ch = data[pos:pos + 1]
        pos += 1
        if ch == b"#":
            while pos < len(data) and data[pos:pos + 1] != b"\n":
                pos += 1
        elif ch.isspace():
            if tok:
                fields.append(int(tok))
                tok = b""
        else:
            tok += ch
    if len(fields) < 3:
        raise CodecError("ppm: truncated header")
    w, h, maxval = fields
    if maxval > 255:
        raise CodecError("ppm: 16-bit unsupported")
    _check_dims(w, h, "ppm")
    nch = 3 if magic == b"P6" else 1
    px = np.frombuffer(data[pos:pos + w * h * nch], np.uint8)
    if len(px) < w * h * nch:
        raise CodecError("ppm: truncated pixels")
    return px.reshape(h, w, nch)


# ---------------------------------------------------------------------------
# WAV


@total
def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """→ (sample_rate, samples[n, channels] int16)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise CodecError("wav: bad signature")
    rate, channels, bits = None, None, None
    samples = None
    for tag, start, end in riff_chunks(data, 12):
        body = data[start:end]
        if tag == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise CodecUnavailable(f"wav: non-PCM format {fmt}")
        elif tag == b"data":
            if bits is None:
                raise CodecError("wav: data before fmt")
            if bits == 16:
                samples = np.frombuffer(
                    body[:len(body) & ~1], "<i2").astype(np.int16)
            elif bits == 8:
                samples = ((np.frombuffer(body, np.uint8).astype(np.int16)
                            - 128) << 8)
            else:
                raise CodecError(f"wav: {bits}-bit unsupported")
    if rate is None or samples is None:
        raise CodecError("wav: missing fmt/data chunk")
    n = len(samples) // channels * channels
    return rate, samples[:n].reshape(-1, channels)


# ---------------------------------------------------------------------------
# shared raster ops


def resize_area(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Box-filter resample (area-average down, nearest-up) — the
    standard thumbnailing kernel, vectorized in numpy."""
    img = np.atleast_3d(img)
    h, w, c = img.shape
    ys = (np.arange(out_h + 1) * h / out_h).round().astype(int)
    xs = (np.arange(out_w + 1) * w / out_w).round().astype(int)
    ys[-1], xs[-1] = h, w
    # integral image → O(1) box sums per output pixel
    integ = np.zeros((h + 1, w + 1, c), np.float64)
    integ[1:, 1:] = np.cumsum(np.cumsum(img, axis=0), axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    y1 = np.minimum(y1, h)
    x1 = np.minimum(x1, w)
    y0 = np.minimum(y0, y1 - 1)
    x0 = np.minimum(x0, x1 - 1)
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :]).astype(np.float64)
    total = (integ[y1][:, x1] - integ[y1][:, x0]
             - integ[y0][:, x1] + integ[y0][:, x0])
    return np.clip(total / area[:, :, None], 0, 255).astype(np.uint8)
