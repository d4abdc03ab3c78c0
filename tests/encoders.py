"""Fixture encoders for the codec tests.

The package only decodes media: a job reads container headers and
decodes pixels and samples, and never writes an image or a sound.  The
tests still need round-trip inputs in every format the decoders cover,
written without any external library, so the writers live here, beside
``vp8sys`` (the system-libwebp golden).  Each encoder is an independent
walk of its format's spec, so a round trip checks both directions.

Formats: PNG, GIF (still and animated), BMP, PPM, WAV (``codecs``); ICO,
APNG, FLAC, TIFF, AIFF (``codecs_ext``); JPEG baseline, progressive and
lossless (``jpegc``); VP8 key frames and the WebP wrapper (``vp8``);
VP8L and animated WebP (``vp8l``).  The tables and helpers they share
with the decoders are imported from those modules.
"""

from __future__ import annotations

import heapq
import struct
import zlib

import numpy as np

from unfurl_spark.functions.codecs import CodecError
from unfurl_spark.functions.codecs_ext import _chunk, _crc8, _crc16, _to_rgba
from unfurl_spark.functions.jpegc import _DCT_C, ZIGZAG, _canonical_codes
from unfurl_spark.functions.vp8 import (
    B_DC_PRED,
    B_PRED,
    BMODE_TREE,
    COEFF_BANDS,
    KF_UV_MODE_PROB,
    KF_YMODE_PROB,
    KF_YMODE_TREE,
    PCAT,
    UV_MODE_TREE,
    _MB_TO_B,
)
from unfurl_spark.functions.vp8 import ZIGZAG as VP8_ZIGZAG
from unfurl_spark.functions.vp8_tables import (
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    KF_BMODE_PROBS,
)
from unfurl_spark.functions.vp8l import _CL_ORDER, _predict, _sub_size


# ---------------------------------------------------------------------------
# PNG / GIF / BMP / PPM / WAV


def encode_png(img: np.ndarray, extra: tuple = ()) -> bytes:
    """Minimal encoder: 8-bit, filter 0, non-interlaced.  ``extra``
    holds (type, body) chunks to write between IHDR and IDAT."""
    img = np.ascontiguousarray(np.atleast_3d(img).astype(np.uint8))
    h, w, c = img.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + b"".join(_chunk(tag, body) for tag, body in extra)
            + _chunk(b"IDAT", zlib.compress(raw, 6)) + _chunk(b"IEND", b""))


def deflate_zeros(n: int) -> bytes:
    """A zlib stream of ``n`` zero bytes (about 1 KiB of stream per MiB),
    compressed 1 MiB at a time at the default level (header 78 9C)."""
    z = zlib.compressobj()
    out = [z.compress(bytes(min(1 << 20, n - i)))
           for i in range(0, n, 1 << 20)]
    return b"".join(out) + z.flush()


def _lzw_encode(min_code_size: int, pixels: bytes) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    run = b""
    for px in pixels:
        cand = run + bytes([px])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        run = bytes([px])
    if run:
        emit(table[run])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(img: np.ndarray) -> bytes:
    """Encoder for test fixtures: quantizes to a 256-color table built
    from the image's distinct colors (must be ≤256)."""
    img = np.atleast_3d(img.astype(np.uint8))
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    h, w, _ = img.shape
    flat = img[:, :, :3].reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise CodecError("gif encoder: >256 distinct colors")
    depth = max(1, int(np.ceil(np.log2(max(2, len(colors))))))
    n = 1 << depth
    table = np.zeros((n, 3), np.uint8)
    table[:len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = max(2, depth)
    out.append(min_code)
    lzw = _lzw_encode(min_code, inverse.astype(np.uint8).tobytes())
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3B"
    return bytes(out)


def encode_gif_anim(frames: list[np.ndarray],
                    delay_ms: int = 100) -> bytes:
    """Animated-GIF encoder for test fixtures: one shared palette built
    from all frames' distinct colors (≤256 total), one graphic-control
    extension + full-screen image descriptor per frame, disposal 'leave'."""
    if not frames:
        raise CodecError("gif encoder: no frames")
    norm = []
    for f in frames:
        f = np.atleast_3d(f.astype(np.uint8))
        if f.shape[2] == 1:
            f = np.repeat(f, 3, axis=2)
        norm.append(f[:, :, :3])
    h, w, _ = norm[0].shape
    if any(f.shape != (h, w, 3) for f in norm):
        raise CodecError("gif encoder: frames must share one size")
    allpx = np.concatenate([f.reshape(-1, 3) for f in norm])
    colors, inverse = np.unique(allpx, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise CodecError("gif encoder: >256 distinct colors")
    depth = max(1, int(np.ceil(np.log2(max(2, len(colors))))))
    n = 1 << depth
    table = np.zeros((n, 3), np.uint8)
    table[:len(colors)] = colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += table.tobytes()
    min_code = max(2, depth)
    per = h * w
    for fi in range(len(norm)):
        out += b"\x21\xF9\x04"  # GCE: disposal=1 (leave), no transparency
        out += bytes([0x04]) + struct.pack("<H", delay_ms // 10) + b"\x00\x00"
        out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(min_code)
        idx = inverse[fi * per:(fi + 1) * per].astype(np.uint8)
        lzw = _lzw_encode(min_code, idx.tobytes())
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def encode_bmp(img: np.ndarray) -> bytes:
    img = np.atleast_3d(img.astype(np.uint8))
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    h, w, _ = img.shape
    bgr = img[:, :, [2, 1, 0]][::-1]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w * 3] = bgr.reshape(h, -1)
    body = rows.tobytes()
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiihHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 2835, 2835, 0, 0))
    return header + body


def encode_ppm(img: np.ndarray) -> bytes:
    img = np.atleast_3d(img.astype(np.uint8))
    h, w, c = img.shape
    if c == 1:
        return b"P5 %d %d 255\n" % (w, h) + img.tobytes()
    return b"P6 %d %d 255\n" % (w, h) + img[:, :, :3].tobytes()


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    samples = np.asarray(samples, "<i2")
    if samples.ndim == 1:  # mono vector → (n, 1); never transpose 2-D
        samples = samples[:, None]
    n, ch = samples.shape
    body = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)


# ---------------------------------------------------------------------------
# ICO / APNG / FLAC / TIFF / AIFF


def encode_ico(img: np.ndarray, png_entry: bool = False) -> bytes:
    """Single-entry ICO writer for fixtures: PNG-in-ICO or a 32bpp DIB
    with an all-opaque AND mask."""
    img = np.atleast_3d(img.astype(np.uint8))
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    if img.shape[2] == 3:
        img = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=2)
    h, w, _ = img.shape
    if png_entry:
        body = encode_png(img)
    else:
        bgra = img[:, :, [2, 1, 0, 3]][::-1].reshape(h, -1).tobytes()
        mask_stride = ((w + 31) // 32) * 4
        mask = b"\x00" * (mask_stride * h)
        header = struct.pack("<IiihHIIiiII", 40, w, h * 2, 1, 32, 0,
                             len(bgra) + len(mask), 0, 0, 0, 0)
        body = header + bgra + mask
    entry = struct.pack("<BBBBHHII", w if w < 256 else 0,
                        h if h < 256 else 0, 0, 0, 1, 32, len(body), 22)
    return b"\x00\x00\x01\x00\x01\x00" + entry + body


def encode_apng(frames: list[np.ndarray], delays_ms: list[int]
                ) -> bytes:
    """Fixture writer: full-canvas RGBA frames, blend=source,
    dispose=none."""
    if not frames or len(frames) != len(delays_ms):
        raise ValueError("frames/delays mismatch")
    frames = [_to_rgba(np.atleast_3d(f.astype(np.uint8))) for f in frames]
    h, w, _ = frames[0].shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    out = [b"\x89PNG\r\n\x1a\n", _chunk(b"IHDR", ihdr),
           _chunk(b"acTL", struct.pack(">II", len(frames), 0))]
    seq = 0

    def fctl(delay: int) -> bytes:
        nonlocal seq
        body = struct.pack(">IIIIIHHBB", seq, w, h, 0, 0, delay, 1000, 0, 0)
        seq += 1
        return _chunk(b"fcTL", body)

    def raw_idat(img: np.ndarray) -> bytes:
        return zlib.compress(
            b"".join(b"\x00" + img[y].tobytes() for y in range(h)), 6)

    out.append(fctl(delays_ms[0]))
    out.append(_chunk(b"IDAT", raw_idat(frames[0])))
    for img, delay in zip(frames[1:], delays_ms[1:]):
        out.append(fctl(delay))
        body = raw_idat(img)
        out.append(_chunk(b"fdAT", struct.pack(">I", seq) + body))
        seq += 1
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


class _FlacBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _rice_write(w: _FlacBitWriter, residuals: list[int], param: int) -> None:
    for r in residuals:
        v = (r << 1) if r >= 0 else (((-r) << 1) - 1)
        q = v >> param
        w.write(0, q)       # q zero bits
        w.write(1, 1)       # terminator
        if param:
            w.write(v & ((1 << param) - 1), param)


def encode_flac(rate: int, samples: np.ndarray,
                blocksize: int = 4096) -> bytes:
    """Fixture writer: independent channels; per-subframe CONSTANT when
    flat, FIXED order-2 + single-partition Rice when it compresses, else
    VERBATIM — so round-trip tests exercise the constant, fixed-predictor,
    Rice, and verbatim decode paths."""
    samples = np.asarray(samples, np.int16)
    # 2-D input is authoritative (n_samples, n_channels) — matching
    # encode_wav/decode_flac; only 1-D input is promoted to mono.
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    elif samples.ndim != 2:
        raise ValueError("samples must be 1-D or (n_samples, n_channels)")
    n, nch = samples.shape
    if not 1 <= nch <= 8:
        raise ValueError("flac: 1-8 channels")

    si = _FlacBitWriter()
    si.write(blocksize, 16); si.write(blocksize, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(rate, 20); si.write(nch - 1, 3); si.write(15, 5)  # 16-bit
    si.write(n, 36)
    streaminfo = si.bytes() + b"\x00" * 16  # md5 unknown (all zero = unset)
    out = [b"fLaC",
           bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:],
           streaminfo]

    for fno in range(0, (n + blocksize - 1) // blocksize):
        lo = fno * blocksize
        block = samples[lo:lo + blocksize]
        bs = block.shape[0]
        w = _FlacBitWriter()
        w.write(0x3FFE, 14); w.write(0, 1); w.write(0, 1)
        w.write(7, 4)        # blocksize: 16-bit at end of header
        w.write(0, 4)        # sample rate: from STREAMINFO
        w.write(nch - 1, 4)  # independent channels
        w.write(4, 3)        # 16-bit samples
        w.write(0, 1)
        if fno < 0x80:       # UTF-8 coded frame number
            w.write(fno, 8)
        else:
            w.write(0xC0 | (fno >> 6), 8)
            w.write(0x80 | (fno & 0x3F), 8)
        w.write(bs - 1, 16)
        w.align()
        hdr = w.bytes()
        w = _FlacBitWriter()
        for b in hdr:
            w.write(b, 8)
        w.write(_crc8(hdr), 8)

        for c in range(nch):
            col = block[:, c].astype(np.int64)
            if bs > 2 and (col == col[0]).all():
                w.write(0, 1); w.write(0, 6); w.write(0, 1)  # CONSTANT
                w.write(int(col[0]), 16)
                continue
            use_fixed = bs > 2
            if use_fixed:
                res = (col[2:] - 2 * col[1:-1] + col[:-2]).tolist()
                mean = sum(abs(r) for r in res) / max(1, len(res))
                param = 0
                while (1 << param) < mean + 1 and param < 14:
                    param += 1
                fixed_bits = 32 + sum(
                    ((abs(r) << 1) >> param) + 1 + param for r in res)
                if fixed_bits >= bs * 16:
                    use_fixed = False
            if use_fixed:
                w.write(0, 1); w.write(10, 6); w.write(0, 1)  # FIXED o2
                w.write(int(col[0]), 16); w.write(int(col[1]), 16)
                w.write(0, 2)   # Rice 4-bit params
                w.write(0, 4)   # partition order 0
                w.write(param, 4)
                _rice_write(w, res, param)
            else:
                w.write(0, 1); w.write(1, 6); w.write(0, 1)   # VERBATIM
                for v in col.tolist():
                    w.write(int(v), 16)
        w.align()
        frame = w.bytes()
        out.append(frame + struct.pack(">H", _crc16(frame)))
    return b"".join(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    w = _FlacBitWriter()
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    w.write(CLEAR, width)
    cur = b""
    for byte in data:
        cand = cur + bytes([byte])
        if cand in table:
            cur = cand
            continue
        w.write(table[cur], width)
        table[cand] = nxt
        nxt += 1
        if nxt + 1 > (1 << width) and width < 12:
            width += 1
        if nxt >= 4094:
            w.write(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        cur = bytes([byte])
    if cur:
        w.write(table[cur], width)
    w.write(EOI, width)
    w.align()
    return w.bytes()


def encode_tiff(img: np.ndarray, compression: str = "none",
                predictor: bool = False, deflate=zlib.compress) -> bytes:
    """Fixture writer: little-endian, single strip per 64 rows,
    compression in {none, packbits, lzw, deflate}.  ``deflate`` maps a
    strip's raw bytes to its deflate stream."""
    img = np.atleast_3d(np.asarray(img, np.uint8))
    h, w, spp = img.shape
    comp_tag = {"none": 1, "lzw": 5, "packbits": 32773,
                "deflate": 8}[compression]
    rows_per = 64
    body = img
    if predictor:
        d = img.astype(np.int16)
        body = np.concatenate([d[:, :1], np.diff(d, axis=1)], axis=1
                              ).astype(np.uint8)
    strips = []
    for r0 in range(0, h, rows_per):
        chunk = body[r0:r0 + rows_per].tobytes()
        if compression == "none":
            strips.append(chunk)
        elif compression == "deflate":
            strips.append(deflate(chunk))
        elif compression == "lzw":
            strips.append(_tiff_lzw_encode(chunk))
        else:  # packbits: literal-only runs (valid, not minimal)
            out = bytearray()
            for i in range(0, len(chunk), 128):
                part = chunk[i:i + 128]
                out.append(len(part) - 1)
                out += part
            strips.append(bytes(out))
    nstrips = len(strips)

    entries = []  # (tag, type, count, value-or-bytes)
    def ent(tag, typ, vals):
        entries.append((tag, typ, vals))
    ent(256, 4, [w]); ent(257, 4, [h])
    ent(258, 3, [8] * spp)
    ent(259, 3, [comp_tag])
    ent(262, 3, [2 if spp >= 3 else 1])
    ent(277, 3, [spp])
    ent(278, 4, [rows_per])
    ent(279, 4, [len(s) for s in strips])
    if predictor:
        ent(317, 3, [2])
    # layout: header(8) + IFD + values + strips
    sizes = {3: 2, 4: 4}
    ifd_off = 8
    ifd_len = 2 + 12 * (len(entries) + 1) + 4  # +1 for StripOffsets
    val_off = ifd_off + ifd_len
    overflow = b""
    packed = []
    for tag, typ, vals in entries:
        total_sz = sizes[typ] * len(vals)
        fmt = "<" + ("H" if typ == 3 else "I") * len(vals)
        blob = struct.pack(fmt, *vals)
        if total_sz <= 4:
            packed.append((tag, typ, len(vals), blob.ljust(4, b"\x00")))
        else:
            packed.append((tag, typ, len(vals),
                           struct.pack("<I", val_off + len(overflow))))
            overflow += blob
    # strip offsets (tag 273) computed after overflow area
    strips_off = val_off + len(overflow) + 4 * nstrips
    offs = []
    pos = strips_off
    for s in strips:
        offs.append(pos)
        pos += len(s)
    blob = struct.pack("<" + "I" * nstrips, *offs)
    if nstrips == 1:
        packed.append((273, 4, 1, blob.ljust(4, b"\x00")))
        strip_table = b""
        # single strip: the reserved table slot stays, harmless zeros
        strip_table = b"\x00" * 4
    else:
        packed.append((273, 4, nstrips,
                       struct.pack("<I", val_off + len(overflow))))
        strip_table = blob
        strip_table += b"" if 4 * nstrips >= 4 else b"\x00" * 4
    packed.sort(key=lambda x: x[0])
    out = [b"II*\x00", struct.pack("<I", ifd_off),
           struct.pack("<H", len(packed))]
    for tag, typ, cnt, v4 in packed:
        out.append(struct.pack("<HHI", tag, typ, cnt) + v4)
    out.append(struct.pack("<I", 0))  # next IFD
    out.append(overflow)
    out.append(strip_table if nstrips > 1 else b"\x00" * 4)
    out.extend(strips)
    return b"".join(out)


def encode_aiff(rate: int, samples: np.ndarray) -> bytes:
    """Fixture writer: 16-bit big-endian PCM AIFF."""
    samples = np.asarray(samples, np.int16)
    # 2-D input is authoritative (n_samples, n_channels) — matching
    # encode_wav/decode_flac; only 1-D input is promoted to mono.
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)
    elif samples.ndim != 2:
        raise ValueError("samples must be 1-D or (n_samples, n_channels)")
    n, nch = samples.shape
    # 80-bit extended float for the sample rate
    if rate <= 0:
        raise ValueError("aiff: rate must be positive")
    exp = 16383 + 63
    mant = rate
    while mant < 1 << 63:
        mant <<= 1
        exp -= 1
    while mant >= 1 << 64:
        mant >>= 1
        exp += 1
    comm = struct.pack(">hIh", nch, n, 16) + struct.pack(">HQ", exp, mant)
    ssnd = struct.pack(">II", 0, 0) + samples.astype(">i2").tobytes()

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack(">I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    body = b"AIFF" + chunk(b"COMM", comm) + chunk(b"SSND", ssnd)
    return b"FORM" + struct.pack(">I", len(body)) + body


# ---------------------------------------------------------------------------
# JPEG baseline (4:4:4 or 4:2:0, Annex K tables, quality via linear scale)


# T.81 Annex K.1 — luminance / chrominance quantization tables
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])


QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99])


# T.81 Annex K.3 — canonical Huffman table specs: (bits[1..16], values)
HT_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))


HT_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))


HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _encode_codes(bits, values) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) — inverse of the decoder's table."""
    inv = {}
    for (length, code), sym in _canonical_codes(bits, values).items():
        inv[sym] = (code, length)
    return inv


def _magnitude(v: int) -> tuple[int, int]:
    """→ (category t, t-bit encoding of v) per T.81 F.1.2.1."""
    t = int(v != 0 and int(abs(v)).bit_length())
    return t, (v if v >= 0 else v + (1 << t) - 1)


def _prepare_planes(img: np.ndarray, quality: int, subsample: bool):
    """Shared encoder front half: color convert + quality-scaled quant
    tables + optional 4:2:0 chroma downsample + MCU-padded planes.
    Returns (h, w, nc, factors, qts, padded, mcux, mcuy)."""
    img = np.atleast_3d(img.astype(np.uint8))
    h, w, c = img.shape
    if c == 4:
        img = img[:, :, :3]
        c = 3
    scale = (5000 // quality if quality < 50 else 200 - 2 * quality) or 1
    qts = []
    for base in ((QT_LUMA,) if c == 1 else (QT_LUMA, QT_CHROMA)):
        qts.append(np.clip((base * scale + 50) // 100, 1, 255))

    if c == 1:
        planes = [img[:, :, 0].astype(np.float32) - 128.0]
    else:
        rf = img.astype(np.float32)
        r, g, b = rf[:, :, 0], rf[:, :, 1], rf[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    nc = len(planes)
    sub = subsample and nc == 3
    # per-component (h_factor, v_factor)
    factors = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * nc
    if sub:
        # box-filter chroma 2× (pad odd dims by edge replication first)
        def down2(p: np.ndarray) -> np.ndarray:
            ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
            ph = ph if ph.shape[1] % 2 == 0 else np.hstack([ph, ph[:, -1:]])
            return (ph[0::2, 0::2] + ph[1::2, 0::2]
                    + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
        planes = [planes[0], down2(planes[1]), down2(planes[2])]

    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for ci, p in enumerate(planes):
        hi, vi = factors[ci]
        pw, ph = mcux * hi * 8, mcuy * vi * 8
        pp = np.zeros((ph, pw), np.float32)
        sh, sw = p.shape
        pp[:sh, :sw] = p
        pp[sh:, :sw] = p[-1:, :]
        pp[:, sw:] = pp[:, sw - 1:sw]
        padded.append(pp)
    return h, w, nc, factors, qts, padded, mcux, mcuy


def encode_jpeg(img: np.ndarray, quality: int = 85,
                subsample: bool = False,
                restart_interval: int = 0, multi_scan: bool = False) -> bytes:
    """Baseline encoder.  ``subsample=True`` emits 4:2:0 (luma 2×2 per
    MCU, chroma box-filtered 2×); ``restart_interval`` emits DRI + RSTn
    markers every N MCUs; ``multi_scan=True`` (without subsampling)
    codes each component in its own scan instead of one interleaved
    scan — all exist chiefly so the decoder's upsample/restart/scan
    paths have independent fixtures."""
    assert not (multi_scan and subsample)
    h, w, nc, factors, qts, padded, mcux, mcuy = _prepare_planes(
        img, quality, subsample)

    out = bytearray(b"\xFF\xD8")
    for tid, qt in enumerate(qts):
        out += (b"\xFF\xDB" + struct.pack(">HB", 67, tid)
                + qt[ZIGZAG].astype(np.uint8).tobytes())
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    out += b"\xFF\xC0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hi, vi = factors[ci]
        out += bytes([ci + 1, (hi << 4) | vi,
                      min(ci, 1) if nc > 1 else 0])
    specs = [HT_DC_LUMA, HT_AC_LUMA] + (
        [HT_DC_CHROMA, HT_AC_CHROMA] if nc > 1 else [])
    classes = [(0, 0), (1, 0)] + ([(0, 1), (1, 1)] if nc > 1 else [])
    for (tclass, tid), (bits, values) in zip(classes, specs):
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 19 + len(values), (tclass << 4) | tid)
        out += bytes(bits) + bytes(values)
    dc_tabs = [_encode_codes(*HT_DC_LUMA)]
    ac_tabs = [_encode_codes(*HT_AC_LUMA)]
    if nc > 1:
        dc_tabs.append(_encode_codes(*HT_DC_CHROMA))
        ac_tabs.append(_encode_codes(*HT_AC_CHROMA))

    ct = _DCT_C.astype(np.float32)

    def encode_block(ti: int, block: np.ndarray, ci: int) -> None:
        coeffs = ct.T @ block @ ct  # FDCT: X = M x M.T
        q = np.round(coeffs.reshape(64)[ZIGZAG]
                     / qts[ti][ZIGZAG]).astype(np.int64)
        diff = int(q[0]) - preds[ci]
        preds[ci] = int(q[0])
        t, enc = _magnitude(diff)
        code, ln = dc_tabs[ti][t]
        bw.write(code, ln)
        if t:
            bw.write(enc, t)
        run = 0
        for k in range(1, 64):
            v = int(q[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                zcode, zln = ac_tabs[ti][0xF0]
                bw.write(zcode, zln)
                run -= 16
            t, enc = _magnitude(v)
            code, ln = ac_tabs[ti][(run << 4) | t]
            bw.write(code, ln)
            bw.write(enc, t)
            run = 0
        if run:
            code, ln = ac_tabs[ti][0x00]
            bw.write(code, ln)

    for comps in ([[ci] for ci in range(nc)] if multi_scan
                  else [list(range(nc))]):
        out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * len(comps),
                                          len(comps))
        for ci in comps:
            tid = min(ci, 1) if nc > 1 else 0
            out += bytes([ci + 1, (tid << 4) | tid])
        out += b"\x00\x3F\x00"
        bw = _JpegBitWriter()
        preds = [0] * nc
        rst = 0
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if (restart_interval and mcu_count
                        and mcu_count % restart_interval == 0):
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) & 7
                    preds = [0] * nc
                for ci in comps:
                    hi, vi = factors[ci]
                    ti = min(ci, 1) if nc > 1 else 0
                    for bv in range(vi):
                        for bh_ in range(hi):
                            y0 = (my * vi + bv) * 8
                            x0 = (mx * hi + bh_) * 8
                            encode_block(
                                ti, padded[ci][y0:y0 + 8, x0:x0 + 8], ci)
                mcu_count += 1
        bw.flush()
        out += bw.out
    return bytes(out) + b"\xFF\xD9"


# ---------------------------------------------------------------------------
# progressive (SOF2) encoder — fixture generator for the progressive
# decoder paths: spectral selection bands, successive approximation
# (DC + AC first/refine scans), EOB runs with correction bits.  Scan
# script mirrors the conventional default (DC Al=1 → luma low band →
# chroma → luma refinements → DC refine → AC refines to Al=0).

# flat Huffman tables covering every (run, size) symbol incl. the EOBn
# codes (r<<4) the Annex K tables lack: all 176 symbols at 9 bits
_HT_PROG_AC_SYMS = [(r << 4) | s for r in range(16) for s in range(11)]


_HT_PROG_AC = ([0] * 8 + [len(_HT_PROG_AC_SYMS)] + [0] * 7,
               _HT_PROG_AC_SYMS)


_HT_PROG_DC = ([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
               list(range(12)))


def _pt_ac(v: int, al: int) -> int:
    """T.81 G.1.2.2 AC point transform: magnitude shift, sign kept."""
    return (abs(v) >> al) * (1 if v >= 0 else -1)


def _enc_ac_first_scan(bw, blocks, ss, se, al, ac_tab):
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0:
            r = min(14, eobrun.bit_length() - 1)
            take = min(eobrun, (1 << r) + (1 << r) - 1)
            code, ln = ac_tab[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(take - (1 << r), r)
            eobrun -= take

    for q in blocks:
        vals = [_pt_ac(int(q[k]), al) for k in range(ss, se + 1)]
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for v in vals:
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_tab[0xF0]
                bw.write(code, ln)
                run -= 16
            t, enc = _magnitude(v)
            code, ln = ac_tab[(run << 4) | t]
            bw.write(code, ln)
            bw.write(enc, t)
            run = 0
        if run:
            eobrun += 1  # trailing zeros fold into an EOB run
    flush_eob()


def _enc_ac_refine_scan(bw, blocks, ss, se, al, ac_tab):
    """AC refinement (Ah = Al+1 → Al), the inverse of
    ``_ac_refine_block``: newly-nonzero coefficients get (run,1)+sign
    codes, already-nonzero ones ride as interleaved correction bits,
    EOB runs buffer their correction bits until flushed."""
    eobrun = 0
    be: list[int] = []  # correction bits buffered across the EOB region

    def flush_eob():
        nonlocal eobrun, be
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_tab[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0
        for b in be:
            bw.write(b, 1)
        be = []

    for q in blocks:
        band = [int(q[k]) for k in range(ss, se + 1)]
        mags = [abs(v) >> al for v in band]
        # events since the last emitted code: zeros and correction bits
        events: list = []
        emitted_any = False
        for v, m in zip(band, mags):
            if m == 0:
                events.append("z")
            elif m > 1:  # history coefficient → correction bit
                events.append(m & 1)
            else:  # newly nonzero at this precision
                if not emitted_any:
                    flush_eob()
                    emitted_any = True
                while sum(1 for e in events if e == "z") > 15:
                    code, ln = ac_tab[0xF0]
                    bw.write(code, ln)
                    z = 0
                    while z < 16:
                        ev = events.pop(0)
                        if ev == "z":
                            z += 1
                        else:
                            bw.write(ev, 1)
                r = sum(1 for e in events if e == "z")
                code, ln = ac_tab[(r << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if v >= 0 else 0, 1)
                for ev in events:
                    if ev != "z":
                        bw.write(ev, 1)
                events = []
        trailing_bits = [e for e in events if e != "z"]
        if events:
            eobrun += 1
            be.extend(trailing_bits)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85,
                            subsample: bool = False) -> bytes:
    h, w, nc, factors, qts, padded, mcux, mcuy = _prepare_planes(
        img, quality, subsample)
    ct = _DCT_C.astype(np.float32)

    # quantized zigzag coefficients for every padded block per component
    qz = []
    for ci, pp in enumerate(padded):
        ti = min(ci, 1) if nc > 1 else 0
        nby, nbx = pp.shape[0] // 8, pp.shape[1] // 8
        blocks = (pp.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3))
        coeffs = np.einsum("ji,abjk,kl->abil", ct, blocks, ct,
                           optimize=True)  # FDCT: X = M x M.T
        q = np.round(coeffs.reshape(nby, nbx, 64)[:, :, ZIGZAG]
                     / qts[ti][ZIGZAG]).astype(np.int64)
        qz.append(q)

    out = bytearray(b"\xFF\xD8")
    for tid, qt in enumerate(qts):
        out += (b"\xFF\xDB" + struct.pack(">HB", 67, tid)
                + qt[ZIGZAG].astype(np.uint8).tobytes())
    out += b"\xFF\xC2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hi, vi = factors[ci]
        out += bytes([ci + 1, (hi << 4) | vi,
                      min(ci, 1) if nc > 1 else 0])
    for (tclass, tid), (bits, values) in (((0, 0), _HT_PROG_DC),
                                          ((1, 0), _HT_PROG_AC)):
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 19 + len(values), (tclass << 4) | tid)
        out += bytes(bits) + bytes(values)
    dc_tab = _encode_codes(*_HT_PROG_DC)
    ac_tab = _encode_codes(*_HT_PROG_AC)

    def comp_grid(ci):
        """Non-interleaved block grid (excludes interleave-only dummies)."""
        hi, vi = factors[ci]
        hmax = max(f[0] for f in factors)
        vmax = max(f[1] for f in factors)
        nbx = ((w * hi + hmax - 1) // hmax + 7) // 8
        nby = ((h * vi + vmax - 1) // vmax + 7) // 8
        return nbx, nby

    def sos(comp_ids, ss, se, ah, al, payload: bytes) -> None:
        ns = len(comp_ids)
        out.extend(b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * ns, ns))
        for ci in comp_ids:
            out.extend(bytes([ci + 1, 0x00]))  # DC/AC table 0
        out.extend(bytes([ss, se, (ah << 4) | al]))
        out.extend(payload)

    def dc_scan(al, first):
        bw = _JpegBitWriter()
        preds = [0] * nc
        if nc > 1:  # interleaved over the full MCU grid
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(nc):
                        hi, vi = factors[ci]
                        for bv in range(vi):
                            for bh in range(hi):
                                v = int(qz[ci][my * vi + bv,
                                               mx * hi + bh, 0]) >> al
                                if first:
                                    t, enc = _magnitude(v - preds[ci])
                                    preds[ci] = v
                                    code, ln = dc_tab[t]
                                    bw.write(code, ln)
                                    if t:
                                        bw.write(enc, t)
                                else:
                                    bw.write(v & 1, 1)
        else:
            nbx, nby = comp_grid(0)
            for by in range(nby):
                for bx in range(nbx):
                    v = int(qz[0][by, bx, 0]) >> al
                    if first:
                        t, enc = _magnitude(v - preds[0])
                        preds[0] = v
                        code, ln = dc_tab[t]
                        bw.write(code, ln)
                        if t:
                            bw.write(enc, t)
                    else:
                        bw.write(v & 1, 1)
        bw.flush()
        sos(list(range(nc)), 0, 0, 0 if first else al + 1, al,
            bytes(bw.out))

    def ac_scan(ci, ss, se, ah, al):
        nbx, nby = comp_grid(ci)
        blocks = [qz[ci][by, bx] for by in range(nby)
                  for bx in range(nbx)]
        bw = _JpegBitWriter()
        if ah == 0:
            _enc_ac_first_scan(bw, blocks, ss, se, al, ac_tab)
        else:
            _enc_ac_refine_scan(bw, blocks, ss, se, al, ac_tab)
        bw.flush()
        sos([ci], ss, se, ah, al, bytes(bw.out))

    # scan script (conventional default shape)
    dc_scan(1, first=True)
    if nc == 3:
        ac_scan(0, 1, 5, 0, 2)
        ac_scan(2, 1, 63, 0, 1)
        ac_scan(1, 1, 63, 0, 1)
        ac_scan(0, 6, 63, 0, 2)
        ac_scan(0, 1, 63, 2, 1)
        dc_scan(0, first=False)
        ac_scan(2, 1, 63, 1, 0)
        ac_scan(1, 1, 63, 1, 0)
        ac_scan(0, 1, 63, 1, 0)
    else:
        ac_scan(0, 1, 5, 0, 2)
        ac_scan(0, 6, 63, 0, 2)
        ac_scan(0, 1, 63, 2, 1)
        dc_scan(0, first=False)
        ac_scan(0, 1, 63, 1, 0)
    out += b"\xFF\xD9"
    return bytes(out)


def encode_jpeg_lossless(img: np.ndarray, psv: int = 1, pt: int = 0,
                         restart_interval: int = 0) -> bytes:
    """Fixture writer: T.81 Annex H lossless process (SOF3), 8-bit,
    1×1 sampling, single interleaved scan, predictor ``psv`` (1-7),
    point transform ``pt``.  Independent walk of the spec so the
    round-trip tests pin the decoder (no system lossless codec exists
    to golden against — libjpeg-turbo < 3.0)."""
    img = np.atleast_3d(np.asarray(img, np.uint8))
    h, w, nc = img.shape
    if nc == 4:
        img = img[:, :, :3]
        nc = 3
    if not 1 <= psv <= 7:
        raise ValueError(f"psv {psv}")
    samples = (img.astype(np.int32) >> pt)
    prec = 8

    out = bytearray(b"\xFF\xD8")
    if restart_interval:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, restart_interval)
    out += b"\xFF\xC3" + struct.pack(">HBHHB", 8 + 3 * nc, prec, h, w, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0])
    bits, values = HT_DC_LUMA
    out += (b"\xFF\xC4" + struct.pack(">HB", 19 + len(values), 0)
            + bytes(bits) + bytes(values))
    out += b"\xFF\xDA" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00])
    out += bytes([psv, 0, pt])

    tab = _encode_codes(*HT_DC_LUMA)
    bw = _JpegBitWriter()
    default = 1 << (prec - pt - 1)
    mcu = 0
    reset = False
    rst = 0
    for y in range(h):
        for x in range(w):
            if (restart_interval and mcu
                    and mcu % restart_interval == 0):
                bw.flush()
                out += bw.out
                bw = _JpegBitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                reset = True
            for ci in range(nc):
                p = samples[:, :, ci]
                if reset or (y == 0 and x == 0):
                    px = default
                elif y == 0:
                    px = int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    ra, rb, rc = (int(p[y, x - 1]), int(p[y - 1, x]),
                                  int(p[y - 1, x - 1]))
                    px = {1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
                          5: ra + ((rb - rc) >> 1),
                          6: rb + ((ra - rc) >> 1),
                          7: (ra + rb) >> 1}[psv]
                diff = (int(p[y, x]) - px) & 0xFFFF
                if diff >= 0x8000:
                    diff -= 0x10000     # signed mod-65536 difference
                t, enc = _magnitude(diff)
                code, length = tab[t]
                bw.write(code, length)
                if t:
                    bw.write(enc, t)
            reset = False
            mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xFF\xD9"
    return bytes(out)


# ---------------------------------------------------------------------------
# VP8 key frames (lossy WebP) and the RIFF wrapper


class BoolEncoder:
    """RFC 6386 §7.8 boolean encoder with carry propagation —
    bit-compatible with BoolDecoder (round-trip fuzz-tested)."""

    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def _carry(self) -> None:
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 255:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def bool(self, value: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if value:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            if self.bottom & (1 << 31):
                self._carry()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= (1 << 24) - 1
                self.bit_count = 8

    def literal(self, value: int, bits: int) -> None:
        for b in range(bits - 1, -1, -1):
            self.bool((value >> b) & 1, 128)

    def tree(self, tree, probs, leaf: int) -> None:
        # find path to the leaf (= -value in the tree arrays)
        path = []

        def walk(i, acc):
            for b in (0, 1):
                t = tree[i + b]
                if t <= 0:
                    if -t == leaf and t <= 0 and (t != 0 or leaf == 0):
                        path.append(acc + [(i >> 1, b)])
                else:
                    walk(t, acc + [(i >> 1, b)])

        walk(0, [])
        for prob_idx, bit in path[0]:
            self.bool(bit, probs[prob_idx])

    def bytes(self) -> bytes:
        e = self  # RFC stop_encode: push 32 zero bits through
        import copy
        e2 = copy.deepcopy(e)
        for _ in range(32):
            e2.bool(0, 128)
        return bytes(e2.out)


def _put_tokens(be: BoolEncoder, probs: bytes, plane: int, ctx: int,
                first: int, levels) -> int:
    """Emit one block's quantized levels (raster order, pre-dequant) as
    a token string, mirroring _decode_coeffs exactly.  Returns the
    block nz flag."""
    zz = [levels[VP8_ZIGZAG[n]] for n in range(16)]
    last = -1
    for n in range(first, 16):
        if zz[n]:
            last = n
    n = first
    base = plane * 264
    skip_eob = False
    while n < 16:
        boff = base + COEFF_BANDS[n] * 33 + ctx * 11
        if n > last:
            # EOB: walk tree to leaf DCT_EOB (bit 0 at node 0)
            be.bool(0, probs[boff + 0])
            return 1 if last >= first else 0
        v = zz[n]
        a = abs(v)
        if not skip_eob:
            be.bool(1, probs[boff + 0])     # not EOB
        if a == 0:
            be.bool(0, probs[boff + 1])     # zero
            skip_eob = True
            ctx = 0
            n += 1
            continue
        be.bool(1, probs[boff + 1])         # nonzero
        skip_eob = False
        if a == 1:
            be.bool(0, probs[boff + 2])
            ctx = 1
        else:
            be.bool(1, probs[boff + 2])
            if a <= 4:
                be.bool(0, probs[boff + 3])
                if a == 2:
                    be.bool(0, probs[boff + 4])
                else:
                    be.bool(1, probs[boff + 4])
                    be.bool(a - 3, probs[boff + 5])
            else:
                be.bool(1, probs[boff + 3])
                if a <= 10:
                    be.bool(0, probs[boff + 6])
                    if a <= 6:
                        be.bool(0, probs[boff + 7])
                        be.bool(a - 5, PCAT[0][0])
                    else:
                        be.bool(1, probs[boff + 7])
                        e = a - 7
                        be.bool((e >> 1) & 1, PCAT[1][0])
                        be.bool(e & 1, PCAT[1][1])
                else:
                    be.bool(1, probs[boff + 6])
                    if a <= 34:
                        be.bool(0, probs[boff + 8])
                        if a <= 18:
                            be.bool(0, probs[boff + 9])
                            cat, base_v = 2, 11
                        else:
                            be.bool(1, probs[boff + 9])
                            cat, base_v = 3, 19
                    else:
                        be.bool(1, probs[boff + 8])
                        if a <= 66:
                            be.bool(0, probs[boff + 10])
                            cat, base_v = 4, 35
                        else:
                            be.bool(1, probs[boff + 10])
                            cat, base_v = 5, 67
                    e = a - base_v
                    nb = len(PCAT[cat])
                    for b in range(nb - 1, -1, -1):
                        be.bool((e >> b) & 1, PCAT[cat][nb - 1 - b])
            ctx = 2
        be.bool(1 if v < 0 else 0, 128)
        n += 1
    return 1 if last >= first else 0


def encode_vp8(mb_w: int, mb_h: int, mbs: list, qi: int = 20,
               filter_level: int = 0, filter_type: int = 0,
               sharpness: int = 0,
               seg_lf_abs: list | None = None) -> bytes:
    """Fixture writer: legal VP8 keyframe from explicit per-MB mode and
    quantized-coefficient records — no RD search, default probabilities.
    Each record: {ymode, bmodes[16], uvmode, y2[16], y[16][16],
    u[4][16], v[4][16]} (levels in raster order, pre-dequant).  Exists
    to differential-test decode semantics against libwebp and to give
    the test suite deterministic lossy streams."""
    be = BoolEncoder()
    be.literal(0, 1)            # color space
    be.literal(0, 1)            # clamping
    if seg_lf_abs is None:
        be.literal(0, 1)        # segmentation off
    else:
        # segmentation on, no map update, ABSOLUTE per-segment loop
        # filter values — the adversarial corner for the libwebp
        # filter_level==0 gate (all MBs land in segment 0)
        be.literal(1, 1)        # segmentation on
        be.literal(0, 1)        # update_map = 0
        be.literal(1, 1)        # update_data = 1
        be.literal(1, 1)        # seg_abs = 1
        for _ in range(4):
            # absolute mode absolutes the quantizer too — pin every
            # segment's quant to the frame qi so only the LF differs
            be.literal(1, 1)
            be.literal(qi, 7)
            be.literal(0, 1)    # sign +
        for v in seg_lf_abs:
            be.literal(1, 1)    # lf value present
            be.literal(abs(v), 6)
            be.literal(1 if v < 0 else 0, 1)
    be.literal(filter_type, 1)
    be.literal(filter_level, 6)
    be.literal(sharpness, 3)
    be.literal(0, 1)            # lf deltas off
    be.literal(0, 2)            # 1 token partition
    be.literal(qi, 7)           # yac_qi
    for _ in range(5):          # no quantizer deltas
        be.literal(0, 1)
    be.literal(1, 1)            # refresh entropy probs
    for i in range(1056):       # no coefficient prob updates
        be.bool(0, COEFF_UPDATE_PROBS[i])
    be.literal(0, 1)            # mb_no_skip_coeff = 0

    # per-MB prediction records
    above_b = [[B_DC_PRED] * 4 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        left_b = [B_DC_PRED] * 4
        for mb_x in range(mb_w):
            mb = mbs[mb_y * mb_w + mb_x]
            ymode = mb["ymode"]
            be.tree(KF_YMODE_TREE, KF_YMODE_PROB, ymode)
            if ymode == B_PRED:
                bmodes = mb["bmodes"]
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    a = above_b[mb_x][c] if r == 0 else bmodes[sb - 4]
                    lm = left_b[r] if c == 0 else bmodes[sb - 1]
                    probs = KF_BMODE_PROBS[(a * 10 + lm) * 9:
                                           (a * 10 + lm) * 9 + 9]
                    be.tree(BMODE_TREE, probs, bmodes[sb])
                above_b[mb_x] = bmodes[12:16]
                left_b = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            else:
                im = _MB_TO_B[ymode]
                above_b[mb_x] = [im] * 4
                left_b = [im] * 4
            be.tree(UV_MODE_TREE, KF_UV_MODE_PROB, mb["uvmode"])
    part1 = be.bytes()

    te = BoolEncoder()
    ay = [0] * (mb_w * 4)
    au = [0] * (mb_w * 2)
    av = [0] * (mb_w * 2)
    ay2 = [0] * mb_w
    for mb_y in range(mb_h):
        ly = [0] * 4
        lu = [0] * 2
        lv = [0] * 2
        ly2 = 0
        for mb_x in range(mb_w):
            mb = mbs[mb_y * mb_w + mb_x]
            i4x4 = mb["ymode"] == B_PRED
            if not i4x4:
                nz = _put_tokens(te, COEFF_PROBS, 1, ay2[mb_x] + ly2, 0,
                                 mb.get("y2", [0] * 16))
                ay2[mb_x] = ly2 = nz
                plane, first = 0, 1
            else:
                plane, first = 3, 0
            ynz = [[0] * 5 for _ in range(5)]
            for i in range(4):
                ynz[0][i + 1] = ay[mb_x * 4 + i]
                ynz[i + 1][0] = ly[i]
            for sb in range(16):
                r, c = sb >> 2, sb & 3
                ctx = ynz[r][c + 1] + ynz[r + 1][c]
                ynz[r + 1][c + 1] = _put_tokens(
                    te, COEFF_PROBS, plane, ctx, first, mb["y"][sb])
            for i in range(4):
                ay[mb_x * 4 + i] = ynz[4][i + 1]
                ly[i] = ynz[i + 1][4]
            for key, anz, lnz in (("u", au, lu), ("v", av, lv)):
                cnz = [[0] * 3 for _ in range(3)]
                for i in range(2):
                    cnz[0][i + 1] = anz[mb_x * 2 + i]
                    cnz[i + 1][0] = lnz[i]
                for sb in range(4):
                    r, c = sb >> 1, sb & 1
                    ctx = cnz[r][c + 1] + cnz[r + 1][c]
                    cnz[r + 1][c + 1] = _put_tokens(
                        te, COEFF_PROBS, 2, ctx, 0, mb[key][sb])
                for i in range(2):
                    anz[mb_x * 2 + i] = cnz[2][i + 1]
                    lnz[i] = cnz[i + 1][2]
    part2 = te.bytes()

    w, hgt = mb_w * 16, mb_h * 16
    tag = (len(part1) << 5) | (1 << 4) | 0   # keyframe, show, version 0
    header = bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF])
    header += b"\x9d\x01\x2a"
    header += struct.pack("<HH", w, hgt)
    return header + part1 + part2


def wrap_webp(vp8_payload: bytes) -> bytes:
    """RIFF WebP container around a raw VP8 frame."""
    chunk = b"VP8 " + struct.pack("<I", len(vp8_payload)) + vp8_payload
    if len(vp8_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ---------------------------------------------------------------------------
# VP8L (lossless WebP) and animated WebP


class _BitsW:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> None:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0


def _huff_lengths(freqs: dict[int, int], max_len: int = 15) -> dict:
    """Symbol → code length via heap Huffman; falls back to flat codes
    if the tree exceeds ``max_len`` (fixture streams, not ratios)."""
    if not freqs:
        return {}
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    tick = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, tick, s1 + s2))
        tick += 1
    if max(depth.values()) > max_len:
        flat = max(1, (len(freqs) - 1).bit_length())
        return {s: flat for s in freqs}
    return depth


def _canonical_codes_w(lengths: dict[int, int]) -> dict:
    """Symbol → (code, len) matching the decoder's canonical order."""
    by_len: dict[int, list[int]] = {}
    for s, length in lengths.items():
        by_len.setdefault(length, []).append(s)
    out = {}
    code = 0
    for length in range(1, 17):
        for s in sorted(by_len.get(length, [])):
            out[s] = (code, length)
            code += 1
        code <<= 1
    return out


def _write_prefix_code(bw: _BitsW, lengths: dict[int, int],
                       alphabet_size: int) -> dict:
    """Emit one prefix code (simple when possible) and return the
    symbol → (code, len) encode table."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        if syms[0] < 2 and len(syms) == 1:
            bw.write(0, 1)
            bw.write(syms[0], 1)
        else:
            bw.write(1, 1)
            bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}
        return {syms[0]: (0, 1), syms[1]: (1, 1)}
    bw.write(0, 1)  # code-length-coded
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # trim trailing zeros via the max_symbol field
    last = max(s for s, length in enumerate(full) if length)
    cl_freqs: dict[int, int] = {}
    for length in full[:last + 1]:
        cl_freqs[length] = cl_freqs.get(length, 0) + 1
    cl_lengths = _huff_lengths(cl_freqs, max_len=7)
    bw.write(19 - 4, 4)  # all 19 code-length slots
    for s in _CL_ORDER:
        bw.write(cl_lengths.get(s, 0), 3)
    n_emit = last + 1
    bw.write(1, 1)  # use max_symbol
    nbits_slot = 0
    while (1 << (2 + 2 * nbits_slot)) - 1 + 2 < n_emit:
        nbits_slot += 1
    bw.write(nbits_slot, 3)
    bw.write(n_emit - 2, 2 + 2 * nbits_slot)
    if len(cl_lengths) == 1:
        # single-symbol code: the decoder consumes ZERO bits per symbol
        cl_codes = {next(iter(cl_lengths)): (0, 0)}
    else:
        cl_codes = _canonical_codes_w(cl_lengths)
    for length in full[:last + 1]:
        c, ln = cl_codes[length]
        _write_code(bw, c, ln)
    if len(lengths) == 1:
        return {next(iter(lengths)): (0, 0)}
    return _canonical_codes_w(lengths)


def _write_code(bw: _BitsW, code: int, length: int) -> None:
    """Prefix-code bits go MSB-first into the LSB-first stream."""
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def _prefix_slot(v: int):
    """value → (slot, extra_bits_value, extra_bits_count); inverse of
    ``_prefix_value``."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    eb = x.bit_length() - 2
    top = x >> eb
    slot = 2 * eb + (top - 2) + 2
    offset = top << eb
    return slot, x - offset, eb


def _forward_predictor(px: np.ndarray, mode: int) -> np.ndarray:
    """Forward PREDICTOR transform (constant mode): residual = pixel -
    prediction, mod 256, in scan order over the spec's neighbor rules.
    Exact inverse of `_apply_inverse_transforms` type 0."""
    h, w, _ = px.shape
    res = np.empty_like(px)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], np.uint8)
            elif y == 0:
                pred = px[0, x - 1]
            elif x == 0:
                pred = px[y - 1, 0]
            else:
                tr = px[y - 1, x + 1] if x + 1 < w else px[y, 0]
                pred = _predict(mode, px[y, x - 1], px[y - 1, x],
                                px[y - 1, x - 1], tr)
            res[y, x] = px[y, x] - pred  # uint8 wraps mod 256
    return res


def _forward_color(argb: np.ndarray, g2r: int, g2b: int,
                   r2b: int) -> np.ndarray:
    """Forward COLOR transform (constant element): subtract the same
    shifted cross-channel terms the decoder adds back."""
    green_s = ((argb >> 8) & 0xFF).astype(np.int8).astype(np.int32)
    red = ((argb >> 16) & 0xFF).astype(np.int32)
    blue = (argb & 0xFF).astype(np.int32)
    red_t = (red - ((g2r * green_s) >> 5)) & 0xFF
    # the decoder's red_s is the *reconstructed* (= original) red, signed
    red_s = red.astype(np.uint8).view(np.int8).astype(np.int32)
    blue_t = (blue - ((g2b * green_s) >> 5) - ((r2b * red_s) >> 5)) & 0xFF
    return ((argb & 0xFF00FF00)
            | (red_t.astype(np.uint32) << 16)
            | blue_t.astype(np.uint32))


def encode_vp8l(img: np.ndarray, subtract_green: bool = False,
                palette: bool = False, use_lz77: bool = False,
                cache_bits: int = 0,
                predictor_mode: int | None = None,
                predictor_bits: int = 4,
                color_elt: tuple[int, int, int] | None = None,
                color_bits: int = 4,
                meta_bits: int = 0) -> bytes:
    """Legal VP8L stream for an HxWx{3,4} uint8 image.  Options select
    decoder paths: SUBTRACT_GREEN transform, COLOR_INDEXING palette,
    PREDICTOR (constant mode over `predictor_bits` tiles), COLOR
    (constant `(g2r, g2b, r2b)` element), a meta-prefix entropy image
    (`meta_bits`, single group), RLE LZ77 back-references, color
    cache."""
    img = np.atleast_3d(img.astype(np.uint8))
    h, w, c = img.shape
    if c == 1:
        img = np.repeat(img, 3, axis=2)
        c = 3
    alpha = (img[:, :, 3] if c >= 4
             else np.full((h, w), 255, np.uint8))
    argb = (alpha.astype(np.uint32) << 24
            | img[:, :, 0].astype(np.uint32) << 16
            | img[:, :, 1].astype(np.uint32) << 8
            | img[:, :, 2].astype(np.uint32))

    bw = _BitsW()
    out = bytearray([0x2F])
    hdr = (w - 1) | ((h - 1) << 14) | ((1 if c >= 4 else 0) << 28)
    out += hdr.to_bytes(4, "little")

    coded = argb
    if palette:
        colors, inverse = np.unique(argb.reshape(-1), return_inverse=True)
        if len(colors) > 256:
            raise CodecError("vp8l: too many colors for palette")
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(len(colors) - 1, 8)
        # delta-coded palette written as a 1×n literal image
        pal_px = colors.view(np.uint8).reshape(-1, 4).astype(np.int32)
        deltas = pal_px.copy()
        deltas[1:] -= pal_px[:-1]
        deltas &= 0xFF
        pal_argb = (deltas[:, 3].astype(np.uint32) << 24
                    | deltas[:, 2].astype(np.uint32) << 16
                    | deltas[:, 1].astype(np.uint32) << 8
                    | deltas[:, 0].astype(np.uint32))
        _encode_literal_image(bw, pal_argb.reshape(1, -1), level0=False)
        idx = inverse.reshape(h, w).astype(np.uint32)
        pal_size = len(colors)
        ib = (3 if pal_size <= 2 else 2 if pal_size <= 4
              else 1 if pal_size <= 16 else 0)
        if ib:
            per = 1 << ib
            bits = 8 >> ib
            packed = np.zeros((h, _sub_size(w, ib)), np.uint32)
            for i in range(per):
                cols = idx[:, i::per]
                packed[:, :cols.shape[1]] |= cols << (i * bits)
            idx = packed
        coded = idx << 8  # indices ride in the green channel
    else:
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)  # SUBTRACT_GREEN
            green = (coded >> 8) & 0xFF
            red = (((coded >> 16) & 0xFF) - green) & 0xFF
            blue = ((coded & 0xFF) - green) & 0xFF
            coded = (coded & 0xFF00FF00) | (red << 16) | blue
        if color_elt is not None:
            g2r, g2b, r2b = color_elt
            bw.write(1, 1)
            bw.write(1, 2)  # COLOR
            bw.write(color_bits - 2, 3)
            elt_px = (np.uint32(0xFF) << 24
                      | np.uint32(r2b & 0xFF) << 16
                      | np.uint32(g2b & 0xFF) << 8
                      | np.uint32(g2r & 0xFF))
            sub = np.full((_sub_size(h, color_bits),
                           _sub_size(w, color_bits)), elt_px, np.uint32)
            _encode_literal_image(bw, sub, level0=False)
            coded = _forward_color(coded, g2r, g2b, r2b)
        if predictor_mode is not None:
            bw.write(1, 1)
            bw.write(0, 2)  # PREDICTOR
            bw.write(predictor_bits - 2, 3)  # stored as bits-2
            mode_px = np.uint32(0xFF000000 | (predictor_mode << 8))
            sub = np.full((_sub_size(h, predictor_bits),
                           _sub_size(w, predictor_bits)), mode_px,
                          np.uint32)
            _encode_literal_image(bw, sub, level0=False)
            px = np.stack([(coded >> 24) & 0xFF, (coded >> 16) & 0xFF,
                           (coded >> 8) & 0xFF, coded & 0xFF],
                          axis=-1).astype(np.uint8)
            res = _forward_predictor(px, predictor_mode)
            coded = (res[:, :, 0].astype(np.uint32) << 24
                     | res[:, :, 1].astype(np.uint32) << 16
                     | res[:, :, 2].astype(np.uint32) << 8
                     | res[:, :, 3].astype(np.uint32))
    bw.write(0, 1)  # no more transforms
    _encode_literal_image(bw, coded, use_lz77=use_lz77,
                          cache_bits=cache_bits, meta_bits=meta_bits)
    bw.flush()
    payload = bytes(out) + bytes(bw.out)
    riff = (b"WEBPVP8L" + struct.pack("<I", len(payload)) + payload
            + (b"\x00" if len(payload) & 1 else b""))
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _encode_literal_image(bw: _BitsW, argb: np.ndarray,
                          use_lz77: bool = False,
                          cache_bits: int = 0,
                          level0: bool = True,
                          meta_bits: int = 0) -> None:
    """Entropy-coded image body: cache bit, no meta, per-channel codes,
    then literal / RLE / cache-coded pixels.  Transform sub-images
    (``level0=False``) carry no meta-prefix bit (RFC 9649 §5).
    ``meta_bits`` emits a constant group-0 meta-prefix image (single
    entropy group) to exercise the decoder's meta path."""
    flat = [int(v) for v in argb.reshape(-1)]
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        if meta_bits:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mh, mw = argb.shape
            meta = np.full((_sub_size(mh, meta_bits),
                            _sub_size(mw, meta_bits)),
                           np.uint32(0xFF000000), np.uint32)
            _encode_literal_image(bw, meta, level0=False)
        else:
            bw.write(0, 1)  # no meta-prefix image

    # token stream: ("lit", px) | ("copy", length) | ("cache", idx)
    tokens = []
    cache = [None] * ((1 << cache_bits) if cache_bits else 0)
    i, n = 0, len(flat)
    while i < n:
        px = flat[i]
        if use_lz77 and i > 0 and flat[i - 1] == px:
            run = 1
            while (i + run < n and flat[i + run] == px
                   and run < 4096):
                run += 1
            tokens.append(("copy", run))
            if cache_bits:
                for j in range(run):
                    cache[(0x1E35A7BD * flat[i + j] & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = flat[i + j]
            i += run
            continue
        if cache_bits:
            key = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[key] == px:
                tokens.append(("cache", key))
                i += 1
                continue
            cache[key] = px
        tokens.append(("lit", px))
        i += 1

    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for kind, v in tokens:
        if kind == "lit":
            gf[(v >> 8) & 0xFF] = gf.get((v >> 8) & 0xFF, 0) + 1
            rf[(v >> 16) & 0xFF] = rf.get((v >> 16) & 0xFF, 0) + 1
            bf[v & 0xFF] = bf.get(v & 0xFF, 0) + 1
            af[(v >> 24) & 0xFF] = af.get((v >> 24) & 0xFF, 0) + 1
        elif kind == "copy":
            slot, _, _ = _prefix_slot(v)
            gf[256 + slot] = gf.get(256 + slot, 0) + 1
            dslot, _, _ = _prefix_slot(121)  # distance 1 → code 121
            df[dslot] = df.get(dslot, 0) + 1
        else:
            gf[280 + v] = gf.get(280 + v, 0) + 1
    for f in (rf, bf, af, df):
        if not f:
            f[0] = 1  # every group carries all five codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    gt = _write_prefix_code(bw, _huff_lengths(gf), 256 + 24 + cache_size)
    rt = _write_prefix_code(bw, _huff_lengths(rf), 256)
    bt = _write_prefix_code(bw, _huff_lengths(bf), 256)
    at = _write_prefix_code(bw, _huff_lengths(af), 256)
    dt = _write_prefix_code(bw, _huff_lengths(df), 40)

    for kind, v in tokens:
        if kind == "lit":
            c, ln = gt[(v >> 8) & 0xFF]
            _write_code(bw, c, ln)
            c, ln = rt[(v >> 16) & 0xFF]
            _write_code(bw, c, ln)
            c, ln = bt[v & 0xFF]
            _write_code(bw, c, ln)
            c, ln = at[(v >> 24) & 0xFF]
            _write_code(bw, c, ln)
        elif kind == "copy":
            slot, extra, eb = _prefix_slot(v)
            c, ln = gt[256 + slot]
            _write_code(bw, c, ln)
            bw.write(extra, eb)
            dslot, dextra, deb = _prefix_slot(121)
            c, ln = dt[dslot]
            _write_code(bw, c, ln)
            bw.write(dextra, deb)
        else:
            c, ln = gt[280 + v]
            _write_code(bw, c, ln)


def encode_webp_anim(frames: list, delays_ms: list,
                     lossless: bool = True) -> bytes:
    """Fixture writer: full-canvas RGBA frames → animated WebP
    (VP8X + ANIM + per-frame ANMF wrapping VP8L essence)."""
    if not frames or len(frames) != len(delays_ms):
        raise ValueError("frames/delays mismatch")
    h, w = frames[0].shape[:2]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    vp8x = chunk(b"VP8X", bytes([0x02]) + b"\x00" * 3
                 + (w - 1).to_bytes(3, "little")
                 + (h - 1).to_bytes(3, "little"))
    anim = chunk(b"ANIM", struct.pack("<IH", 0, 0))
    body = vp8x + anim
    for img, dur in zip(frames, delays_ms):
        riff = encode_vp8l(np.ascontiguousarray(img))
        # strip the still-image RIFF wrapper down to the VP8L payload
        essence_len = struct.unpack("<I", riff[16:20])[0]
        essence = riff[20:20 + essence_len]
        payload = (b"\x00" * 6            # x=y=0
                   + (w - 1).to_bytes(3, "little")
                   + (h - 1).to_bytes(3, "little")
                   + int(dur).to_bytes(3, "little")
                   + bytes([0x02])        # no-blend (full-canvas frames)
                   + chunk(b"VP8L", essence))
        body += chunk(b"ANMF", payload)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
