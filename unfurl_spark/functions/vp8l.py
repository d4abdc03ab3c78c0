"""WebP VP8L (lossless) codec in stdlib + numpy.

Decoder implements the public WebP Lossless Bitstream Specification
(RFC 9649): LSB-first bitstream, canonical prefix codes (simple and
code-length-coded), color cache, LZ77 backward references with the
120-entry 2D distance map, meta-prefix (entropy) images, and all four
transforms — PREDICTOR (14 modes), COLOR, SUBTRACT_GREEN,
COLOR_INDEXING (palette with sub-byte packing) — applied in reverse.

The fixture encoder the tests round-trip through is in
``tests/encoders.py``: it emits legal VP8L streams (literal pixels
under real per-channel Huffman codes, optional SUBTRACT_GREEN /
COLOR_INDEXING transforms, optional color cache, and an RLE LZ77 mode)
— enough to exercise every decoder path.  The PREDICTOR/COLOR inverse
transforms are pinned by tests that forward-apply the spec's
definitions independently.

VP8 (lossy) essence decodes for real too, via the from-scratch
RFC 6386 intra-frame decoder in ``vp8.py`` (bit-exact against libwebp's
own reconstruction in tests/test_vp8.py).  A still and every ANMF
animation frame decode through one image-chunk reader: VP8L, or VP8
with the ALPH chunk before it as its alpha plane.

The reference reads only WebP container headers
(packages/unfurl-exif/src/index.ts:16-47 via ExifReader); pixel decode
exists for the training-data side (features/thumbnails at scale).
"""

from __future__ import annotations

import numpy as np

from .codecs import CodecError, _check_dims, _to_rgba, riff_chunks

# RFC 9649: code-length-code read order
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)

# RFC 9649: 2D offsets for distance codes 1..120
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (2, 7), (-2, 7), (7, 2), (-7, 2), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5),
    (-7, 5), (8, 4), (3, 8), (-3, 8), (8, 5), (4, 8), (-4, 8), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 6), (5, 8), (-5, 8), (8, 7), (6, 8),
    (-6, 8), (7, 7), (-7, 7), (8, 8))


class _Bits:
    """LSB-first bit reader (VP8L convention, unlike JPEG's MSB-first)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        byte_end = (end + 7) >> 3
        if byte_end > len(self.data):
            raise CodecError("vp8l: truncated bitstream")
        chunk = int.from_bytes(self.data[self.pos >> 3:byte_end], "little")
        v = (chunk >> (self.pos & 7)) & ((1 << n) - 1)
        self.pos = end
        return v


def _canonical(lengths: list[int]):
    """Code lengths → decode table {(len, code): symbol} (DEFLATE-style
    canonical assignment), or ("single", sym) for one-symbol codes."""
    nz = [(length, sym) for sym, length in enumerate(lengths) if length]
    if not nz:
        raise CodecError("vp8l: empty prefix code")
    if len(nz) == 1:
        return ("single", nz[0][1])
    max_len = max(length for length, _ in nz)
    bl_count = [0] * (max_len + 1)
    for length, _ in nz:
        bl_count[length] += 1
    next_code = [0] * (max_len + 2)
    code = 0
    for length in range(1, max_len + 1):
        code = (code + bl_count[length - 1]) << 1
        next_code[length] = code
    table = {}
    for sym, length in enumerate(lengths):
        if length:
            table[(length, next_code[length])] = sym
            next_code[length] += 1
    return table


def _decode_sym(br: _Bits, table) -> int:
    if isinstance(table, tuple):  # single-symbol code: zero bits
        return table[1]
    code = 0
    for length in range(1, 16):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise CodecError("vp8l: bad prefix code")


def _read_prefix_code(br: _Bits, alphabet_size: int):
    """One prefix code: simple (1-2 symbols) or code-length-coded."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        s0 = br.read(8) if br.read(1) else br.read(1)
        if num_symbols == 1:
            return ("single", s0)
        return {(1, 0): s0, (1, 1): br.read(8)}
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_table = _canonical(cl_lengths)
    if br.read(1):  # explicit max symbol count
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev, sym = 8, 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = _decode_sym(br, cl_table)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if sym < alphabet_size:
                    lengths[sym] = prev
                    sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    return _canonical(lengths)


def _prefix_value(br: _Bits, slot: int) -> int:
    """LZ77 length/distance prefix decoding (RFC 9649 §4.2.2)."""
    if slot < 4:
        return slot + 1
    extra_bits = (slot - 2) >> 1
    offset = (2 + (slot & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image(br: _Bits, w: int, h: int, level0: bool) -> np.ndarray:
    """Entropy-coded ARGB image → uint32 array (h, w); at level 0 the
    transforms are read (and later inverted by the caller via the
    returned transform list in ``decode_vp8l``)."""
    transforms = []
    if level0:
        while br.read(1):
            ttype = br.read(2)
            if any(t[0] == ttype for t in transforms):
                raise CodecError("vp8l: duplicate transform")
            if ttype == 0 or ttype == 1:  # PREDICTOR / COLOR
                bits = 2 + br.read(3)
                sub = _decode_image(br, _sub_size(w, bits),
                                    _sub_size(h, bits), False)
                transforms.append((ttype, bits, sub))
            elif ttype == 2:  # SUBTRACT_GREEN
                transforms.append((2, None, None))
            else:  # COLOR_INDEXING
                pal_size = br.read(8) + 1
                pal32 = _decode_image(br, pal_size, 1, False)[0]
                # palette entries are componentwise delta-coded; stack
                # into explicit [a, r, g, b] columns (endian-safe)
                comp = np.stack([(pal32 >> 24) & 0xFF,
                                 (pal32 >> 16) & 0xFF,
                                 (pal32 >> 8) & 0xFF,
                                 pal32 & 0xFF], axis=-1)
                pal = np.cumsum(comp.astype(np.uint32),
                                axis=0).astype(np.uint8)
                transforms.append((3, pal_size, pal))
                # sub-byte index packing narrows the coded width
                if pal_size <= 2:
                    w = _sub_size(w, 3)
                elif pal_size <= 4:
                    w = _sub_size(w, 2)
                elif pal_size <= 16:
                    w = _sub_size(w, 1)

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits > 11:
        raise CodecError("vp8l: bad color cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read(1):  # meta-prefix image
        meta_bits = 2 + br.read(3)
        meta = _decode_image(br, _sub_size(w, meta_bits),
                             _sub_size(h, meta_bits), False)
        # group index rides in (red << 8) | green
        meta = (((meta >> 16) & 0xFF) << 8) | ((meta >> 8) & 0xFF)
        num_groups = int(meta.max()) + 1

    green_size = 256 + 24 + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append((_read_prefix_code(br, green_size),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 256),
                       _read_prefix_code(br, 40)))

    n = w * h
    out = np.zeros(n, np.uint32)
    pos = 0
    g = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        green_t, red_t, blue_t, alpha_t, dist_t = g
        s = _decode_sym(br, green_t)
        if s < 256:  # literal
            red = _decode_sym(br, red_t)
            blue = _decode_sym(br, blue_t)
            alpha = _decode_sym(br, alpha_t)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
        elif s < 280:  # LZ77 backward reference
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, _decode_sym(br, dist_t))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if dist > pos or pos + length > n:
                raise CodecError("vp8l: bad back-reference")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache_size:
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
        else:  # color cache
            out[pos] = cache[s - 280]
            pos += 1
    img = out.reshape(h, w)
    if level0:
        img = _apply_inverse_transforms(img, transforms, )
    return img


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a.astype(np.uint16) + b.astype(np.uint16)) >> 1


def _predict(mode: int, ch_l, ch_t, ch_tl, ch_tr) -> np.ndarray:
    """One predictor mode over per-channel uint8[4] neighbor vectors."""
    if mode == 0:
        return np.array([255, 0, 0, 0], np.uint8)  # ARGB opaque black
    if mode == 1:
        return ch_l
    if mode == 2:
        return ch_t
    if mode == 3:
        return ch_tr
    if mode == 4:
        return ch_tl
    if mode == 5:
        return _avg2(_avg2(ch_l, ch_tr), ch_t).astype(np.uint8)
    if mode == 6:
        return _avg2(ch_l, ch_tl).astype(np.uint8)
    if mode == 7:
        return _avg2(ch_l, ch_t).astype(np.uint8)
    if mode == 8:
        return _avg2(ch_tl, ch_t).astype(np.uint8)
    if mode == 9:
        return _avg2(ch_t, ch_tr).astype(np.uint8)
    if mode == 10:
        return _avg2(_avg2(ch_l, ch_tl),
                     _avg2(ch_t, ch_tr)).astype(np.uint8)
    if mode == 11:  # Select
        p_l = int(np.abs(ch_t.astype(int) - ch_tl.astype(int)).sum())
        p_t = int(np.abs(ch_l.astype(int) - ch_tl.astype(int)).sum())
        return ch_t if p_t <= p_l else ch_l
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(ch_l.astype(int) + ch_t.astype(int)
                       - ch_tl.astype(int), 0, 255).astype(np.uint8)
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(ch_l, ch_t).astype(int)
        half = ave + np.trunc((ave - ch_tl.astype(int)) / 2).astype(int)
        return np.clip(half, 0, 255).astype(np.uint8)
    raise CodecError(f"vp8l: bad predictor mode {mode}")


def _apply_inverse_transforms(img: np.ndarray, transforms) -> np.ndarray:
    h, w = img.shape
    for ttype, arg, sub in reversed(transforms):
        if ttype == 3:  # COLOR_INDEXING
            pal_size, pal = arg, sub
            idx_bits = (3 if pal_size <= 2 else 2 if pal_size <= 4
                        else 1 if pal_size <= 16 else 0)
            idx = (img >> 8) & 0xFF  # indices in the green channel
            if idx_bits:
                per = 1 << idx_bits    # pixels packed per green byte
                bits = 8 >> idx_bits   # bits per index
                cols = []
                for i in range(per):
                    cols.append((idx >> (i * bits)) & ((1 << bits) - 1))
                idx = np.stack(cols, axis=-1).reshape(h, -1)
            idx = np.minimum(idx, pal_size - 1).astype(np.int64)
            argb = (pal[:, 0].astype(np.uint32) << 24 \
                    | pal[:, 1].astype(np.uint32) << 16
                    | pal[:, 2].astype(np.uint32) << 8
                    | pal[:, 3].astype(np.uint32))
            img = argb[idx]
            h, w = img.shape
        elif ttype == 2:  # SUBTRACT_GREEN inverse
            green = (img >> 8) & 0xFF
            red = (((img >> 16) & 0xFF) + green) & 0xFF
            blue = ((img & 0xFF) + green) & 0xFF
            img = (img & 0xFF00FF00) | (red << 16) | blue
        elif ttype == 1:  # COLOR transform inverse
            bits = arg
            g2r = (sub & 0xFF).astype(np.int8)
            g2b = ((sub >> 8) & 0xFF).astype(np.int8)
            r2b = ((sub >> 16) & 0xFF).astype(np.int8)
            ty = np.arange(h) >> bits
            tx = np.arange(w) >> bits
            G2R = g2r[np.ix_(ty, tx)].astype(np.int32)
            G2B = g2b[np.ix_(ty, tx)].astype(np.int32)
            R2B = r2b[np.ix_(ty, tx)].astype(np.int32)
            green = ((img >> 8) & 0xFF).astype(np.int8).astype(np.int32)
            red = ((img >> 16) & 0xFF).astype(np.int32)
            red = (red + ((G2R * green) >> 5)) & 0xFF
            red_s = red.astype(np.int8).astype(np.int32)
            blue = (img & 0xFF).astype(np.int32)
            blue = (blue + ((G2B * green) >> 5)
                    + ((R2B * red_s) >> 5)) & 0xFF
            img = ((img & 0xFF00FF00)
                   | (red.astype(np.uint32) << 16)
                   | blue.astype(np.uint32))
        elif ttype == 0:  # PREDICTOR inverse (sequential by definition)
            bits = arg
            modes = ((sub >> 8) & 0xFF).astype(np.int32)
            px = np.zeros((h, w, 4), np.uint8)
            res = np.stack([(img >> 24) & 0xFF, (img >> 16) & 0xFF,
                            (img >> 8) & 0xFF, img & 0xFF],
                           axis=-1).astype(np.uint8)
            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = np.array([255, 0, 0, 0], np.uint8)
                    elif y == 0:
                        pred = px[0, x - 1]
                    elif x == 0:
                        pred = px[y - 1, 0]
                    else:
                        mode = int(modes[y >> bits, x >> bits])
                        tr = (px[y - 1, x + 1] if x + 1 < w
                              else px[y, 0])
                        pred = _predict(mode, px[y, x - 1], px[y - 1, x],
                                        px[y - 1, x - 1], tr)
                    px[y, x] = res[y, x] + pred  # uint8 wraps mod 256
            img = (px[:, :, 0].astype(np.uint32) << 24
                   | px[:, :, 1].astype(np.uint32) << 16
                   | px[:, :, 2].astype(np.uint32) << 8
                   | px[:, :, 3].astype(np.uint32))
    return img


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → HxWx3 (opaque) or HxWx4 uint8 RGB(A)."""
    if len(data) < 5 or data[0] != 0x2F:
        raise CodecError("vp8l: bad signature")
    bits = int.from_bytes(data[1:5], "little")
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    version = bits >> 29
    if version != 0:
        raise CodecError(f"vp8l: version {version}")
    _check_dims(w, h, "vp8l")
    br = _Bits(data)
    br.pos = 5 * 8
    img = _decode_image(br, w, h, True)
    if img.shape[1] > w:  # sub-byte palette packing over-runs the width
        img = img[:, :w]
    if img.shape != (h, w):
        raise CodecError("vp8l: transform size mismatch")
    a = ((img >> 24) & 0xFF).astype(np.uint8)
    r = ((img >> 16) & 0xFF).astype(np.uint8)
    g = ((img >> 8) & 0xFF).astype(np.uint8)
    b = (img & 0xFF).astype(np.uint8)
    if (a == 255).all():
        return np.dstack([r, g, b])
    return np.dstack([r, g, b, a])


def decode_alpha(chunk: bytes, w: int, h: int) -> np.ndarray:
    """WebP ALPH chunk → HxW uint8 alpha plane.  Compression 0 (raw) or
    1 (the alpha plane coded as the green channel of a headerless VP8L
    stream), then the container's reverse filter (none / horizontal /
    vertical / gradient).  Pre-processed (level-reduced) alpha decodes
    without libwebp's optional smoothing pass — values are exact at the
    quantized levels, a documented cosmetic divergence."""
    if not chunk:
        raise CodecError("webp: empty ALPH chunk")
    head = chunk[0]
    compression = head & 0x3
    filtering = (head >> 2) & 0x3
    body = chunk[1:]
    if compression == 0:
        if len(body) < w * h:
            raise CodecError("webp: truncated raw alpha")
        plane = np.frombuffer(body[:w * h], np.uint8).reshape(h, w).copy()
    elif compression == 1:
        br = _Bits(body)
        img = _decode_image(br, w, h, True)
        if img.shape[1] > w:
            img = img[:, :w]
        if img.shape != (h, w):
            raise CodecError("webp: alpha stream size mismatch")
        plane = ((img >> 8) & 0xFF).astype(np.uint8)  # green channel
    else:
        raise CodecError("webp: bad alpha compression")
    if filtering == 0:
        return plane
    out = np.zeros_like(plane)
    for y in range(h):
        prev = out[y - 1] if y else None
        row = plane[y]
        if filtering == 1 or prev is None:   # horizontal (or first row)
            pred = 0 if prev is None else int(prev[0])
            acc = np.empty(w, np.uint8)
            for x in range(w):
                pred = (pred + int(row[x])) & 0xFF
                acc[x] = pred
            out[y] = acc
        elif filtering == 2:                 # vertical
            out[y] = (prev.astype(np.int32) + row).astype(np.uint8)
        else:                                # gradient
            top_left = int(prev[0])
            left = top_left
            acc = np.empty(w, np.uint8)
            for x in range(w):
                top = int(prev[x])
                g = left + top - top_left
                g = 0 if g < 0 else (255 if g > 255 else g)
                left = (int(row[x]) + g) & 0xFF
                top_left = top
                acc[x] = left
            out[y] = acc
    return out


def _image_chunks(data: bytes, pos: int):
    """Pixels of the first image chunk from ``pos`` on — VP8L, or VP8
    with the ALPH chunk before it as its alpha plane — or None when there
    is none.  A still WebP and every ANMF frame body decode here."""
    alpha = None
    for fourcc, start, end in riff_chunks(data, pos):
        chunk = data[start:end]
        if fourcc == b"ALPH":
            alpha = chunk
        elif fourcc == b"VP8L":
            return decode_vp8l(chunk)
        elif fourcc == b"VP8 ":
            from .vp8 import decode_vp8
            px = decode_vp8(chunk)
            if alpha is None:
                return px
            return np.dstack([px, decode_alpha(alpha, px.shape[1],
                                               px.shape[0])])
    return None


def decode_webp(data: bytes) -> np.ndarray:
    """RIFF WebP container → pixels.  Both flavors decode for real:
    lossless (VP8L, RFC 9649) here, lossy key frames (VP8, RFC 6386)
    via ``vp8.decode_vp8`` — bit-exact vs libwebp in test_vp8.py — with
    an ALPH chunk as the alpha plane of a lossy image.  A file whose
    only images are ANMF frames gives its first composited frame.
    That covers the ENTIRE WebP format: the container spec requires
    every still and every ANMF animation frame to be a complete
    independently-decodable image, so VP8 inter frames never occur in
    WebP — they exist only in WebM video essence, where ``vp8.py``
    raises its ``CodecUnavailable`` boundary."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise CodecError("webp: bad container")
    px = _image_chunks(data, 12)
    return px if px is not None else decode_webp_frames(data, 1)[0][0]


def decode_webp_frames(data: bytes, max_frames: int | None = None
                       ) -> list[tuple[np.ndarray, int]]:
    """Animated WebP (VP8X + ANIM/ANMF) → [(RGBA canvas snapshot,
    ts_ms)].  Frame compositing follows the container spec: sub-frames
    placed at (2*x, 2*y), blend none/alpha-over, dispose none/background.
    A WebP without ANMF frames yields its still, as ``decode_webp``
    decodes it, at ts 0."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise CodecError("webp: bad container")
    canvas_w = canvas_h = None
    frames = []       # (x, y, dur_ms, blend, dispose, frame body)
    for fourcc, start, end in riff_chunks(data, 12):
        chunk = data[start:end]
        if fourcc == b"VP8X" and len(chunk) >= 10:
            canvas_w = 1 + int.from_bytes(chunk[4:7], "little")
            canvas_h = 1 + int.from_bytes(chunk[7:10], "little")
        elif fourcc == b"ANMF" and len(chunk) >= 16:
            fx = 2 * int.from_bytes(chunk[0:3], "little")
            fy = 2 * int.from_bytes(chunk[3:6], "little")
            dur = int.from_bytes(chunk[12:15], "little")
            flags = chunk[15]
            frames.append((fx, fy, dur, flags & 2, flags & 1, chunk[16:]))

    if not frames:
        px = _image_chunks(data, 12)
        if px is None:
            raise CodecError("webp: no image chunk")
        return [(_to_rgba(px), 0)]

    if canvas_w is None:
        raise CodecError("webp: ANMF without VP8X canvas")
    _check_dims(canvas_w, canvas_h, "webp")
    canvas = np.zeros((canvas_h, canvas_w, 4), np.uint8)
    out: list[tuple[np.ndarray, int]] = []
    ts = 0
    for fx, fy, dur, no_blend, dispose_bg, payload in frames:
        region = _image_chunks(payload, 0)
        if region is None:
            raise CodecError("webp: ANMF without image chunk")
        region = _to_rgba(region)
        fh, fw = region.shape[:2]
        if fx + fw > canvas_w or fy + fh > canvas_h:
            raise CodecError("webp: frame outside canvas")
        target = canvas[fy:fy + fh, fx:fx + fw]
        if no_blend:
            target[:] = region
        else:
            # container-spec alpha-over on a NON-premultiplied canvas
            # (both src and dst alphas weight the RGB — a src blended
            # over a partially transparent canvas must not inherit the
            # canvas RGB at full weight):
            #   a_out = a_s + a_d*(1-a_s)
            #   rgb_out = (rgb_s*a_s + rgb_d*a_d*(1-a_s)) / a_out
            a_s = region[:, :, 3:4].astype(np.uint32)
            a_d = target[:, :, 3:4].astype(np.uint32)
            wd = a_d * (255 - a_s) // 255          # dst weight, 0..255
            a_out = a_s + wd
            num = (region[:, :, :3].astype(np.uint32) * a_s
                   + target[:, :, :3].astype(np.uint32) * wd)
            den = np.where(a_out == 0, 1, a_out)
            target[:, :, :3] = (num // den).astype(np.uint8)
            target[:, :, 3:4] = a_out.astype(np.uint8)
        out.append((canvas.copy(), ts))
        ts += dur
        if dispose_bg:
            target[:] = 0
        if max_frames is not None and len(out) >= max_frames:
            break
    return out
