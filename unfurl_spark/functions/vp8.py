"""From-scratch VP8 intra-frame (lossy WebP) decoder — RFC 6386.

Pure Python + numpy: boolean arithmetic decoder (§7), keyframe header
(§9) with segmentation and loop-filter adjustments, intra prediction
modes (§11-12), token/coefficient decoding over all four plane types
(§13), dequantization (§14.1), the exact integer inverse DCT/WHT
(§14.3-14.5), and the normal + simple in-loop deblocking filters (§15).

Scope: key frames only — a WebP still image IS a single VP8 key frame,
so this covers every lossy WebP on the web; inter-frame tools (MVs,
reference buffers) are out of scope and raise CodecError.

Correctness bar: tests/test_vp8.py requires the Y/U/V output to be
BIT-EXACT against the system libwebp's own reconstruction
(WebPDecodeYUV) on real libwebp-encoded streams across qualities and
sizes — any table typo, filter slip, or desync fails loudly.

The reference repo stops at WebP container metadata
(packages/unfurl-exif/src/index.ts:16-47); pixel decode exists for the
training-data pipeline (features / thumbnails / dedup at 100 TB scale).
"""
from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecError, _check_dims
from .vp8_tables import (
    AC_QLOOKUP,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# --- mode numbering (RFC 6386 §8.2, §11.2) ---------------------------------
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC_PRED, B_TM_PRED, B_VE_PRED, B_HE_PRED, B_LD_PRED,
 B_RD_PRED, B_VR_PRED, B_VL_PRED, B_HD_PRED, B_HU_PRED) = range(10)

# 16x16 mode → implied subblock mode for bmode context (§11.3)
_MB_TO_B = {DC_PRED: B_DC_PRED, V_PRED: B_VE_PRED,
            H_PRED: B_HE_PRED, TM_PRED: B_TM_PRED}

KF_YMODE_PROB = (145, 156, 163, 128)
KF_UV_MODE_PROB = (142, 114, 183)

# trees (RFC 6386 §8.2, §11.2): negative = leaf
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
BMODE_TREE = (-B_DC_PRED, 2, -B_TM_PRED, 4, -B_VE_PRED, 6, 8, 12,
              -B_HE_PRED, 10, -B_RD_PRED, -B_VR_PRED, -B_LD_PRED, 14,
              -B_VL_PRED, 16, -B_HD_PRED, -B_HU_PRED)

# token tree (§13.2); leaves are ~token so 0 stays distinguishable
DCT_EOB, DCT_0, DCT_1, DCT_2, DCT_3, DCT_4 = 0, 1, 2, 3, 4, 5
DCT_CAT1, DCT_CAT2, DCT_CAT3, DCT_CAT4, DCT_CAT5, DCT_CAT6 = 6, 7, 8, 9, 10, 11
COEFF_TREE = (~DCT_EOB, 2, ~DCT_0, 4, ~DCT_1, 6, 8, 12,
              ~DCT_2, 10, ~DCT_3, ~DCT_4, 14, 16,
              ~DCT_CAT1, ~DCT_CAT2, 18, 20,
              ~DCT_CAT3, ~DCT_CAT4, ~DCT_CAT5, ~DCT_CAT6)

# extra-bit probabilities for cat1..cat6 (§13.2 Pcat1..Pcat6)
PCAT = ((159,), (165, 145), (173, 148, 140), (176, 155, 140, 135),
        (180, 157, 141, 134, 130),
        (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
CAT_BASE = (5, 7, 11, 19, 35, 67)

COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)


class BoolDecoder:
    """RFC 6386 §7.3 boolean arithmetic decoder."""

    __slots__ = ("data", "pos", "end", "range", "value", "bit_count")

    def __init__(self, data: bytes, start: int, size: int):
        self.data = data
        self.pos = start
        self.end = start + size
        self.range = 255
        self.value = 0
        self.bit_count = -8  # triggers two refills for the 16-bit seed
        for _ in range(2):
            self.value = (self.value << 8) | self._byte()

    def _byte(self) -> int:
        if self.pos < self.end:
            b = self.data[self.pos]
            self.pos += 1
            return b
        return 0  # past-the-end reads decode as zero bits (spec-allowed)

    def bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 0:
                self.bit_count = -8
                self.value |= self._byte()
        return ret

    def literal(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | self.bool(128)
        return v

    def signed(self, bits: int) -> int:
        v = self.literal(bits)
        return -v if self.bool(128) else v

def _tree_decode(bd: BoolDecoder, tree, probs) -> int:
    """Generic mode-tree decode (leaves stored as negatives)."""
    i = 0
    while True:
        i = tree[i + bd.bool(probs[i >> 1])]
        if i <= 0:
            return -i


class _Header:
    pass


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


def _parse_header(data: bytes):
    """Uncompressed frame tag + keyframe start code + first-partition
    bool-decoded header (§9)."""
    if len(data) < 10:
        raise CodecError("vp8: truncated stream")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    h = _Header()
    h.keyframe = not (tag & 1)
    h.version = (tag >> 1) & 7
    h.show = (tag >> 4) & 1
    first_size = tag >> 5
    if not h.keyframe:
        raise CodecError("vp8: inter frame (still images are key frames)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise CodecError("vp8: bad keyframe start code")
    wtag = struct.unpack("<H", data[6:8])[0]
    htag = struct.unpack("<H", data[8:10])[0]
    h.width, h.height = wtag & 0x3FFF, htag & 0x3FFF
    _check_dims(h.width, h.height, "vp8")
    part0 = 10
    if part0 + first_size > len(data):
        raise CodecError("vp8: truncated first partition")
    bd = BoolDecoder(data, part0, first_size)

    h.color_space = bd.bool(128)
    h.clamping = bd.bool(128)

    # segmentation (§9.3)
    h.segmentation = bd.bool(128)
    h.update_map = 0
    h.seg_tree_probs = [255, 255, 255]
    h.seg_quant = [0, 0, 0, 0]
    h.seg_lf = [0, 0, 0, 0]
    h.seg_abs = 0
    if h.segmentation:
        h.update_map = bd.bool(128)
        update_data = bd.bool(128)
        if update_data:
            h.seg_abs = bd.bool(128)
            for i in range(4):
                if bd.bool(128):
                    h.seg_quant[i] = bd.signed(7)
            for i in range(4):
                if bd.bool(128):
                    h.seg_lf[i] = bd.signed(6)
        if h.update_map:
            for i in range(3):
                if bd.bool(128):
                    h.seg_tree_probs[i] = bd.literal(8)

    # loop filter (§9.4)
    h.filter_type = bd.bool(128)      # 1 = simple
    h.filter_level = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lf_delta_enabled = bd.bool(128)
    h.ref_lf_deltas = [0, 0, 0, 0]
    h.mode_lf_deltas = [0, 0, 0, 0]
    if h.lf_delta_enabled:
        if bd.bool(128):  # update
            for i in range(4):
                if bd.bool(128):
                    h.ref_lf_deltas[i] = bd.signed(6)
            for i in range(4):
                if bd.bool(128):
                    h.mode_lf_deltas[i] = bd.signed(6)

    # token partitions (§9.5)
    log2_parts = bd.literal(2)
    h.n_parts = 1 << log2_parts

    # quantizer (§9.6)
    h.yac_qi = bd.literal(7)
    h.ydc_delta = bd.signed(4) if bd.bool(128) else 0
    h.y2dc_delta = bd.signed(4) if bd.bool(128) else 0
    h.y2ac_delta = bd.signed(4) if bd.bool(128) else 0
    h.uvdc_delta = bd.signed(4) if bd.bool(128) else 0
    h.uvac_delta = bd.signed(4) if bd.bool(128) else 0

    bd.bool(128)  # refresh_entropy_probs (keyframe: value irrelevant)

    # coefficient probability updates (§13.4)
    probs = bytearray(COEFF_PROBS)
    idx = 0
    for _ in range(4 * 8 * 3 * 11):
        if bd.bool(COEFF_UPDATE_PROBS[idx]):
            probs[idx] = bd.literal(8)
        idx += 1
    h.coeff_probs = bytes(probs)

    h.mb_no_skip = bd.bool(128)
    h.skip_prob = bd.literal(8) if h.mb_no_skip else 0

    return h, bd, part0 + first_size


def _quantizers(h) -> list[tuple]:
    """Per-segment (y1dc, y1ac, y2dc, y2ac, uvdc, uvac) (§9.6, §14.1)."""
    out = []
    for seg in range(4):
        if h.segmentation:
            base = h.seg_quant[seg] if h.seg_abs \
                else h.yac_qi + h.seg_quant[seg]
        else:
            base = h.yac_qi
        base = _clamp_q(base)
        y1dc = DC_QLOOKUP[_clamp_q(base + h.ydc_delta)]
        y1ac = AC_QLOOKUP[_clamp_q(base)]
        y2dc = DC_QLOOKUP[_clamp_q(base + h.y2dc_delta)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(base + h.y2ac_delta)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[_clamp_q(base + h.uvdc_delta)]
        if uvdc > 132:
            uvdc = 132
        uvac = AC_QLOOKUP[_clamp_q(base + h.uvac_delta)]
        out.append((y1dc, y1ac, y2dc, y2ac, uvdc, uvac))
    return out


# --- exact integer transforms (§14.3-14.5) ----------------------------------

def _wrap16(v: int) -> int:
    return ((v + 0x8000) & 0xFFFF) - 0x8000


def _idct4x4(coeffs) -> list:
    """RFC 6386 §14.3 inverse DCT with the 16-bit lane semantics of the
    format's production SIMD implementations: every sum/difference and
    multiplier output wraps to int16 (packed-16 arithmetic), which is
    bit-identical to the scalar spec on all encoder-reachable inputs
    and matches deployed decoders on adversarial ones."""
    w = _wrap16
    tmp = [0] * 16
    for i in range(4):  # vertical pass over columns
        c0, c1, c2, c3 = coeffs[i], coeffs[4 + i], coeffs[8 + i], \
            coeffs[12 + i]
        a1 = w(c0 + c2)
        b1 = w(c0 - c2)
        t1 = (c1 * 35468) >> 16
        t2 = w(c3 + ((c3 * 20091) >> 16))
        cc = w(t1 - t2)
        t1 = w(c1 + ((c1 * 20091) >> 16))
        t2 = (c3 * 35468) >> 16
        dd = w(t1 + t2)
        tmp[i] = w(a1 + dd)
        tmp[12 + i] = w(a1 - dd)
        tmp[4 + i] = w(b1 + cc)
        tmp[8 + i] = w(b1 - cc)
    out = [0] * 16
    for i in range(4):  # horizontal pass over rows
        r = 4 * i
        s0, s1, s2, s3 = tmp[r], tmp[r + 1], tmp[r + 2], tmp[r + 3]
        dc = w(s0 + 4)
        a1 = w(dc + s2)
        b1 = w(dc - s2)
        t1 = (s1 * 35468) >> 16
        t2 = w(s3 + ((s3 * 20091) >> 16))
        cc = w(t1 - t2)
        t1 = w(s1 + ((s1 * 20091) >> 16))
        t2 = (s3 * 35468) >> 16
        dd = w(t1 + t2)
        out[r] = w(a1 + dd) >> 3
        out[r + 3] = w(a1 - dd) >> 3
        out[r + 1] = w(b1 + cc) >> 3
        out[r + 2] = w(b1 - cc) >> 3
    return out


def _iwht4x4(coeffs) -> list:
    """RFC 6386 §14.4 inverse Walsh-Hadamard for the Y2 block →
    16 DC values in subblock raster order."""
    tmp = [0] * 16
    for i in range(4):
        a0 = coeffs[i] + coeffs[12 + i]
        a1 = coeffs[4 + i] + coeffs[8 + i]
        a2 = coeffs[4 + i] - coeffs[8 + i]
        a3 = coeffs[i] - coeffs[12 + i]
        tmp[i] = a0 + a1
        tmp[8 + i] = a0 - a1
        tmp[4 + i] = a3 + a2
        tmp[12 + i] = a3 - a2
    out = [0] * 16
    for i in range(4):
        dc = tmp[4 * i] + 3
        a0 = dc + tmp[4 * i + 3]
        a1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        a2 = tmp[4 * i + 1] - tmp[4 * i + 2]
        a3 = dc - tmp[4 * i + 3]
        out[4 * i + 0] = _wrap16((a0 + a1) >> 3)
        out[4 * i + 1] = _wrap16((a3 + a2) >> 3)
        out[4 * i + 2] = _wrap16((a0 - a1) >> 3)
        out[4 * i + 3] = _wrap16((a3 - a2) >> 3)
    return out


# --- token / coefficient decoding (§13) --------------------------------------

def _decode_coeffs(bd: BoolDecoder, probs: bytes, plane: int,
                   ctx: int, first: int, dqf: int, dqr: int):
    """Decode one 4x4 block's coefficients.  Returns (block, nz): the
    dequantized block in raster order (None when every coefficient is
    zero) and the scan position at which decoding stopped — the
    transform-dispatch class key (see _transform_class).
    ``plane``: 0=Y-after-Y2 1=Y2 2=chroma 3=Y-with-DC;
    ``dqf``/``dqr``: quantizer for coeff 0 / the rest."""
    out = None
    n = first
    base = plane * 264  # 8 bands * 3 ctx * 11
    skip_eob = False
    while n < 16:
        boff = base + COEFF_BANDS[n] * 33 + ctx * 11
        # walk the token tree; after a zero token the EOB branch is
        # skipped (start at node 2)
        i = 2 if skip_eob else 0
        while True:
            i = COEFF_TREE[i + bd.bool(probs[boff + (i >> 1)])]
            if i <= 0:
                token = ~i
                break
        if token == DCT_EOB:
            break
        if token == DCT_0:
            skip_eob = True
            ctx = 0
            n += 1
            continue
        skip_eob = False
        if token <= DCT_4:
            value = token - 1  # DCT_1..DCT_4 → 1..4
            ctx = 1 if value == 1 else 2
        else:
            cat = token - DCT_CAT1
            extra = 0
            for p in PCAT[cat]:
                extra = (extra << 1) | bd.bool(p)
            value = CAT_BASE[cat] + extra
            ctx = 2
        if bd.bool(128):
            value = -value
        if out is None:
            out = [0] * 16
        # dequantized coefficients live in int16 storage in the format's
        # reference implementation; adversarial levels wrap, and
        # bit-exactness requires replicating that
        out[ZIGZAG[n]] = _wrap16(value * (dqf if n == 0 else dqr))
        n += 1
    return out, n


# --- intra prediction (§12) ---------------------------------------------------

def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _clip255(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def _pred_block(plane, y0, x0, size, mode, have_above, have_left):
    """Whole-block prediction (16x16 luma / 8x8 chroma) written into
    plane[y0:y0+size, x0:x0+size].  Virtual border pixels (127 above,
    129 left) are already present in the padded plane for V/H/TM; DC
    uses explicit availability (§12.2)."""
    if mode == DC_PRED:
        if have_above and have_left:
            s = int(plane[y0 - 1, x0:x0 + size].sum()) \
                + int(plane[y0:y0 + size, x0 - 1].sum())
            dc = (s + size) >> (5 if size == 16 else 4)
        elif have_above:
            s = int(plane[y0 - 1, x0:x0 + size].sum())
            dc = (s + size // 2) >> (4 if size == 16 else 3)
        elif have_left:
            s = int(plane[y0:y0 + size, x0 - 1].sum())
            dc = (s + size // 2) >> (4 if size == 16 else 3)
        else:
            dc = 128
        plane[y0:y0 + size, x0:x0 + size] = dc
    elif mode == V_PRED:
        plane[y0:y0 + size, x0:x0 + size] = plane[y0 - 1, x0:x0 + size]
    elif mode == H_PRED:
        plane[y0:y0 + size, x0:x0 + size] = \
            plane[y0:y0 + size, x0 - 1:x0]
    else:  # TM_PRED
        above = plane[y0 - 1, x0:x0 + size].astype(np.int32)
        left = plane[y0:y0 + size, x0 - 1].astype(np.int32)
        tl = int(plane[y0 - 1, x0 - 1])
        blk = left[:, None] + above[None, :] - tl
        plane[y0:y0 + size, x0:x0 + size] = \
            np.clip(blk, 0, 255).astype(np.uint8)


def _pred_b(plane, y0, x0, mode, tr):
    """4x4 subblock prediction (§12.3).  ``tr`` overrides the 4
    above-right pixels when the natural plane read is invalid (column-3
    subblocks below the MB's top row use the MB-level top-right)."""
    A = [int(v) for v in plane[y0 - 1, x0:x0 + 4]]
    if tr is not None:
        AR = [int(v) for v in tr]
    else:
        AR = [int(v) for v in plane[y0 - 1, x0 + 4:x0 + 8]]
    L = [int(v) for v in plane[y0:y0 + 4, x0 - 1]]
    P = int(plane[y0 - 1, x0 - 1])
    d = [[0] * 4 for _ in range(4)]
    if mode == B_DC_PRED:
        dc = (sum(A) + sum(L) + 4) >> 3
        for r in range(4):
            for c in range(4):
                d[r][c] = dc
    elif mode == B_TM_PRED:
        for r in range(4):
            for c in range(4):
                d[r][c] = _clip255(L[r] + A[c] - P)
    elif mode == B_VE_PRED:
        row = [_avg3(P, A[0], A[1]), _avg3(A[0], A[1], A[2]),
               _avg3(A[1], A[2], A[3]), _avg3(A[2], A[3], AR[0])]
        for r in range(4):
            d[r] = row[:]
    elif mode == B_HE_PRED:
        col = [_avg3(P, L[0], L[1]), _avg3(L[0], L[1], L[2]),
               _avg3(L[1], L[2], L[3]), _avg3(L[2], L[3], L[3])]
        for r in range(4):
            for c in range(4):
                d[r][c] = col[r]
    elif mode == B_LD_PRED:
        E = A + AR
        for r in range(4):
            for c in range(4):
                k = r + c
                d[r][c] = _avg3(E[k], E[k + 1], E[k + 2]) if k < 6 \
                    else _avg3(E[6], E[7], E[7])
    elif mode == B_RD_PRED:
        I, J, K, Lp = L
        X, Aa, Bb, Cc, Dd = P, A[0], A[1], A[2], A[3]
        d[3][0] = _avg3(J, K, Lp)
        d[3][1] = d[2][0] = _avg3(I, J, K)
        d[3][2] = d[2][1] = d[1][0] = _avg3(X, I, J)
        d[3][3] = d[2][2] = d[1][1] = d[0][0] = _avg3(Aa, X, I)
        d[2][3] = d[1][2] = d[0][1] = _avg3(Bb, Aa, X)
        d[1][3] = d[0][2] = _avg3(Cc, Bb, Aa)
        d[0][3] = _avg3(Dd, Cc, Bb)
    elif mode == B_VR_PRED:
        I, J, K, _Lp = L
        X, Aa, Bb, Cc, Dd = P, A[0], A[1], A[2], A[3]
        d[0][0] = d[2][1] = _avg2(X, Aa)
        d[0][1] = d[2][2] = _avg2(Aa, Bb)
        d[0][2] = d[2][3] = _avg2(Bb, Cc)
        d[0][3] = _avg2(Cc, Dd)
        d[3][0] = _avg3(K, J, I)
        d[2][0] = _avg3(J, I, X)
        d[1][0] = d[3][1] = _avg3(I, X, Aa)
        d[1][1] = d[3][2] = _avg3(X, Aa, Bb)
        d[1][2] = d[3][3] = _avg3(Aa, Bb, Cc)
        d[1][3] = _avg3(Bb, Cc, Dd)
    elif mode == B_VL_PRED:
        E = A + AR
        d[0][0] = _avg2(E[0], E[1])
        d[0][1] = d[2][0] = _avg2(E[1], E[2])
        d[0][2] = d[2][1] = _avg2(E[2], E[3])
        d[0][3] = d[2][2] = _avg2(E[3], E[4])
        d[1][0] = _avg3(E[0], E[1], E[2])
        d[1][1] = d[3][0] = _avg3(E[1], E[2], E[3])
        d[1][2] = d[3][1] = _avg3(E[2], E[3], E[4])
        d[1][3] = d[3][2] = _avg3(E[3], E[4], E[5])
        d[2][3] = _avg3(E[4], E[5], E[6])
        d[3][3] = _avg3(E[5], E[6], E[7])
    elif mode == B_HD_PRED:
        I, J, K, Lp = L
        X, Aa, Bb, Cc = P, A[0], A[1], A[2]
        d[0][0] = d[1][2] = _avg2(I, X)
        d[1][0] = d[2][2] = _avg2(J, I)
        d[2][0] = d[3][2] = _avg2(K, J)
        d[3][0] = _avg2(Lp, K)
        d[0][3] = _avg3(Aa, Bb, Cc)
        d[0][2] = _avg3(X, Aa, Bb)
        d[0][1] = d[1][3] = _avg3(I, X, Aa)
        d[1][1] = d[2][3] = _avg3(X, I, J)
        d[2][1] = d[3][3] = _avg3(I, J, K)
        d[3][1] = _avg3(J, K, Lp)
    else:  # B_HU_PRED
        I, J, K, Lp = L
        d[0][0] = _avg2(I, J)
        d[0][2] = d[1][0] = _avg2(J, K)
        d[0][1] = _avg3(I, J, K)
        d[0][3] = d[1][1] = _avg3(J, K, Lp)
        d[1][2] = d[2][0] = _avg2(K, Lp)
        d[1][3] = d[2][1] = _avg3(K, Lp, Lp)
        d[2][2] = d[2][3] = Lp
        d[3][0] = d[3][1] = d[3][2] = d[3][3] = Lp
    for r in range(4):
        plane[y0 + r, x0:x0 + 4] = d[r]


# --- in-loop deblocking filter (§15) -----------------------------------------

def _sclip(v, lim):
    return -lim if v < -lim else (lim - 1 if v > lim - 1 else v)


def _filter2(px, idx, step):
    """Common adjust with outer taps: touches p0/q0 (§15.2)."""
    p1, p0 = px[idx - 2 * step], px[idx - step]
    q0, q1 = px[idx], px[idx + step]
    a = 3 * (q0 - p0) + _sclip(p1 - q1, 128)
    a1 = _sclip(a + 4, 128) >> 3
    a2 = _sclip(a + 3, 128) >> 3
    px[idx - step] = _clip255(p0 + a2)
    px[idx] = _clip255(q0 - a1)


def _filter4(px, idx, step):
    """Inner-edge filter, !hev: touches p1/p0/q0/q1 (§15.3)."""
    p1, p0 = px[idx - 2 * step], px[idx - step]
    q0, q1 = px[idx], px[idx + step]
    a = 3 * (q0 - p0)
    a1 = _sclip(a + 4, 128) >> 3
    a2 = _sclip(a + 3, 128) >> 3
    a3 = (a1 + 1) >> 1
    px[idx - 2 * step] = _clip255(p1 + a3)
    px[idx - step] = _clip255(p0 + a2)
    px[idx] = _clip255(q0 - a1)
    px[idx + step] = _clip255(q1 - a3)


def _filter6(px, idx, step):
    """MB-edge filter, !hev: touches p2..q2 (§15.3)."""
    p2, p1, p0 = px[idx - 3 * step], px[idx - 2 * step], px[idx - step]
    q0, q1, q2 = px[idx], px[idx + step], px[idx + 2 * step]
    a = _sclip(3 * (q0 - p0) + _sclip(p1 - q1, 128), 128)
    a1 = (27 * a + 63) >> 7
    a2 = (18 * a + 63) >> 7
    a3 = (9 * a + 63) >> 7
    px[idx - 3 * step] = _clip255(p2 + a3)
    px[idx - 2 * step] = _clip255(p1 + a2)
    px[idx - step] = _clip255(p0 + a1)
    px[idx] = _clip255(q0 - a1)
    px[idx + step] = _clip255(q1 - a2)
    px[idx + 2 * step] = _clip255(q2 - a3)


def _needs_filter(px, idx, step, t2) -> bool:
    p1, p0 = px[idx - 2 * step], px[idx - step]
    q0, q1 = px[idx], px[idx + step]
    return 4 * abs(p0 - q0) + abs(p1 - q1) <= t2


def _needs_filter2(px, idx, step, t2, it) -> bool:
    p3, p2, p1, p0 = (px[idx - 4 * step], px[idx - 3 * step],
                      px[idx - 2 * step], px[idx - step])
    q0, q1, q2, q3 = (px[idx], px[idx + step],
                      px[idx + 2 * step], px[idx + 3 * step])
    if 4 * abs(p0 - q0) + abs(p1 - q1) > t2:
        return False
    return (abs(p3 - p2) <= it and abs(p2 - p1) <= it
            and abs(p1 - p0) <= it and abs(q3 - q2) <= it
            and abs(q2 - q1) <= it and abs(q1 - q0) <= it)


def _hev(px, idx, step, t) -> bool:
    p1, p0 = px[idx - 2 * step], px[idx - step]
    q0, q1 = px[idx], px[idx + step]
    return abs(p1 - p0) > t or abs(q1 - q0) > t


def _filter_loop(px, base, stride, step, count, limit, ilimit, hev_t,
                 mb_edge):
    """Run the normal filter along one edge of ``count`` pixels;
    ``step`` strides ACROSS the edge, ``stride`` along it."""
    t2 = 2 * limit + 1
    for _ in range(count):
        if _needs_filter2(px, base, step, t2, ilimit):
            if _hev(px, base, step, hev_t):
                _filter2(px, base, step)
            elif mb_edge:
                _filter6(px, base, step)
            else:
                _filter4(px, base, step)
        base += stride


def _filter_loop_simple(px, base, stride, step, count, limit):
    t2 = 2 * limit + 1
    for _ in range(count):
        if _needs_filter(px, base, step, t2):
            _filter2(px, base, step)
        base += stride


def _loop_filter(h, planes, mb_w, mb_h, infos):
    """Sequential per-MB deblocking, vertical edges then horizontal,
    matching the spec decode order; operates on flat int lists for
    speed of single-pixel access."""
    yp, up, vp = planes
    ystride = yp.shape[1]
    cstride = up.shape[1]
    yf = yp.astype(np.int32).ravel().tolist()
    uf = up.astype(np.int32).ravel().tolist()
    vf = vp.astype(np.int32).ravel().tolist()
    simple = h.filter_type == 1
    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            level, ilevel, f_inner = infos[mb_y][mb_x]
            if level == 0:
                continue
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            limit = 2 * level + ilevel
            y0, x0 = 1 + 16 * mb_y, 1 + 16 * mb_x
            ybase = y0 * ystride + x0
            cy0, cx0 = 1 + 8 * mb_y, 1 + 8 * mb_x
            ubase = cy0 * cstride + cx0
            if simple:
                if mb_x > 0:
                    _filter_loop_simple(yf, ybase, ystride, 1, 16,
                                        limit + 4)
                if f_inner:
                    for off in (4, 8, 12):
                        _filter_loop_simple(yf, ybase + off, ystride, 1,
                                            16, limit)
                if mb_y > 0:
                    _filter_loop_simple(yf, ybase, 1, ystride, 16,
                                        limit + 4)
                if f_inner:
                    for off in (4, 8, 12):
                        _filter_loop_simple(yf, ybase + off * ystride, 1,
                                            ystride, 16, limit)
                continue
            if mb_x > 0:
                _filter_loop(yf, ybase, ystride, 1, 16, limit + 4,
                             ilevel, hev_t, True)
                _filter_loop(uf, ubase, cstride, 1, 8, limit + 4,
                             ilevel, hev_t, True)
                _filter_loop(vf, ubase, cstride, 1, 8, limit + 4,
                             ilevel, hev_t, True)
            if f_inner:
                for off in (4, 8, 12):
                    _filter_loop(yf, ybase + off, ystride, 1, 16, limit,
                                 ilevel, hev_t, False)
                _filter_loop(uf, ubase + 4, cstride, 1, 8, limit,
                             ilevel, hev_t, False)
                _filter_loop(vf, ubase + 4, cstride, 1, 8, limit,
                             ilevel, hev_t, False)
            if mb_y > 0:
                _filter_loop(yf, ybase, 1, ystride, 16, limit + 4,
                             ilevel, hev_t, True)
                _filter_loop(uf, ubase, 1, cstride, 8, limit + 4,
                             ilevel, hev_t, True)
                _filter_loop(vf, ubase, 1, cstride, 8, limit + 4,
                             ilevel, hev_t, True)
            if f_inner:
                for off in (4, 8, 12):
                    _filter_loop(yf, ybase + off * ystride, 1, ystride,
                                 16, limit, ilevel, hev_t, False)
                _filter_loop(uf, ubase + 4 * cstride, 1, cstride, 8,
                             limit, ilevel, hev_t, False)
                _filter_loop(vf, ubase + 4 * cstride, 1, cstride, 8,
                             limit, ilevel, hev_t, False)
    yp[:] = np.asarray(yf, np.int32).reshape(yp.shape).astype(np.uint8)
    up[:] = np.asarray(uf, np.int32).reshape(up.shape).astype(np.uint8)
    vp[:] = np.asarray(vf, np.int32).reshape(vp.shape).astype(np.uint8)


# --- frame decode -------------------------------------------------------------

_SEG_TREE = (2, 4, -0, -1, -2, -3)


def _filter_info(h, segment: int, i4x4: bool, has_nz: bool):
    """Per-MB (level, interior_level, filter_inner) (§15.1-15.2)."""
    if h.segmentation:
        level = h.seg_lf[segment] if h.seg_abs \
            else h.filter_level + h.seg_lf[segment]
    else:
        level = h.filter_level
    if h.lf_delta_enabled:
        level += h.ref_lf_deltas[0]          # keyframe: intra frame
        if i4x4:
            level += h.mode_lf_deltas[0]     # B_PRED mode delta
    level = 0 if level < 0 else (63 if level > 63 else level)
    ilevel = level
    if h.sharpness > 0:
        ilevel >>= 2 if h.sharpness > 4 else 1
        if ilevel > 9 - h.sharpness:
            ilevel = 9 - h.sharpness
    if ilevel < 1:
        ilevel = 1
    return level, ilevel, i4x4 or has_nz


def decode_vp8_yuv(data: bytes):
    """VP8 keyframe → (Y, U, V) uint8 planes (U/V half resolution),
    bit-exact with the format's reference reconstruction."""
    h, bd, off = _parse_header(data)
    mb_w = (h.width + 15) // 16
    mb_h = (h.height + 15) // 16

    # token partitions (§9.5): sizes for all but the last
    sizes = []
    p = off
    for _ in range(h.n_parts - 1):
        if p + 3 > len(data):
            raise CodecError("vp8: truncated partition table")
        sizes.append(data[p] | (data[p + 1] << 8) | (data[p + 2] << 16))
        p += 3
    parts = []
    for sz in sizes:
        if p + sz > len(data):
            raise CodecError("vp8: truncated token partition")
        parts.append(BoolDecoder(data, p, sz))
        p += sz
    parts.append(BoolDecoder(data, p, len(data) - p))

    quants = _quantizers(h)

    # ---- pass 1: per-MB prediction records from the first partition
    mbs = []
    above_b = [[B_DC_PRED] * 4 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        row = []
        left_b = [B_DC_PRED] * 4
        for mb_x in range(mb_w):
            seg = 0
            if h.segmentation and h.update_map:
                seg = _tree_decode(bd, _SEG_TREE, h.seg_tree_probs)
            skip = bd.bool(h.skip_prob) if h.mb_no_skip else 0
            ymode = _tree_decode(bd, KF_YMODE_TREE, KF_YMODE_PROB)
            bmodes = [0] * 16
            if ymode == B_PRED:
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    a = above_b[mb_x][c] if r == 0 else bmodes[sb - 4]
                    lm = left_b[r] if c == 0 else bmodes[sb - 1]
                    probs = KF_BMODE_PROBS[(a * 10 + lm) * 9:
                                           (a * 10 + lm) * 9 + 9]
                    bmodes[sb] = _tree_decode(bd, BMODE_TREE, probs)
                above_b[mb_x] = bmodes[12:16]
                left_b = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            else:
                im = _MB_TO_B[ymode]
                above_b[mb_x] = [im] * 4
                left_b = [im] * 4
            uvmode = _tree_decode(bd, UV_MODE_TREE, KF_UV_MODE_PROB)
            row.append([seg, skip, ymode, bmodes, uvmode])
        mbs.append(row)

    # ---- pass 2: residuals + reconstruction, raster order
    yp = np.empty((mb_h * 16 + 1, mb_w * 16 + 5), np.uint8)
    up = np.empty((mb_h * 8 + 1, mb_w * 8 + 1), np.uint8)
    vp = np.empty((mb_h * 8 + 1, mb_w * 8 + 1), np.uint8)

    ay = [0] * (mb_w * 4)
    au = [0] * (mb_w * 2)
    av = [0] * (mb_w * 2)
    ay2 = [0] * mb_w
    infos = []
    probs = h.coeff_probs
    for mb_y in range(mb_h):
        tb = parts[mb_y % h.n_parts]
        ly = [0] * 4
        lu = [0] * 2
        lv = [0] * 2
        ly2 = 0
        inforow = []
        for mb_x in range(mb_w):
            seg, skip, ymode, bmodes, uvmode = mbs[mb_y][mb_x]
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = quants[seg]
            i4x4 = ymode == B_PRED
            yblocks = [None] * 16
            ublocks = [None] * 4
            vblocks = [None] * 4
            dcs = None
            has_nz = False
            if skip:
                for i in range(4):
                    ly[i] = ay[mb_x * 4 + i] = 0
                for i in range(2):
                    lu[i] = au[mb_x * 2 + i] = 0
                    lv[i] = av[mb_x * 2 + i] = 0
                if not i4x4:
                    ly2 = ay2[mb_x] = 0
            else:
                ynz = [[0] * 5 for _ in range(5)]  # [row+1][col+1] grids
                if not i4x4:
                    ctx = ay2[mb_x] + ly2
                    blk, _nz2 = _decode_coeffs(tb, probs, 1, ctx, 0,
                                               y2dc, y2ac)
                    nz = blk is not None
                    ay2[mb_x] = ly2 = 1 if nz else 0
                    has_nz |= nz
                    dcs = _iwht4x4(blk) if nz else None
                    plane, first = 0, 1
                else:
                    plane, first = 3, 0
                for i in range(4):
                    ynz[0][i + 1] = ay[mb_x * 4 + i]
                    ynz[i + 1][0] = ly[i]
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    ctx = ynz[r][c + 1] + ynz[r + 1][c]
                    blk, bnz = _decode_coeffs(tb, probs, plane, ctx,
                                              first, y1dc, y1ac)
                    ynz[r + 1][c + 1] = 1 if blk is not None else 0
                    has_nz |= blk is not None
                    yblocks[sb] = (blk, bnz)
                for i in range(4):
                    ay[mb_x * 4 + i] = ynz[4][i + 1]
                    ly[i] = ynz[i + 1][4]
                for blocks, anz, lnz in ((ublocks, au, lu),
                                         (vblocks, av, lv)):
                    cnz = [[0] * 3 for _ in range(3)]
                    for i in range(2):
                        cnz[0][i + 1] = anz[mb_x * 2 + i]
                        cnz[i + 1][0] = lnz[i]
                    for sb in range(4):
                        r, c = sb >> 1, sb & 1
                        ctx = cnz[r][c + 1] + cnz[r + 1][c]
                        blk, bnz = _decode_coeffs(tb, probs, 2, ctx, 0,
                                                  uvdc, uvac)
                        cnz[r + 1][c + 1] = 1 if blk is not None else 0
                        has_nz |= blk is not None
                        blocks[sb] = (blk, bnz)
                    for i in range(2):
                        anz[mb_x * 2 + i] = cnz[2][i + 1]
                        lnz[i] = cnz[i + 1][2]
            inforow.append(_filter_info(h, seg, i4x4, has_nz))

            # ---- reconstruction
            y0, x0 = 1 + 16 * mb_y, 1 + 16 * mb_x
            cy0, cx0 = 1 + 8 * mb_y, 1 + 8 * mb_x
            if mb_y == 0:
                yp[0, x0 - 1:x0 + 20] = 127
                up[0, cx0 - 1:cx0 + 8] = 127
                vp[0, cx0 - 1:cx0 + 8] = 127
            if mb_x == 0:
                yp[y0:y0 + 16, 0] = 129
                up[cy0:cy0 + 8, 0] = 129
                vp[cy0:cy0 + 8, 0] = 129
                if mb_y > 0:
                    yp[y0 - 1, 0] = 129
                    up[cy0 - 1, 0] = 129
                    vp[cy0 - 1, 0] = 129
            # MB-level top-right 4 pixels for B_PRED
            if mb_y > 0:
                if mb_x >= mb_w - 1:
                    yp[y0 - 1, x0 + 16:x0 + 20] = yp[y0 - 1, x0 + 15]
                tr4 = yp[y0 - 1, x0 + 16:x0 + 20].copy()
            else:
                tr4 = np.full(4, 127, np.uint8)

            if not i4x4:
                _pred_block(yp, y0, x0, 16, ymode, mb_y > 0, mb_x > 0)
                for sb in range(16):
                    entry = yblocks[sb]
                    blk, bnz = entry if entry is not None else (None, 1)
                    dc = dcs[sb] if dcs is not None else 0
                    if blk is None and dc == 0:
                        continue
                    if blk is None:
                        blk = [0] * 16
                        bnz = 1
                    blk[0] = dc
                    _apply_block(yp, y0 + 4 * (sb >> 2),
                                 x0 + 4 * (sb & 3), blk, bnz)
            else:
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    tr = tr4 if (c == 3 and r > 0) else None
                    _pred_b(yp, y0 + 4 * r, x0 + 4 * c, bmodes[sb], tr)
                    blk, bnz = yblocks[sb] if yblocks[sb] is not None \
                        else (None, 0)
                    if blk is not None:
                        _apply_block(yp, y0 + 4 * r, x0 + 4 * c, blk, bnz)
            for cp, blocks in ((up, ublocks), (vp, vblocks)):
                _pred_block(cp, cy0, cx0, 8, uvmode, mb_y > 0, mb_x > 0)
                # chroma dispatch is per CHANNEL: if any of the four
                # blocks carries more than a DC, the full (16-bit lane)
                # transform runs for all of them; otherwise each block
                # takes the scalar DC-only path — no AC3 form for chroma
                full = any(e is not None and e[0] is not None
                           and e[1] > 1 for e in blocks)
                for sb in range(4):
                    entry = blocks[sb]
                    if entry is not None and entry[0] is not None:
                        _apply_block(cp, cy0 + 4 * (sb >> 1),
                                     cx0 + 4 * (sb & 1), entry[0],
                                     4 if full else min(entry[1], 1))
        infos.append(inforow)

    # libwebp/libvpx gate (VP8ParseFilterHeader: filter_type_ =
    # level_ == 0 ? 0 : ...): a frame-level filter_level of 0 disables
    # the loop filter entirely, even when segment LF deltas (including
    # absolute-mode values) are nonzero — matching them bit-exactly
    # trumps the RFC-literal per-segment reading here
    if h.filter_level > 0:
        _loop_filter(h, (yp, up, vp), mb_w, mb_h, infos)

    cw, ch = (h.width + 1) // 2, (h.height + 1) // 2
    return (yp[1:h.height + 1, 1:h.width + 1].copy(),
            up[1:ch + 1, 1:cw + 1].copy(),
            vp[1:ch + 1, 1:cw + 1].copy())


def _mul1(a: int) -> int:
    return ((a * 20091) >> 16) + a


def _mul2(a: int) -> int:
    return (a * 35468) >> 16


def _apply_block(plane, y0, x0, coeffs, nz):
    """Transform + add one block, replicating the format's per-block
    dispatch: nz>3 → full inverse DCT in 16-bit lanes; nz in {2,3}
    (coefficients confined to scan positions ≤2, i.e. raster {0,1,4})
    → exact scalar closed form; nz≤1 → scalar DC-only; all-zero → no-op.
    The split is observable on adversarial streams because only the
    full path wraps int16."""
    if nz > 3:
        res = np.asarray(_idct4x4(coeffs), np.int32).reshape(4, 4)
    elif nz > 1:
        a = coeffs[0] + 4
        c1, d1 = _mul2(coeffs[1]), _mul1(coeffs[1])
        c4, d4 = _mul2(coeffs[4]), _mul1(coeffs[4])
        base = np.asarray([a + d4, a + c4, a - c4, a - d4], np.int32)
        off = np.asarray([d1, c1, -c1, -d1], np.int32)
        res = (base[:, None] + off[None, :]) >> 3
    elif coeffs[0]:
        res = np.full((4, 4), (coeffs[0] + 4) >> 3, np.int32)
    else:
        return
    blk = plane[y0:y0 + 4, x0:x0 + 4].astype(np.int32) + res
    plane[y0:y0 + 4, x0:x0 + 4] = np.clip(blk, 0, 255).astype(np.uint8)


def yuv420_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """BT.601 full-swing YUV420 → HxWx3 uint8 (simple 2x2 upsample —
    documented divergence from libwebp's fancy upsampler; parity tests
    compare in YUV space)."""
    hgt, wid = y.shape
    uu = np.repeat(np.repeat(u, 2, 0), 2, 1)[:hgt, :wid].astype(np.int32)
    vv = np.repeat(np.repeat(v, 2, 0), 2, 1)[:hgt, :wid].astype(np.int32)
    yy = y.astype(np.int32)
    r = yy + ((91881 * (vv - 128)) >> 16)
    g = yy - ((22554 * (uu - 128) + 46802 * (vv - 128)) >> 16)
    b = yy + ((116130 * (uu - 128)) >> 16)
    return np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)


def decode_vp8(data: bytes) -> np.ndarray:
    """VP8 keyframe essence → HxWx3 uint8 RGB."""
    return yuv420_to_rgb(*decode_vp8_yuv(data))
