"""JPEG codec (ITU-T T.81) in stdlib + numpy: baseline sequential DCT
AND progressive (SOF2).

Decoder: marker parse → Huffman entropy decode (with byte stuffing and
restart markers) → dequantize → vectorized numpy IDCT → chroma
upsample → YCbCr→RGB.  Handles SOF0/SOF1 and SOF2 (spectral selection
+ successive approximation per T.81 G.1.2, incl. EOB runs and AC
refinement correction bits), 4:4:4 / 4:2:2 / 4:2:0 sampling, DRI
restarts, and multi-SOS NON-INTERLEAVED sequential files (one scan per
component subset, T.81 A.2.2 — scans accumulate into per-component
planes and assemble once every component is coded).  Arithmetic coding
decodes too — sequential (SOF9, incl. non-interleaved multi-scan) and
progressive (SOF10) via the T.81 QM-coder in ``jpegarith`` — and so
does the LOSSLESS process (SOF3, Annex H: spatial DPCM, predictors
1-7, point transform, modulo-65536).  The remaining boundaries are the
hierarchical modes (SOF5-7/13-15), arithmetic lossless (SOF11), and
lossless precision above 8 bits (12/16-bit DNG raws exceed the uint8
pixel contract).

The fixture encoders (baseline with Annex K tables, progressive with
the conventional multi-scan script, lossless) are in
``tests/encoders.py``.  Encoder and decoder are independent walks of
the spec, so round-trip tests exercise both directions — and
progressive-vs-baseline encodes of the same image must decode to
IDENTICAL pixels (same coefficients, different entropy organization),
which pins each against the other.

The reference never decodes JPEG essence — its exif plugin stops at
metadata (packages/unfurl-exif/src/index.ts:16-47).  This module exists
for the training-data side: pixel features and thumbnails at scale.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecError, CodecUnavailable, _check_dims, total

# zigzag order: index i holds the raster position of the i-th scanned coeff
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])


# orthonormal 8-point DCT-II basis: IDCT is  C.T @ X @ C
_N = np.arange(8)
_DCT_C = np.cos((2 * _N[:, None] + 1) * _N[None, :] * np.pi / 16) / 2
_DCT_C[:, 0] /= np.sqrt(2)


def _canonical_codes(bits: list[int], values: list[int]
                     ) -> dict[tuple[int, int], int]:
    """(code_length, code) → symbol, per T.81 C.2 canonical assignment."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 de-stuffing;
    stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d, p = self.data, self.pos
        if p >= len(d):
            raise CodecError("jpeg: truncated entropy data")
        byte = d[p]
        if byte == 0xFF:
            # T.81 B.1.1.2: any run of 0xFF fill bytes may precede the
            # classifying byte — skip them, else legal FF FF sequences
            # inside the scan would prematurely pad with 1-bits
            while p + 1 < len(d) and d[p + 1] == 0xFF:
                p += 1
            self.pos = p
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2
            elif 0xD0 <= nxt <= 0xD7:
                raise CodecError("jpeg: unconsumed restart marker")
            else:  # EOI/next segment: pad with 1-bits per spec
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Discard partial byte and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF
                                      and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= len(d):
            raise CodecError("jpeg: missing restart marker")
        self.pos = p + 2

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise CodecError("jpeg: bad Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.12 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


@total
def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xFF\xD8":
        raise CodecError("jpeg: bad signature")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) → code table
    frame = None  # (w, h, comps)
    restart_interval = 0
    progressive = False
    arithmetic = False
    arith_dc: dict[int, tuple] = {}   # table id → (L, U)
    arith_ac: dict[int, int] = {}     # table id → Kx
    prog_state: dict[int, dict] = {}  # comp id → {"coefs": ndarray}
    seq_covered: set[int] = set()     # comp ids coded by sequential scans
    lossless = 0                      # SOF3: sample precision, else 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise CodecError("jpeg: marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 15
                i += 1
                if prec:
                    qtables[tid] = np.frombuffer(
                        body[i:i + 128], ">u2").astype(np.int32)
                    i += 128
                else:
                    qtables[tid] = np.frombuffer(
                        body[i:i + 64], np.uint8).astype(np.int32)
                    i += 64
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tclass, tid = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                nval = sum(bits)
                values = list(body[i + 17:i + 17 + nval])
                htables[(tclass, tid)] = _canonical_codes(bits, values)
                i += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 seq, SOF2 progressive
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if nc not in (1, 3):
                # 4-component Adobe CMYK/YCCK (and exotic 2-component)
                # frames would silently decode the first 3 planes as
                # YCbCr — garbage pixels flagged ok.  Out of scope.
                raise CodecUnavailable(f"jpeg: {nc}-component frame")
            comps = []
            for ci in range(nc):
                cid, sampling, qid = body[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": sampling >> 4,
                              "v": sampling & 15, "q": qid})
            frame = (w, h, comps)
            if marker == 0xC2:
                progressive = True
                _check_dims(w, h, "jpeg")
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                for c in comps:
                    prog_state[c["id"]] = {
                        "coefs": np.zeros(
                            (mcuy * c["v"], mcux * c["h"], 64), np.int32)}
        elif marker == 0xC9:  # SOF9: arithmetic-coded sequential
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if nc not in (1, 3):
                raise CodecUnavailable(f"jpeg: {nc}-component frame")
            comps = []
            for ci in range(nc):
                cid, sampling, qid = body[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": sampling >> 4,
                              "v": sampling & 15, "q": qid})
            frame = (w, h, comps)
            arithmetic = True
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            i = 0
            while i + 1 < len(body):
                tclass, tid = body[i] >> 4, body[i] & 15
                if tclass == 0:
                    arith_dc[tid] = (body[i + 1] & 15, body[i + 1] >> 4)
                else:
                    arith_ac[tid] = body[i + 1]
                i += 2
        elif marker == 0xCA:  # SOF10: arithmetic-coded progressive
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if nc not in (1, 3):
                raise CodecUnavailable(f"jpeg: {nc}-component frame")
            comps = []
            for ci in range(nc):
                cid, sampling, qid = body[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": sampling >> 4,
                              "v": sampling & 15, "q": qid})
            frame = (w, h, comps)
            arithmetic = True
            progressive = True
            _check_dims(w, h, "jpeg")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                prog_state[c["id"]] = {
                    "coefs": np.zeros(
                        (mcuy * c["v"], mcux * c["h"], 64), np.int32)}
        elif marker == 0xC3:  # SOF3: Huffman lossless (T.81 Annex H)
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if nc not in (1, 3):
                raise CodecUnavailable(f"jpeg: {nc}-component frame")
            if not 2 <= prec <= 8:
                # 12/16-bit lossless (DNG raws) exceeds the uint8 pixel
                # contract of this pipeline
                raise CodecUnavailable(
                    f"jpeg: {prec}-bit lossless precision")
            comps = []
            for ci in range(nc):
                cid, sampling, qid = body[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": sampling >> 4,
                              "v": sampling & 15, "q": qid})
            frame = (w, h, comps)
            lossless = prec
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise CodecUnavailable(f"jpeg: SOF{marker - 0xC0} unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise CodecError("jpeg: SOS before SOF")
            ns = body[0]
            scan = []
            for si in range(ns):
                cid, tids = body[1 + 2 * si], body[2 + 2 * si]
                scan.append((cid, tids >> 4, tids & 15))
            if lossless:
                ss, _se, ahal = body[1 + 2 * ns:4 + 2 * ns]
                _decode_scan_lossless(
                    data, pos + 2 + seg_len, frame, scan, htables,
                    restart_interval, ss, ahal & 15, lossless)
                seq_covered.update(cid for cid, _d, _a in scan)
                if len(seq_covered) == len(frame[2]):
                    return _assemble_lossless(frame, ahal & 15, lossless)
                pos = _next_marker(data, pos + 2 + seg_len)
                continue
            if not progressive:
                # sequential scans accumulate into per-component planes
                # (T.81 allows multi-SOS non-interleaved baseline/SOF9
                # files: each scan covers a component subset); assemble
                # once every frame component has been coded
                if arithmetic:
                    _decode_scan_arith(
                        data, pos + 2 + seg_len, frame, scan, qtables,
                        arith_dc, arith_ac, restart_interval)
                else:
                    _decode_scan(data, pos + 2 + seg_len, frame, scan,
                                 qtables, htables, restart_interval)
                seq_covered.update(cid for cid, _d, _a in scan)
                if len(seq_covered) == len(frame[2]):
                    return _assemble(frame)
                pos = _next_marker(data, pos + 2 + seg_len)
                continue
            if arithmetic:
                ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
                pos = _decode_prog_scan_arith(
                    data, pos + 2 + seg_len, frame, scan, ss, se,
                    ahal >> 4, ahal & 15, arith_dc, arith_ac,
                    restart_interval, prog_state)
                continue
            ss, se, ahal = body[1 + 2 * ns:4 + 2 * ns]
            pos = _decode_prog_scan(
                data, pos + 2 + seg_len, frame, scan, ss, se,
                ahal >> 4, ahal & 15, htables, restart_interval,
                prog_state)
            continue
        pos += 2 + seg_len
    if progressive and frame is not None:
        return _reconstruct_progressive(frame, prog_state, qtables)
    raise CodecError("jpeg: no scan data")


def _scan_geometry(frame):
    """(hmax, vmax, mcux, mcuy) for the frame's interleaved MCU grid."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _prep_scan_comp(c, frame):
    """Allocate the component's frame-aligned coefficient/pixel plane
    once (it persists across the scans of a multi-scan sequential file)
    and reset the DC predictor (per-scan state, T.81 E.2.4)."""
    _, _, mcux, mcuy = _scan_geometry(frame)
    if "plane" not in c:
        c["pw"] = mcux * c["h"] * 8
        c["ph"] = mcuy * c["v"] * 8
        c["plane"] = np.zeros((c["ph"], c["pw"]), np.float32)
    c["pred"] = 0


def _noninterleaved_blocks(c, frame):
    """Block walk of one component's own sampling grid (T.81 A.2.2:
    a single-component scan is NOT MCU-interleaved; its 'MCU' is one
    block and the walk covers ceil(comp_w/8) x ceil(comp_h/8))."""
    w, h, _ = frame
    hmax, vmax, _, _ = _scan_geometry(frame)
    bw = (w * c["h"] + 8 * hmax - 1) // (8 * hmax)
    bh = (h * c["v"] + 8 * vmax - 1) // (8 * vmax)
    for by in range(bh):
        for bx in range(bw):
            yield by * 8, bx * 8


def _assemble(frame) -> np.ndarray:
    """Upsample + color-convert the accumulated component planes."""
    w, h, comps = frame
    hmax, vmax, _, _ = _scan_geometry(frame)
    planes = []
    for c in comps:
        p = c["plane"] + 128.0
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)


def _next_marker(data, pos) -> int:
    """Skip one scan's entropy-coded data: first non-RST marker at or
    after ``pos``.  Valid for both entropy coders — Huffman stuffs 0x00
    after a data 0xFF; the QM coder bit-stuffs so the byte after a data
    0xFF is < 0x80 — so an 0xFF followed by 0xC0..0xFE (excluding RSTn)
    can only be a real marker."""
    i, n = pos, len(data)
    while i + 1 < n:
        if data[i] == 0xFF:
            b = data[i + 1]
            if 0xC0 <= b < 0xFF and not (0xD0 <= b <= 0xD7):
                return i
        i += 1
    return n


def _decode_scan_lossless(data, pos, frame, scan, htables,
                          restart_interval, psv, pt, prec) -> None:
    """One lossless-process scan (T.81 Annex H): spatial DPCM with the
    scan-selected predictor, Huffman-coded difference magnitudes (the
    DC table code, plus the SSSS=16 → 32768 special), modulo-65536
    reconstruction.  Interleaved MCU = one sample per component;
    sampling factors other than 1×1 are out of scope.  Fills integer
    sample planes; ``_assemble_lossless`` stacks them (no color
    transform — the lossless process is colorspace-agnostic)."""
    w, h, comps = frame
    _check_dims(w, h, "jpeg")
    by_id = {c["id"]: c for c in comps}
    scomps = []
    for cid, dc_id, _ac in scan:
        c = by_id[cid]
        if c["h"] != 1 or c["v"] != 1:
            raise CodecUnavailable("jpeg: lossless subsampling")
        c["dc_t"] = htables[(0, dc_id)]
        if "plane" not in c:
            c["plane"] = np.zeros((h, w), np.int32)
        scomps.append(c)

    reader = _BitReader(data, pos)
    default = 1 << (prec - pt - 1)
    mcu = 0
    reset = False   # sample after RSTn predicts from the default

    def diff_of(c) -> int:
        t = reader.decode_huff(c["dc_t"])
        if t == 16:             # T.81 H.1.2.3: no appended bits
            return 32768
        return _extend(reader.read_bits(t), t) if t else 0

    for y in range(h):
        for x in range(w):
            if (restart_interval and mcu
                    and mcu % restart_interval == 0):
                reader.align_restart()
                reset = True
            for c in scomps:
                p = c["plane"]
                if reset or (y == 0 and x == 0):
                    px = default
                elif y == 0:
                    px = int(p[0, x - 1])
                elif x == 0:
                    px = int(p[y - 1, 0])
                else:
                    ra, rb, rc = (int(p[y, x - 1]), int(p[y - 1, x]),
                                  int(p[y - 1, x - 1]))
                    if psv == 1:
                        px = ra
                    elif psv == 2:
                        px = rb
                    elif psv == 3:
                        px = rc
                    elif psv == 4:
                        px = ra + rb - rc
                    elif psv == 5:
                        px = ra + ((rb - rc) >> 1)
                    elif psv == 6:
                        px = rb + ((ra - rc) >> 1)
                    elif psv == 7:
                        px = (ra + rb) >> 1
                    else:
                        raise CodecError(f"jpeg: lossless predictor {psv}")
                p[y, x] = (px + diff_of(c)) & 0xFFFF
            reset = False
            mcu += 1


def _assemble_lossless(frame, pt, prec) -> np.ndarray:
    """Stack the DPCM sample planes: output = Rx << Pt, masked to the
    declared precision.  No upsampling (1×1 enforced) and no YCbCr
    transform — T.81's lossless process codes input samples directly."""
    w, h, comps = frame
    planes = [((c["plane"] << pt) & ((1 << prec) - 1)).astype(np.uint8)
              for c in comps]
    if len(planes) == 1:
        return planes[0][:, :, None]
    return np.dstack(planes)


def _decode_scan(data, pos, frame, scan, qtables, htables,
                 restart_interval) -> None:
    """One sequential Huffman scan → the scan components' planes.
    Handles both the interleaved (multi-component MCU) and the
    non-interleaved (single-component block) walks; the dispatcher
    assembles pixels once every frame component has been covered."""
    w, h, comps = frame
    _check_dims(w, h, "jpeg")
    by_id = {c["id"]: c for c in comps}
    scomps = []
    for cid, dc_id, ac_id in scan:
        c = by_id[cid]
        c["dc_t"] = htables[(0, dc_id)]
        c["ac_t"] = htables[(1, ac_id)]
        c["qt"] = qtables[c["q"]]
        _prep_scan_comp(c, frame)
        scomps.append(c)

    reader = _BitReader(data, pos)
    ct = _DCT_C.astype(np.float32)

    def decode_block(c, y0, x0):
        coeffs = np.zeros(64, np.int32)
        t = reader.decode_huff(c["dc_t"])
        diff = _extend(reader.read_bits(t), t)
        c["pred"] += diff
        coeffs[0] = c["pred"]
        k = 1
        while k < 64:
            rs = reader.decode_huff(c["ac_t"])
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise CodecError("jpeg: AC index overflow")
            coeffs[k] = _extend(reader.read_bits(s), s)
            k += 1
        block = np.zeros(64, np.float32)
        block[ZIGZAG] = coeffs * c["qt"][np.arange(64)]
        # IDCT: x = M.T X M with M the orthonormal DCT basis;
        # _DCT_C == M.T
        px = ct @ block.reshape(8, 8) @ ct.T
        c["plane"][y0:y0 + 8, x0:x0 + 8] = px

    mcu_count = 0
    if len(scomps) == 1:
        c = scomps[0]
        for y0, x0 in _noninterleaved_blocks(c, frame):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                reader.align_restart()
                c["pred"] = 0
            decode_block(c, y0, x0)
            mcu_count += 1
        return
    _, _, mcux, mcuy = _scan_geometry(frame)
    for my in range(mcuy):
        for mx in range(mcux):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                reader.align_restart()
                for c in scomps:
                    c["pred"] = 0
            for c in scomps:
                for bv in range(c["v"]):
                    for bh in range(c["h"]):
                        decode_block(c, (my * c["v"] + bv) * 8,
                                     (mx * c["h"] + bh) * 8)
            mcu_count += 1


def _decode_scan_arith(data, pos, frame, scan, qtables, arith_dc,
                       arith_ac, restart_interval) -> None:
    """One sequential arithmetic-coded scan (SOF9): same walks as
    _decode_scan with the QM entropy decoder from jpegarith (T.81
    §F.2.4) in place of Huffman — interleaved MCU grid for
    multi-component scans, per-component block grid for
    single-component scans (non-interleaved multi-SOS files).  Fills
    the scan components' planes; the dispatcher assembles."""
    from .jpegarith import ArithDecoder, decode_ac_arith, decode_dc_arith

    w, h, comps = frame
    _check_dims(w, h, "jpeg")
    by_id = {c["id"]: c for c in comps}
    scomps = []
    for ci, (cid, dc_id, ac_id) in enumerate(scan):
        c = by_id[cid]
        c["dc_l"], c["dc_u"] = arith_dc.get(dc_id, (0, 1))
        c["kx"] = arith_ac.get(ac_id, 5)
        c["dc_tid"], c["ac_tid"] = dc_id, ac_id
        c["qt"] = qtables[c["q"]]
        _prep_scan_comp(c, frame)
        c["idx"] = ci
        scomps.append(c)

    def fresh_stats():
        # statistics areas are per-scan state (E.2.4 / F.2.4), keyed by
        # the tables the SCAN components name — a subset scan must not
        # touch tables it does not use
        dc = {tid: bytearray(64) for tid in {c["dc_tid"] for c in scomps}}
        ac = {tid: bytearray(256) for tid in {c["ac_tid"] for c in scomps}}
        return dc, ac

    dec = ArithDecoder(data, pos)
    dc_stats, ac_stats = fresh_stats()
    dc_ctx = [0] * len(scomps)
    ct = _DCT_C.astype(np.float32)

    def decode_block(c, y0, x0):
        coeffs = np.zeros(64, np.int32)
        diff = decode_dc_arith(
            dec, dc_stats[c["dc_tid"]], dc_ctx,
            c["idx"], c["dc_l"], c["dc_u"])
        c["pred"] += diff
        coeffs[0] = c["pred"]
        k = 1
        stats = ac_stats[c["ac_tid"]]
        while k <= 63:
            k, v = decode_ac_arith(dec, stats, k, c["kx"], 63)
            if v is None:
                break
            coeffs[k] = v
            k += 1
        block = np.zeros(64, np.float32)
        block[ZIGZAG] = coeffs * c["qt"][np.arange(64)]
        px = ct @ block.reshape(8, 8) @ ct.T
        c["plane"][y0:y0 + 8, x0:x0 + 8] = px

    def restart():
        nonlocal dec, dc_stats, ac_stats, dc_ctx
        # skip to just past the RSTn marker, reinit everything
        p2 = dec.pos
        while p2 + 1 < len(data) and not (
                data[p2] == 0xFF
                and 0xD0 <= data[p2 + 1] <= 0xD7):
            p2 += 1
        dec = ArithDecoder(data, p2 + 2)
        dc_stats, ac_stats = fresh_stats()
        dc_ctx = [0] * len(scomps)
        for c in scomps:
            c["pred"] = 0

    mcu_count = 0
    if len(scomps) == 1:
        c = scomps[0]
        for y0, x0 in _noninterleaved_blocks(c, frame):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                restart()
            decode_block(c, y0, x0)
            mcu_count += 1
        return
    _, _, mcux, mcuy = _scan_geometry(frame)
    for my in range(mcuy):
        for mx in range(mcux):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                restart()
            for c in scomps:
                for bv in range(c["v"]):
                    for bh in range(c["h"]):
                        decode_block(c, (my * c["v"] + bv) * 8,
                                     (mx * c["h"] + bh) * 8)
            mcu_count += 1


# ---------------------------------------------------------------------------
# progressive (SOF2) scan decoding — T.81 G.1.2: spectral selection bands
# plus successive approximation.  Coefficients accumulate across scans in
# natural (raster) order; the final IDCT runs once over all blocks.


def _ac_first_block(reader, ac_t, coef, ss, se, al, eobrun):
    """One block of an AC first scan (Ah=0).  Returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huff(ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r)+bits blocks incl. this one
                return (1 << r) + (reader.read_bits(r) if r else 0) - 1
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise CodecError("jpeg: AC index overflow")
        coef[int(ZIGZAG[k])] = _extend(reader.read_bits(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, ac_t, coef, ss, se, al, eobrun):
    """One block of an AC refinement scan (Ah>0), per T.81 G.1.2.3:
    correction bits ride along for every already-nonzero coefficient the
    scan passes over.  Returns the new EOB run."""
    bit = 1 << al

    def correct(z):
        if reader.read_bit() and not (abs(coef[z]) & bit):
            coef[z] += bit if coef[z] > 0 else -bit

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(ac_t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (reader.read_bits(r) if r else 0)
                    break
                val = 0  # ZRL: skip 16 zero-history coeffs
            elif s == 1:
                val = bit if reader.read_bit() else -bit
            else:
                raise CodecError("jpeg: bad AC refine magnitude")
            while k <= se:
                z = int(ZIGZAG[k])
                if coef[z] != 0:
                    correct(z)
                    k += 1
                    continue
                if r == 0:
                    if val:
                        coef[z] = val
                    k += 1
                    break
                r -= 1
                k += 1
    if eobrun > 0:
        # EOB region covers the rest of this block's band
        while k <= se:
            z = int(ZIGZAG[k])
            if coef[z] != 0:
                correct(z)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(data, pos, frame, scan, ss, se, ah, al,
                      htables, restart_interval, state) -> int:
    """Decode one progressive SOS; returns the file offset of the next
    marker.  DC scans (ss=0) may interleave components in MCU order; AC
    scans are single-component in block raster order (T.81 G.1)."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}
    reader = _BitReader(data, pos)
    eobrun = 0
    preds = {cid: 0 for cid, _, _ in scan}

    def dc_block(coef, cid, dc_t):
        if ah == 0:  # DC first (with point transform)
            t = reader.decode_huff(dc_t)
            preds[cid] += _extend(reader.read_bits(t), t)
            coef[0] = preds[cid] << al
        else:  # DC refinement: one bit per block
            coef[0] |= reader.read_bit() << al

    n_units = 0

    def maybe_restart():
        nonlocal eobrun
        if (restart_interval and n_units
                and n_units % restart_interval == 0):
            reader.align_restart()
            eobrun = 0
            for cid in preds:
                preds[cid] = 0

    if ss == 0 and len(scan) > 1:
        # interleaved DC scan: MCU order over the full grid
        tabs = {}
        for cid, dc_id, _ac in scan:
            tabs[cid] = htables[(0, dc_id)] if ah == 0 else None
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for cid, _dc, _ac in scan:
                    c = by_id[cid]
                    coefs = state[cid]["coefs"]
                    for bv in range(c["v"]):
                        for bh in range(c["h"]):
                            dc_block(coefs[my * c["v"] + bv,
                                           mx * c["h"] + bh],
                                     cid, tabs[cid])
                n_units += 1
    else:
        # single-component scan: the component's own block raster
        cid, dc_id, ac_id = scan[0]
        c = by_id[cid]
        coefs = state[cid]["coefs"]
        cw = (w * c["h"] + hmax - 1) // hmax
        ch = (h * c["v"] + vmax - 1) // vmax
        nbx = (cw + 7) // 8
        nby = (ch + 7) // 8
        dc_t = htables.get((0, dc_id)) if ss == 0 and ah == 0 else None
        ac_t = htables.get((1, ac_id)) if ss > 0 else None
        for by in range(nby):
            for bx in range(nbx):
                maybe_restart()
                coef = coefs[by, bx]
                if ss == 0:
                    dc_block(coef, cid, dc_t)
                elif ah == 0:
                    eobrun = _ac_first_block(
                        reader, ac_t, coef, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(
                        reader, ac_t, coef, ss, se, al, eobrun)
                n_units += 1

    # skip to the next marker (entropy padding / stray RSTs in between)
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    return len(data)


def _decode_prog_scan_arith(data, pos, frame, scan, ss, se, ah, al,
                            arith_dc, arith_ac, restart_interval,
                            state) -> int:
    """One arithmetic-coded progressive SOS (SOF10).  Mirrors
    _decode_prog_scan's grid walk with the §G.2 arithmetic block
    primitives; statistics and the QM decoder re-initialize per scan
    (and per restart)."""
    from .jpegarith import (
        ArithDecoder,
        decode_ac_arith,
        decode_ac_refine_arith,
        decode_dc_arith,
        decode_dc_refine_arith,
    )

    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}

    def fresh():
        return (ArithDecoder(data, pos_holder[0]),
                {tid: bytearray(64) for tid in dc_tids},
                {tid: bytearray(256) for tid in ac_tids},
                [0] * len(scan), {cid: 0 for cid, _, _ in scan})

    pos_holder = [pos]
    dc_tids = {dc_id for _, dc_id, _ in scan}
    ac_tids = {ac_id for _, _, ac_id in scan}
    dec, dc_stats, ac_stats, dc_ctx, last_dc = fresh()
    n_units = 0

    def maybe_restart():
        nonlocal dec, dc_stats, ac_stats, dc_ctx, last_dc
        if (restart_interval and n_units
                and n_units % restart_interval == 0):
            p2 = dec.pos
            while p2 + 1 < len(data) and not (
                    data[p2] == 0xFF and 0xD0 <= data[p2 + 1] <= 0xD7):
                p2 += 1
            pos_holder[0] = p2 + 2
            dec, dc_stats, ac_stats, dc_ctx, last_dc = fresh()

    if ss == 0 and len(scan) > 1:
        # interleaved DC scan in MCU order
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for si, (cid, dc_id, _ac) in enumerate(scan):
                    c = by_id[cid]
                    cl, cu = arith_dc.get(dc_id, (0, 1))
                    coefs = state[cid]["coefs"]
                    for bv in range(c["v"]):
                        for bh in range(c["h"]):
                            coef = coefs[my * c["v"] + bv,
                                         mx * c["h"] + bh]
                            if ah == 0:
                                diff = decode_dc_arith(
                                    dec, dc_stats[dc_id], dc_ctx, si,
                                    cl, cu)
                                last_dc[cid] += diff
                                coef[0] = last_dc[cid] << al
                            else:
                                decode_dc_refine_arith(dec, coef, al)
                n_units += 1
    else:
        cid, dc_id, ac_id = scan[0]
        c = by_id[cid]
        coefs = state[cid]["coefs"]
        cw = (w * c["h"] + hmax - 1) // hmax
        chh = (h * c["v"] + vmax - 1) // vmax
        nbx = (cw + 7) // 8
        nby = (chh + 7) // 8
        cl, cu = arith_dc.get(dc_id, (0, 1))
        kx = arith_ac.get(ac_id, 5)
        for by in range(nby):
            for bx in range(nbx):
                maybe_restart()
                coef = coefs[by, bx]
                if ss == 0:
                    if ah == 0:
                        diff = decode_dc_arith(
                            dec, dc_stats[dc_id], dc_ctx, 0, cl, cu)
                        last_dc[cid] += diff
                        coef[0] = last_dc[cid] << al
                    else:
                        decode_dc_refine_arith(dec, coef, al)
                elif ah == 0:
                    stats = ac_stats[ac_id]
                    k = ss
                    while k <= se:
                        k, v = decode_ac_arith(dec, stats, k, kx, se)
                        if v is None:
                            break
                        coef[int(ZIGZAG[k])] = v << al
                        k += 1
                else:
                    decode_ac_refine_arith(
                        dec, ac_stats[ac_id], coef, ZIGZAG, ss, se, al)
                n_units += 1

    p = dec.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    return len(data)


def _reconstruct_progressive(frame, state, qtables) -> np.ndarray:
    """Dequantize + IDCT every accumulated block, assemble planes, and
    run the shared upsample/color tail."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    ct = _DCT_C.astype(np.float32)
    planes = []
    for c in comps:
        if c["q"] not in qtables:
            raise CodecError("jpeg: missing quantization table")
        qt_nat = np.empty(64, np.float32)
        qt_nat[ZIGZAG] = qtables[c["q"]].astype(np.float32)
        coefs = state[c["id"]]["coefs"].astype(np.float32) * qt_nat
        nby, nbx = coefs.shape[:2]
        blocks = coefs.reshape(nby, nbx, 8, 8)
        # IDCT all blocks at once: x = C X C.T per block
        px = np.einsum("ij,abjk,lk->abil", ct, blocks, ct,
                       optimize=True)
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8) + 128.0
        if c["h"] != hmax or c["v"] != vmax:
            plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                              hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)
