"""JPEG decoder (ITU-T T.81) in stdlib + numpy.

Every DCT process takes one coefficient path: sequential (SOF0/SOF1)
and progressive (SOF2) Huffman coding, and sequential (SOF9) and
progressive (SOF10) arithmetic coding.

- The SOF parse allocates one coefficient grid per component,
  ``(mcuy·v, mcux·h, 64)`` int32 in zigzag order.
- One scan walk fills the grids: MCU order when the scan codes several
  components (T.81 A.2.3), the component's own block raster otherwise
  (A.2.2), with a restart every ``restart_interval`` units.
- The entropy coder is the only thing that varies.  The Huffman reader
  below or the QM decoder of ``jpegarith`` supplies the four block
  operations of G.1.2 (DC first, DC refine, AC first, AC refine) and
  its own restart reset.  A sequential scan is DC first plus AC first
  over the full band; a progressive scan codes DC or one AC band, by
  spectral selection and successive approximation.
- One reconstruction dequantizes, runs the IDCT over every block of a
  component in one batched matmul, upsamples chroma (4:4:4, 4:2:2,
  4:2:0) and converts YCbCr → RGB.  It runs as soon as a sequential
  frame has coded every component (so multi-scan, non-interleaved
  sequential files work too), or at the end of data for a progressive
  frame.

The lossless process (SOF3, Annex H: spatial DPCM, predictors 1-7,
point transform, modulo-65536) shares the SOF parse and the marker skip
but keeps its own sample-domain scan.  The remaining boundaries are the
hierarchical modes (SOF5-7/13-15), arithmetic lossless (SOF11),
4-component frames, and lossless precision above 8 bits (12/16-bit DNG
raws exceed the uint8 pixel contract).

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

from .codecs import (
    CodecError,
    CodecUnavailable,
    _check_dims,
    _restart_marker,
    total,
)
from .jpegarith import ArithDecoder

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
    """Huffman decoding of one scan: an MSB-first reader over entropy-coded
    data with 0xFF00 de-stuffing that stops at any non-RST marker, and the
    block operations over the code tables of the scan's components (in
    scan order; empty where the scan reads none)."""

    def __init__(self, data: bytes, pos: int, dc=(), ac=(),
                 progressive: bool = False):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.dc, self.ac = dc, ac
        self.progressive = progressive
        self.eobrun = 0

    def _byte(self) -> int:
        """The next data byte; 0xFF (1-bit padding) at a marker."""
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
            # else EOI/next segment: pad with 1-bits per spec
            return 0xFF
        self.pos = p + 1
        return byte

    def read_bit(self) -> int:
        if self.nbits == 0:
            # every bit of the previous byte is consumed: the accumulator
            # holds one byte, so a bit read costs the same at any offset
            self.acc = self._byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Discard the partial byte, consume an RSTn marker and end any
        EOB run."""
        self.acc = 0
        self.nbits = 0
        self.eobrun = 0
        self.pos = _restart_marker(self.data, self.pos)

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise CodecError("jpeg: bad Huffman code")

    # -- block operations (T.81 F.2.2, G.1.2) -----------------------------
    def dc_diff(self, si: int) -> int:
        """DC first: the next DC difference of scan component ``si``."""
        t = self.decode_huff(self.dc[si])
        return _extend(self.read_bits(t), t)

    def dc_bit(self) -> int:
        """DC refine: one bit per block."""
        return self.read_bit()

    def ac_first(self, si: int, coef, ss: int, se: int, al: int) -> None:
        """AC first over the band ``ss..se``, point transform ``al``.  An
        EOBn symbol (r<15, s=0) ends this block; only a progressive scan
        reads its run bits and skips the next (1<<r)+bits-1 blocks too
        (EOBRUN, G.1.2.2)."""
        if self.eobrun:
            self.eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = self.decode_huff(self.ac[si])
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    if self.progressive:
                        self.eobrun = (1 << r) + self.read_bits(r) - 1
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise CodecError("jpeg: AC index overflow")
            coef[k] = _extend(self.read_bits(s), s) << al
            k += 1

    def ac_refine(self, si: int, coef, ss: int, se: int, al: int) -> None:
        """AC refine (G.1.2.3): correction bits ride along for every
        already-nonzero coefficient the band passes over."""
        bit = 1 << al

        def correct(k):
            if self.read_bit() and not (abs(coef[k]) & bit):
                coef[k] += bit if coef[k] > 0 else -bit

        k = ss
        if self.eobrun == 0:
            while k <= se:
                rs = self.decode_huff(self.ac[si])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        self.eobrun = (1 << r) + self.read_bits(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history coeffs
                elif s == 1:
                    val = bit if self.read_bit() else -bit
                else:
                    raise CodecError("jpeg: bad AC refine magnitude")
                while k <= se:
                    if coef[k] != 0:
                        correct(k)
                        k += 1
                        continue
                    if r == 0:
                        if val:
                            coef[k] = val
                        k += 1
                        break
                    r -= 1
                    k += 1
        if self.eobrun > 0:
            # EOB region covers the rest of this block's band
            while k <= se:
                if coef[k] != 0:
                    correct(k)
                k += 1
            self.eobrun -= 1


def _extend(v: int, t: int) -> int:
    """T.81 F.12 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


class _Frame:
    """One SOF segment (T.81 B.2.2): size, components and coding process.
    A DCT frame also holds the coefficient grid of each component id,
    which its scans fill."""

    def __init__(self, marker: int, body: bytes):
        prec, self.h, self.w, nc = struct.unpack(">BHHB", body[:6])
        if nc not in (1, 3):
            # 4-component Adobe CMYK/YCCK (and exotic 2-component)
            # frames would silently decode the first 3 planes as
            # YCbCr — garbage pixels flagged ok.  Out of scope.
            raise CodecUnavailable(f"jpeg: {nc}-component frame")
        self.lossless = prec if marker == 0xC3 else 0  # sample precision
        if marker == 0xC3 and not 2 <= prec <= 8:
            # 12/16-bit lossless (DNG raws) exceeds the uint8 pixel
            # contract of this pipeline
            raise CodecUnavailable(f"jpeg: {prec}-bit lossless precision")
        self.progressive = marker in (0xC2, 0xCA)
        self.arithmetic = marker in (0xC9, 0xCA)
        self.comps = []
        for ci in range(nc):
            cid, sampling, qid = body[6 + 3 * ci:9 + 3 * ci]
            self.comps.append({"id": cid, "h": sampling >> 4,
                               "v": sampling & 15, "q": qid})
        _check_dims(self.w, self.h, "jpeg")
        if self.lossless:
            return
        self.hmax = max(c["h"] for c in self.comps)
        self.vmax = max(c["v"] for c in self.comps)
        self.mcux = (self.w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcuy = (self.h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.coefs = {
            c["id"]: np.zeros((self.mcuy * c["v"], self.mcux * c["h"], 64),
                              np.int32)
            for c in self.comps}


@total
def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xFF\xD8":
        raise CodecError("jpeg: bad signature")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) → code table
    # DAC arithmetic conditioning: (0, id) → (L, U), (1, id) → Kx
    conditioning: dict[tuple[int, int], object] = {}
    frame = None
    restart_interval = 0
    coded: set[int] = set()  # component ids a scan has coded
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
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            i = 0
            while i + 1 < len(body):
                tclass, tid = body[i] >> 4, body[i] & 15
                if tclass == 0:
                    conditioning[(0, tid)] = (body[i + 1] & 15,
                                              body[i + 1] >> 4)
                else:
                    conditioning[(1, tid)] = body[i + 1]
                i += 2
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA):
            # SOF0/1 sequential, SOF2 progressive, SOF3 lossless (Huffman);
            # SOF9 sequential, SOF10 progressive (arithmetic)
            frame = _Frame(marker, body)
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
            start = pos + 2 + seg_len
            spectral = body[1 + 2 * ns:4 + 2 * ns]  # Ss, Se, Ah<<4|Al
            if frame.lossless:
                psv, _se, ahal = spectral
                end = _decode_scan_lossless(data, start, frame, scan, htables,
                                            restart_interval, psv, ahal & 15)
            else:
                end = _walk_scan(
                    data, start, frame, scan, spectral,
                    conditioning if frame.arithmetic else htables,
                    restart_interval)
            coded.update(cid for cid, _d, _a in scan)
            if not frame.progressive and len(coded) == len(frame.comps):
                if frame.lossless:
                    return _assemble_lossless(frame, ahal & 15)
                return _reconstruct(frame, qtables)
            pos = _next_marker(data, end)
            continue
        pos += 2 + seg_len
    if frame is not None and frame.progressive:
        return _reconstruct(frame, qtables)
    raise CodecError("jpeg: no scan data")


def _next_marker(data, pos) -> int:
    """The offset of the first marker other than RSTn at or after
    ``pos``, where a scan's entropy coder stopped (the end of data if
    there is none).  Both coders stuff 0x00 after a data 0xFF and stop
    at any other 0xFF pair (T.81 B.1.1.5, D.1.6), so that is where the
    scan's data ends; 0xFF fill bytes and stray RSTn are skipped."""
    p = pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] not in (0x00, 0xFF):
            if 0xD0 <= data[p + 1] <= 0xD7:
                p += 2
                continue
            return p
        p += 1
    return len(data)


def _walk_scan(data, pos, frame, scan, spectral, tables,
               restart_interval) -> int:
    """One scan of a DCT frame into its components' coefficient grids.

    A sequential scan codes DC first plus AC first over the full band
    (its Ss, Se, Ah, Al are not read).  A progressive scan codes either
    the DC coefficient (Ss=0) or one AC band of one component (T.81
    G.1.1.1.1), as a first or a refine pass by Ah.  A scan of several
    components walks the MCU grid, each MCU holding v×h blocks of every
    component in scan order; one component walks its own block raster.
    Every ``restart_interval`` units the DC predictors and the entropy
    coder reset.  ``tables`` holds the frame's DHT code tables or DAC
    conditioning, by (class, id).  Returns the offset where the entropy
    coder stopped."""
    if not frame.progressive:
        ss, se, ah, al = 0, 63, 0, 0
    else:
        ss, se, ahal = spectral
        ah, al = ahal >> 4, ahal & 15
        if ss:
            scan = scan[:1]  # an AC scan codes one component
        else:
            se = 0  # a DC scan codes no AC band
    lo = max(ss, 1)  # the AC band is lo..se, coded when se > 0
    if frame.arithmetic:
        coder = ArithDecoder(data, pos, scan, tables)
    else:
        # look up only the tables this scan's block operations read
        coder = _BitReader(
            data, pos,
            [tables[(0, d)] for _c, d, _a in scan] if ss == ah == 0 else (),
            [tables[(1, a)] for _c, _d, a in scan] if lo <= se else (),
            frame.progressive)

    cids = [cid for cid, _d, _a in scan]
    grids = [frame.coefs[cid] for cid in cids]
    by_id = {c["id"]: c for c in frame.comps}
    if len(scan) > 1:
        layout = [(si, g, by_id[cid]["v"], by_id[cid]["h"])
                  for si, (cid, g) in enumerate(zip(cids, grids))]
        units = ([(si, g[my * v + bv, mx * h + bh])
                  for si, g, v, h in layout
                  for bv in range(v) for bh in range(h)]
                 for my in range(frame.mcuy) for mx in range(frame.mcux))
    else:
        c, g = by_id[cids[0]], grids[0]
        nbx = (frame.w * c["h"] + 8 * frame.hmax - 1) // (8 * frame.hmax)
        nby = (frame.h * c["v"] + 8 * frame.vmax - 1) // (8 * frame.vmax)
        units = ([(0, g[by, bx])] for by in range(nby) for bx in range(nbx))

    preds = dict.fromkeys(cids, 0)
    for n, unit in enumerate(units):
        if restart_interval and n and n % restart_interval == 0:
            coder.restart()
            preds = dict.fromkeys(cids, 0)
        for si, coef in unit:
            if ss == 0:
                if ah:
                    coef[0] |= coder.dc_bit() << al
                else:
                    preds[cids[si]] += coder.dc_diff(si)
                    coef[0] = preds[cids[si]] << al
            if se:
                if ah:
                    coder.ac_refine(si, coef, lo, se, al)
                else:
                    coder.ac_first(si, coef, lo, se, al)
    return coder.pos


def _reconstruct(frame, qtables) -> np.ndarray:
    """Pixels of a DCT frame: dequantize every block, run the IDCT over
    all blocks of a component at once (x = C X Cᵀ, one broadcast
    matmul), then upsample chroma and convert YCbCr → RGB."""
    ct = _DCT_C.astype(np.float32)
    planes = []
    for c in frame.comps:
        if c["q"] not in qtables:
            raise CodecError("jpeg: missing quantization table")
        coefs = frame.coefs[c["id"]]
        nby, nbx = coefs.shape[:2]
        blocks = np.empty(coefs.shape, np.float32)
        # grid and DQT are both in zigzag order; IDCT wants raster order
        blocks[..., ZIGZAG] = (coefs.astype(np.float32)
                               * qtables[c["q"]].astype(np.float32))
        px = ct @ blocks.reshape(nby, nbx, 8, 8) @ ct.T
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8) + 128.0
        if c["h"] != frame.hmax or c["v"] != frame.vmax:
            plane = np.repeat(np.repeat(plane, frame.vmax // c["v"], axis=0),
                              frame.hmax // c["h"], axis=1)
        planes.append(plane[:frame.h, :frame.w])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)


def _decode_scan_lossless(data, pos, frame, scan, htables,
                          restart_interval, psv, pt) -> int:
    """One lossless-process scan (T.81 Annex H): spatial DPCM with the
    scan-selected predictor, Huffman-coded difference magnitudes (the
    DC table code, plus the SSSS=16 → 32768 special), modulo-65536
    reconstruction.  Interleaved MCU = one sample per component;
    sampling factors other than 1×1 are out of scope.  Fills integer
    sample planes; ``_assemble_lossless`` stacks them (no color
    transform — the lossless process is colorspace-agnostic).  Returns
    the offset where the reader stopped."""
    w, h = frame.w, frame.h
    by_id = {c["id"]: c for c in frame.comps}
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
    default = 1 << (frame.lossless - pt - 1)
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
                reader.restart()
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
    return reader.pos


def _assemble_lossless(frame, pt) -> np.ndarray:
    """Stack the DPCM sample planes: output = Rx << Pt, masked to the
    declared precision.  No upsampling (1×1 enforced) and no YCbCr
    transform — T.81's lossless process codes input samples directly."""
    planes = [((c["plane"] << pt) & ((1 << frame.lossless) - 1))
              .astype(np.uint8) for c in frame.comps]
    if len(planes) == 1:
        return planes[0][:, :, None]
    return np.dstack(planes)
