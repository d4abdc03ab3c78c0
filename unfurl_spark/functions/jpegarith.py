"""Arithmetic-coded JPEG entropy decoding (ITU T.81 §D, §F.2.4, §G.2).

The QM-coder state machine below is ITU T.81 Table D.3 (113 adaptive
states + the non-adapting "fixed" 0.5 state used for AC signs), checked
against the copy in the system libjpeg data section.  The decoder
follows the spec's DECODE / MPS_EXCHANGE / LPS_EXCHANGE / RENORMD /
BYTEIN flowcharts with the deployed convention for markers inside the
entropy segment (feed zero bytes from the marker on; 0xFF00 is a
stuffed 0xFF data byte).

Statistics binding per §F.2.4.1-3: DC contexts conditioned on the
previous diff's classification against the DAC L/U thresholds; AC
contexts indexed 3*(k-1) with the magnitude-category areas split at Kx.

``ArithDecoder`` decodes one scan: it supplies the four block
operations (DC first, DC refine, AC first, AC refine) and the restart
reset that ``jpegc``'s scan walk calls, in the same form as the Huffman
reader there.

Verified end to end in tests/test_jpeg_arith.py: the same image encoded
by libjpeg with Huffman and with arithmetic coding must decode to
byte-identical pixels through this pipeline (entropy coding is
lossless, so the quantized coefficients must agree exactly), plus a
golden pixel comparison against libjpeg's own decode.
"""
from __future__ import annotations

from .codecs import CodecError, _restart_marker

# (Qe, NextMPS, (Switch<<7)|NextLPS) — T.81 Table D.3; index 113 is
# the fixed (non-adapting) state.  Folding Switch into the next-LPS
# byte lets the MPS exchange be a single XOR against the (MPS<<7)|index
# state byte.
ARITH_TAB = (
    (0x5A1D, 1, 129),
    (0x2586, 2, 14),
    (0x1114, 3, 16),
    (0x080B, 4, 18),
    (0x03D8, 5, 20),
    (0x01DA, 6, 23),
    (0x00E5, 7, 25),
    (0x006F, 8, 28),
    (0x0036, 9, 30),
    (0x001A, 10, 33),
    (0x000D, 11, 35),
    (0x0006, 12, 9),
    (0x0003, 13, 10),
    (0x0001, 13, 12),
    (0x5A7F, 15, 143),
    (0x3F25, 16, 36),
    (0x2CF2, 17, 38),
    (0x207C, 18, 39),
    (0x17B9, 19, 40),
    (0x1182, 20, 42),
    (0x0CEF, 21, 43),
    (0x09A1, 22, 45),
    (0x072F, 23, 46),
    (0x055C, 24, 48),
    (0x0406, 25, 49),
    (0x0303, 26, 51),
    (0x0240, 27, 52),
    (0x01B1, 28, 54),
    (0x0144, 29, 56),
    (0x00F5, 30, 57),
    (0x00B7, 31, 59),
    (0x008A, 32, 60),
    (0x0068, 33, 62),
    (0x004E, 34, 63),
    (0x003B, 35, 32),
    (0x002C, 9, 33),
    (0x5AE1, 37, 165),
    (0x484C, 38, 64),
    (0x3A0D, 39, 65),
    (0x2EF1, 40, 67),
    (0x261F, 41, 68),
    (0x1F33, 42, 69),
    (0x19A8, 43, 70),
    (0x1518, 44, 72),
    (0x1177, 45, 73),
    (0x0E74, 46, 74),
    (0x0BFB, 47, 75),
    (0x09F8, 48, 77),
    (0x0861, 49, 78),
    (0x0706, 50, 79),
    (0x05CD, 51, 48),
    (0x04DE, 52, 50),
    (0x040F, 53, 50),
    (0x0363, 54, 51),
    (0x02D4, 55, 52),
    (0x025C, 56, 53),
    (0x01F8, 57, 54),
    (0x01A4, 58, 55),
    (0x0160, 59, 56),
    (0x0125, 60, 57),
    (0x00F6, 61, 58),
    (0x00CB, 62, 59),
    (0x00AB, 63, 61),
    (0x008F, 32, 61),
    (0x5B12, 65, 193),
    (0x4D04, 66, 80),
    (0x412C, 67, 81),
    (0x37D8, 68, 82),
    (0x2FE8, 69, 83),
    (0x293C, 70, 84),
    (0x2379, 71, 86),
    (0x1EDF, 72, 87),
    (0x1AA9, 73, 87),
    (0x174E, 74, 72),
    (0x1424, 75, 72),
    (0x119C, 76, 74),
    (0x0F6B, 77, 74),
    (0x0D51, 78, 75),
    (0x0BB6, 79, 77),
    (0x0A40, 48, 77),
    (0x5832, 81, 208),
    (0x4D1C, 82, 88),
    (0x438E, 83, 89),
    (0x3BDD, 84, 90),
    (0x34EE, 85, 91),
    (0x2EAE, 86, 92),
    (0x299A, 87, 93),
    (0x2516, 71, 86),
    (0x5570, 89, 216),
    (0x4CA9, 90, 95),
    (0x44D9, 91, 96),
    (0x3E22, 92, 97),
    (0x3824, 93, 99),
    (0x32B4, 94, 99),
    (0x2E17, 86, 93),
    (0x56A8, 96, 223),
    (0x4F46, 97, 101),
    (0x47E5, 98, 102),
    (0x41CF, 99, 103),
    (0x3C3D, 100, 104),
    (0x375E, 93, 99),
    (0x5231, 102, 105),
    (0x4C0F, 103, 106),
    (0x4639, 104, 107),
    (0x415E, 99, 103),
    (0x5627, 106, 233),
    (0x50E7, 107, 108),
    (0x4B85, 103, 109),
    (0x5597, 109, 110),
    (0x504F, 107, 111),
    (0x5A10, 111, 238),
    (0x5522, 109, 112),
    (0x59EB, 111, 240),
    (0x5A1D, 113, 113),
)


class ArithDecoder:
    """T.81 §D.2 arithmetic decoding procedure over one scan, in the
    deployed register formulation: C accumulates code bytes, CT counts
    bits until the next byte is due, A is the interval (renormalized
    lazily at the START of each decision, which also performs the
    two-byte seeding from the initial CT = -16).  State bytes store
    (MPS << 7) | state_index; the Switch_MPS bit travels in the table's
    next-LPS byte so the conditional exchange is a single XOR.

    ``scan`` lists (component id, DC table id, AC table id); the block
    operations take a component's index in it.  ``conditioning`` holds
    the DAC values by (class, id): (0, id) → (L, U), (1, id) → Kx."""

    __slots__ = ("data", "pos", "end", "c", "a", "ct", "marker_seen",
                 "dc_ids", "ac_ids", "bounds", "kx",
                 "dc_stats", "ac_stats", "dc_ctx")

    def __init__(self, data: bytes, pos: int, scan, conditioning):
        self.data = data
        self.end = len(data)
        self.dc_ids = [d for _c, d, _a in scan]
        self.ac_ids = [a for _c, _d, a in scan]
        self.bounds = [conditioning.get((0, d), (0, 1)) for d in self.dc_ids]
        self.kx = [conditioning.get((1, a), 5) for a in self.ac_ids]
        self._start(pos)

    def _start(self, pos: int) -> None:
        """Begin an entropy-coded segment (a scan, or the data after an
        RSTn): fresh registers, statistics areas and DC contexts.  One
        area per table the scan names; components naming the same table
        share it, and tables the scan does not name stay untouched."""
        self.pos = pos
        self.marker_seen = False
        self.c = 0
        self.a = 0
        self.ct = -16
        dc = {d: bytearray(64) for d in self.dc_ids}
        ac = {a: bytearray(256) for a in self.ac_ids}
        self.dc_stats = [dc[d] for d in self.dc_ids]
        self.ac_stats = [ac[a] for a in self.ac_ids]
        self.dc_ctx = [0] * len(self.dc_ids)

    def restart(self) -> None:
        """Resume after the RSTn marker that ends the interval with
        everything re-initialized."""
        self._start(_restart_marker(self.data, self.pos))

    def _byte(self) -> int:
        if self.marker_seen or self.pos >= self.end:
            return 0
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            while self.pos < self.end and self.data[self.pos] == 0xFF:
                self.pos += 1
            if self.pos < self.end and self.data[self.pos] == 0:
                self.pos += 1
                return 0xFF
            self.pos -= 1  # leave the marker for the caller
            self.marker_seen = True
            return 0
        return b

    def decode(self, area: bytearray, idx: int) -> int:
        # renormalization & data feeding (§D.2.6), including the
        # initial two-byte seed
        a = self.a
        c = self.c
        ct = self.ct
        while a < 0x8000:
            ct -= 1
            if ct < 0:
                c = ((c << 8) | self._byte()) & 0xFFFFFFFFFFFF
                ct += 8
                if ct < 0:
                    ct += 1
                    if ct == 0:
                        a = 0x8000
            a <<= 1
        sv = area[idx]
        qe, nm, nl = ARITH_TAB[sv & 0x7F]
        a -= qe
        temp = a << ct
        if c >= temp:
            c -= temp
            if a < qe:
                a = qe
                area[idx] = (sv & 0x80) ^ nm   # estimate after MPS
            else:
                a = qe
                area[idx] = (sv & 0x80) ^ nl   # estimate after LPS
                sv ^= 0x80                     # exchange
        elif a < 0x8000:
            if a < qe:
                area[idx] = (sv & 0x80) ^ nl
                sv ^= 0x80
            else:
                area[idx] = (sv & 0x80) ^ nm
        self.a = a
        self.c = c
        self.ct = ct
        return sv >> 7

    def _magnitude(self, stats: bytearray, st: int, m: int) -> int:
        """|value| from its magnitude category ``m``: the bits below m's
        top bit, decoded at ``st + 14`` (§F.2.4.3), plus 1."""
        v = m
        st += 14
        while m := m >> 1:
            if self.decode(stats, st):
                v |= m
        return v + 1

    # -- block operations (§F.2.4, §G.2) ---------------------------------
    def dc_diff(self, si: int) -> int:
        """DC first: the next DC difference of scan component ``si``; the
        next block's context comes from this diff's magnitude against the
        DAC bounds L, U."""
        stats, ctx = self.dc_stats[si], self.dc_ctx
        base = ctx[si]
        if self.decode(stats, base) == 0:
            ctx[si] = 0
            return 0
        sign = self.decode(stats, base + 1)
        st = base + 2 + sign
        m = self.decode(stats, st)
        if m:
            st = 20
            while self.decode(stats, st):
                m <<= 1
                if m == 0x8000:
                    raise CodecError("jpeg: arith DC magnitude overflow")
                st += 1
        cond_l, cond_u = self.bounds[si]
        if m < ((1 << cond_l) >> 1):
            ctx[si] = 0
        elif m > ((1 << cond_u) >> 1):
            ctx[si] = 12 + sign * 4
        else:
            ctx[si] = 4 + sign * 4
        v = self._magnitude(stats, st, m)
        return -v if sign else v

    def dc_bit(self) -> int:
        """DC refine: one fixed-probability bit per block."""
        return self.decode(FIXED_BIN, 0)

    def ac_first(self, si: int, coef, ss: int, se: int, al: int) -> None:
        """AC first over the band ``ss..se`` (zigzag indices into
        ``coef``), point transform ``al``."""
        stats, kx = self.ac_stats[si], self.kx[si]
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if self.decode(stats, st):  # EOB
                return
            while self.decode(stats, st + 1) == 0:
                st += 3
                k += 1
                if k > se:
                    raise CodecError("jpeg: arith AC index overflow")
            sign = self.decode(FIXED_BIN, 0)
            st += 2
            m = self.decode(stats, st)
            if m:
                if self.decode(stats, st):
                    m = 2
                    st = 189 if k <= kx else 217
                    while self.decode(stats, st):
                        m <<= 1
                        if m == 0x8000:
                            raise CodecError(
                                "jpeg: arith AC magnitude overflow")
                        st += 1
            v = self._magnitude(stats, st, m)
            coef[k] = (-v if sign else v) << al
            k += 1

    def ac_refine(self, si: int, coef, ss: int, se: int, al: int) -> None:
        """AC refine: correction bits for previously-nonzero
        coefficients, newly-significant bits at the current level, the
        EOB decision gated past the previous stage's end-of-block index."""
        stats = self.ac_stats[si]
        p1 = 1 << al
        m1 = -p1
        kex = se
        while kex > 0 and coef[kex] == 0:
            kex -= 1
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex:
                if self.decode(stats, st):
                    break
            while True:
                if coef[k]:
                    if self.decode(stats, st + 2):
                        coef[k] += m1 if coef[k] < 0 else p1
                    break
                if self.decode(stats, st + 1):
                    coef[k] = m1 if self.decode(FIXED_BIN, 0) else p1
                    break
                st += 3
                k += 1
                if k > se:
                    raise CodecError("jpeg: arith AC refine overflow")
            k += 1


FIXED_BIN = bytearray([113])
