"""Arithmetic-coded JPEG (SOF9) entropy decoding — T.81 §D / §F.2.4.

Verification hinges on a lossless-entropy identity: libjpeg encodes the
SAME image twice (Huffman and arithmetic, identical quality/sampling),
so the quantized coefficients in both files are equal and this
decoder's pixels must be BYTE-IDENTICAL across the two files.  A golden
helper binary (tools/jpeghelper.c, the ``jpeghelper`` fixture) is
compiled on demand; everything here skips when it cannot be built.
"""
import subprocess

import numpy as np
import pytest

from unfurl_spark.functions.jpegc import decode_jpeg


def _enc(jpeghelper, img, arith, q, gray):
    r = subprocess.run(
        [jpeghelper, "encode", str(img.shape[1]), str(img.shape[0]),
         str(q), str(arith), str(gray)],
        input=img.tobytes(), capture_output=True)
    assert r.returncode == 0, r.stderr
    return r.stdout


def _golden(jpeghelper, data):
    out = subprocess.run([jpeghelper, "decode"], input=data,
                         capture_output=True).stdout
    head, _, raw = out.partition(b"\n")
    w, h, ch = map(int, head.split())
    return np.frombuffer(raw, np.uint8).reshape(h, w, ch)


def test_aritab_shape():
    from unfurl_spark.functions.jpegarith import ARITH_TAB
    assert len(ARITH_TAB) == 114
    assert ARITH_TAB[0] == (0x5A1D, 1, 0x81)     # T.81 Table D.3 row 0
    assert ARITH_TAB[113][0] == 0x5A1D           # fixed 0.5 state
    assert ARITH_TAB[113][1] == 113


def test_huffman_arith_identity(jpeghelper):
    """Entropy coding is lossless: both encodings of one image must
    decode to byte-identical pixels through this pipeline."""
    rng = np.random.default_rng(99)
    cases = []
    for t in range(10):
        gray = t % 3 == 0
        h = int(rng.integers(5, 120))
        w = int(rng.integers(5, 120))
        shape = (h, w) if gray else (h, w, 3)
        kind = t % 3
        if kind == 0:
            g = rng.integers(0, 256, shape, dtype=np.uint8)
        elif kind == 1:
            g = np.clip(rng.normal(120, 40, shape).cumsum(axis=0) / 5
                        + 40, 0, 255).astype(np.uint8)
        else:
            g = np.full(shape, int(rng.integers(0, 256)), np.uint8)
        cases.append((gray, g, int(rng.integers(5, 99))))
    for gray, g, q in cases:
        huff = _enc(jpeghelper, g, 0, q, int(gray))
        arith = _enc(jpeghelper, g, 1, q, int(gray))
        assert b"\xff\xc0" in huff
        assert b"\xff\xc9" in arith              # SOF9
        p1 = decode_jpeg(huff)
        p2 = decode_jpeg(arith)
        assert np.array_equal(p1, p2), (gray, g.shape, q)


def test_arith_matches_libjpeg_within_family_tolerance(jpeghelper):
    """Pixel sanity vs libjpeg's own decode: the arith path must sit at
    the SAME distance from libjpeg as the huffman path (any drift is
    the shared IDCT/upsampling family difference, not entropy)."""
    rng = np.random.default_rng(5)
    g = np.clip(rng.normal(128, 30, (64, 80, 3)).cumsum(axis=1) / 6
                + 40, 0, 255).astype(np.uint8)
    huff = _enc(jpeghelper, g, 0, 80, 0)
    arith = _enc(jpeghelper, g, 1, 80, 0)
    gold = _golden(jpeghelper, arith)
    mine_a = decode_jpeg(arith)
    mine_h = decode_jpeg(huff)
    drift_a = float(np.abs(mine_a.astype(int) - gold.astype(int)).mean())
    drift_h = float(np.abs(mine_h.astype(int)
                           - _golden(jpeghelper, huff).astype(int)).mean())
    assert abs(drift_a - drift_h) < 0.2
    assert drift_a < 3.0


def _enc_prog(jpeghelper, img, arith, q, gray):
    r = subprocess.run(
        [jpeghelper, "encode", str(img.shape[1]), str(img.shape[0]),
         str(q), str(arith), str(gray), "1"],
        input=img.tobytes(), capture_output=True)
    assert r.returncode == 0, r.stderr
    return r.stdout


def test_progressive_arith_identity(jpeghelper):
    """SOF10: arithmetic progressive must decode byte-identically to
    the arithmetic sequential AND Huffman (sequential and progressive)
    encodings of the same image (entropy + scan-script are both
    lossless)."""
    rng = np.random.default_rng(31)
    for t in range(6):
        gray = t % 2 == 0
        h = int(rng.integers(5, 100))
        w = int(rng.integers(5, 100))
        shape = (h, w) if gray else (h, w, 3)
        g = rng.integers(0, 256, shape, dtype=np.uint8) if t % 3 \
            else np.clip(rng.normal(120, 40, shape).cumsum(axis=0) / 5
                         + 40, 0, 255).astype(np.uint8)
        q = int(rng.integers(10, 98))
        prog = _enc_prog(jpeghelper, g, 1, q, int(gray))
        seq = _enc(jpeghelper, g, 1, q, int(gray))
        huff = _enc(jpeghelper, g, 0, q, int(gray))
        huff_prog = _enc_prog(jpeghelper, g, 0, q, int(gray))
        assert b"\xff\xca" in prog                # SOF10
        assert b"\xff\xc2" in huff_prog           # SOF2
        p_prog = decode_jpeg(prog)
        assert np.array_equal(p_prog, decode_jpeg(seq)), (t, q)
        assert np.array_equal(p_prog, decode_jpeg(huff)), (t, q)
        assert np.array_equal(p_prog, decode_jpeg(huff_prog)), (t, q)


def test_hierarchical_still_boundary(jpeghelper):
    """SOF11+ (hierarchical/lossless) stays flagged CodecUnavailable."""
    from unfurl_spark.functions.codecs import CodecUnavailable
    img = np.full((16, 16, 3), 100, np.uint8)
    data = bytearray(_enc(jpeghelper, img, 1, 85, 0))
    i = bytes(data).find(b"\xff\xc9")
    data[i + 1] = 0xCB
    with pytest.raises(CodecUnavailable):
        decode_jpeg(bytes(data))


def test_arith_restart_intervals(jpeghelper):
    """Restart markers inside arithmetic scans: decoder + statistics
    re-initialize at every RSTn, sequential and progressive; and inside
    Huffman progressive scans (EOB runs end at every RSTn)."""
    rng = np.random.default_rng(12)
    for gray in (0, 1):
        shape = (40, 56) if gray else (40, 56, 3)
        g = rng.integers(0, 256, shape, dtype=np.uint8)
        for coder, prog in ((1, 0), (1, 1), (0, 1)):
            for dri in (1, 3):
                r = subprocess.run(
                    [jpeghelper, "encode", "56", "40", "75", str(coder),
                     str(gray), str(prog), str(dri)],
                    input=g.tobytes(), capture_output=True)
                enc = r.stdout
                assert b"\xff\xdd" in enc             # DRI present
                huff = subprocess.run(
                    [jpeghelper, "encode", "56", "40", "75", "0",
                     str(gray), "0", str(dri)],
                    input=g.tobytes(), capture_output=True).stdout
                assert np.array_equal(decode_jpeg(enc), decode_jpeg(huff)), \
                    (gray, coder, prog, dri)


def test_non_interleaved_sequential_multiscan(jpeghelper):
    """Multi-SOS sequential files (one full-spectral scan per component,
    T.81 non-interleaved mode) decode for BOTH entropy coders:
    byte-identical pixels to the interleaved encode of the same image
    (same coefficients, different scan organization) AND to libjpeg's
    own decode of the multi-scan file."""
    rng = np.random.default_rng(77)

    def enc(img, arith, ms, gray, dri=0):
        r = subprocess.run(
            [jpeghelper, "encode", str(img.shape[1]), str(img.shape[0]),
             "80", str(arith), str(gray), "0", str(dri), str(ms)],
            input=img.tobytes(), capture_output=True)
        assert r.returncode == 0, r.stderr
        return r.stdout

    cases = [
        (rng.integers(0, 256, (40, 56, 3), dtype=np.uint8), 0),
        (rng.integers(0, 256, (33, 41, 3), dtype=np.uint8), 4),
        (rng.integers(0, 256, (24, 24), dtype=np.uint8), 0),     # gray
    ]
    for img, dri in cases:
        gray = int(img.ndim == 2)
        for arith in (0, 1):
            single = enc(img, arith, 0, gray, dri)
            multi = enc(img, arith, 1, gray, dri)
            assert multi.count(b"\xff\xda") == (1 if gray else 3)
            p_single = decode_jpeg(single)
            p_multi = decode_jpeg(multi)
            assert np.array_equal(p_single, p_multi), (arith, dri, gray)
            golden_m = _golden(jpeghelper, multi)
            golden_s = _golden(jpeghelper, single)
            if gray:
                golden_m = golden_m[:, :, 0][:, :, None]
                golden_s = golden_s[:, :, 0][:, :, None]
            # libjpeg decodes BOTH files identically (scan organization
            # does not change coefficients)...
            assert np.array_equal(golden_m, golden_s), (arith, dri, gray)
            # ...and this pipeline must sit at the SAME family distance
            # (integer-vs-float IDCT) from libjpeg for both files
            drift_m = float(np.abs(p_multi.astype(int)
                                   - golden_m.astype(int)).mean())
            drift_s = float(np.abs(p_single.astype(int)
                                   - golden_s.astype(int)).mean())
            assert abs(drift_m - drift_s) < 1e-9, (arith, dri, gray)
