"""Lossless JPEG (T.81 Annex H, SOF3): spatial DPCM with selectable
predictors, Huffman-coded differences, modulo-65536 reconstruction.

No golden decoder exists in this environment (system libjpeg predates
lossless support), so correctness rests on three independent legs:
encoder/decoder are separate walks of the spec (round-trip pins both),
a HAND-COMPUTED bitstream vector pins the decoder alone, and the typed
boundaries (precision > 8, subsampled lossless) stay explicit."""

import struct

import numpy as np
import pytest
from encoders import encode_jpeg_lossless

from unfurl_spark.functions.codecs import CodecUnavailable
from unfurl_spark.functions.jpegc import decode_jpeg

RNG = np.random.default_rng(27)


@pytest.mark.parametrize("psv", list(range(1, 8)))
def test_roundtrip_all_predictors_rgb(psv):
    img = RNG.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg_lossless(img, psv=psv)),
                          img)


def test_roundtrip_gray_and_gradients():
    g = np.add.outer(np.arange(24), np.arange(31)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(g, psv=4))
    assert np.array_equal(out[:, :, 0], g)


def test_roundtrip_point_transform():
    img = (RNG.integers(0, 64, (9, 11, 3), dtype=np.uint8) << 2)
    out = decode_jpeg(encode_jpeg_lossless(img, psv=2, pt=2))
    # Pt=2: samples coded >>2, reconstructed <<2 — exact for multiples
    assert np.array_equal(out, img)


def test_roundtrip_restart_interval():
    img = RNG.integers(0, 256, (8, 16, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_lossless(img, psv=5,
                                           restart_interval=20))
    assert np.array_equal(out, img)


def test_hand_computed_vector():
    """1×1 gray, value 200, psv=1: Px = 2^7 = 128, diff = +72 →
    SSSS 7 (DC-luma code 11110) + 7 magnitude bits 1001000, padded
    with 1s → entropy bytes F4 8F.  Pins the decoder with no help
    from the sibling encoder."""
    sof = b"\xFF\xC3" + struct.pack(">HBHHB", 11, 8, 1, 1, 1) \
        + bytes([1, 0x11, 0])
    bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    values = list(range(12))
    dht = b"\xFF\xC4" + struct.pack(">HB", 19 + 12, 0) \
        + bytes(bits) + bytes(values)
    sos = b"\xFF\xDA" + struct.pack(">HB", 8, 1) + bytes([1, 0x00]) \
        + bytes([1, 0, 0])
    data = b"\xFF\xD8" + sof + dht + sos + b"\xF4\x8F" + b"\xFF\xD9"
    out = decode_jpeg(data)
    assert out.shape == (1, 1, 1)
    assert out[0, 0, 0] == 200


def test_precision_and_subsampling_boundaries():
    img = RNG.integers(0, 256, (4, 4), dtype=np.uint8)
    data = bytearray(encode_jpeg_lossless(img))
    i = bytes(data).find(b"\xFF\xC3")
    data[i + 4] = 12          # claim 12-bit precision
    with pytest.raises(CodecUnavailable):
        decode_jpeg(bytes(data))
    data2 = bytearray(encode_jpeg_lossless(img))
    j = bytes(data2).find(b"\xFF\xC3")
    data2[j + 11] = 0x22      # claim 2x2 sampling for comp 1
    with pytest.raises(CodecUnavailable):
        decode_jpeg(bytes(data2))
