"""Codec robustness properties: at 10^12-document scale every byte
pattern WILL occur, so decoders must be total — any input either
decodes or raises a typed codec error (CodecError / CodecUnavailable /
their ValueError base); nothing else escapes, nothing hangs.

Mutation fuzz seeds from valid encodes (deep structure reached), plus
pure-random buffers (header fuzz), plus hypothesis round-trip laws."""

from datetime import timedelta

import encoders as E
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from unfurl_spark.functions import codecs as C
from unfurl_spark.functions.jpegc import decode_jpeg
from unfurl_spark.functions.multimodal import decode_pixels

_ALLOWED = (ValueError, NotImplementedError)  # codec error hierarchy


def _seed_payloads():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    flat = (img // 64) * 64
    return [
        ("png", E.encode_png(img)),
        ("jpeg", E.encode_jpeg(img, quality=80)),
        ("jpeg", E.encode_jpeg(img, quality=80, subsample=True,
                             restart_interval=2)),
        ("jpeg", E.encode_jpeg_progressive(img, quality=80, subsample=True)),
        ("jpeg", E.encode_jpeg_lossless(img, restart_interval=2)),
        ("gif", E.encode_gif(flat)),
        ("bmp", E.encode_bmp(img)),
        ("ppm", E.encode_ppm(img)),
        ("wav", E.encode_wav(8000,
                             rng.integers(-999, 999, 256).astype(np.int16))),
    ]


@pytest.mark.parametrize("kind,payload", _seed_payloads())
def test_mutation_fuzz_total(kind, payload):
    rng = np.random.default_rng(len(payload))
    for trial in range(120):
        buf = bytearray(payload)
        for _ in range(rng.integers(1, 6)):
            op = rng.integers(0, 3)
            if op == 0 and len(buf) > 1:  # flip bytes
                buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
            elif op == 1 and len(buf) > 8:  # truncate
                del buf[rng.integers(4, len(buf)):]
            else:  # splice garbage
                at = rng.integers(0, len(buf))
                buf[at:at] = bytes(rng.integers(0, 256, 4, dtype=np.uint8))
        try:
            out = decode_pixels(bytes(buf), kind)
            if isinstance(out, tuple):
                assert out[1].dtype == np.int16
            else:
                assert out.dtype == np.uint8 and out.ndim == 3
        except _ALLOWED:
            pass  # typed failure is the contract


def test_random_buffers_total():
    rng = np.random.default_rng(12)
    for kind in ("png", "jpeg", "gif", "bmp", "ppm", "wav", "webp",
                 "mp4", "unknown"):
        for size in (0, 1, 7, 64, 4096):
            buf = bytes(rng.integers(0, 256, size, dtype=np.uint8))
            try:
                decode_pixels(buf, kind)
            except _ALLOWED:
                pass


@settings(max_examples=40, deadline=timedelta(seconds=1))
@given(st.integers(1, 40), st.integers(1, 40), st.integers(1, 4),
       st.integers(0, 2**32 - 1))
def test_png_roundtrip_property(w, h, c, seed):
    img = np.random.default_rng(seed).integers(
        0, 256, (h, w, c), dtype=np.uint8)
    assert (C.decode_png(E.encode_png(img)) == img).all()


@settings(max_examples=20, deadline=timedelta(seconds=1))
@given(st.integers(8, 48), st.integers(8, 48), st.integers(0, 2**32 - 1),
       st.booleans())
def test_jpeg_decodes_own_encodes(w, h, seed, subsample):
    rng = np.random.default_rng(seed)
    # smooth content (random DC per 8x8 tile) so the lossy bound is tight
    tiles = rng.integers(30, 220, ((h + 7) // 8, (w + 7) // 8, 3))
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)[:h, :w]
    img = img.astype(np.uint8)
    dec = decode_jpeg(E.encode_jpeg(img, quality=90, subsample=subsample))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 10


@settings(max_examples=30, deadline=timedelta(seconds=1))
@given(st.integers(1, 500), st.integers(1, 2), st.integers(0, 2**32 - 1))
def test_wav_roundtrip_property(n, ch, seed):
    s = np.random.default_rng(seed).integers(
        -32768, 32768, (n, ch)).astype(np.int16)
    rate, out = C.decode_wav(E.encode_wav(16000, s))
    assert rate == 16000 and (out == s).all()
