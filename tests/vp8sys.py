"""Optional ctypes binding to a system libwebp shared library.

The test golden — the engine never requires the library:
tests/test_vp8.py encodes real VP8 *lossy* streams with
``webp_encode_rgba`` and requires the from-scratch decoder
(``unfurl_spark/functions/vp8.py``) to reproduce libwebp's own YUV output bit-exactly.

Everything is gated behind ``available()`` — no import-time failure
when the library is absent.
"""
from __future__ import annotations

import ctypes
import ctypes.util

import numpy as np

_LIB = None
_TRIED = False

_SONAMES = ("libwebp.so.7", "libwebp.so", "libwebp.7.dylib",
            "libwebp.dylib")


def _load():
    global _LIB, _TRIED
    if _TRIED:
        return _LIB
    _TRIED = True
    path = ctypes.util.find_library("webp")
    names = ([path] if path else []) + list(_SONAMES)
    for name in names:
        try:
            lib = ctypes.CDLL(name)
            lib.WebPGetInfo  # symbol probe
            _LIB = lib
            break
        except (OSError, AttributeError):
            continue
    if _LIB is not None:
        _sig(_LIB)
    return _LIB


def _sig(lib) -> None:
    c = ctypes
    lib.WebPDecodeRGBA.restype = c.POINTER(c.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [c.c_char_p, c.c_size_t,
                                   c.POINTER(c.c_int), c.POINTER(c.c_int)]
    lib.WebPDecodeYUV.restype = c.POINTER(c.c_uint8)
    lib.WebPDecodeYUV.argtypes = [
        c.c_char_p, c.c_size_t, c.POINTER(c.c_int), c.POINTER(c.c_int),
        c.POINTER(c.POINTER(c.c_uint8)), c.POINTER(c.POINTER(c.c_uint8)),
        c.POINTER(c.c_int), c.POINTER(c.c_int)]
    lib.WebPEncodeRGBA.restype = c.c_size_t
    lib.WebPEncodeRGBA.argtypes = [
        c.c_char_p, c.c_int, c.c_int, c.c_int, c.c_float,
        c.POINTER(c.POINTER(c.c_uint8))]
    lib.WebPFree.restype = None
    lib.WebPFree.argtypes = [c.c_void_p]


def available() -> bool:
    return _load() is not None


def webp_decode_rgba(data: bytes) -> np.ndarray:
    """WebP payload → HxWx4 uint8 via libwebp (lossy AND lossless)."""
    lib = _load()
    if lib is None:
        raise RuntimeError("libwebp not available")
    w, h = ctypes.c_int(), ctypes.c_int()
    ptr = lib.WebPDecodeRGBA(data, len(data),
                             ctypes.byref(w), ctypes.byref(h))
    if not ptr:
        raise ValueError("libwebp: decode failed")
    try:
        n = w.value * h.value * 4
        out = np.ctypeslib.as_array(ptr, shape=(n,)).copy()
    finally:
        lib.WebPFree(ptr)
    return out.reshape(h.value, w.value, 4)


def webp_decode_yuv(data: bytes):
    """WebP payload → (Y, U, V) uint8 planes (U/V half-res), libwebp's
    post-loop-filter reconstruction — the bit-exactness target for the
    from-scratch decoder (no RGB-conversion ambiguity)."""
    lib = _load()
    if lib is None:
        raise RuntimeError("libwebp not available")
    c = ctypes
    w, h = c.c_int(), c.c_int()
    u_ptr, v_ptr = c.POINTER(c.c_uint8)(), c.POINTER(c.c_uint8)()
    stride, uv_stride = c.c_int(), c.c_int()
    y_ptr = lib.WebPDecodeYUV(data, len(data), c.byref(w), c.byref(h),
                              c.byref(u_ptr), c.byref(v_ptr),
                              c.byref(stride), c.byref(uv_stride))
    if not y_ptr:
        raise ValueError("libwebp: YUV decode failed")
    try:
        W, H, S, US = w.value, h.value, stride.value, uv_stride.value
        cw, ch = (W + 1) // 2, (H + 1) // 2
        y = np.ctypeslib.as_array(y_ptr, shape=(H * S,)) \
            .reshape(H, S)[:, :W].copy()
        u = np.ctypeslib.as_array(u_ptr, shape=(ch * US,)) \
            .reshape(ch, US)[:, :cw].copy()
        v = np.ctypeslib.as_array(v_ptr, shape=(ch * US,)) \
            .reshape(ch, US)[:, :cw].copy()
    finally:
        lib.WebPFree(y_ptr)
    return y, u, v


def webp_encode_rgba(img: np.ndarray, quality: float = 75.0) -> bytes:
    """HxWx4 uint8 → lossy WebP bytes (real VP8 streams for tests)."""
    lib = _load()
    if lib is None:
        raise RuntimeError("libwebp not available")
    img = np.ascontiguousarray(img, np.uint8)
    h, w, ch = img.shape
    assert ch == 4
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGBA(img.tobytes(), w, h, w * 4,
                           float(quality), ctypes.byref(out))
    if not n:
        raise ValueError("libwebp: encode failed")
    try:
        data = bytes(np.ctypeslib.as_array(out, shape=(n,)))
    finally:
        lib.WebPFree(out)
    return data
