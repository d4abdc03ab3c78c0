"""SVG rasterizer (solid-fill static subset): geometry, winding,
compositing, transforms, viewBox — and the honest boundary for
everything outside the subset."""

import signal
from contextlib import contextmanager
from datetime import timedelta

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from unfurl_spark.functions.codecs import CodecError, CodecUnavailable
from unfurl_spark.functions.svgraster import _path_subpaths, rasterize_svg


@contextmanager
def _time_limit(seconds: float):
    """SIGALRM guard: a parser that spins fails the test instead of
    hanging the suite (a hypothesis deadline only fires once the example
    returns)."""
    def on_alarm(signum, frame):
        raise TimeoutError(f"no return within {seconds} s")

    old = signal.signal(signal.SIGALRM, on_alarm)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def test_rect_exact_pixels():
    svg = (b'<svg xmlns="http://www.w3.org/2000/svg" width="8" height="8">'
           b'<rect x="2" y="2" width="4" height="4" fill="red"/></svg>')
    px = rasterize_svg(svg)
    assert px.shape == (8, 8, 4)
    assert (px[2:6, 2:6] == [255, 0, 0, 255]).all()
    assert (px[0:2, :, 3] == 0).all() and (px[:, 0:2, 3] == 0).all()
    assert (px[6:, :, 3] == 0).all() and (px[:, 6:, 3] == 0).all()


def test_circle_area_and_antialias():
    svg = b'<svg width="16" height="16"><circle cx="8" cy="8" r="6" fill="#00f"/></svg>'
    px = rasterize_svg(svg)
    area = (px[:, :, 3].astype(float) / 255).sum()
    assert abs(area - np.pi * 36) < 1.5          # 4x4 supersampling
    assert px[8, 8].tolist() == [0, 0, 255, 255]
    # anti-aliasing: some boundary pixels carry fractional coverage
    a = px[:, :, 3]
    assert ((a > 0) & (a < 255)).sum() > 8


def test_path_evenodd_donut_and_nonzero():
    d = b"M1 1 H11 V11 H1 Z M4 4 H8 V8 H4 Z"
    eo = rasterize_svg(b'<svg width="12" height="12">'
                       b'<path fill-rule="evenodd" d="' + d + b'"/></svg>')
    assert eo[2, 2, 3] == 255 and eo[6, 6, 3] == 0    # hole
    nz = rasterize_svg(b'<svg width="12" height="12">'
                       b'<path d="' + d + b'"/></svg>')
    assert nz[6, 6, 3] == 255                          # same winding: filled


def test_bezier_path_triangle_ish():
    svg = (b'<svg width="20" height="20">'
           b'<path d="M2 18 L10 2 L18 18 Z" fill="black"/></svg>')
    px = rasterize_svg(svg)
    assert px[16, 10, 3] == 255       # inside near the base
    assert px[4, 3, 3] == 0           # outside the left slope
    svg_c = (b'<svg width="20" height="20">'
             b'<path d="M2 10 C2 2 18 2 18 10 L2 10 Z"/></svg>')
    pc = rasterize_svg(svg_c)
    assert pc[8, 10, 3] == 255        # under the curve apex
    assert pc[3, 3, 3] == 0


def test_viewbox_and_transform():
    svg = (b'<svg width="10" height="10" viewBox="0 0 100 100">'
           b'<rect width="100" height="50" fill="lime"/></svg>')
    px = rasterize_svg(svg)
    assert px[2, 5].tolist() == [0, 255, 0, 255]
    assert px[8, 5, 3] == 0
    svg2 = (b'<svg width="10" height="10">'
            b'<g transform="translate(5,5) rotate(45)">'
            b'<rect x="-2" y="-2" width="4" height="4"/></g></svg>')
    p2 = rasterize_svg(svg2)
    assert p2[5, 5, 3] == 255         # rotated square still covers center
    assert p2[1, 1, 3] == 0


def test_opacity_compositing_document_order():
    svg = (b'<svg width="4" height="4">'
           b'<rect width="4" height="4" fill="#ff0000"/>'
           b'<rect width="4" height="4" fill="rgb(0,0,255)" '
           b'fill-opacity="0.5"/></svg>')
    px = rasterize_svg(svg)
    r, g, b, a = px[2, 2].tolist()
    assert a == 255 and b > 100 and r > 100 and g == 0  # blue over red


def test_inline_style_beats_presentation_attribute():
    px = rasterize_svg(b'<svg width="2" height="2"><rect width="2" '
                       b'height="2" fill="red" style="fill:blue"/></svg>')
    assert px[1, 1].tolist() == [0, 0, 255, 255]


def test_path_numbers_after_close_raise_not_hang():
    with _time_limit(1.0), pytest.raises(CodecError):
        _path_subpaths("M0 0 L10 0 L10 10 Z 5 5")


def test_path_after_close_starts_at_initial_point():
    with _time_limit(1.0):
        subs = _path_subpaths("M0 0 H10 V10 Z L0 10 L-10 10 Z")
    assert subs == [[(0, 0), (10, 0), (10, 10)],
                    [(0, 0), (0, 10), (-10, 10)]]


_PATH_TOKEN = st.one_of(
    st.sampled_from(list("MmLlHhVvCcSsQqTtZzAa")),
    st.integers(-50, 50).map(str),
    st.floats(-1e3, 1e3, allow_nan=False).map(lambda f: f"{f:g}"))


@settings(max_examples=300, deadline=timedelta(seconds=1))
@given(st.lists(_PATH_TOKEN, max_size=40))
def test_path_fuzz_total_and_bounded(tokens):
    """Any token string returns closed polygons or raises a typed codec
    error, in bounded time."""
    with _time_limit(2.0):
        try:
            subs = _path_subpaths(" ".join(tokens))
        except (CodecError, CodecUnavailable):
            return
    assert all(len(s) >= 3 for s in subs)


def test_named_colors_and_hex_alpha():
    px = rasterize_svg(b'<svg width="2" height="2">'
                       b'<rect width="2" height="2" fill="#00ff0080"/></svg>')
    assert px[0, 0].tolist() == [0, 255, 0, 128]
    px2 = rasterize_svg(b'<svg width="2" height="2">'
                        b'<rect width="2" height="2" fill="teal"/></svg>')
    assert px2[0, 0].tolist() == [0, 128, 128, 255]


def test_unsupported_features_stay_boundaries():
    cases = [
        b'<svg width="4" height="4"><rect width="4" height="4" fill="url(#g)"/></svg>',
        b'<svg width="4" height="4"><text x="0" y="2">x</text></svg>',
        b'<svg width="4" height="4"><rect width="4" height="4" stroke="red"/></svg>',
        b'<svg width="4" height="4"><path d="M0 0 A2 2 0 0 1 4 4Z"/></svg>',
        b'<svg width="4" height="4"><use href="#a"/></svg>',
        b'<svg width="4" height="4"><style>rect{fill:red}</style><rect width="4" height="4"/></svg>',
    ]
    for c in cases:
        with pytest.raises(CodecUnavailable):
            rasterize_svg(c)
    # stroke="none" and zero-width strokes are NOT a boundary
    ok = rasterize_svg(b'<svg width="4" height="4">'
                       b'<rect width="4" height="4" stroke="none"/></svg>')
    assert ok[1, 1, 3] == 255


def test_malformed_and_oversize():
    with pytest.raises(CodecError):
        rasterize_svg(b"<svg")
    with pytest.raises(CodecError):
        rasterize_svg(b'<svg width="99999" height="2"><rect/></svg>')


def test_small_shapes_on_a_large_canvas_stay_small():
    """Coverage and compositing work over each shape's box, not the
    canvas: eight 2x2 squares on the largest canvas allowed stay within a
    few canvases of memory and paint exactly their pixels."""
    import tracemalloc

    squares = b"".join(b'<rect x="%d" y="%d" width="2" height="2" '
                       b'fill="#ff000080"/>' % (256 * i, 200 * i + 1)
                       for i in range(8))
    svg = b'<svg width="2048" height="2048">' + squares + b"</svg>"
    tracemalloc.start()
    try:
        with _time_limit(5.0):
            px = rasterize_svg(svg)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * 2**20
    painted = np.argwhere(px[:, :, 3] > 0)
    assert len(painted) == 8 * 4
    assert {tuple(p) for p in painted} == {
        (200 * i + 1 + dy, 256 * i + dx)
        for i in range(8) for dy in (0, 1) for dx in (0, 1)}
    assert (px[px[:, :, 3] > 0] == (255, 0, 0, 128)).all()


def test_decode_media_rasterizes_simple_svg(spark):
    from pyspark.sql import Row

    from unfurl_spark.functions.multimodal import (
        decode_media,
        extract_features,
        resize_images,
    )

    simple = (b'<svg xmlns="http://www.w3.org/2000/svg" width="12" '
              b'height="12"><circle cx="6" cy="6" r="5" fill="navy"/></svg>')
    fancy = (b'<svg width="12" height="12"><rect width="12" height="12" '
             b'fill="url(#grad)"/></svg>')
    df = spark.createDataFrame(
        [Row(media_ref="a.svg", ctype="image/svg+xml", payload=simple),
         Row(media_ref="b.svg", ctype="image/svg+xml", payload=fancy)])
    dec = {r["media_ref"]: r for r in decode_media(df).collect()}
    assert dec["a.svg"]["ok"] == "ok"
    assert (dec["a.svg"]["width"], dec["a.svg"]["height"]) == (12, 12)
    assert dec["b.svg"]["ok"] == "codec:unavailable"  # honest boundary
    thumbs = {r["media_ref"]: r for r in resize_images(df, 4, 4).collect()}
    assert thumbs["a.svg"]["ok"] == "ok"
    feats = {r["media_ref"]: r for r in extract_features(df).collect()}
    assert feats["a.svg"]["ok"] == "ok"
