"""Minimal SVG rasterizer — the solid-fill static subset, pure
stdlib + numpy.

Scope (the simple-icon class that dominates favicon/logo payloads):
``rect`` / ``circle`` / ``ellipse`` / ``polygon`` / ``polyline`` /
``path`` (M L H V C S Q T Z, absolute and relative), ``g`` groups,
``translate``/``scale``/``rotate``/``matrix`` transforms, ``viewBox``
with the default xMidYMid-meet mapping, solid fills (#rgb, #rrggbb,
#rrggbbaa, rgb()/rgba(), a CSS named-color subset), ``fill-rule``
nonzero/evenodd, ``opacity``/``fill-opacity``, inline ``style``
attributes, alpha-over compositing in document order, 4×4 supersampled
coverage.

Anything outside that subset raises ``CodecUnavailable`` — visible
strokes, gradients/patterns (``url(#…)`` paint), ``<text>``,
``<image>``, ``<use>``, elliptical-arc path segments, CSS
stylesheets — so the pixels this module does produce are right, and
everything else stays an honest lineage-flagged boundary rather than
a wrong-looking render.

The reference never rasterizes SVG (its plugins stop at metadata);
this exists for the training-pipeline thumbnail path, upgrading the
previous "dims only" boundary for the subset above.
"""

from __future__ import annotations

import math
import re
import xml.etree.ElementTree as ET

import numpy as np

from .codecs import CodecError, CodecUnavailable, _check_dims
from .codecs_ext import svg_info

_SS = 4  # supersample factor per axis

_NAMED = {
    "black": (0, 0, 0), "white": (255, 255, 255), "red": (255, 0, 0),
    "green": (0, 128, 0), "blue": (0, 0, 255), "yellow": (255, 255, 0),
    "gray": (128, 128, 128), "grey": (128, 128, 128),
    "silver": (192, 192, 192), "maroon": (128, 0, 0),
    "purple": (128, 0, 128), "fuchsia": (255, 0, 255),
    "magenta": (255, 0, 255), "lime": (0, 255, 0),
    "olive": (128, 128, 0), "navy": (0, 0, 128), "teal": (0, 128, 128),
    "aqua": (0, 255, 255), "cyan": (0, 255, 255),
    "orange": (255, 165, 0), "currentcolor": (0, 0, 0),
}

_UNSUPPORTED_TAGS = {
    "text", "tspan", "textPath", "image", "use", "symbol", "marker",
    "mask", "clipPath", "filter", "foreignObject", "switch", "style",
    "pattern",
}

_NUM = re.compile(r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?")


def _floats(s: str) -> list[float]:
    return [float(x) for x in _NUM.findall(s or "")]


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_color(s: str, opacity: float):
    """→ (r, g, b, a 0..255) or None for no paint."""
    s = (s or "").strip()
    low = s.lower()
    if low in ("none", "transparent"):
        return None
    if low.startswith("url("):
        raise CodecUnavailable("svg: gradient/pattern paint")
    a = 1.0
    if s.startswith("#"):
        hx = s[1:]
        if len(hx) == 3:
            r, g, b = (int(c * 2, 16) for c in hx)
        elif len(hx) == 4:
            r, g, b = (int(c * 2, 16) for c in hx[:3])
            a = int(hx[3] * 2, 16) / 255.0
        elif len(hx) == 6:
            r, g, b = (int(hx[i:i + 2], 16) for i in (0, 2, 4))
        elif len(hx) == 8:
            r, g, b = (int(hx[i:i + 2], 16) for i in (0, 2, 4))
            a = int(hx[6:8], 16) / 255.0
        else:
            raise CodecError(f"svg: bad hex color {s!r}")
    elif low.startswith(("rgb(", "rgba(")):
        vals = _floats(s)
        if len(vals) < 3:
            raise CodecError(f"svg: bad rgb() {s!r}")
        if "%" in s:
            r, g, b = (int(round(v * 2.55)) for v in vals[:3])
        else:
            r, g, b = (int(round(v)) for v in vals[:3])
        if len(vals) >= 4:
            a = vals[3]
    elif low in _NAMED:
        r, g, b = _NAMED[low]
    else:
        raise CodecUnavailable(f"svg: color {s!r} unsupported")
    a = max(0.0, min(1.0, a * opacity))
    clamp = lambda v: max(0, min(255, v))  # noqa: E731
    return clamp(r), clamp(g), clamp(b), int(round(a * 255))


def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (a1 * a2 + c1 * b2, b1 * a2 + d1 * b2,
            a1 * c2 + c1 * d2, b1 * c2 + d1 * d2,
            a1 * e2 + c1 * f2 + e1, b1 * e2 + d1 * f2 + f1)


def _parse_transform(s: str):
    m = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    for name, args in re.findall(r"(\w+)\s*\(([^)]*)\)", s or ""):
        v = _floats(args)
        if name == "translate":
            t = (1, 0, 0, 1, v[0], v[1] if len(v) > 1 else 0.0)
        elif name == "scale":
            t = (v[0], 0, 0, v[1] if len(v) > 1 else v[0], 0, 0)
        elif name == "rotate":
            ang = math.radians(v[0])
            ca, sa = math.cos(ang), math.sin(ang)
            t = (ca, sa, -sa, ca, 0, 0)
            if len(v) >= 3:
                cx, cy = v[1], v[2]
                t = _mat_mul(_mat_mul((1, 0, 0, 1, cx, cy), t),
                             (1, 0, 0, 1, -cx, -cy))
        elif name == "matrix" and len(v) == 6:
            t = tuple(v)
        elif name in ("skewX", "skewY"):
            tn = math.tan(math.radians(v[0]))
            t = (1, 0, tn, 1, 0, 0) if name == "skewX" \
                else (1, tn, 0, 1, 0, 0)
        else:
            raise CodecUnavailable(f"svg: transform {name} unsupported")
        m = _mat_mul(m, t)
    return m


def _apply(m, pts):
    a, b, c, d, e, f = m
    return [(a * x + c * y + e, b * x + d * y + f) for x, y in pts]


def _flatten_cubic(p0, p1, p2, p3, n=16):
    out = []
    for i in range(1, n + 1):
        t = i / n
        u = 1 - t
        out.append((u**3 * p0[0] + 3 * u * u * t * p1[0]
                    + 3 * u * t * t * p2[0] + t**3 * p3[0],
                    u**3 * p0[1] + 3 * u * u * t * p1[1]
                    + 3 * u * t * t * p2[1] + t**3 * p3[1]))
    return out


def _flatten_quad(p0, p1, p2, n=16):
    out = []
    for i in range(1, n + 1):
        t = i / n
        u = 1 - t
        out.append((u * u * p0[0] + 2 * u * t * p1[0] + t * t * p2[0],
                    u * u * p0[1] + 2 * u * t * p1[1] + t * t * p2[1]))
    return out


def _path_subpaths(d: str) -> list[list[tuple[float, float]]]:
    """Flatten a path's ``d`` into closed polygonal subpaths."""
    tokens = re.findall(r"[MmLlHhVvCcSsQqTtZzAa]|" + _NUM.pattern, d or "")
    subs: list[list[tuple[float, float]]] = []
    cur: list[tuple[float, float]] = []
    pos = (0.0, 0.0)
    start = (0.0, 0.0)
    prev_ctrl = None
    prev_cmd = ""
    i = 0

    def nums(k):
        nonlocal i
        try:
            v = [float(tokens[i + j]) for j in range(k)]
        except (IndexError, ValueError):
            raise CodecError("svg: truncated path segment") from None
        i += k
        return v

    cmd = ""
    while i < len(tokens):
        i0 = i
        tok = tokens[i]
        if re.match(r"^[A-Za-z]$", tok):
            cmd = tok
            i += 1
            if cmd in "Zz":
                if cur:
                    subs.append(cur)
                # a closepath followed by a drawing command starts the next
                # subpath at the closed one's initial point; a number
                # straight after Z has no command to repeat
                pos = start
                cur = [pos]
                cmd, prev_cmd, prev_ctrl = "", "Z", None
                continue
        elif cmd in ("M",):
            cmd = "L"       # implicit lineto after moveto
        elif cmd in ("m",):
            cmd = "l"
        if cmd == "":
            raise CodecError("svg: path data before command")
        if cmd in "Aa":
            raise CodecUnavailable("svg: elliptical arc path segment")
        if cmd in "Mm":
            x, y = nums(2)
            if cmd == "m":
                x, y = pos[0] + x, pos[1] + y
            if cur:
                subs.append(cur)
            pos = start = (x, y)
            cur = [pos]
            prev_ctrl = None
        elif cmd in "Ll":
            x, y = nums(2)
            if cmd == "l":
                x, y = pos[0] + x, pos[1] + y
            pos = (x, y)
            cur.append(pos)
            prev_ctrl = None
        elif cmd in "Hh":
            (x,) = nums(1)
            if cmd == "h":
                x = pos[0] + x
            pos = (x, pos[1])
            cur.append(pos)
            prev_ctrl = None
        elif cmd in "Vv":
            (y,) = nums(1)
            if cmd == "v":
                y = pos[1] + y
            pos = (pos[0], y)
            cur.append(pos)
            prev_ctrl = None
        elif cmd in "CcSs":
            if cmd in "Cc":
                x1, y1, x2, y2, x, y = nums(6)
                if cmd == "c":
                    x1, y1 = pos[0] + x1, pos[1] + y1
                    x2, y2 = pos[0] + x2, pos[1] + y2
                    x, y = pos[0] + x, pos[1] + y
            else:
                x2, y2, x, y = nums(4)
                if cmd == "s":
                    x2, y2 = pos[0] + x2, pos[1] + y2
                    x, y = pos[0] + x, pos[1] + y
                if prev_cmd in "CcSs" and prev_ctrl is not None:
                    x1 = 2 * pos[0] - prev_ctrl[0]
                    y1 = 2 * pos[1] - prev_ctrl[1]
                else:
                    x1, y1 = pos
            cur.extend(_flatten_cubic(pos, (x1, y1), (x2, y2), (x, y)))
            prev_ctrl = (x2, y2)
            pos = (x, y)
        elif cmd in "QqTt":
            if cmd in "Qq":
                x1, y1, x, y = nums(4)
                if cmd == "q":
                    x1, y1 = pos[0] + x1, pos[1] + y1
                    x, y = pos[0] + x, pos[1] + y
            else:
                x, y = nums(2)
                if cmd == "t":
                    x, y = pos[0] + x, pos[1] + y
                if prev_cmd in "QqTt" and prev_ctrl is not None:
                    x1 = 2 * pos[0] - prev_ctrl[0]
                    y1 = 2 * pos[1] - prev_ctrl[1]
                else:
                    x1, y1 = pos
            cur.extend(_flatten_quad(pos, (x1, y1), (x, y)))
            prev_ctrl = (x1, y1)
            pos = (x, y)
        if i == i0:
            # progress invariant: every iteration consumes a token, so no
            # input can spin this loop
            raise CodecError(f"svg: unexpected path token {tok!r}")
        prev_cmd = cmd
    if cur:
        subs.append(cur)
    return [s for s in subs if len(s) >= 3]


def _ellipse_poly(cx, cy, rx, ry, n=64):
    return [(cx + rx * math.cos(2 * math.pi * i / n),
             cy + ry * math.sin(2 * math.pi * i / n)) for i in range(n)]


def _rounded_rect(x, y, w, h, rx, ry):
    rx = min(rx, w / 2)
    ry = min(ry, h / 2)
    pts = []

    def corner(cx, cy, a0, a1, n=16):
        for i in range(n + 1):
            a = a0 + (a1 - a0) * i / n
            pts.append((cx + rx * math.cos(a), cy + ry * math.sin(a)))

    corner(x + w - rx, y + ry, -math.pi / 2, 0)
    corner(x + w - rx, y + h - ry, 0, math.pi / 2)
    corner(x + rx, y + h - ry, math.pi / 2, math.pi)
    corner(x + rx, y + ry, math.pi, 3 * math.pi / 2)
    return pts


def _bbox(subpaths, w, h) -> tuple[int, int, int, int]:
    """(y0, y1, x0, x1): the pixels of the ``w``×``h`` canvas that the
    closed ``subpaths`` can cover.  Each row crosses a closed subpath up
    as often as down, so every sample outside its bounding box winds 0.
    That needs every crossing to land within a sample spacing of its
    edge: a non-finite vertex drops edges, and past 2^40 the rounding of
    a crossing can exceed the spacing, so such shapes get the whole
    canvas."""
    p = np.concatenate([np.asarray(pts, np.float64) for pts in subpaths])
    if not (np.abs(p) < 2.0 ** 40).all():
        return 0, h, 0, w
    lo, hi = np.floor(p.min(axis=0)), np.ceil(p.max(axis=0))
    x0, x1 = (int(min(max(v, 0), w)) for v in (lo[0], hi[0]))
    y0, y1 = (int(min(max(v, 0), h)) for v in (lo[1], hi[1]))
    return y0, y1, x0, x1


def _coverage(subpaths, box, evenodd: bool) -> np.ndarray:
    """Float coverage in [0,1] per pixel of ``box`` (``_bbox``): winding
    number at _SS×_SS sample centers, vectorized one edge at a time."""
    top, bottom, left, right = box
    ys = (np.arange(top * _SS, bottom * _SS) + 0.5) / _SS
    xs = (np.arange(left * _SS, right * _SS) + 0.5) / _SS
    wn = np.zeros((len(ys), len(xs)), np.int32)
    for pts in subpaths:
        p = np.asarray(pts + [pts[0]], np.float64)
        x1, y1 = p[:-1, 0], p[:-1, 1]
        x2, y2 = p[1:, 0], p[1:, 1]
        for e in range(len(x1)):
            ey1, ey2 = y1[e], y2[e]
            if ey1 == ey2:
                continue
            up = ey2 > ey1
            lo, hi = (ey1, ey2) if up else (ey2, ey1)
            rows = (ys >= lo) & (ys < hi)
            if not rows.any():
                continue
            t = (ys[rows] - ey1) / (ey2 - ey1)
            x_at = x1[e] + t * (x2[e] - x1[e])
            hit = xs[None, :] < x_at[:, None]
            wn[rows] += np.where(hit, 1 if up else -1, 0)
    inside = (wn & 1).astype(bool) if evenodd else wn != 0
    h, w = wn.shape[0] // _SS, wn.shape[1] // _SS
    return inside.reshape(h, _SS, w, _SS).mean(axis=(1, 3))


def _composite(canvas: np.ndarray, cov: np.ndarray, rgba) -> None:
    r, g, b, a = rgba
    a_s = cov * (a / 255.0)
    a_d = canvas[:, :, 3].astype(np.float64) / 255.0
    a_out = a_s + a_d * (1 - a_s)
    safe = np.where(a_out == 0, 1.0, a_out)
    src = np.array([r, g, b], np.float64)
    rgb_out = (src[None, None, :] * a_s[:, :, None]
               + canvas[:, :, :3].astype(np.float64)
               * (a_d * (1 - a_s))[:, :, None]) / safe[:, :, None]
    canvas[:, :, :3] = np.clip(rgb_out + 0.5, 0, 255).astype(np.uint8)
    canvas[:, :, 3] = np.clip(a_out * 255 + 0.5, 0, 255).astype(np.uint8)


def rasterize_svg(data: bytes, max_dim: int = 2048) -> np.ndarray:
    """SVG bytes → RGBA uint8 canvas (transparent background)."""
    try:
        root = ET.fromstring(data.decode("utf-8", "replace"))
    except ET.ParseError as exc:
        raise CodecError(f"svg: parse error ({exc})") from exc
    if _strip_ns(root.tag) != "svg":
        raise CodecError("svg: root is not <svg>")
    try:
        w, h = svg_info(data)
    except CodecError:
        w = h = None
    vb = _floats(root.get("viewBox") or "")
    if (w is None or h is None) and len(vb) == 4:
        w = w if w is not None else int(round(vb[2]))
        h = h if h is not None else int(round(vb[3]))
    if not w or not h or w <= 0 or h <= 0:
        raise CodecError("svg: no usable dimensions")
    if w > max_dim or h > max_dim:
        raise CodecError(f"svg: {w}x{h} exceeds raster cap")
    _check_dims(w, h, "svg")

    base = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    if len(vb) == 4 and vb[2] > 0 and vb[3] > 0:
        # default preserveAspectRatio: xMidYMid meet
        s = min(w / vb[2], h / vb[3])
        tx = (w - vb[2] * s) / 2 - vb[0] * s
        ty = (h - vb[3] * s) / 2 - vb[1] * s
        base = (s, 0.0, 0.0, s, tx, ty)

    canvas = np.zeros((h, w, 4), np.uint8)
    # the box of the last composite: the only pixels that can be fully
    # transparent with a colour (alpha rounded to 0)
    last = (0, 0, 0, 0)

    def style_of(el, inherited):
        # presentation attributes first, then the inline style overlays
        # them: CSS ranks a style declaration above an attribute
        own = {name: el.get(name)
               for name in ("fill", "fill-rule", "fill-opacity", "opacity",
                            "stroke", "stroke-width", "color")
               if el.get(name) is not None}
        for part in (el.get("style") or "").split(";"):
            if ":" in part:
                k, v = part.split(":", 1)
                own[k.strip().lower()] = v.strip()
        props = {**inherited, **own}
        if "opacity" in own:
            # group opacity multiplies down the tree
            props["opacity"] = str(float(inherited.get("opacity", "1"))
                                   * float(own["opacity"]))
        return props

    def shape_polys(el):
        tag = _strip_ns(el.tag)
        g = lambda n, d=0.0: float(el.get(n) or d)  # noqa: E731
        if tag == "rect":
            x, y = g("x"), g("y")
            rw, rh = g("width"), g("height")
            if rw <= 0 or rh <= 0:
                return []
            rx = el.get("rx")
            ry = el.get("ry")
            rxv = float(rx) if rx is not None else \
                (float(ry) if ry is not None else 0.0)
            ryv = float(ry) if ry is not None else rxv
            if rxv > 0 or ryv > 0:
                return [_rounded_rect(x, y, rw, rh, rxv, ryv)]
            return [[(x, y), (x + rw, y), (x + rw, y + rh), (x, y + rh)]]
        if tag == "circle":
            r = g("r")
            return [_ellipse_poly(g("cx"), g("cy"), r, r)] if r > 0 else []
        if tag == "ellipse":
            rx, ry = g("rx"), g("ry")
            return [_ellipse_poly(g("cx"), g("cy"), rx, ry)] \
                if rx > 0 and ry > 0 else []
        if tag in ("polygon", "polyline"):
            v = _floats(el.get("points") or "")
            pts = list(zip(v[0::2], v[1::2]))
            return [pts] if len(pts) >= 3 else []
        if tag == "path":
            return _path_subpaths(el.get("d") or "")
        return None

    def walk(el, m, inherited):
        nonlocal last
        tag = _strip_ns(el.tag)
        if tag in _UNSUPPORTED_TAGS:
            raise CodecUnavailable(f"svg: <{tag}> unsupported")
        if tag in ("defs", "title", "desc", "metadata"):
            return
        props = style_of(el, inherited)
        m2 = _mat_mul(m, _parse_transform(el.get("transform") or ""))
        if tag in ("svg", "g", "a"):
            for child in el:
                walk(child, m2, props)
            return
        polys = shape_polys(el)
        if polys is None:
            for child in el:   # unknown container: recurse leniently
                walk(child, m2, props)
            return
        if not polys:
            return
        stroke = (props.get("stroke") or "none").strip().lower()
        if stroke not in ("none", "transparent", ""):
            try:
                swidth = float(_floats(props.get("stroke-width", "1"))[0])
            except IndexError:
                swidth = 1.0
            if swidth > 0:
                raise CodecUnavailable("svg: visible stroke unsupported")
        opacity = float(props.get("opacity", "1")) \
            * float(props.get("fill-opacity", "1"))
        rgba = _parse_color(props.get("fill", "black"), opacity)
        if rgba is None or rgba[3] == 0:
            return
        subs = [_apply(m2, p) for p in polys]
        box = _bbox(subs, w, h)
        cov = _coverage(subs, box,
                        props.get("fill-rule", "nonzero") == "evenodd")
        # a zero-coverage pixel keeps its colour unless it is fully
        # transparent, which turns it black; only the last box holds any
        y0, y1, x0, x1 = last
        prev = canvas[y0:y1, x0:x1]
        prev[prev[:, :, 3] == 0, :3] = 0
        y0, y1, x0, x1 = last = box
        _composite(canvas[y0:y1, x0:x1], cov, rgba)

    walk(root, base, {})
    return canvas
