"""JS-compatible scalar coercions.

The reference engine runs on Node, so its scalar semantics are JavaScript's:
``Number(value)`` (unfurl-html/src/index.ts:252-263), ``new Date(value)``
with a tz-less-ISO fixup (:268-278), WHATWG ``new URL(value, base)``
resolution (:283-285), HTML entity decoding via ``entities.decodeHTML``
(:346-348), and the ``@``-strip twitter-handle rule (:1017-1020).  These
helpers reproduce that behavior in pure Python so they can run inside
Arrow-batched UDFs (no per-row Spark UDF crossings).
"""

from __future__ import annotations

import html as _html
import math
import re
from functools import lru_cache
from datetime import datetime, timedelta, timezone
from urllib.parse import quote, urljoin, urlsplit

NaN = float("nan")

_JS_HEX = re.compile(r"^[+-]?0[xX][0-9a-fA-F]+$")
_JS_OCT = re.compile(r"^0[oO][0-7]+$")
_JS_BIN = re.compile(r"^0[bB][01]+$")
_JS_DEC = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_JS_INF = re.compile(r"^[+-]?Infinity$")


def js_number(value: object) -> float:
    """JavaScript ``Number(value)`` for the types the reference feeds it."""
    if value is None:
        return NaN  # Number(undefined) — reference never passes null here
    if isinstance(value, bool):
        return 1.0 if value else 0.0
    if isinstance(value, (int, float)):
        return float(value)
    if not isinstance(value, str):
        return NaN
    s = value.strip(" \t\n\r\f\v\u00a0\ufeff")
    if s == "":
        return 0.0
    if _JS_HEX.match(s):
        if s[0] in "+-":
            return NaN  # JS rejects signed hex
        return float(int(s, 16))
    if _JS_OCT.match(s):
        return float(int(s, 8))
    if _JS_BIN.match(s):
        return float(int(s, 2))
    if _JS_INF.match(s):
        return -math.inf if s.startswith("-") else math.inf
    if _JS_DEC.match(s):
        try:
            return float(s)
        except ValueError:
            return NaN
    return NaN


def parse_number(value: str) -> float | None:
    """``parseNumber`` — Number() gated on isFinite (index.ts:252-255)."""
    num = js_number(value)
    return num if math.isfinite(num) else None


def to_number(value: object) -> float | None:
    """``toNumber`` (index.ts:260-263): numbers pass, strings parse, else None."""
    if isinstance(value, bool):
        return None
    if isinstance(value, (int, float)):
        return float(value)
    if isinstance(value, str):
        return parse_number(value)
    return None


# --- dates -----------------------------------------------------------------

_ISO_NO_TZ = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d*)?$")
_ISO_FULL = re.compile(
    r"^(\d{4})(?:-(\d{2})(?:-(\d{2}))?)?"
    r"(?:[T\s](\d{2}):(\d{2})(?::(\d{2})(?:\.(\d{1,9}))?)?)?"
    r"(Z|[+-]\d{2}:?\d{2})?$"
)
_MONTHS = {
    m.lower(): i + 1
    for i, m in enumerate(
        "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
    )
}
_RFC_ISH = re.compile(
    r"^(?:\w{3},?\s+)?(\d{1,2})\s+(\w{3,9})\.?\s+(\d{4})"
    r"(?:\s+(\d{2}):(\d{2})(?::(\d{2}))?)?\s*(GMT|UTC|Z|[+-]\d{4})?",
    re.IGNORECASE,
)
_US_ISH = re.compile(
    r"^(\w{3,9})\.?\s+(\d{1,2}),?\s+(\d{4})"
    r"(?:\s+(\d{2}):(\d{2})(?::(\d{2}))?)?\s*(GMT|UTC|Z|[+-]\d{4})?",
    re.IGNORECASE,
)
_SLASH = re.compile(r"^(\d{4})/(\d{1,2})/(\d{1,2})$")


def _tz(offset: str | None) -> timezone:
    # the format regexes match zone names case-insensitively — compare
    # the same way (V8 accepts 'gmt'/'utc'/'z')
    if not offset or offset.upper() in ("Z", "GMT", "UTC"):
        return timezone.utc
    offset = offset.replace(":", "")
    sign = 1 if offset[0] == "+" else -1
    hh, mm = int(offset[1:3]), int(offset[3:5])
    return timezone(sign * timedelta(hours=hh, minutes=mm))


def js_date(value: str) -> datetime | None:
    """``new Date(string)`` → aware UTC datetime, or None when Invalid Date.

    Covers the formats in the fixture corpus: ISO 8601 (date-only is UTC,
    date-time without tz is treated as UTC — CI timezone), RFC-2822-ish,
    and US "Month D, YYYY".  Millisecond precision (JS Date resolution).
    """
    if not isinstance(value, str):
        return None
    s = value.strip()
    if not s:
        return None
    m = _ISO_FULL.match(s)
    if m:
        y, mo, d, hh, mi, ss, frac, off = m.groups()
        # JS: date-only → UTC; date-time w/o tz → local (UTC on CI).
        try:
            dt = datetime(
                int(y), int(mo or 1), int(d or 1),
                int(hh or 0), int(mi or 0), int(ss or 0),
                int((frac or "0").ljust(6, "0")[:6]),
                tzinfo=_tz(off),
            )
        except ValueError:
            return None
        ms = dt.microsecond - dt.microsecond % 1000
        return dt.replace(microsecond=ms).astimezone(timezone.utc)
    for rx, order in ((_RFC_ISH, (0, 1, 2)), (_US_ISH, (1, 0, 2))):
        m = rx.match(s)
        if m:
            g = m.groups()
            day, mon_name, year = g[order[0]], g[order[1]], g[order[2]]
            mon = _MONTHS.get(str(mon_name)[:3].lower())
            if not mon:
                return None
            try:
                return datetime(
                    int(year), mon, int(day),
                    int(g[3] or 0), int(g[4] or 0), int(g[5] or 0),
                    tzinfo=_tz(g[6]),
                ).astimezone(timezone.utc)
            except ValueError:
                return None
    m = _SLASH.match(s)
    if m:
        try:
            return datetime(
                int(m.group(1)), int(m.group(2)), int(m.group(3)),
                tzinfo=timezone.utc,
            )
        except ValueError:
            return None
    return None


def to_date(value: object) -> datetime | None:
    """``toDate`` (unfurl-html/src/index.ts:268-278)."""
    if not isinstance(value, str):
        return None
    if _ISO_NO_TZ.match(value):
        return js_date(value + "Z")
    return js_date(value)


def exif_date(value: str | None) -> datetime | None:
    """unfurl-exif ``date`` (unfurl-exif/src/index.ts:49-53)."""
    if not value:
        return None
    if re.search(r"(?:Z|[+-]\d\d:\d\d)$", value):
        return js_date(value)
    return js_date(value + "Z")


def parse_exif_date(value: str | None) -> datetime | None:
    """``exif-date.parse`` — 'YYYY:MM:DD HH:MM:SS[.sss][tz]' (exiftool:91-93).

    NOTE: the npm exif-date package applies timezone offsets with the
    opposite sign of ISO-8601 (local 14:05-07:00 → 07:05Z, not 21:05Z);
    the snapshots record that behavior, so it is mirrored here.
    """
    if not value:
        return None
    m = re.match(
        r"^(\d{4}):(\d{2}):(\d{2})[ T](\d{2}):(\d{2}):(\d{2})(?:\.(\d+))?"
        r"\s*(Z|[+-]\d{2}:?\d{2})?$",
        value.strip(),
    )
    if not m:
        return None
    y, mo, d, hh, mi, ss, frac, off = m.groups()
    try:
        dt = datetime(
            int(y), int(mo), int(d), int(hh), int(mi), int(ss),
            int((frac or "0").ljust(6, "0")[:6]),
            tzinfo=timezone.utc,
        )
        if off and off != "Z":
            tz = _tz(off)
            dt = dt + tz.utcoffset(None)  # inverted-sign application
        return dt
    except (ValueError, OverflowError):
        return None


# --- URLs ------------------------------------------------------------------

_SPECIAL_SCHEMES = {"http", "https", "ws", "wss", "ftp", "file"}
_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443",
                  "ftp": "21"}
_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")

# WHATWG URL-serialization escape sets (superset-safe for the fixture corpus)
_PATH_SAFE = "/:@!$&'()*+,;=~[]%-._"
_QUERY_SAFE = "/:@!$&'()*+,;=?~[]%-._"
_FRAG_SAFE = "/:@!$&'()*+,;=?~[]%-._"


@lru_cache(maxsize=8192)
def whatwg_url(value: str, base: str | None = None) -> str | None:
    """WHATWG ``new URL(value, base).toString()`` subset.

    Pure function of (value, base) — LRU-cached per worker process:
    extractors re-resolve the same page/og URLs many times per doc,
    and workers see many docs from the same site in a batch.

    Lowercases scheme/host, strips default ports, normalizes dot segments
    for special schemes, gives special-scheme URLs a "/" path, and
    percent-encodes the serialization the way browsers do
    (unfurl-html/src/index.ts:283-285 parity surface).
    Returns None where the constructor would throw.
    """
    value = value.strip().strip("\t\n\r")
    try:
        if base and not _SCHEME_RE.match(value):
            resolved = urljoin(base, value)
        else:
            resolved = value
        if not _SCHEME_RE.match(resolved):
            return None
        parts = urlsplit(resolved)
        scheme = parts.scheme.lower()
        if scheme in _SPECIAL_SCHEMES:
            host = parts.hostname or ""
            if not host and scheme != "file":
                return None
            try:
                host = host.encode("idna").decode("ascii") if host and any(
                    ord(c) > 127 for c in host) else host
            except UnicodeError:
                return None
            netloc = host
            if parts.port is not None:
                port = str(parts.port)
                if _DEFAULT_PORTS.get(scheme) != port:
                    netloc += f":{port}"
            if parts.username:
                cred = parts.username + (
                    f":{parts.password}" if parts.password else "")
                netloc = f"{cred}@{netloc}"
            path = _normalize_dots(parts.path) or "/"
        else:
            netloc = parts.netloc
            path = parts.path
        path = quote(path, safe=_PATH_SAFE)
        out = f"{scheme}:"
        if netloc or scheme in _SPECIAL_SCHEMES \
                or "//" in resolved[: len(scheme) + 3]:
            if netloc or resolved[len(scheme) + 1 : len(scheme) + 3] == "//":
                out += f"//{netloc}"
        out += path
        if parts.query:
            out += "?" + quote(parts.query, safe=_QUERY_SAFE)
        if parts.fragment:
            out += "#" + quote(parts.fragment, safe=_FRAG_SAFE)
        return out
    except ValueError:
        # the WHATWG constructor throws here too: out-of-range or
        # non-numeric port, malformed IPv6 host — urljoin, urlsplit and
        # .port raise ValueError, which must surface as None, not crash
        # the batch
        return None


def _normalize_dots(path: str) -> str:
    if not path:
        return path
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    if segs[-1] in (".", ".."):
        out.append("")
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    return norm


def to_url(value: str | None, base_url: str) -> str | None:
    """``toUrl`` (unfurl-html/src/index.ts:283-285): falsy in → None."""
    if not value:
        return None
    return whatwg_url(value, base_url)


# --- strings ---------------------------------------------------------------

def decode(value: str | None) -> str | None:
    """``decode`` — entities.decodeHTML (unfurl-html/src/index.ts:346-348)."""
    if not value:
        return None
    return _html.unescape(value)


def to_twitter_handle(value: str | None) -> str | None:
    """Strip a single leading '@' (unfurl-html/src/index.ts:1017-1020)."""
    if value is None:
        return None
    return re.sub(r"^@", "", value)


def extract_mime(content_type: str) -> str:
    """``extractMime`` (unfurl/src/index.ts:193-195)."""
    return content_type.split(";", 1)[0].strip().lower()


def content_type_of(headers: dict) -> str:
    """``contentType`` (unfurl/src/index.ts:200-207): list headers take [0]."""
    header = headers.get("content-type")
    if isinstance(header, list):
        return extract_mime(header[0] if header else "")
    return extract_mime(header or "")
