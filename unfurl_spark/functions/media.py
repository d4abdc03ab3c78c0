"""Binary media metadata readers — replaces the exif / exiftool plugins.

Pure-Python (stdlib ``struct``) readers over capped byte prefixes:

* ``exif_image``    — unfurl-exif parity (unfurl-exif/src/index.ts:16-47):
                      ExifReader over the first 131072 bytes; XMP dates,
                      file/pngFile dimensions, EXIF camera fields.
* ``exiftool_*``    — unfurl-exiftool parity (unfurl-exiftool/src/index.ts:
                      25-86): exiftool-shaped fields without the per-row
                      subprocess — the process boundary the reference pays
                      per record is exactly what a Spark executor must not.

The container libraries (PIL etc.) are not available; these parse JPEG /
PNG / WebP headers, embedded EXIF TIFF directories, XMP packets and PDF
Info dictionaries directly.  The container framing (RIFF/IFF chunks,
PNG chunks, FLAC blocks, ID3v2 frames, JPEG header segments) is the
one walk per family in ``codecs.py`` that the decoders share; the
readers here keep their own tag handling and stay tolerant of a capped
prefix where a decoder raises.
"""

from __future__ import annotations

import re
import struct
import zlib

from .codecs import (
    CodecError,
    _read_f80,
    flac_blocks,
    id3_frames,
    id3_size,
    jpeg_segments,
    png_chunks,
    riff_chunks,
)
from .coerce import exif_date, parse_exif_date

EXIF_BYTE_CAP = 131072  # unfurl-exif/src/index.ts:21


# --- EXIF TIFF directory ------------------------------------------------------

_EXIF_TAGS = {
    0x010F: "Make",
    0x0110: "Model",
    0x0131: "Software",
    0x0112: "Orientation",
    0xA433: "LensMake",
    0xA434: "LensModel",
    0x0132: "ModifyDate",
    0x9003: "DateTimeOriginal",
    0x9004: "CreateDate",
    0x8769: "ExifIFDPointer",
    0x0100: "ImageWidth",
    0x0101: "ImageHeight",
    0xA002: "PixelXDimension",
    0xA003: "PixelYDimension",
}

_ORIENTATIONS = {
    1: "Horizontal (normal)", 2: "Mirror horizontal", 3: "Rotate 180",
    4: "Mirror vertical", 5: "Mirror horizontal and rotate 270 CW",
    6: "Rotate 90 CW", 7: "Mirror horizontal and rotate 90 CW",
    8: "Rotate 270 CW",
}


def _parse_tiff(data: bytes) -> dict:
    """Parse the EXIF TIFF structure → {tag_name: value}."""
    out: dict = {}
    if len(data) < 8:
        return out
    if data[:2] == b"II":
        endian = "<"
    elif data[:2] == b"MM":
        endian = ">"
    else:
        return out

    def u16(off):
        return struct.unpack_from(endian + "H", data, off)[0]

    def u32(off):
        return struct.unpack_from(endian + "I", data, off)[0]

    seen_ifds: set = set()

    def read_ifd(off):
        # cycle guard: a corrupt ExifIFDPointer can point back at its own
        # (or an ancestor's) IFD — unbounded recursion otherwise
        if off in seen_ifds or len(seen_ifds) > 32:
            return
        seen_ifds.add(off)
        if off + 2 > len(data):
            return
        n = u16(off)
        for i in range(n):
            base = off + 2 + i * 12
            if base + 12 > len(data):
                return
            tag = u16(base)
            typ = u16(base + 2)
            count = u32(base + 4)
            name = _EXIF_TAGS.get(tag)
            size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 10: 8}.get(typ, 1) * count
            voff = base + 8 if size <= 4 else u32(base + 8)
            if voff + size > len(data):
                continue
            if name == "ExifIFDPointer":
                read_ifd(u32(base + 8))
                continue
            if name is None:
                continue
            if typ == 2:  # ASCII
                raw = data[voff: voff + count]
                out[name] = raw.split(b"\x00", 1)[0].decode(
                    "latin-1", "replace")
            elif typ == 3:
                out[name] = u16(voff)
            elif typ == 4:
                out[name] = u32(voff)

    try:
        read_ifd(u32(4))
    except struct.error:
        pass
    return out


def _find_exif_jpeg(data: bytes) -> tuple[dict, int | None, int | None, dict]:
    """Walk JPEG segments → (exif tags, width, height, xmp)."""
    tags: dict = {}
    xmp: dict = {}
    width = height = None
    for marker, start, end in jpeg_segments(data):
        seg = data[start:end]
        if marker == 0xE1:
            if seg.startswith(b"Exif\x00\x00"):
                tags.update(_parse_tiff(seg[6:]))
            elif seg.startswith(b"http://ns.adobe.com/xap/1.0/\x00"):
                xmp.update(_parse_xmp(seg[29:]))
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            if len(seg) >= 5:
                height, width = struct.unpack_from(">HH", seg, 1)
    return tags, width, height, xmp


_XMP_KEYS = {
    "ModifyDate": re.compile(
        r'xmp:ModifyDate(?:="([^"]*)"|>([^<]*)<)'),
    "CreateDate": re.compile(
        r'xmp:CreateDate(?:="([^"]*)"|>([^<]*)<)'),
    "DateCreated": re.compile(
        r'photoshop:DateCreated(?:="([^"]*)"|>([^<]*)<)'),
    "format": re.compile(r'dc:format(?:="([^"]*)"|>([^<]*)<)'),
}


def _parse_xmp(seg: bytes) -> dict:
    text = seg.decode("utf-8", "replace")
    out = {}
    for key, rx in _XMP_KEYS.items():
        m = rx.search(text)
        if m:
            out[key] = m.group(1) or m.group(2)
    return out


def _png_info(data: bytes) -> tuple[int | None, int | None, dict, dict]:
    width = height = None
    xmp: dict = {}
    tags: dict = {}
    if not data.startswith(b"\x89PNG\r\n\x1a\n"):
        return None, None, {}, {}
    for ctype, start, end in png_chunks(data):
        chunk = data[start:end]
        if ctype == b"IHDR" and len(chunk) >= 8:
            width, height = struct.unpack_from(">II", chunk, 0)
        elif ctype == b"eXIf":
            tags.update(_parse_tiff(chunk))
        elif ctype == b"iTXt" and chunk.startswith(b"XML:com.adobe.xmp"):
            payload = chunk.split(b"\x00", 5)[-1]
            if payload[:2] == b"\x78\x9c" or payload[:2] == b"\x78\x01":
                try:
                    payload = zlib.decompress(payload)
                except zlib.error:
                    pass
            xmp.update(_parse_xmp(payload))
        elif ctype == b"IDAT":
            break
    return width, height, xmp, tags


def _webp_info(data: bytes) -> tuple[int | None, int | None, dict, dict]:
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None, None, {}, {}
    width = height = None
    xmp: dict = {}
    tags: dict = {}
    for fourcc, start, end in riff_chunks(data, 12):
        chunk = data[start:end]
        if fourcc == b"VP8X" and len(chunk) >= 10:
            width = 1 + int.from_bytes(chunk[4:7], "little")
            height = 1 + int.from_bytes(chunk[7:10], "little")
        elif fourcc == b"VP8 " and width is None and len(chunk) >= 10:
            if chunk[3:6] == b"\x9d\x01\x2a":
                width = struct.unpack_from("<H", chunk, 6)[0] & 0x3FFF
                height = struct.unpack_from("<H", chunk, 8)[0] & 0x3FFF
        elif fourcc == b"VP8L" and width is None and len(chunk) >= 5:
            if chunk[0] == 0x2F:
                bits = int.from_bytes(chunk[1:5], "little")
                width = (bits & 0x3FFF) + 1
                height = ((bits >> 14) & 0x3FFF) + 1
        elif fourcc == b"EXIF":
            payload = chunk[6:] if chunk.startswith(b"Exif\x00\x00") else chunk
            tags.update(_parse_tiff(payload))
        elif fourcc == b"XMP ":
            xmp.update(_parse_xmp(chunk))
    return width, height, xmp, tags


# ISO-BMFF ftyp brands that mark HEIF-family still images (ISO 23008-12
# Annex B) vs AVIF (AOM AV1 image format spec §4)
_HEIF_BRANDS = {b"heic", b"heix", b"hevc", b"hevx", b"heim", b"heis",
                b"hevm", b"hevs", b"mif1", b"msf1"}
_AVIF_BRANDS = {b"avif", b"avis"}


def _classify_ftyp(data: bytes) -> str:
    """Split the ISO-BMFF family on the ftyp major brand (falling back to
    the compatible-brand list for generic mif1/msf1 majors): HEIC/AVIF
    still images get their own container kind; everything else is the
    mp4/quicktime video family."""
    size = int.from_bytes(data[:4], "big")
    major = data[8:12]
    if major in _AVIF_BRANDS:
        return "avif"
    if major in _HEIF_BRANDS:
        if major in (b"mif1", b"msf1"):
            compat = data[16:min(size, len(data), 64)]
            for i in range(0, len(compat) - 3, 4):
                if compat[i:i + 4] in _AVIF_BRANDS:
                    return "avif"
        return "heif"
    return "mp4"


def _sniff(data: bytes) -> str | None:
    if data.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if data.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:2] == b"BM" and len(data) > 54:
        return "bmp"
    if data[:2] in (b"P5", b"P6") and len(data) > 2 and \
            (data[2:3].isspace() or data[2:3] == b"#"):
        return "ppm"
    if data[:4] == b"\x00\x00\x01\x00" and len(data) >= 6 and \
            data[4] | (data[5] << 8) > 0:
        return "ico"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:4] == b"fLaC":
        return "flac"
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    head = data[:1024].lstrip(b"\xef\xbb\xbf \t\r\n").lower()
    if head.startswith((b"<svg", b"<?xml", b"<!doctype svg")) and \
            b"<svg" in data[:1024].lower():
        return "svg"
    if len(data) > 12 and data[4:8] == b"ftyp":
        return _classify_ftyp(data)
    if data[:4] == b"\x1aE\xdf\xa3":
        return "webm"
    if data[:5] == b"%PDF-":
        return "pdf"
    if data[:4] == b"OggS":
        return "ogg"
    # MPEG audio last: the weakest magic.  An ID3v2 prefix is strong; a
    # bare frame sync must validate version/layer/bitrate/samplerate
    # fields before we claim it (0xFFF + layer==00 is ADTS AAC instead).
    if data[:3] == b"ID3" and len(data) >= 10:
        return "mp3"
    if len(data) >= 4 and data[0] == 0xFF and data[1] & 0xE0 == 0xE0:
        if data[1] & 0xF6 == 0xF0:  # ADTS: 12-bit sync + layer bits 00
            if ((data[2] >> 2) & 0xF) < 13:  # valid sampling freq index
                return "aac"
            return None
        if _mp3_frame_header(data, 0) is not None:
            return "mp3"
    return None


def _read_image(data: bytes, kind: str | None):
    """(kind, tags, width, height, xmp) from the header of an image of the
    sniffed ``kind``; kind None for any other payload."""
    if kind == "jpeg":
        tags, w, h, xmp = _find_exif_jpeg(data)
        return kind, tags, w, h, xmp
    if kind == "png":
        w, h, xmp, tags = _png_info(data)
        return kind, tags, w, h, xmp
    if kind == "webp":
        w, h, xmp, tags = _webp_info(data)
        return kind, tags, w, h, xmp
    if kind == "tiff":
        # a TIFF file IS an EXIF directory structure — same walk
        # (ExifReader and exiftool both read TIFF; no fixture covers it,
        # this extends the real-corpus surface)
        try:
            tags = _parse_tiff(data)
        except Exception:
            return kind, {}, None, None, {}
        return (kind, tags, tags.get("ImageWidth"),
                tags.get("ImageHeight"), {})
    if kind in ("heif", "avif"):
        info = heif_info(data)
        tags = dict(info.get("exif") or {})
        tags["_brand"] = info.get("brand")
        return (kind, tags, info.get("width"), info.get("height"), {})
    return None, {}, None, None, {}


# --- plugin-parity entry points -------------------------------------------------

# ExifReader's orientation descriptions differ from exiftool's
_EXIFREADER_ORIENTATIONS = {
    1: "top-left", 2: "top-right", 3: "bottom-right", 4: "bottom-left",
    5: "left-top", 6: "right-top", 7: "right-bottom", 8: "left-bottom",
}


def exif_image(url: str, data: bytes, encoding_format: str) -> dict:
    """unfurl-exif parity (unfurl-exif/src/index.ts:16-47)."""
    data = data[:EXIF_BYTE_CAP]
    kind, tags, width, height, xmp = _read_image(data, _sniff(data))
    if kind is None or kind in ("webp", "heif", "avif"):
        # ExifReader 3.x (the reference pins ^3.14.1) has no WebP or
        # HEIC/AVIF support — load() throws -> bare image
        return {"type": "image", "url": url}
    orientation = tags.get("Orientation")
    return {
        "type": "image",
        "url": url,
        "encodingFormat": xmp.get("format") or encoding_format,
        "dateModified": exif_date(xmp.get("ModifyDate")),
        "dateCreated": exif_date(xmp.get("DateCreated"))
        or exif_date(xmp.get("CreateDate")),
        "width": width,
        "height": height,
        "camera": {
            "make": tags.get("Make"),
            "model": tags.get("Model"),
            "lensMake": tags.get("LensMake"),
            "lensModel": tags.get("LensModel"),
            "software": tags.get("Software"),
            "orientation": _EXIFREADER_ORIENTATIONS.get(orientation)
            if isinstance(orientation, int) else orientation,
        },
    }


_MIMES = {"jpeg": "image/jpeg", "png": "image/png", "webp": "image/webp",
          "tiff": "image/tiff", "avif": "image/avif"}

# exiftool derives HEIF MIME from the major brand (QuickTime.pm ftypLookup)
_HEIF_MIMES = {"heic": "image/heic", "heix": "image/heic",
               "hevc": "image/heic-sequence",
               "hevx": "image/heic-sequence",
               "msf1": "image/heif-sequence"}


def exiftool_image(url: str, data: bytes) -> dict:
    """unfurl-exiftool image parity (unfurl-exiftool/src/index.ts:42-67)."""
    kind, tags, width, height, _xmp = _read_image(data, _sniff(data))
    if kind is None:
        return {"type": "image", "url": url}
    orientation = tags.get("Orientation")
    mp = None
    if width and height:
        v = width * height / 1e6
        # exiftool Megapixels PrintConv: 1 decimal when >=1, else 3, else 6
        mp = round(v, 1 if v >= 1 else (3 if v >= 0.001 else 6))
    mime = _MIMES.get(kind)
    if kind == "heif":
        mime = _HEIF_MIMES.get(tags.get("_brand"), "image/heif")
    return {
        "type": "image",
        "url": url,
        "encodingFormat": mime,
        "dateModified": parse_exif_date(tags.get("ModifyDate")),
        "dateCreated": parse_exif_date(tags.get("DateTimeOriginal"))
        or parse_exif_date(tags.get("CreateDate")),
        "width": float(width) if width is not None else float("nan"),
        "height": float(height) if height is not None else float("nan"),
        "camera": {
            "make": tags.get("Make"),
            "model": tags.get("Model"),
            "lensMake": tags.get("LensMake"),
            "lensModel": tags.get("LensModel"),
            "software": tags.get("Software"),
            "megapixels": mp if mp is not None else float("nan"),
            "orientation": _ORIENTATIONS.get(orientation)
            if isinstance(orientation, int) else orientation,
        },
    }


# --- PDF ----------------------------------------------------------------------

_PDF_INFO_KEYS = ("Title", "Author", "Creator", "Producer",
                  "CreationDate", "ModDate")


def _pdf_unescape(m: re.Match) -> bytes:
    esc = m.group(1)
    # octal digits only: '\8'/'\9' are legal no-op escapes (backslash
    # ignored), and int(b'8', 8) would raise
    if esc[0:1] in (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7"):
        return bytes([int(esc, 8) & 0xFF])
    return {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\",
            b"\n": b"", b"\r": b""}.get(esc, esc)


def _pdf_string(raw: bytes) -> str | None:
    raw = raw.strip()
    if raw.startswith(b"(") and raw.endswith(b")"):
        body = raw[1:-1]
        body = re.sub(rb"\\([0-7]{1,3}|\r\n|[\s\S])", _pdf_unescape, body)
        if body.startswith(b"\xfe\xff"):
            return body[2:].decode("utf-16-be", "replace")
        return body.decode("latin-1", "replace")
    if raw.startswith(b"<") and raw.endswith(b">"):
        try:
            body = bytes.fromhex(raw[1:-1].decode("ascii", "ignore"))
        except ValueError:
            return None
        if body.startswith(b"\xfe\xff"):
            return body[2:].decode("utf-16-be", "replace")
        return body.decode("latin-1", "replace")
    return None


def _pdf_date(value: str | None) -> str | None:
    """PDF 'D:YYYYMMDDHHmmSSOHH'mm'' → exiftool 'YYYY:MM:DD HH:MM:SS±HH:MM'."""
    if not value:
        return None
    m = re.match(
        r"^D?:?(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
        r"(?:(Z)|([+-])(\d{2})'?(\d{2})?'?)?",
        value,
    )
    if not m:
        return None
    y, mo, d, hh, mi, ss, z, sign, oh, om = m.groups()
    out = f"{y}:{mo or '01'}:{d or '01'} {hh or '00'}:{mi or '00'}:{ss or '00'}"
    if z:
        out += "Z"
    elif sign:
        out += f"{sign}{oh}:{om or '00'}"
    return out


_PDF_STR = rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>"


def _pdf_object_strings(data: bytes) -> dict[int, bytes]:
    """Map object number → raw string body for `N 0 obj (<str>) endobj`."""
    out: dict[int, bytes] = {}
    for m in re.finditer(
            rb"(\d+)\s+\d+\s+obj\s*(" + _PDF_STR + rb")\s*endobj", data):
        out[int(m.group(1))] = m.group(2)
    return out


def parse_pdf_info(data: bytes) -> dict:
    """Harvest the Info dictionary (and XMP fallback) from leading bytes —
    mirrors exiftool -fast stopping at the first metadata block.  Handles
    direct string values and indirect references (`/Author 913 0 R`)."""
    out: dict = {}
    objs: dict[int, bytes] | None = None
    for key in _PDF_INFO_KEYS:
        for m in re.finditer(
                rb"/" + key.encode()
                + rb"\s*(" + _PDF_STR + rb"|\d+\s+\d+\s+R)", data):
            raw = m.group(1)
            if raw.endswith(b"R"):
                if objs is None:
                    objs = _pdf_object_strings(data)
                num = int(raw.split()[0])
                raw = objs.get(num)
                if raw is None:
                    continue
            val = _pdf_string(raw)
            if val:
                out[key] = val
                # first truthy match wins (exiftool reads the one Info
                # dict; scanning on would let an outline/annotation
                # /Title override the document's)
                break
    if "Title" not in out:
        m = re.search(rb"<dc:title>.*?<rdf:li[^>]*>([^<]*)</rdf:li>", data,
                      re.DOTALL)
        if m:
            out["Title"] = m.group(1).decode("utf-8", "replace")
    return out


def exiftool_pdf(url: str, data: bytes) -> dict:
    """unfurl-exiftool PDF parity (unfurl-exiftool/src/index.ts:25-40)."""
    if not data.startswith(b"%PDF"):
        return {"type": "document", "url": url}
    info = parse_pdf_info(data)
    return {
        "type": "document",
        "url": url,
        "encodingFormat": "application/pdf",
        "producer": {"name": info["Producer"]} if info.get("Producer") else None,
        "author": {"name": info["Author"]} if info.get("Author") else None,
        "creator": {"name": info["Creator"]} if info.get("Creator") else None,
        "headline": info.get("Title"),
        "dateCreated": parse_exif_date(_pdf_date(info.get("CreationDate"))),
        "dateModified": parse_exif_date(_pdf_date(info.get("ModDate"))),
    }


# ftyp major-brand → MIME (the mapping exiftool's QuickTime module applies
# when deriving MIMEType; subset covering the brands that reach a video
# content-type)
_FTYP_MIME = {
    b"M4A ": "audio/mp4", b"M4B ": "audio/mp4", b"M4P ": "audio/mp4",
    b"M4V ": "video/x-m4v", b"M4VH": "video/x-m4v", b"M4VP": "video/x-m4v",
    b"3g2a": "video/3gpp2", b"3g2b": "video/3gpp2", b"3g2c": "video/3gpp2",
}


def _walk_mp4_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) for the top-level boxes
    of one container span.  Defensive: malformed sizes terminate the walk
    instead of raising (per-doc isolation contract)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos:pos + 4], "big")
        btype = data[pos + 4:pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                return
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            header = 16
        elif size == 0:
            size = end - pos
        if size < header or pos + size > end:
            return
        yield btype, pos + header, pos + size
        pos += size


def mp4_metadata(data: bytes) -> dict:
    """ISO-BMFF container depth: major brand plus moov/mvhd duration and
    per-trak tkhd dimensions (width/height are 16.16 fixed point; the
    largest trak wins — audio traks carry 0×0).  Pure stdlib, header-only
    (the moov box of a faststart file sits in the first bytes the S3
    byte-cap projection fetches)."""
    out: dict = {}
    if len(data) < 12 or data[4:8] != b"ftyp":
        return out
    out["brand"] = data[8:12].decode("latin-1")
    for btype, ps, pe in _walk_mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for ctype_, cs, ce in _walk_mp4_boxes(data, ps, pe):
            if ctype_ == b"mvhd" and ce - cs >= 20:
                version = data[cs]
                # v1 reads span cs+20..cs+32 — a shorter box would pull
                # the sibling box's header bytes into the duration
                if version == 1 and ce - cs >= 32:
                    timescale = int.from_bytes(data[cs + 20:cs + 24], "big")
                    duration = int.from_bytes(data[cs + 24:cs + 32], "big")
                else:
                    timescale = int.from_bytes(data[cs + 12:cs + 16], "big")
                    duration = int.from_bytes(data[cs + 16:cs + 20], "big")
                if timescale:
                    out["duration_s"] = round(duration / timescale, 3)
            elif ctype_ == b"trak":
                for gtype, gs, ge in _walk_mp4_boxes(data, cs, ce):
                    if gtype != b"tkhd":
                        continue
                    # zero-payload box ending at the buffer edge (byte-cap
                    # truncation produces these): gs == ge == len(data)
                    if gs >= ge or gs >= len(data):
                        continue
                    version = data[gs]
                    off = gs + (88 if version == 1 else 76)
                    if off + 8 > ge:
                        continue
                    w = int.from_bytes(data[off:off + 4], "big") >> 16
                    h = int.from_bytes(data[off + 4:off + 8], "big") >> 16
                    if w and h and w * h > (out.get("width", 0)
                                            * out.get("height", 0)):
                        out["width"], out["height"] = w, h
        break
    return out


def _heif_exif_blob(data: bytes, meta_start: int, meta_end: int):
    """Locate the Exif item payload inside a HEIF meta box: iinf names
    the item of type 'Exif'; iloc gives its (offset, length) extents
    (construction method 0 = absolute file offsets).  Returns the TIFF
    blob (after the 4-byte exif_tiff_header_offset prefix) or None."""
    exif_item = None
    for btype, ps, pe in _walk_mp4_boxes(data, meta_start, meta_end):
        if btype != b"iinf" or pe - ps < 6:
            continue
        version = data[ps]
        pos = ps + 4 + (2 if version == 0 else 4)
        for itype, is_, ie in _walk_mp4_boxes(data, pos, pe):
            if itype != b"infe" or ie - is_ < 8:
                continue
            iv = data[is_]
            # infe v2: 16-bit item_ID → item_type at +8;
            # infe v3: 32-bit item_ID → item_type at +10
            toff = is_ + (8 if iv == 2 else 10)
            if iv >= 2 and data[toff:toff + 4] == b"Exif":
                exif_item = int.from_bytes(data[is_ + 4:is_ + 6], "big")                     if iv == 2 else int.from_bytes(
                        data[is_ + 4:is_ + 8], "big")
                break
        break
    if exif_item is None:
        return None
    for btype, ps, pe in _walk_mp4_boxes(data, meta_start, meta_end):
        if btype != b"iloc" or pe - ps < 8:
            continue
        version = data[ps]
        b1, b2 = data[ps + 4], data[ps + 5]
        offset_size, length_size = b1 >> 4, b1 & 0xF
        base_size = b2 >> 4
        index_size = (b2 & 0xF) if version in (1, 2) else 0
        pos = ps + 6
        if version < 2:
            count = int.from_bytes(data[pos:pos + 2], "big")
            pos += 2
        else:
            count = int.from_bytes(data[pos:pos + 4], "big")
            pos += 4
        for _ in range(count):
            if version < 2:
                item_id = int.from_bytes(data[pos:pos + 2], "big")
                pos += 2
            else:
                item_id = int.from_bytes(data[pos:pos + 4], "big")
                pos += 4
            method = 0
            if version in (1, 2):
                method = int.from_bytes(data[pos:pos + 2], "big") & 0xF
                pos += 2
            pos += 2  # data_reference_index
            base = int.from_bytes(data[pos:pos + base_size], "big")
            pos += base_size
            extent_count = int.from_bytes(data[pos:pos + 2], "big")
            pos += 2
            for _ in range(extent_count):
                pos += index_size
                off = int.from_bytes(data[pos:pos + offset_size], "big")
                pos += offset_size
                ln = int.from_bytes(data[pos:pos + length_size], "big")
                pos += length_size
                if item_id == exif_item and method == 0:
                    start = base + off
                    if start + 4 <= len(data):
                        skip = int.from_bytes(data[start:start + 4],
                                              "big")
                        blob = data[start + 4 + skip:start + ln]
                        if blob[:4] in (b"II*\x00", b"MM\x00*"):
                            return blob
                    return None
        break
    return None


def heif_info(data: bytes) -> dict:
    """HEIF/AVIF still-image header walk (ISO 23008-12): resolve the
    primary item's pixel dimensions from
    ftyp -> meta(FullBox) -> {pitm, iprp -> {ipco, ipma}}.

    `ispe` (image spatial extents) properties live as children of `ipco`;
    `ipma` associates 1-based ipco indexes to item ids; `pitm` names the
    primary item.  When any link of that chain is missing or truncated
    (byte-capped header reads), fall back to the largest ispe seen —
    thumbnails and alpha/depth auxiliaries are smaller than the master
    image.  Covers exiftool's ImageWidth/ImageHeight for HEIC/AVIF
    (reference accepts any image/* via exiftool,
    packages/unfurl-exiftool/src/index.ts:10-20).  Header-only: no HEVC/
    AV1 essence decode."""
    out: dict = {}
    if len(data) < 12 or data[4:8] != b"ftyp":
        return out
    out["brand"] = data[8:12].decode("latin-1")
    meta = None
    for btype, ps, pe in _walk_mp4_boxes(data, 0, len(data)):
        if btype == b"meta":
            meta = (ps + 4, pe)  # meta is a FullBox: skip version/flags
            break
    if meta is None:
        return out
    primary = None
    ipco_ispe: dict[int, tuple[int, int]] = {}   # 1-based ipco index
    assoc: dict[int, list[int]] = {}             # item_id -> ipco indexes
    for btype, ps, pe in _walk_mp4_boxes(data, meta[0], meta[1]):
        if btype == b"pitm" and pe - ps >= 6:
            version = data[ps]
            if version == 0:
                primary = int.from_bytes(data[ps + 4:ps + 6], "big")
            elif pe - ps >= 8:
                primary = int.from_bytes(data[ps + 4:ps + 8], "big")
        elif btype == b"iprp":
            for ctype_, cs, ce in _walk_mp4_boxes(data, ps, pe):
                if ctype_ == b"ipco":
                    idx = 0
                    for gtype, gs, ge in _walk_mp4_boxes(data, cs, ce):
                        idx += 1
                        if gtype == b"ispe" and ge - gs >= 12:
                            ipco_ispe[idx] = (
                                int.from_bytes(data[gs + 4:gs + 8], "big"),
                                int.from_bytes(data[gs + 8:gs + 12], "big"))
                elif ctype_ == b"ipma" and ce - cs >= 8:
                    version, flags = data[cs], data[cs + 3]
                    n = int.from_bytes(data[cs + 4:cs + 8], "big")
                    pos = cs + 8
                    for _ in range(n):
                        idw = 2 if version == 0 else 4
                        if pos + idw + 1 > ce:
                            break
                        item = int.from_bytes(data[pos:pos + idw], "big")
                        pos += idw
                        cnt = data[pos]
                        pos += 1
                        props = []
                        for _ in range(cnt):
                            if flags & 1:
                                if pos + 2 > ce:
                                    break
                                props.append(int.from_bytes(
                                    data[pos:pos + 2], "big") & 0x7FFF)
                                pos += 2
                            else:
                                if pos + 1 > ce:
                                    break
                                props.append(data[pos] & 0x7F)
                                pos += 1
                        assoc[item] = props
    dims = None
    if primary is not None and primary in assoc:
        for prop_idx in assoc[primary]:
            if prop_idx in ipco_ispe:
                dims = ipco_ispe[prop_idx]
                break
    if dims is None and ipco_ispe:  # truncated chain: largest extent wins
        dims = max(ipco_ispe.values(), key=lambda wh: wh[0] * wh[1])
    if dims and dims[0] and dims[1]:
        out["width"], out["height"] = dims
    blob = _heif_exif_blob(data, meta[0], meta[1])
    if blob:
        try:
            out["exif"] = _parse_tiff(blob)
        except Exception:
            pass
    return out


# --- MPEG audio (MP3 / ADTS AAC) --------------------------------------------
# Beyond-reference training-data surface: the reference's exiftool arm
# routes only pdf/image/video (packages/unfurl-exiftool/src/index.ts:6-23),
# so audio/* falls through to the link fallback there.  A 100 TB corpus
# carries podcast/music payloads whose duration/bitrate/tags matter for
# curation, so the container walk is implemented here (header-only; the
# essence decode stays a flagged CodecUnavailable boundary).

# bitrate kbps tables, index 1-14 (0=free, 15=bad) — ISO 11172-3 / 13818-3
_MP3_BITRATES = {
    # (version_group, layer): V1 = MPEG1, V2 = MPEG2/2.5
    ("V1", 1): (0, 32, 64, 96, 128, 160, 192, 224,
                256, 288, 320, 352, 384, 416, 448),
    ("V1", 2): (0, 32, 48, 56, 64, 80, 96, 112,
                128, 160, 192, 224, 256, 320, 384),
    ("V1", 3): (0, 32, 40, 48, 56, 64, 80, 96,
                112, 128, 160, 192, 224, 256, 320),
    ("V2", 1): (0, 32, 48, 56, 64, 80, 96, 112,
                128, 144, 160, 176, 192, 224, 256),
    ("V2", 2): (0, 8, 16, 24, 32, 40, 48, 56,
                64, 80, 96, 112, 128, 144, 160),
    ("V2", 3): (0, 8, 16, 24, 32, 40, 48, 56,
                64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {3: (44100, 48000, 32000),   # MPEG1
              2: (22050, 24000, 16000),   # MPEG2
              0: (11025, 12000, 8000)}    # MPEG2.5


def _mp3_frame_header(data: bytes, pos: int):
    """Validate + decode one MPEG audio frame header at ``pos``.  Returns
    (frame_bytes, bitrate_kbps, sample_rate, channels, samples_per_frame,
    version_bits, layer_no) or None."""
    if pos + 4 > len(data) or data[pos] != 0xFF             or data[pos + 1] & 0xE0 != 0xE0:
        return None
    version = (data[pos + 1] >> 3) & 0x3     # 0=2.5 1=resv 2=MPEG2 3=MPEG1
    layer_bits = (data[pos + 1] >> 1) & 0x3  # 3=L1 2=L2 1=L3 0=resv
    if version == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits                   # 1/2/3
    br_idx = (data[pos + 2] >> 4) & 0xF
    sr_idx = (data[pos + 2] >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    group = "V1" if version == 3 else "V2"
    bitrate = _MP3_BITRATES[(group, layer)][br_idx]
    rate = _MP3_RATES[version][sr_idx]
    padding = (data[pos + 2] >> 1) & 1
    channels = 1 if (data[pos + 3] >> 6) & 0x3 == 3 else 2
    if layer == 1:
        spf = 384
        frame = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        spf = 1152 if (layer == 2 or version == 3) else 576
        frame = spf // 8 * bitrate * 1000 // rate + padding
    if frame < 4:
        return None
    return frame, bitrate, rate, channels, spf, version, layer


def _id3_text(body: bytes) -> str | None:
    """Decode one ID3v2 text frame body (leading encoding byte)."""
    if not body:
        return None
    enc, payload = body[0], body[1:]
    try:
        if enc == 0:
            text = payload.decode("latin-1", "replace")
        elif enc == 1:
            text = payload.decode("utf-16", "replace")
        elif enc == 2:
            text = payload.decode("utf-16-be", "replace")
        else:
            text = payload.decode("utf-8", "replace")
    except Exception:
        return None
    text = text.split("\x00", 1)[0].strip()
    return text or None


# v2.3/2.4 ids and their v2.2 3-char twins
_ID3_FRAMES = {b"TIT2": "title", b"TT2": "title",
               b"TPE1": "artist", b"TP1": "artist",
               b"TALB": "album", b"TAL": "album",
               b"TDRC": "date", b"TYER": "date", b"TYE": "date"}


def _parse_id3v2(data: bytes) -> tuple[dict, int]:
    """Returns (tags, total_id3_size incl. header).  Supports v2.2-v2.4."""
    if data[:3] != b"ID3" or len(data) < 10:
        return {}, 0
    tags: dict = {}
    for fid, body in id3_frames(data):
        key = _ID3_FRAMES.get(fid)
        if key and key not in tags:
            val = _id3_text(body)
            if val:
                tags[key] = val
    size = id3_size(data)
    if data[5] & 0x80:  # the tag after unsync reversal, as far as it reaches
        size = min(size, len(data)) - data[10:size].count(b"\xff\x00")
    return tags, size


def mp3_metadata(data: bytes, total_bytes: int | None = None) -> dict:
    """MP3 container metadata: ID3v2 tags, first-frame audio params, and
    duration — exact from a Xing/Info VBR header when present, else
    CBR-estimated from the stream size (``total_bytes`` lets a byte-capped
    header read pass the true payload length).  Header-only, stdlib."""
    out: dict = {}
    tags, id3_size = _parse_id3v2(data)
    out.update(tags)
    # resync to the first valid frame (some encoders pad after ID3)
    pos, hdr = id3_size, None
    limit = min(len(data), id3_size + 65536)
    while pos + 4 <= limit:
        hdr = _mp3_frame_header(data, pos)
        if hdr is not None:
            break
        pos += 1
        hdr = None
    if hdr is None:
        if len(data) >= 128 and data[-128:-125] == b"TAG":
            _id3v1(data, out)
        return out
    frame, bitrate, rate, channels, spf, version, layer = hdr
    out["sample_rate"] = rate
    out["channels"] = channels
    out["layer"] = layer
    frames = None
    # Xing/Info header sits after the side info of the first frame
    side = (17 if channels == 1 else 32) if version == 3         else (9 if channels == 1 else 17)
    xing_at = pos + 4 + side
    tag4 = data[xing_at:xing_at + 4]
    if tag4 in (b"Xing", b"Info") and xing_at + 12 <= len(data):
        flags = int.from_bytes(data[xing_at + 4:xing_at + 8], "big")
        if flags & 1:
            frames = int.from_bytes(data[xing_at + 8:xing_at + 12], "big")
        out["vbr"] = tag4 == b"Xing"
    stream_bytes = (total_bytes if total_bytes is not None
                    else len(data)) - id3_size
    if frames:
        out["duration_s"] = round(frames * spf / rate, 3)
        if out["duration_s"]:
            out["bitrate_kbps"] = round(
                stream_bytes * 8 / out["duration_s"] / 1000)
    else:
        out["bitrate_kbps"] = bitrate
        out["vbr"] = False
        if bitrate:
            out["duration_s"] = round(stream_bytes * 8
                                      / (bitrate * 1000), 3)
    if len(data) >= 128 and data[-128:-125] == b"TAG":
        _id3v1(data, out)
    return out


def _id3v1(data: bytes, out: dict) -> None:
    """Fill tag fields from a trailing ID3v1 block without overriding v2."""
    blk = data[-128:]
    for key, lo, hi in (("title", 3, 33), ("artist", 33, 63),
                        ("album", 63, 93), ("date", 93, 97)):
        if key not in out:
            val = blk[lo:hi].split(b"\x00", 1)[0]                 .decode("latin-1", "replace").strip()
            if val:
                out[key] = val


_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000,
               22050, 16000, 12000, 11025, 8000, 7350)
_AAC_PROFILES = ("AAC Main", "AAC LC", "AAC SSR", "AAC LTP")


def _id3_apic(data: bytes) -> bytes | None:
    """Attached-picture payload from an ID3v2 tag: APIC (v2.3/2.4) or
    PIC (v2.2).  Body layout: encoding byte, MIME (nul-terminated; v2.2
    uses a fixed 3-byte format id instead), picture-type byte,
    description (terminator width follows the encoding), image bytes."""
    for fid, body in id3_frames(data):
        if fid in (b"APIC", b"PIC"):        # v2.2 ids are 3 bytes
            enc = body[0]
            p = 1
            if fid == b"PIC":
                p += 3                      # 3-byte image format id
            else:
                mend = body.find(b"\x00", p)
                if mend < 0:
                    return None
                p = mend + 1                # MIME
            p += 1                          # picture type
            if enc in (1, 2):               # UTF-16: 2-byte terminator
                dend = body.find(b"\x00\x00", p)
                if dend < 0:
                    return None
                p = dend + 2 + (dend - p) % 2
            else:
                dend = body.find(b"\x00", p)
                if dend < 0:
                    return None
                p = dend + 1
            return bytes(body[p:]) or None
    return None


def mjpeg_samples(data: bytes, max_samples: int = 4096
                  ) -> list[tuple[int, int, int]] | None:
    """Sample table of the first MJPEG video track in an ISO-BMFF file:
    [(ts_ms, file_offset, size)] for up to ``max_samples`` samples, or
    None when no track uses a Motion-JPEG sample entry (``jpeg``/
    ``mjpa``/``mjpb``).  Each sample of such a track is a complete
    baseline JPEG image, so frame extraction needs no inter-frame codec
    — the one video family where a real `ffmpeg -vf fps=` sampler works
    from the container alone.  Pure stdlib stbl walk: stsd (codec),
    stts (timestamps), stsz (sizes), stsc+stco/co64 (offsets)."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    for b1, s1, e1 in _walk_mp4_boxes(data, 0, len(data)):
        if b1 != b"moov":
            continue
        for b2, s2, e2 in _walk_mp4_boxes(data, s1, e1):
            if b2 != b"trak":
                continue
            timescale = None
            stbl = None
            for b3, s3, e3 in _walk_mp4_boxes(data, s2, e2):
                if b3 != b"mdia":
                    continue
                for b4, s4, e4 in _walk_mp4_boxes(data, s3, e3):
                    if b4 == b"mdhd" and e4 - s4 >= 20:
                        v = data[s4]
                        off = s4 + (20 if v == 1 else 12)
                        timescale = int.from_bytes(
                            data[off:off + 4], "big") or None
                    elif b4 == b"minf":
                        for b5, s5, e5 in _walk_mp4_boxes(data, s4, e4):
                            if b5 == b"stbl":
                                stbl = (s5, e5)
            if stbl is None:
                continue
            fmt = None
            stts: list[tuple[int, int]] = []
            sizes: list[int] = []
            uniform = 0
            stsc: list[tuple[int, int]] = []
            chunk_offs: list[int] = []
            for b6, s6, e6 in _walk_mp4_boxes(data, stbl[0], stbl[1]):
                body = data[s6:e6]
                if b6 == b"stsd" and len(body) >= 16:
                    fmt = body[12:16]
                elif b6 == b"stts" and len(body) >= 8:
                    n = int.from_bytes(body[4:8], "big")
                    for i in range(min(n, max_samples)):
                        p = 8 + 8 * i
                        if p + 8 > len(body):
                            break
                        stts.append((int.from_bytes(body[p:p + 4], "big"),
                                     int.from_bytes(body[p + 4:p + 8],
                                                    "big")))
                elif b6 == b"stsz" and len(body) >= 12:
                    uniform = int.from_bytes(body[4:8], "big")
                    n = int.from_bytes(body[8:12], "big")
                    if uniform == 0:
                        for i in range(min(n, max_samples)):
                            p = 12 + 4 * i
                            if p + 4 > len(body):
                                break
                            sizes.append(int.from_bytes(body[p:p + 4],
                                                        "big"))
                    else:
                        sizes = [uniform] * min(n, max_samples)
                elif b6 == b"stsc" and len(body) >= 8:
                    n = int.from_bytes(body[4:8], "big")
                    for i in range(min(n, max_samples)):
                        p = 8 + 12 * i
                        if p + 12 > len(body):
                            break
                        stsc.append((int.from_bytes(body[p:p + 4], "big"),
                                     int.from_bytes(body[p + 4:p + 8],
                                                    "big")))
                elif b6 in (b"stco", b"co64") and len(body) >= 8:
                    n = int.from_bytes(body[4:8], "big")
                    w = 4 if b6 == b"stco" else 8
                    for i in range(min(n, max_samples)):
                        p = 8 + w * i
                        if p + w > len(body):
                            break
                        chunk_offs.append(
                            int.from_bytes(body[p:p + w], "big"))
            if fmt not in (b"jpeg", b"mjpa", b"mjpb") or not sizes \
                    or not chunk_offs:
                continue
            if not stsc:
                stsc = [(1, 1)]
            # expand sample → (chunk, index-within-chunk) from the
            # stsc run-length table, then offset = chunk_off + prior
            # sample sizes within the chunk
            out: list[tuple[int, int, int]] = []
            ts_units, ts_list = 0, []
            for cnt, delta in stts:
                for _ in range(min(cnt, max_samples - len(ts_list))):
                    ts_list.append(ts_units)
                    ts_units += delta
            sample = 0
            for run_i, (first_chunk, per_chunk) in enumerate(stsc):
                last_chunk = (stsc[run_i + 1][0] - 1
                              if run_i + 1 < len(stsc)
                              else len(chunk_offs))
                for chunk in range(first_chunk, last_chunk + 1):
                    if chunk - 1 >= len(chunk_offs) \
                            or sample >= len(sizes):
                        break
                    off = chunk_offs[chunk - 1]
                    for _ in range(per_chunk):
                        if sample >= len(sizes):
                            break
                        ts_u = ts_list[sample] if sample < len(ts_list) \
                            else 0
                        ts_ms = (ts_u * 1000 // timescale
                                 if timescale else sample * 1000)
                        out.append((ts_ms, off, sizes[sample]))
                        off += sizes[sample]
                        sample += 1
            return out or None
    return None


def embedded_cover(data: bytes) -> tuple[bytes, str] | None:
    """Embedded cover-art image bytes from an A/V container, with its
    source tag: MP4/M4A ``moov/udta/meta/ilst/covr`` (iTunes metadata,
    public ISO-BMFF + iTunes atom layout) or an MP3 ID3v2 APIC/PIC
    frame.  This is the same attached picture ffmpeg exposes as an
    ``attached_pic`` stream — the thumbnail a training pipeline wants
    when the video essence itself needs an external codec."""
    if len(data) >= 12 and data[4:8] == b"ftyp":
        for b1, s1, e1 in _walk_mp4_boxes(data, 0, len(data)):
            if b1 != b"moov":
                continue
            for b2, s2, e2 in _walk_mp4_boxes(data, s1, e1):
                if b2 != b"udta":
                    continue
                for b3, s3, e3 in _walk_mp4_boxes(data, s2, e2):
                    if b3 != b"meta" or e3 - s3 < 4:
                        continue
                    for b4, s4, e4 in _walk_mp4_boxes(data, s3 + 4, e3):
                        if b4 != b"ilst":
                            continue
                        for b5, s5, e5 in _walk_mp4_boxes(data, s4, e4):
                            if b5 != b"covr":
                                continue
                            for b6, s6, e6 in _walk_mp4_boxes(
                                    data, s5, e5):
                                # data atom: 4B type + 4B locale prefix
                                if b6 == b"data" and e6 - s6 > 8:
                                    return data[s6 + 8:e6], "mp4:covr"
    if data[:3] == b"ID3":
        pic = _id3_apic(data)
        if pic:
            return pic, "id3:apic"
    if data[:4] == b"fLaC":
        # FLAC PICTURE metadata block (type 6): typed fields then the
        # raw image bytes, all big-endian length-prefixed
        for btype, start, end in flac_blocks(data):
            body = data[start:end]
            if btype == 6 and len(body) >= 8:
                p = 4                                   # picture type
                mlen = int.from_bytes(body[p:p + 4], "big")
                p += 4 + mlen                           # MIME
                if p + 4 <= len(body):
                    dlen = int.from_bytes(body[p:p + 4], "big")
                    p += 4 + dlen                       # description
                    p += 16          # dims/depth/ncolors (4×4 bytes)
                    if p + 4 <= len(body):
                        plen = int.from_bytes(body[p:p + 4], "big")
                        blob = body[p + 4:p + 4 + plen]
                        if blob:
                            return bytes(blob), "flac:picture"
    if data[:4] == b"\x1aE\xdf\xa3":
        # Matroska/WebM Attachments → AttachedFile: cover art ships as a
        # FileData blob whose FileMimeType is an image type (the
        # convention is a file literally named cover.jpg/cover.png)
        for eid, ps, pe in _walk_ebml(data, 0, len(data)):
            if eid != 0x18538067:       # Segment
                continue
            for cid, cs, ce in _walk_ebml(data, ps, pe):
                if cid != 0x1941A469:   # Attachments
                    continue
                for aid, a0, a1 in _walk_ebml(data, cs, ce):
                    if aid != 0x61A7:   # AttachedFile
                        continue
                    mime, name, blob = None, "", None
                    for fid, fs, fe in _walk_ebml(data, a0, a1):
                        if fid == 0x4660:       # FileMimeType
                            mime = data[fs:fe].decode("latin-1", "replace")
                        elif fid == 0x466E:     # FileName
                            name = data[fs:fe].decode("utf-8", "replace")
                        elif fid == 0x465C:     # FileData
                            blob = bytes(data[fs:fe])
                    if blob and ((mime or "").startswith("image/")
                                 or name.lower().startswith("cover.")):
                        return blob, "mkv:attachment"
    return None


def aac_metadata(data: bytes, total_bytes: int | None = None) -> dict:
    """ADTS AAC metadata: profile/rate/channels from the first header,
    duration by walking frame_length fields across the available bytes
    (1024 samples per frame) and extrapolating capped payloads by the
    mean observed frame size."""
    out: dict = {}
    if len(data) < 7 or data[0] != 0xFF or data[1] & 0xF6 != 0xF0:
        return out
    sr_idx = (data[2] >> 2) & 0xF
    if sr_idx >= len(_ADTS_RATES):
        return out
    rate = _ADTS_RATES[sr_idx]
    out["sample_rate"] = rate
    out["profile"] = _AAC_PROFILES[(data[2] >> 6) & 0x3]
    ch = ((data[2] & 1) << 2) | ((data[3] >> 6) & 0x3)
    out["channels"] = ch or None
    pos = frames = scanned = 0
    while pos + 7 <= len(data) and frames < 1 << 20:
        if data[pos] != 0xFF or data[pos + 1] & 0xF6 != 0xF0:
            break
        flen = ((data[pos + 3] & 0x3) << 11)             | (data[pos + 4] << 3) | (data[pos + 5] >> 5)
        if flen < 7:
            break
        frames += 1
        scanned += flen
        pos += flen
    if frames:
        total = total_bytes if total_bytes is not None else len(data)
        est_frames = frames
        if total > scanned and scanned:
            est_frames = round(total / (scanned / frames))
        out["duration_s"] = round(est_frames * 1024 / rate, 3)
        if out["duration_s"]:
            out["bitrate_kbps"] = round(
                (total_bytes or len(data)) * 8 / out["duration_s"] / 1000)
    return out


def _ebml_vint(data: bytes, pos: int, strip_marker: bool):
    """Read one EBML variable-length integer at ``pos``; returns
    (value, next_pos, length) or (None, pos, 0) on malformed input.
    Element IDs keep their marker bits (matching the spec's hex IDs);
    sizes strip them."""
    if pos >= len(data):
        return None, pos, 0
    b0 = data[pos]
    if b0 == 0:
        return None, pos, 0
    length, mask = 1, 0x80
    while not (b0 & mask):
        mask >>= 1
        length += 1
    if pos + length > len(data):
        return None, pos, 0
    val = (b0 & (mask - 1)) if strip_marker else b0
    for i in range(1, length):
        val = (val << 8) | data[pos + i]
    return val, pos + length, length


def _walk_ebml(data: bytes, start: int, end: int):
    """Yield (element_id, payload_start, payload_end) for the EBML
    elements of one span.  Unknown-size elements (all size bits set)
    extend to the span end; malformed vints and a header that runs past
    the span end terminate the walk (per-doc isolation contract,
    mirroring ``_walk_mp4_boxes``)."""
    pos = start
    while pos < end:
        eid, p1, _ = _ebml_vint(data, pos, strip_marker=False)
        if eid is None:
            return
        size, p2, slen = _ebml_vint(data, p1, strip_marker=True)
        if size is None or p2 > end:
            return
        if size == (1 << (7 * slen)) - 1:  # unknown size → to span end
            pend = end
        else:
            pend = p2 + size
            if pend > end:
                return
        yield eid, p2, pend
        pos = pend


def _ebml_uint(data: bytes, start: int, end: int) -> int:
    return int.from_bytes(data[start:end], "big") if end > start else 0


def pcm_metadata(data: bytes) -> dict:
    """Header-only rate/channels/duration (+ FLAC VorbisComment tags)
    for the PCM-family containers — WAV ``fmt ``+``data`` chunk sizes,
    FLAC STREAMINFO (+ block type 4 tags), AIFF ``COMM`` — so
    ``audio_metadata`` never has to run the full sample decoder (and a
    byte-capped read still reports duration: every field lives in the
    header prefix)."""
    out: dict = {}
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        rate, nch, bits = None, None, None
        for tag, start, end in riff_chunks(data, 12):
            if tag == b"fmt ":
                body = data[start:end]
                if len(body) >= 16:
                    nch = int.from_bytes(body[2:4], "little")
                    rate = int.from_bytes(body[4:8], "little")
                    bits = int.from_bytes(body[14:16], "little")
            elif tag == b"data" and rate and nch and bits:
                frames = (end - start) // max(1, nch * (bits // 8))
                out.update({"sample_rate": rate, "channels": nch,
                            "duration_s": round(frames / rate, 3)})
                return out
        if rate and nch:
            out.update({"sample_rate": rate, "channels": nch})
        return out
    if data[:4] == b"fLaC":
        for btype, start, end in flac_blocks(data):
            body = data[start:end]
            if btype == 0 and len(body) >= 18:   # STREAMINFO
                rate = int.from_bytes(body[10:13], "big") >> 4
                nch = ((body[12] >> 1) & 0x7) + 1
                total = (int.from_bytes(body[13:18], "big")
                         & ((1 << 36) - 1))
                out.update({"sample_rate": rate, "channels": nch})
                if rate and total:
                    out["duration_s"] = round(total / rate, 3)
            elif btype == 4:                     # VorbisComment tags
                out.update(_vorbis_comments(body))
        return out
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        for tag, start, end in riff_chunks(data, 12, "big"):
            body = data[start:end]
            if tag == b"COMM" and len(body) >= 18:
                try:
                    rate = _read_f80(body[8:18])
                except CodecError:  # no usable rate: err:bad-header
                    return out
                nframes = int.from_bytes(body[2:6], "big")
                out.update({"sample_rate": rate,
                            "channels": int.from_bytes(body[0:2], "big"),
                            "duration_s": round(nframes / rate, 3)})
                return out
    return out


def _vorbis_comments(body: bytes) -> dict:
    """VorbisComment block (vendor string + KEY=value list) → tag dict
    (title/artist/album only, matching the ID3 surface)."""
    out: dict = {}
    if len(body) < 8:
        return out
    vlen = int.from_bytes(body[0:4], "little")
    pos = 4 + vlen
    if pos + 4 > len(body):
        return out
    n = int.from_bytes(body[pos:pos + 4], "little")
    pos += 4
    for _ in range(min(n, 64)):
        if pos + 4 > len(body):
            break
        clen = int.from_bytes(body[pos:pos + 4], "little")
        pos += 4
        if clen <= 0 or pos + clen > len(body):
            break
        item = body[pos:pos + clen].decode("utf-8", "replace")
        pos += clen
        if "=" in item:
            k, v = item.split("=", 1)
            k = k.lower()
            if k in ("title", "artist", "album") and k not in out:
                out[k] = v
    return out


def ogg_metadata(data: bytes, total_bytes: int | None = None) -> dict:
    """Ogg container metadata (RFC 3533 pages + the Opus/Vorbis
    identification headers): codec, channels, sample rate, tags from
    the VorbisComment packet, and duration from the last page's granule
    position when the page is inside the read (an Ogg stream's length
    lives at its END, so a byte-capped read reports duration only for
    Vorbis via the nominal-bitrate estimate — the honest MP3-CBR
    analogue).  Header-only, stdlib."""
    out: dict = {}
    if data[:4] != b"OggS":
        return out
    pos = 0
    packets: list[bytes] = []
    max_granule = None
    last_page_seen = False
    cur = None  # the packet being gathered; None until one starts in view
    while pos + 27 <= len(data):
        if data[pos:pos + 4] != b"OggS":
            break
        htype = data[pos + 5]
        granule = int.from_bytes(data[pos + 6:pos + 14], "little",
                                 signed=True)
        nsegs = data[pos + 26]
        lacing = data[pos + 27:pos + 27 + nsegs]
        if len(lacing) < nsegs:
            break
        body_start = pos + 27 + nsegs
        body_len = sum(lacing)
        if granule >= 0:
            max_granule = granule if max_granule is None \
                else max(max_granule, granule)
        if htype & 0x04:
            last_page_seen = True
        if len(packets) < 2 and body_start + body_len <= len(data):
            # first two packets carry the id + comment headers; a packet
            # may span pages (its last lace is 255, the next page has the
            # continuation flag), so the partial packet carries over.
            # Continued data whose start was never seen is skipped.
            seg_pos = body_start
            if not htype & 0x01:
                cur = b""
            for lace in lacing:
                if cur is not None:
                    cur += data[seg_pos:seg_pos + lace]
                seg_pos += lace
                if lace < 255:
                    if cur is not None:
                        packets.append(cur)
                    cur = b""
                    if len(packets) >= 2:
                        break
        pos = body_start + body_len
    if not packets:
        return out
    ident = packets[0]
    rate = None
    if ident.startswith(b"OpusHead") and len(ident) >= 19:
        out["codec"] = "opus"
        out["channels"] = ident[9]
        pre_skip = int.from_bytes(ident[10:12], "little")
        out["sample_rate"] = int.from_bytes(ident[12:16], "little")
        rate = 48000            # Opus granules are ALWAYS 48 kHz ticks
        if max_granule is not None and last_page_seen:
            out["duration_s"] = round(
                max(0, max_granule - pre_skip) / rate, 3)
    elif ident.startswith(b"\x01vorbis") and len(ident) >= 28:
        out["codec"] = "vorbis"
        out["channels"] = ident[11]
        out["sample_rate"] = int.from_bytes(ident[12:16], "little")
        rate = out["sample_rate"] or None
        nominal = int.from_bytes(ident[20:24], "little", signed=True)
        if nominal > 0:
            out["bitrate_kbps"] = nominal // 1000
        if max_granule is not None and last_page_seen and rate:
            out["duration_s"] = round(max_granule / rate, 3)
        elif nominal > 0 and total_bytes:
            # capped read: the final granule is out of reach — estimate
            # like the MP3 CBR arm, flagged by the absent last page
            out["duration_s"] = round(total_bytes * 8 / nominal, 3)
            out["duration_estimated"] = True
    else:
        out["codec"] = "unknown"
        return out
    if len(packets) > 1:
        body = packets[1]
        if body.startswith(b"OpusTags"):
            out.update(_vorbis_comments(body[8:]))
        elif body.startswith(b"\x03vorbis"):
            out.update(_vorbis_comments(body[7:]))
    return out


def mkv_metadata(data: bytes) -> dict:
    """Matroska/WebM container depth, matching the mp4 arm: EBML walk to
    DocType, Segment→Info (TimestampScale + Duration) and Segment→Tracks
    →TrackEntry→Video (PixelWidth × PixelHeight; largest video track
    wins).  Pure stdlib, header-only — Info/Tracks precede clusters in
    every muxer's output, so the byte-cap prefix carries them."""
    out: dict = {}
    if data[:4] != b"\x1aE\xdf\xa3":
        return out
    for eid, ps, pe in _walk_ebml(data, 0, len(data)):
        if eid == 0x1A45DFA3:  # EBML header
            for cid, cs, ce in _walk_ebml(data, ps, pe):
                if cid == 0x4282:  # DocType
                    out["doctype"] = (data[cs:ce]
                                      .decode("latin-1", "replace")
                                      .strip("\x00"))
        elif eid == 0x18538067:  # Segment
            scale, dur = 1_000_000, None  # TimestampScale default: 1 ms
            for cid, cs, ce in _walk_ebml(data, ps, pe):
                if cid == 0x1549A966:  # Info
                    for gid, gs, ge in _walk_ebml(data, cs, ce):
                        if gid == 0x2AD7B1:  # TimestampScale (ns)
                            scale = _ebml_uint(data, gs, ge) or scale
                        elif gid == 0x4489 and ge - gs in (4, 8):
                            dur = struct.unpack(
                                ">f" if ge - gs == 4 else ">d",
                                data[gs:ge])[0]
                elif cid == 0x1654AE6B:  # Tracks
                    for tid, ts, te in _walk_ebml(data, cs, ce):
                        if tid != 0xAE:  # TrackEntry
                            continue
                        w = h = 0
                        for aid, a0, a1 in _walk_ebml(data, ts, te):
                            if aid == 0xE0:  # Video
                                for vid, vs, ve in _walk_ebml(data, a0, a1):
                                    if vid == 0xB0:  # PixelWidth
                                        w = _ebml_uint(data, vs, ve)
                                    elif vid == 0xBA:  # PixelHeight
                                        h = _ebml_uint(data, vs, ve)
                        if w and h and w * h > (out.get("width", 0)
                                                * out.get("height", 0)):
                            out["width"], out["height"] = w, h
            if dur is not None and dur > 0:
                out["duration_s"] = round(dur * scale / 1e9, 3)
    return out


def exiftool_video(url: str, data: bytes) -> dict:
    """unfurl-exiftool video parity (unfurl-exiftool/src/index.ts:69-74):
    the output shape is exactly {type, url, encodingFormat} — the reference
    consumes only exifData.MIMEType.  The MIME itself now comes from the
    real container parse (brand table + box walk via ``mp4_metadata``);
    the deeper width/height/duration ride the multimodal feature path
    (functions/multimodal.py), not this parity-pinned snippet."""
    fmt = None
    if len(data) > 12 and data[4:8] == b"ftyp":
        brand = data[8:12]
        if brand.startswith(b"qt"):
            fmt = "video/quicktime"
        else:
            fmt = _FTYP_MIME.get(brand, "video/mp4")
    elif data[:4] == b"\x1aE\xdf\xa3":
        doctype = mkv_metadata(data[:EXIF_BYTE_CAP]).get("doctype", "")
        fmt = ("video/x-matroska" if doctype.startswith("matroska")
               else "video/webm")
    if fmt is None:
        return {"type": "video", "url": url}
    return {"type": "video", "url": url, "encodingFormat": fmt}
