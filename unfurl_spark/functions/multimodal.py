"""Multimodal column operators — decode / feature-extract / resize /
frame-sample over opaque ``binary`` payload columns.

Mirrors the reference's media path (its exif/exiftool plugins,
packages/unfurl-exif/src/index.ts:16-47 and
packages/unfurl-exiftool/src/index.ts:25-86, read container *headers*)
and extends it with the operations a training-data pipeline needs over
image/audio/video payloads at 100 TB.

Spark-side plumbing (schemas, salt partitioning, Arrow batch shape,
byte caps) is real and tested, and so is the pixel path for the
formats the pure-stdlib codecs in ``codecs.py``/``jpegc.py``/
``vp8l.py``/``vp8.py``/``codecs_ext.py`` cover: PNG (+APNG frames), JPEG
(every DCT process — sequential and progressive, Huffman and arithmetic
— through one coefficient path, plus lossless SOF3), GIF, BMP, PPM,
WebP both flavors — VP8L lossless AND VP8 lossy key frames (RFC 6386
from scratch, bit-exact vs libwebp) with ALPH alpha, in a still and in
every ANMF animation frame (an animated WebP's pixels are its first
composited frame) — ICO favicons, baseline TIFF images, and PCM WAV +
FLAC + AIFF audio decode to real pixels/samples, feed a real box-filter
resize and real feature statistics; SVG yields real intrinsic dimensions
(rasterization out of scope).  Header dimensions come from the same
readers as the exif/exiftool paths (``media._read_image``), so a row's
width and height agree with its metadata.  Motion-JPEG MP4 tracks decode REAL
frames at REAL timestamps (every sample is a baseline JPEG), and
MP4/MP3/WebM embedded cover art (covr / APIC / Matroska attachment)
decodes to real thumbnail pixels.  Formats whose essence needs an
out-of-container codec (MP4/H.264, WebM/VP9 video essence, MP3/AAC
audio essence — container metadata for all of these IS parsed, see
``media.py``) raise ``CodecUnavailable`` and fall back to a
deterministic payload-hash fake — the honest boundary in this
environment, visible per-row in the ``ok`` lineage column.  The package
only decodes: the tests write their round-trip fixtures with
``tests/encoders.py`` and hold the VP8 decoder to libwebp through
``tests/vp8sys.py``, and neither ships to the executors.

Every operator is a row function run by the engine's one Arrow stage,
``operators.pipeline.map_rows`` — no per-row Spark UDFs; payloads cross
as Arrow binary buffers (zero-copy from the JVM), and each operator's
output format is written once, as its Spark schema.
The decode, features and resize ops are one kernel (``pixel_pass``)
that decodes each payload at most once for all requested ops;
``decode_media``, ``extract_features`` and ``resize_images`` are it
with one op.
"""

from __future__ import annotations

import hashlib
import math
import struct
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import map_rows
from .codecs import (
    CodecError,
    CodecUnavailable,
    decode_bmp,
    decode_gif,
    decode_gif_frames,
    decode_png,
    decode_ppm,
    decode_wav,
    ico_entries,
    png_chunks,
    resize_area,
    riff_chunks,
)
from .codecs_ext import (
    decode_apng_frames,
    decode_flac,
    decode_ico,
    decode_tiff,
)
from .jpegc import decode_jpeg
from .media import (
    _read_image,
    _sniff,
    aac_metadata,
    embedded_cover,
    mjpeg_samples,
    mkv_metadata,
    mp3_metadata,
    mp4_metadata,
    ogg_metadata,
    pcm_metadata,
)
from .vp8l import decode_webp

# cap payload bytes entering Python — headers live in the prefix (the
# reference caps EXIF reads at 131072, unfurl-exif/src/index.ts:21)
HEADER_BYTE_CAP = 131072

# the columns each pixel op emits after media_ref
PIXEL_COLUMNS = {
    "decode": ("container string", "width int", "height int",
               "n_bytes long", "ok string"),
    "features": ("embedding array<float>", "ok string"),
    "resize": ("width int", "height int", "payload binary", "ok string"),
}
DECODE_SCHEMA, FEATURE_SCHEMA, RESIZE_SCHEMA = (
    ", ".join(("media_ref string", *cols)) for cols in PIXEL_COLUMNS.values())
FRAME_SCHEMA = ("media_ref string, frame_index int, frame_ts_ms long, "
                "payload binary, ok string")
AUDIO_SCHEMA = ("media_ref string, container string, sample_rate int, "
                "channels int, duration_s double, bitrate_kbps int, "
                "title string, artist string, album string, "
                "n_bytes long, ok string")


_DECODERS = {
    "png": decode_png,
    "jpeg": decode_jpeg,
    "gif": decode_gif,
    "bmp": decode_bmp,
    "ppm": decode_ppm,
    "webp": decode_webp,  # VP8L and VP8 lossy both decode for real
    "ico": decode_ico,    # PNG-in-ICO and classic DIB+mask entries
    "tiff": decode_tiff,  # baseline strips: none/LZW/PackBits
}


def decode_pixels(payload: bytes, container: str):
    """Decode a payload to pixels (images → HxWxC uint8 ndarray) or
    samples (wav → (rate, int16[n, ch])).  Pure stdlib+numpy codecs,
    including BOTH WebP flavors (VP8L lossless and the RFC 6386 VP8
    intra decoder for lossy; an animated WebP gives its first frame);
    MP4/MP3/WebM containers carrying embedded cover art (iTunes
    ``covr`` atom / ID3 APIC / Matroska attachment — ffmpeg's
    attached_pic) decode that picture to real pixels, and a
    Motion-JPEG MP4 track decodes its first sample as a real frame.
    Containers needing an external MOTION/AUDIO essence codec with no
    attached picture and no MJPEG track (MP4/H.264,
    WebM/VP9, MP3/AAC streams, HEIC/AVIF) raise ``CodecUnavailable`` —
    the explicit boundary a real deployment closes by plugging ffmpeg
    into ``_DECODERS``."""
    dec = _DECODERS.get(container)
    if dec is not None:
        return dec(payload)
    if container == "wav":
        return decode_wav(payload)
    if container == "flac":
        return decode_flac(payload)
    if container == "aiff":
        from .codecs_ext import decode_aiff
        return decode_aiff(payload)
    if container == "svg":
        # solid-fill static subset rasterizes for real (svgraster.py);
        # strokes/gradients/text/arcs raise CodecUnavailable inside
        from .svgraster import rasterize_svg
        return rasterize_svg(payload)
    if container in ("mp4", "mp3", "m4a", "mov", "webm"):
        px = _still(payload)
        if px is not None:
            return px
    raise CodecUnavailable(
        f"container {container!r} needs an external codec "
        "(not installed in this environment)")


def _still(payload: bytes):
    """The picture an A/V payload carries, or None: the first sample of an
    MP4 Motion-JPEG track (a whole baseline JPEG), else its embedded cover
    art (MP4 covr / ID3 APIC / Matroska attachment, ffmpeg's
    attached_pic) — a plain JPEG/PNG the image decoders read although the
    motion essence needs an external codec."""
    table = mjpeg_samples(payload)
    if table:
        _ts, off, sz = table[0]
        if off + sz <= len(payload):
            return decode_jpeg(payload[off:off + sz])
    cover = embedded_cover(payload)
    if cover is not None:
        cdec = _DECODERS.get(_sniff(cover[0]) or "")
        if cdec is not None:
            return cdec(cover[0])
    return None


def _fake_pixels(media_ref: str, payload: bytes, n: int) -> bytes:
    """Deterministic stand-in for decoded pixel data: an n-byte stream
    seeded by (media_ref, payload) — stable across runs/workers."""
    seed = hashlib.sha256((media_ref or "").encode() + b"\x00"
                          + payload[:64])
    out = bytearray()
    counter = 0
    while len(out) < n:
        out += hashlib.sha256(seed.digest() + struct.pack("<q", counter)
                              ).digest()
        counter += 1
    return bytes(out[:n])


def _i32(v):
    """Header-declared dimension → int32-safe value.  IHDR/tkhd fields are
    corruption-controlled 4-byte ints; a 3e9 width must degrade to NULL for
    one row, not ArrowInvalid the whole batch at pa.array(..., int32())."""
    return v if (v is not None and 0 <= v < 2 ** 31) else None


def _dims(container: str | None, data: bytes):
    try:
        w, h = _dims_raw(container, data)
    except Exception:  # malformed header walk degrades the row, not the task
        return None, None
    return _i32(w), _i32(h)


def _dims_raw(container: str | None, data: bytes):
    if container in ("jpeg", "png", "webp", "tiff", "heif", "avif"):
        _kind, _tags, w, h, _xmp = _read_image(data, container)
        return w, h
    if container == "mp4":
        meta = mp4_metadata(data)
        return meta.get("width"), meta.get("height")
    if container == "webm":
        meta = mkv_metadata(data)
        return meta.get("width"), meta.get("height")
    if container == "ico":  # the largest entry
        w, h, _off, _size = max(ico_entries(data), default=(None, None, 0, 0),
                                key=lambda e: e[0] * e[1])
        return w, h
    if container == "svg":
        from .codecs_ext import svg_info
        return svg_info(data)
    return None, None


def _salted(df: DataFrame, num_partitions: int | None):
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64("media_ref"))
    return df


def _lineage(px) -> str:
    """``ok`` for a decoded payload, else its failure's lineage value."""
    if not isinstance(px, Exception):
        return "ok"
    return ("codec:unavailable" if isinstance(px, CodecUnavailable)
            else f"err:{type(px).__name__}")


def _guarded(build, px, fallback):
    """→ (value, ok): ``build(px)``, else ``fallback()`` flagged with the
    decode's or the build's failure — never another op's."""
    if not isinstance(px, Exception):
        try:
            return build(px), "ok"
        except Exception as exc:  # malformed payload
            px = exc
    return fallback(), _lineage(px)


def _meta_row(ref, data, n, container, px):
    head = data[:HEADER_BYTE_CAP]
    w, h = _dims(container, head)
    if (n or 0) > len(head):  # n is None for NULL payloads
        return container, w, h, n, "capped:header-only"
    if w is None and hasattr(px, "shape"):
        h, w = _i32(int(px.shape[0])), _i32(int(px.shape[1]))
    return container, w, h, n, _lineage(px)


def _embedding(px, dim: int) -> list:
    import numpy as np
    if isinstance(px, tuple):  # audio (rate, samples)
        flat = px[1].astype(np.float32) / 32768.0
        if flat.size == 0:
            # valid container, zero samples: mean()/std() would emit an
            # all-NaN embedding
            raise CodecError("wav: zero samples")
        head = [float(flat.mean()), float(flat.std()),
                float(np.abs(flat).mean()),
                float(np.abs(flat).max(initial=0.0)), 0.0, 0.0]
        hist, _ = np.histogram(flat, bins=max(1, dim - 6),
                               range=(-1.0, 1.0))
    else:  # image HxWxC uint8
        f = px.astype(np.float32) / 255.0
        ch = [f[:, :, i % f.shape[2]] for i in range(3)]
        head = [float(c.mean()) for c in ch] + [float(c.std()) for c in ch]
        luma = 0.299 * ch[0] + 0.587 * ch[1] + 0.114 * ch[2]
        hist, _ = np.histogram(luma, bins=max(1, dim - 6), range=(0.0, 1.0))
    hsum = float(hist.sum()) or 1.0
    vec = head + [float(v) / hsum for v in hist]
    return (vec + [0.0] * dim)[:dim]


def _features_row(ref, data, n, container, px, dim):
    def fake():
        vec = [0.0] * dim
        for i, b in enumerate(_fake_pixels(ref, data[:4096], dim * 16)):
            vec[i % dim] += b / 255.0
        return vec

    vec, ok = _guarded(partial(_embedding, dim=dim), px, fake)
    norm = math.sqrt(sum(v * v for v in vec)) or 1.0
    return [v / norm for v in vec], ok


def _thumbnail(px, width: int, height: int) -> bytes:
    import numpy as np
    if isinstance(px, tuple):
        raise CodecUnavailable("audio has no thumbnail")
    if px.shape[2] < 3:
        # gray (1ch) AND gray+alpha (2ch): repeat the gray plane — the
        # RGB24 output contract is h*w*3 bytes
        px = np.repeat(px[:, :, :1], 3, axis=2)
    return resize_area(px[:, :, :3], width, height).tobytes()


def _resize_row(ref, data, n, container, px, width, height):
    out, ok = _guarded(partial(_thumbnail, width=width, height=height), px,
                       partial(_fake_pixels, ref, data, width * height * 3))
    return width, height, out, ok


def pixel_pass(df: DataFrame, ops: tuple, dim: int = 64, width: int = 64,
               height: int = 64,
               num_partitions: int | None = None) -> DataFrame:
    """(media_ref, payload) → one row per payload: the columns of each
    pixel op in ``ops`` ⊆ (decode, features, resize), built from ONE
    decode.  One op yields its flat schema; several yield one struct
    column per op, named by it.  Only decode alone ships just the
    JVM-side ``HEADER_BYTE_CAP`` prefix into Python."""
    builders = [{"decode": _meta_row,
                 "features": partial(_features_row, dim=dim),
                 "resize": partial(_resize_row, width=width, height=height),
                 }[op] for op in ops]
    head_only = ops == ("decode",)
    if head_only:
        cols = [F.substring("payload", 1, HEADER_BYTE_CAP).alias("head"),
                F.length("payload").cast("long").alias("n_bytes")]
    else:
        cols = ["payload"]
    schema = ", ".join(("media_ref string", *(
        PIXEL_COLUMNS[ops[0]] if len(ops) == 1 else
        (f"{op} struct<{', '.join(PIXEL_COLUMNS[op])}>" for op in ops))))

    def row(ref, payload, n=None):
        """Sniff the payload, decode it at most once, and build each op's
        columns from that one decode."""
        data = payload or b""
        if not head_only:
            n = None if payload is None else len(payload)
        container = _sniff(data)
        px = None  # the meta of an over-cap prefix needs no pixels
        if not head_only or (n or 0) <= len(data):
            try:
                px = decode_pixels(data, container or "unknown")
            except Exception as exc:  # malformed payload
                px = exc
        outs = [build(ref, data, n, container, px) for build in builders]
        return [(ref, *outs[0]) if len(ops) == 1 else (ref, *outs)]

    return map_rows(_salted(df.select("media_ref", *cols), num_partitions),
                    schema, lambda: row)


def decode_media(df: DataFrame,
                 num_partitions: int | None = None) -> DataFrame:
    """(media_ref, ctype, payload) → container + dimensions + lineage.

    ``pixel_pass`` with the decode op alone.  Header metadata (sniff +
    PNG/WebP/JPEG/MP4 header walk) is always read from the capped
    prefix.  When the full payload fits under the cap, the real codec
    runs once and ``ok`` records the outcome: ``ok`` (decoded),
    ``codec:unavailable`` (container essence needs an external codec),
    ``err:*`` (malformed), or ``capped:header-only`` (payload larger than
    the cap — the features and resize ops, which get the whole payload,
    still decode it)."""
    return pixel_pass(df, ("decode",), num_partitions=num_partitions)


def audio_metadata(df: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """(media_ref, ctype, payload) → audio container metadata.

    Header-only container walks over the capped prefix: MP3 (ID3v2/v1
    tags, Xing/Info VBR or CBR duration), ADTS AAC (profile/rate/
    channels, frame-walk duration), Ogg Opus/Vorbis (id header +
    VorbisComment tags; duration from the final page granule when in
    reach, else the Vorbis nominal-bitrate estimate), and the PCM
    containers (WAV fmt/data, FLAC STREAMINFO + VorbisComment tags,
    AIFF COMM with its 80-bit extended rate) — all header-only, no
    sample decode, correct under the byte cap.  The true payload length rides
    along so byte-capped MP3/AAC reads still estimate duration over the
    FULL stream.  Same salting + Arrow-batch shape as decode_media —
    no per-row Python."""
    capped = df.select(
        "media_ref",
        F.substring("payload", 1, HEADER_BYTE_CAP).alias("head"),
        F.length("payload").cast("long").alias("n_bytes"),
    )

    def row(ref, head, n):
        data = head or b""
        c = _sniff(data)
        meta: dict = {}
        ok = "ok"
        try:
            if c == "mp3":
                meta = mp3_metadata(data, total_bytes=n)
                if "sample_rate" not in meta:
                    ok = "err:no-frame-sync"
            elif c == "aac":
                meta = aac_metadata(data, total_bytes=n)
                if "sample_rate" not in meta:
                    ok = "err:bad-adts"
            elif c == "ogg":
                meta = ogg_metadata(data, total_bytes=n)
                if meta.get("codec") not in ("opus", "vorbis"):
                    ok = "err:ogg-codec"
                elif "duration_s" not in meta:
                    ok = "capped:no-last-page"
            elif c in ("wav", "flac", "aiff"):
                # header-only walk (fmt/STREAMINFO/COMM) — no full sample
                # decode, correct under the byte cap
                meta = pcm_metadata(data)
                if "sample_rate" not in meta:
                    ok = "err:bad-header"
            else:
                ok = "err:not-audio"
        except CodecUnavailable:
            ok = "codec:unavailable"
        except Exception as exc:
            ok = f"err:{type(exc).__name__}"
        # header-declared ints: a corrupt 4-byte rate degrades to NULL
        # for this row instead of failing the batch's Arrow conversion
        return [(ref, c, _i32(meta.get("sample_rate")),
                 _i32(meta.get("channels")), meta.get("duration_s"),
                 _i32(meta.get("bitrate_kbps")), meta.get("title"),
                 meta.get("artist"), meta.get("album"), n, ok)]

    return map_rows(_salted(capped, num_partitions), AUDIO_SCHEMA,
                    lambda: row)


def extract_features(df: DataFrame, dim: int = 64,
                     num_partitions: int | None = None) -> DataFrame:
    """(media_ref, payload) → dense float feature vector.

    ``pixel_pass`` with the features op alone.  Decodable payloads get
    REAL content features: per-channel mean/std + a luminance histogram
    for images, amplitude stats + a sample histogram for PCM audio —
    L2-normalized to `dim` floats.  Codec-unavailable containers fall
    back to the deterministic payload-hash fake (stable across
    runs/workers), so the column is total either way — but the fallback
    is FLAGGED in ``ok`` (``codec:unavailable`` / ``err:*``), mirroring
    ``resize_images``, so downstream embedding dedup/ANN can filter hash
    noise out (``WHERE ok = 'ok'``) instead of clustering it as content.
    """
    return pixel_pass(df, ("features",), dim=dim,
                      num_partitions=num_partitions)


def resize_images(df: DataFrame, width: int = 64, height: int = 64,
                  num_partitions: int | None = None) -> DataFrame:
    """(media_ref, payload) → fixed-size RGB pixel buffer (w*h*3 bytes).

    ``pixel_pass`` with the resize op alone.  Decodable containers
    produce a REAL thumbnail: codec decode → box-filter area resample
    (`codecs.resize_area`) → packed RGB24.  Codec-unavailable/malformed
    payloads, and audio (no picture), keep the batch total with the
    deterministic fake, flagged in ``ok``.
    """
    return pixel_pass(df, ("resize",), width=width, height=height,
                      num_partitions=num_partitions)


def _picks(n: int, n_frames: int) -> list[int]:
    return [min(n - 1, i * n // n_frames) for i in range(n_frames)]


def _animated(kind: str, data: bytes) -> bool:
    """Whether the container declares an animation: a top-level ANMF
    chunk (WebP) or an acTL chunk ahead of the first IDAT (APNG)."""
    if kind == "webp":
        return any(tag == b"ANMF" for tag, _s, _e in riff_chunks(data, 12))
    if kind == "png":
        for tag, _s, _e in png_chunks(data):
            if tag in (b"acTL", b"IDAT"):
                return tag == b"acTL"
    return False


def sample_frames(df: DataFrame, n_frames: int = 4,
                  frame_interval_ms: int = 1000,
                  num_partitions: int | None = None) -> DataFrame:
    """(media_ref, payload) → n_frames rows per video (1→N batch shape).

    Animated GIFs yield REAL frames: the LZW decoder composites the
    frame sequence per the disposal model, n_frames are picked evenly
    across it, timestamps come from the per-frame delays — a true
    `ffmpeg -vf fps=` sampler.  MP4/WebM get real timestamps (moov/mvhd
    duration spread); when the container carries embedded cover art
    (MP4 ``covr`` / ID3 APIC — ffmpeg's attached_pic stream), frame 0
    is that REAL decoded thumbnail with ``ok='ok'``.  Motion frames
    beyond it stay stub pixels (H.264/VP9 essence is the codec
    boundary, flagged in ``ok``); unparseable payloads fall back to the
    fixed interval.
    """

    def row(ref, payload):
        data = payload or b""
        real = None  # [(ts, frame)] of n_frames real frames
        kind = _sniff(data)
        try:
            if kind == "gif":
                real, acc = [], 0
                for delay, f in decode_gif_frames(data, max_frames=256):
                    real.append((f, acc))
                    acc += delay or frame_interval_ms
            elif _animated(kind, data):
                # animated WebP / APNG: frames carry their own timestamps
                from .vp8l import decode_webp_frames
                frames_of = (decode_webp_frames if kind == "webp"
                             else decode_apng_frames)
                real = frames_of(data, max_frames=256)
            if real is not None:
                # n_frames picks spread evenly over the clip
                real = [(real[j][1], real[j][0].tobytes())
                        for j in _picks(len(real), n_frames)]
        except (CodecError, CodecUnavailable):
            real = None
        if kind == "mp4":
            # Motion-JPEG track: every sample is a whole baseline JPEG —
            # real frames at real timestamps, no external codec (the
            # true `ffmpeg -vf fps=` path for this family)
            try:
                table = mjpeg_samples(data)
            except Exception:
                table = None
            usable = [(ts, off, sz) for ts, off, sz in table or ()
                      if off + sz <= len(data)]
            if usable:
                try:
                    real = []
                    for j in _picks(len(usable), n_frames):
                        ts, off, sz = usable[j]
                        px = decode_jpeg(data[off:off + sz])
                        real.append((ts, px.tobytes()))
                except Exception:
                    real = None
        if real is not None:
            return [(ref, i, ts, px, "ok") for i, (ts, px) in enumerate(real)]
        try:
            duration_s = (mp4_metadata(data).get("duration_s")
                          or mkv_metadata(data).get("duration_s"))
        except Exception:  # malformed container → stub timing
            duration_s = None
        # real timing when the container has a duration, stub pixels
        # either way
        step_ms = (max(1, int(duration_s * 1000 / n_frames)) if duration_s
                   else frame_interval_ms)
        # the payload's still picture (decode_pixels' own), when it
        # decodes, is a REAL frame 0; motion frames keep the flagged stub
        still = None
        if kind in ("mp4", "mp3", "webm"):
            try:
                still = _still(data)
            except Exception:   # malformed picture → stub frame 0
                still = None
        frames = [(ref, i, i * step_ms, _fake_pixels(f"{ref}#{i}", data, 256),
                   "codec:unavailable") for i in range(n_frames)]
        if frames and still is not None:
            frames[0] = (ref, 0, 0, still.tobytes(), "ok")
        return frames

    return map_rows(_salted(df.select("media_ref", "payload"),
                            num_partitions), FRAME_SCHEMA, lambda: row)
