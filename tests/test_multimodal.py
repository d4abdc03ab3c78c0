"""Multimodal operators: real codec decode (PNG/JPEG/GIF/BMP/PPM/WAV),
real thumbnail resize + content features, the explicit codec boundary
for containers needing external codecs, and the Arrow plumbing."""

import numpy as np
import pytest
from encoders import (
    encode_bmp,
    encode_gif,
    encode_jpeg,
    encode_png,
    encode_ppm,
    encode_wav,
)
from pyspark.sql import Row

from unfurl_spark.functions.codecs import CodecUnavailable
from unfurl_spark.functions.multimodal import (
    decode_media,
    decode_pixels,
    extract_features,
    resize_images,
    sample_frames,
)
from unfurl_spark.sources.synthetic import write_corpus


@pytest.fixture(scope="module")
def media(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("mm")
    corpus = write_corpus(str(out), 200, seed=42)
    return spark.read.parquet(corpus["media_payloads"])


@pytest.fixture(scope="module")
def mixed(spark):
    """One payload per codec family, incl. an undecodable container."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    flat = (rng.integers(0, 4, (24, 32, 3)) * 80).astype(np.uint8)
    wav = encode_wav(8000, rng.integers(-2000, 2000, 500).astype(np.int16))
    # a real (from-scratch encoded) lossy WebP keyframe: 2x2 MBs, DC mode
    from encoders import encode_vp8, wrap_webp
    mb = {"ymode": 0, "uvmode": 0, "bmodes": [0] * 16, "y2": [0] * 16,
          "y": [[0] * 16 for _ in range(16)],
          "u": [[0] * 16 for _ in range(4)],
          "v": [[0] * 16 for _ in range(4)]}
    webp = wrap_webp(encode_vp8(2, 2, [mb, mb, mb, mb], qi=40))
    # an ISO-BMFF video: container metadata reads, essence needs ffmpeg
    m4v = (b"\x00\x00\x00\x10ftypisom" + b"\x00" * 4
           + b"\x00\x00\x00\x08free")
    rows = [
        Row(media_ref="a.m4v", ctype="video/mp4", payload=m4v),
        Row(media_ref="a.png", ctype="image/png", payload=encode_png(img)),
        Row(media_ref="a.jpg", ctype="image/jpeg",
            payload=encode_jpeg(img, quality=90)),
        Row(media_ref="a.gif", ctype="image/gif", payload=encode_gif(flat)),
        Row(media_ref="a.bmp", ctype="image/bmp", payload=encode_bmp(img)),
        Row(media_ref="a.ppm", ctype="image/x-ppm",
            payload=encode_ppm(img)),
        Row(media_ref="a.wav", ctype="audio/wav", payload=wav),
        Row(media_ref="a.webp", ctype="image/webp", payload=webp),
        Row(media_ref="bad.png", ctype="image/png",
            payload=b"\x89PNG\r\n\x1a\njunk"),
    ]
    return spark.createDataFrame(rows)


def test_decode_pixels_real_and_bounded():
    img = np.arange(12 * 9 * 3, dtype=np.uint8).reshape(12, 9, 3)
    out = decode_pixels(encode_png(img), "png")
    assert (out == img).all()
    with pytest.raises(CodecUnavailable):
        decode_pixels(b"\x00" * 64, "webm")


def test_decode_media_real_pixels_on_corpus(spark, media):
    res = decode_media(media, num_partitions=4)
    assert res.columns == ["media_ref", "container", "width", "height",
                           "n_bytes", "ok"]
    rows = res.collect()
    assert len(rows) == media.count()
    pngs = [r for r in rows if r["container"] == "png"]
    # corpus PNGs are real images now: decoded, dims agree with header
    assert pngs and all(r["ok"] == "ok" for r in pngs)
    assert all(r["width"] and r["height"] for r in pngs)
    # PDFs have no pixel codec — boundary visible in lineage
    pdfs = [r for r in rows if r["media_ref"].endswith(".pdf")]
    assert all(r["ok"] == "codec:unavailable" for r in pdfs)


def test_decode_media_mixed_containers(spark, mixed):
    got = {r["media_ref"]: r
           for r in decode_media(mixed, num_partitions=2).collect()}
    for ref in ("a.png", "a.jpg", "a.gif", "a.bmp", "a.ppm"):
        assert got[ref]["ok"] == "ok", (ref, got[ref]["ok"])
        assert (got[ref]["width"], got[ref]["height"]) == (32, 24), ref
    assert got["a.wav"]["ok"] == "ok"
    assert got["a.webp"]["ok"] == "ok"          # VP8 lossy decodes for real
    assert (got["a.webp"]["width"], got["a.webp"]["height"]) == (32, 32)
    assert got["a.m4v"]["ok"] == "codec:unavailable"
    assert got["bad.png"]["ok"].startswith("err:")


def test_resize_real_thumbnail(spark):
    solid = np.full((40, 40, 3), 200, np.uint8)
    df = spark.createDataFrame(
        [Row(media_ref="solid.png", payload=encode_png(solid)),
         Row(media_ref="opaque.bin", payload=b"\x00" * 100)])
    rows = {r["media_ref"]: r
            for r in resize_images(df, width=8, height=8).collect()}
    real = rows["solid.png"]
    assert real["ok"] == "ok"
    px = np.frombuffer(bytes(real["payload"]), np.uint8)
    assert len(px) == 8 * 8 * 3 and (px == 200).all()
    fake = rows["opaque.bin"]
    assert fake["ok"] == "codec:unavailable"
    assert len(fake["payload"]) == 8 * 8 * 3


def test_extract_features_real_content(spark):
    dark = np.full((16, 16, 3), 10, np.uint8)
    light = np.full((16, 16, 3), 245, np.uint8)
    df = spark.createDataFrame(
        [Row(media_ref="dark.png", payload=encode_png(dark)),
         Row(media_ref="light.png", payload=encode_png(light))])
    got = {r["media_ref"]: r["embedding"]
           for r in extract_features(df, dim=16).collect()}
    # first three slots are channel means — real content, not hash noise
    assert got["dark.png"][0] < 0.1 < 0.8 < got["light.png"][0] * 10
    assert got["light.png"][0] > got["dark.png"][0]
    for v in got.values():
        assert len(v) == 16
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4


def test_extract_features_deterministic_unit_norm(spark, media):
    a = {r["media_ref"]: r["embedding"]
         for r in extract_features(media, dim=16).collect()}
    b = {r["media_ref"]: r["embedding"]
         for r in extract_features(media, dim=16).collect()}
    assert a == b  # stable across runs/workers
    v = next(iter(a.values()))
    assert len(v) == 16
    assert abs(sum(x * x for x in v) - 1.0) < 1e-4


def test_resize_fixed_buffer(spark, media):
    res = resize_images(media.limit(10), width=8, height=8)
    rows = res.collect()
    assert all(len(r["payload"]) == 8 * 8 * 3 for r in rows)
    # corpus mixes decodable PNGs with codec-less PDFs — both total
    assert {r["ok"] for r in rows} <= {"ok", "codec:unavailable"}


def test_sample_frames_one_to_n(spark, media):
    n_media = 10
    res = sample_frames(media.limit(n_media), n_frames=3,
                        frame_interval_ms=500)
    rows = res.collect()
    assert len(rows) == n_media * 3
    per = [r for r in rows if r["media_ref"] == rows[0]["media_ref"]]
    per.sort(key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in per] == [0, 1, 2]
    assert [r["frame_ts_ms"] for r in per] == [0, 500, 1000]
    # frames differ from each other but are deterministic
    assert len({bytes(r["payload"]) for r in per}) == 3


def test_plan_is_arrow_no_per_row_python(spark, media):
    plan = decode_media(media, num_partitions=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    # byte cap is a projection before the Python stage
    assert "substring" in plan.lower()


def test_sample_frames_real_gif_animation(spark):
    from encoders import encode_gif_anim

    f0 = np.full((8, 8, 3), 30, np.uint8)
    f1 = np.full((8, 8, 3), 120, np.uint8)
    f2 = np.full((8, 8, 3), 210, np.uint8)
    anim = encode_gif_anim([f0, f1, f2], delay_ms=500)
    df = spark.createDataFrame(
        [Row(media_ref="clip.gif", payload=anim),
         Row(media_ref="vid.bin", payload=b"\x00" * 64)])
    rows = sample_frames(df, n_frames=3, frame_interval_ms=100).collect()
    gif = sorted((r for r in rows if r["media_ref"] == "clip.gif"),
                 key=lambda r: r["frame_index"])
    assert [r["ok"] for r in gif] == ["ok"] * 3
    assert [r["frame_ts_ms"] for r in gif] == [0, 500, 1000]
    vals = [np.frombuffer(bytes(r["payload"]), np.uint8)[0] for r in gif]
    assert vals == [30, 120, 210]  # real pixels from each frame
    stub = [r for r in rows if r["media_ref"] == "vid.bin"]
    assert len(stub) == 3
    assert all(r["ok"] == "codec:unavailable" for r in stub)


def _metadata_ahead_of_animation(kind, data):
    """``data`` with a 9,000-byte metadata chunk ahead of its animation
    chunk: an ``XMP `` chunk after a WebP's ANIM, a ``tEXt`` after a
    PNG's IHDR (so acTL starts past the first 8 KiB)."""
    import struct

    from unfurl_spark.functions.codecs_ext import _chunk

    meta = b"k\x00" + b"x" * 8998
    if kind == "png":
        return data[:33] + _chunk(b"tEXt", meta) + data[33:]
    at = data.index(b"ANIM") + 8 + 6                   # after ANIM's body
    body = data[12:at] + b"XMP " + struct.pack("<I", len(meta)) + meta \
        + data[at:]
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


@pytest.mark.parametrize("kind", ["webp", "png"])
def test_sample_frames_finds_animation_past_a_large_chunk(spark, kind):
    """Whether a WebP or PNG is animated is read from its chunks, not
    from its first bytes: with a large metadata chunk ahead of the first
    ANMF / acTL it still samples its real frames, the same as without."""
    from encoders import encode_apng, encode_webp_anim

    frames = [np.full((8, 8, 4), v, np.uint8) for v in (30, 120, 210)]
    plain = (encode_webp_anim(frames, [500] * 3) if kind == "webp"
             else encode_apng(frames, [500] * 3))
    padded = _metadata_ahead_of_animation(kind, plain)
    df = spark.createDataFrame([Row(media_ref="plain", payload=plain),
                                Row(media_ref="padded", payload=padded)])
    rows = {}
    for r in sample_frames(df, n_frames=3).collect():
        rows.setdefault(r["media_ref"], []).append(
            (r["frame_index"], r["frame_ts_ms"], bytes(r["payload"]),
             r["ok"]))
    got = sorted(rows["padded"])
    assert got == sorted(rows["plain"])
    assert [(i, ts, ok) for i, ts, _px, ok in got] == [
        (0, 0, "ok"), (1, 500, "ok"), (2, 1000, "ok")]
    assert [px[0] for _i, _ts, px, _ok in got] == [30, 120, 210]


def test_decode_media_null_payload_records_err(spark):
    """A NULL payload row (failed fetch) yields an err lineage row — it
    must not TypeError the whole Arrow batch (F.length of NULL is NULL)."""
    df = spark.createDataFrame(
        [("ref-null", "image/png", None),
         ("ref-ok", "image/png", encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))],
        "media_ref string, ctype string, payload binary")
    rows = {r.media_ref: r for r in decode_media(df, num_partitions=2)
            .collect()}
    assert rows["ref-ok"].ok == "ok"
    assert rows["ref-null"].ok.startswith(("err:", "codec:"))

def _mp4_truncated_tkhd() -> bytes:
    """ftyp + moov/trak/tkhd where the tkhd box has a zero-length payload
    ending exactly at the buffer edge — what the header byte-cap produces
    when it truncates a real file mid-box."""
    import struct

    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    tkhd = struct.pack(">I", 8) + b"tkhd"          # header only, no payload
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(trak)) + b"moov" + trak
    return ftyp + moov


def test_decode_media_malformed_mp4_degrades_row(spark):
    """Reviewer repro: zero-payload tkhd at the buffer end used to
    IndexError inside mp4_metadata OUTSIDE the per-row try, killing the
    whole Spark task. Must now degrade to a NULL-dims lineage row."""
    from unfurl_spark.functions.media import mp4_metadata

    bad = _mp4_truncated_tkhd()
    assert mp4_metadata(bad).get("width") is None  # no crash at source
    df = spark.createDataFrame(
        [("bad.mp4", "video/mp4", bad)],
        "media_ref string, ctype string, payload binary")
    row = decode_media(df, num_partitions=1).collect()[0]
    assert row.container == "mp4"
    assert row.width is None and row.height is None
    out = sample_frames(df, n_frames=2, num_partitions=1).collect()
    assert len(out) == 2  # stub frames, not a task abort


def test_decode_media_huge_ihdr_dims_clamped(spark):
    """A corrupt IHDR declaring width >= 2^31 must NULL that row's dims,
    not ArrowInvalid the whole batch at pa.array(..., int32())."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 3_000_000_000, 2, 8, 2, 0, 0, 0)

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IEND", b""))
    ok_png = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [("huge.png", "image/png", bad), ("ok.png", "image/png", ok_png)],
        "media_ref string, ctype string, payload binary")
    rows = {r.media_ref: r for r in
            decode_media(df, num_partitions=1).collect()}
    assert rows["huge.png"].width is None
    assert rows["huge.png"].ok.startswith("err:")
    assert rows["ok.png"].ok == "ok" and rows["ok.png"].width == 2


def test_resize_gray_alpha_png_emits_rgb24(spark):
    """PNG color type 4 (gray+alpha → 2 channels) must still produce the
    contractual h*w*3 RGB24 buffer, not a silent h*w*2 one."""
    ga = np.zeros((8, 8, 2), dtype=np.uint8)
    ga[:, :, 0] = 128   # gray plane
    ga[:, :, 1] = 255   # alpha plane
    df = spark.createDataFrame(
        [("ga.png", "image/png", encode_png(ga))],
        "media_ref string, ctype string, payload binary")
    row = resize_images(df, width=8, height=8, num_partitions=1).collect()[0]
    assert row.ok == "ok"
    assert len(row.payload) == 8 * 8 * 3
    px = np.frombuffer(row.payload, dtype=np.uint8).reshape(8, 8, 3)
    assert (px == 128).all()  # gray plane replicated to R=G=B


def test_null_media_ref_fallback_rows_survive(spark):
    """NULL media_ref + undecodable payload reaches the _fake_pixels
    fallback — it must emit a stub row, not AttributeError the task."""
    webp = (b"\x00\x00\x00\x10ftypisom" + b"\x00" * 4
            + b"\x00\x00\x00\x08free")  # undecodable essence (mp4)
    df = spark.createDataFrame(
        [(None, "video/mp4", webp)],
        "media_ref string, ctype string, payload binary")
    r1 = resize_images(df, width=4, height=4, num_partitions=1).collect()
    assert len(r1) == 1 and r1[0].ok == "codec:unavailable"
    assert len(r1[0].payload) == 4 * 4 * 3
    r2 = extract_features(df, dim=16, num_partitions=1).collect()
    assert len(r2) == 1 and len(r2[0].embedding) == 16


def test_extract_features_flags_fallback(spark, mixed):
    # the fake-embedding fallback must carry lineage, mirroring resize:
    # downstream embedding dedup/ANN filters on ok='ok' to avoid
    # clustering hash noise as content
    got = {r["media_ref"]: r for r in extract_features(mixed, dim=16).collect()}
    for ref in ("a.png", "a.jpg", "a.gif", "a.bmp", "a.ppm", "a.wav"):
        assert got[ref]["ok"] == "ok", (ref, got[ref]["ok"])
    assert got["a.webp"]["ok"] == "ok"
    assert got["a.m4v"]["ok"] == "codec:unavailable"
    assert got["bad.png"]["ok"].startswith("err:")
    # fallback vectors are still total + unit-norm (column never NULL)
    for r in got.values():
        assert abs(sum(x * x for x in r["embedding"]) - 1.0) < 1e-4
    # the filter a dedup pipeline runs
    real = extract_features(mixed, dim=16).filter("ok = 'ok'").count()
    assert real == 7  # webp now decodes; only m4v/bad.png fall back


def test_extract_features_zero_sample_wav_no_nan(spark):
    import math

    wav = encode_wav(8000, np.zeros(0, dtype=np.int16))
    df = spark.createDataFrame([Row(media_ref="empty.wav", payload=wav)])
    [r] = extract_features(df, dim=16).collect()
    # zero samples: flagged fallback, never an all-NaN embedding
    assert r["ok"].startswith("err:")
    assert all(not math.isnan(v) for v in r["embedding"])
    assert abs(sum(x * x for x in r["embedding"]) - 1.0) < 1e-4


def _mp4_with_covr(png: bytes) -> bytes:
    import struct as _s

    def box(tag, body):
        return _s.pack(">I", 8 + len(body)) + tag + body

    ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0) + b"isomavc1")
    mvhd = box(b"mvhd", b"\x00" + b"\x00" * 3 + _s.pack(">IIII", 0, 0, 1000, 8000))
    data_atom = box(b"data", _s.pack(">II", 14, 0) + png)  # 14 = PNG
    ilst = box(b"ilst", box(b"covr", data_atom))
    meta = box(b"meta", b"\x00\x00\x00\x00" + ilst)
    udta = box(b"udta", meta)
    moov = box(b"moov", mvhd + udta)
    return ftyp + moov


def _mp3_with_apic(png: bytes, ext_header: bool = False) -> bytes:
    import struct as _s
    body = (b"\x00"                    # encoding: latin-1
            + b"image/png\x00"         # MIME
            + b"\x03"                  # picture type: front cover
            + b"cover\x00"             # description
            + png)
    frame = b"APIC" + _s.pack(">I", len(body)) + b"\x00\x00" + body
    # v2.3 extended header: its size (excluding these 4 bytes), 2 flag
    # bytes, then the 4-byte padding size
    ext = _s.pack(">IHI", 6, 0, 0) if ext_header else b""
    tag_body = ext + frame

    def syncsafe(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])

    id3 = (b"ID3" + bytes([3, 0, 0x40 if ext_header else 0])
           + syncsafe(len(tag_body)) + tag_body)
    # one valid MPEG1 Layer3 frame header so the sniffer keeps "mp3"
    return id3 + b"\xff\xfb\x90\x00" + b"\x00" * 100


def test_cover_art_thumbnails_mp4_covr_and_id3_apic(spark):
    """MP4 covr / ID3 APIC cover art (ffmpeg's attached_pic) decodes to
    REAL pixels: decode_media reports ok='ok' with the cover's dims for
    mp3, sample_frames emits the real thumbnail at frame 0."""
    art = np.zeros((6, 8, 3), dtype=np.uint8)
    art[:, :, 1] = 200
    png = encode_png(art)
    df = spark.createDataFrame(
        [Row(media_ref="v.mp4", ctype="video/mp4",
             payload=_mp4_with_covr(png)),
         Row(media_ref="a.mp3", ctype="audio/mpeg",
             payload=_mp3_with_apic(png)),
         Row(media_ref="bare.mp4", ctype="video/mp4",
             payload=_mp4_with_covr(b"")[:64])])

    dec = {r["media_ref"]: r for r in decode_media(df).collect()}
    assert dec["v.mp4"]["ok"] == "ok"
    assert dec["v.mp4"]["container"] == "mp4"
    assert dec["a.mp3"]["ok"] == "ok"
    assert (dec["a.mp3"]["width"], dec["a.mp3"]["height"]) == (8, 6)
    assert dec["bare.mp4"]["ok"] == "codec:unavailable"

    frames = [r for r in sample_frames(df, n_frames=3).collect()
              if r["media_ref"] == "v.mp4"]
    assert len(frames) == 3
    f0 = next(r for r in frames if r["frame_index"] == 0)
    assert f0["ok"] == "ok"
    got = np.frombuffer(f0["payload"], np.uint8).reshape(6, 8, 3)
    assert np.array_equal(got, art)
    f1 = next(r for r in frames if r["frame_index"] == 1)
    assert f1["ok"] == "codec:unavailable"

    from unfurl_spark.functions.media import embedded_cover
    assert embedded_cover(_mp4_with_covr(png)) == (png, "mp4:covr")
    assert embedded_cover(_mp3_with_apic(png)) == (png, "id3:apic")
    # an ID3v2.3 extended header precedes the frames, the APIC as well
    assert embedded_cover(_mp3_with_apic(png, ext_header=True)) == (
        png, "id3:apic")
    assert embedded_cover(b"\x00" * 32) is None


def _mjpeg_mp4(jpegs: list, fps: int = 2) -> bytes:
    """Minimal MJPEG-in-MP4: one video trak with a 'jpeg' sample entry,
    stts/stsz/stsc/stco sample tables, samples in one mdat."""
    import struct as _s

    def box(tag, body):
        return _s.pack(">I", 8 + len(body)) + tag + body

    timescale = fps
    stsd = box(b"stsd", b"\x00\x00\x00\x00" + _s.pack(">I", 1)
               + box(b"jpeg", b"\x00" * 78))
    stts = box(b"stts", b"\x00\x00\x00\x00" + _s.pack(">I", 1)
               + _s.pack(">II", len(jpegs), 1))
    stsz = box(b"stsz", b"\x00\x00\x00\x00" + _s.pack(">II", 0, len(jpegs))
               + b"".join(_s.pack(">I", len(j)) for j in jpegs))
    stsc = box(b"stsc", b"\x00\x00\x00\x00" + _s.pack(">I", 1)
               + _s.pack(">III", 1, len(jpegs), 1))

    def build(data_off):
        stco = box(b"stco", b"\x00\x00\x00\x00" + _s.pack(">I", 1)
                   + _s.pack(">I", data_off))
        stbl = box(b"stbl", stsd + stts + stsz + stsc + stco)
        minf = box(b"minf", stbl)
        mdhd = box(b"mdhd", b"\x00" + b"\x00" * 3
                   + _s.pack(">IIII", 0, 0, timescale, len(jpegs)))
        mdia = box(b"mdia", mdhd + minf)
        trak = box(b"trak", mdia)
        mvhd = box(b"mvhd", b"\x00" + b"\x00" * 3
                   + _s.pack(">IIII", 0, 0, timescale, len(jpegs)))
        moov = box(b"moov", mvhd + trak)
        ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0) + b"isom")
        return ftyp + moov
    head = build(0)
    mdat_payload = b"".join(jpegs)
    data_off = len(head) + 8   # first sample sits after the mdat header
    return build(data_off) + box(b"mdat", mdat_payload)


def test_mjpeg_mp4_real_frames(spark, jpeghelper):
    """Motion-JPEG MP4: sample_frames decodes REAL frames at REAL
    timestamps (each sample is a whole baseline JPEG); decode_pixels
    returns the first frame; decode_media reports ok."""
    import subprocess

    from unfurl_spark.functions.jpegc import decode_jpeg
    from unfurl_spark.functions.media import mjpeg_samples

    frames_px = []
    jpegs = []
    for shade in (0, 120, 250):
        img = np.full((16, 16, 3), shade, np.uint8)
        enc = subprocess.run(
            [jpeghelper, "encode", "16", "16", "95", "0", "0"],
            input=img.tobytes(), capture_output=True).stdout
        jpegs.append(enc)
        frames_px.append(decode_jpeg(enc))
    data = _mjpeg_mp4(jpegs, fps=2)

    table = mjpeg_samples(data)
    assert table is not None and len(table) == 3
    assert [t for t, _, _ in table] == [0, 500, 1000]  # fps=2 → 500 ms

    px = decode_pixels(data, "mp4")
    assert np.array_equal(px, frames_px[0])

    df = spark.createDataFrame(
        [Row(media_ref="m.mp4", ctype="video/mp4", payload=data)])
    rows = sorted(sample_frames(df, n_frames=3).collect(),
                  key=lambda r: r["frame_index"])
    assert [r["ok"] for r in rows] == ["ok", "ok", "ok"]
    assert [r["frame_ts_ms"] for r in rows] == [0, 500, 1000]
    for r, expect in zip(rows, frames_px):
        got = np.frombuffer(r["payload"], np.uint8).reshape(16, 16, 3)
        assert np.array_equal(got, expect)
    dec = decode_media(df).collect()[0]
    assert dec["ok"] == "ok"
