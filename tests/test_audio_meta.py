"""MP3 / ADTS-AAC container metadata (beyond-reference audio surface:
the reference's exiftool arm routes only pdf/image/video,
packages/unfurl-exiftool/src/index.ts:6-23, so audio/* falls through to
the link fallback there — this is training-data curation surface)."""
import struct

from unfurl_spark.functions.media import (
    _sniff,
    aac_metadata,
    mp3_metadata,
)


def _mp3_frame(bitrate_idx=9, sr_idx=0, channels=2, version=3, layer=3,
               fill=b"\x00") -> bytes:
    """One MPEG audio frame with a valid 4-byte header."""
    layer_bits = 4 - layer
    b1 = 0xE0 | (version << 3) | (layer_bits << 1) | 1
    b2 = (bitrate_idx << 4) | (sr_idx << 2)
    b3 = 0x00 if channels == 2 else 0xC0
    hdr = bytes([0xFF, b1, b2, b3])
    # MPEG1 Layer III @44100, bitrate table row
    rates = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000)}
    brs = {(3, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                    224, 256, 320)}
    rate = rates[version][sr_idx]
    bitrate = brs[(version, layer)][bitrate_idx]
    spf = 1152 if version == 3 else 576
    frame_len = spf // 8 * bitrate * 1000 // rate
    return hdr + fill * (frame_len - 4)


def _id3v2(frames: dict[bytes, bytes], major=3) -> bytes:
    body = b""
    for fid, text in frames.items():
        payload = b"\x00" + text  # latin-1 encoding byte
        body += fid + struct.pack(">I", len(payload)) + b"\x00\x00" + payload
    hdr = b"ID3" + bytes([major, 0, 0]) + bytes(
        [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
         (len(body) >> 7) & 0x7F, len(body) & 0x7F])
    return hdr + body


def test_sniff_mp3_id3_and_bare_sync():
    assert _sniff(_id3v2({b"TIT2": b"x"}) + _mp3_frame()) == "mp3"
    assert _sniff(_mp3_frame() * 3) == "mp3"


def test_sniff_rejects_junk_sync():
    # 0xFFE0 with reserved version+layer must not classify
    assert _sniff(b"\xff\xea\x00\x00" + b"\x00" * 64) is None


def test_mp3_cbr_duration_and_tags():
    # 128 kbps CBR, 44100 Hz: 10 frames = 10*1152/44100 s of audio
    frames = _mp3_frame(bitrate_idx=9) * 10  # idx 9 -> 128 kbps
    data = _id3v2({b"TIT2": b"My Title", b"TPE1": b"Artist",
                   b"TALB": b"Album"}) + frames
    meta = mp3_metadata(data)
    assert meta["title"] == "My Title"
    assert meta["artist"] == "Artist"
    assert meta["album"] == "Album"
    assert meta["sample_rate"] == 44100
    assert meta["channels"] == 2
    assert meta["bitrate_kbps"] == 128
    assert meta["vbr"] is False
    expect = len(frames) * 8 / 128000
    assert abs(meta["duration_s"] - expect) < 0.01


def test_mp3_xing_vbr_duration():
    first = bytearray(_mp3_frame(bitrate_idx=9))
    side = 32  # MPEG1 stereo
    first[4 + side:4 + side + 4] = b"Xing"
    first[4 + side + 4:4 + side + 8] = struct.pack(">I", 1)  # frames flag
    first[4 + side + 8:4 + side + 12] = struct.pack(">I", 441)
    meta = mp3_metadata(bytes(first) + _mp3_frame() * 3)
    assert meta["vbr"] is True
    assert abs(meta["duration_s"] - 441 * 1152 / 44100) < 0.01


def test_mp3_byte_capped_uses_total_bytes():
    frames = _mp3_frame(bitrate_idx=9) * 4
    full_len = len(_mp3_frame()) * 100
    meta = mp3_metadata(frames, total_bytes=full_len)
    assert abs(meta["duration_s"] - full_len * 8 / 128000) < 0.05


def test_mp3_id3v1_fallback():
    tail = b"TAG" + b"Old Title".ljust(30, b"\x00") \
        + b"Old Artist".ljust(30, b"\x00") + b"Old Album".ljust(30, b"\x00") \
        + b"1999" + b"\x00" * 31
    assert len(tail) == 128
    meta = mp3_metadata(_mp3_frame() * 4 + tail)
    assert meta["title"] == "Old Title"
    assert meta["artist"] == "Old Artist"
    assert meta["date"] == "1999"


def _adts_frame(sr_idx=4, channels=2, body=64) -> bytes:
    flen = 7 + body
    hdr = bytearray(7)
    hdr[0] = 0xFF
    hdr[1] = 0xF1
    hdr[2] = (1 << 6) | (sr_idx << 2) | ((channels >> 2) & 1)  # AAC LC
    hdr[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
    hdr[4] = (flen >> 3) & 0xFF
    hdr[5] = ((flen & 0x7) << 5) | 0x1F
    hdr[6] = 0xFC
    return bytes(hdr) + b"\x00" * body


def test_sniff_adts_aac():
    assert _sniff(_adts_frame() * 2) == "aac"


def test_aac_metadata_duration():
    data = _adts_frame() * 20  # 20 frames @44100 = 20*1024/44100 s
    meta = aac_metadata(data)
    assert meta["sample_rate"] == 44100
    assert meta["channels"] == 2
    assert meta["profile"] == "AAC LC"
    assert abs(meta["duration_s"] - 20 * 1024 / 44100) < 0.01


def test_aac_capped_extrapolates():
    one = _adts_frame()
    meta = aac_metadata(one * 5, total_bytes=len(one) * 50)
    assert abs(meta["duration_s"] - 50 * 1024 / 44100) < 0.05


def test_mp3_garbage_between_id3_and_sync():
    data = _id3v2({b"TIT2": b"T"}) + b"\x00" * 700 + _mp3_frame() * 3
    meta = mp3_metadata(data)
    assert meta["title"] == "T"
    assert meta["sample_rate"] == 44100


def test_id3v22_three_char_frames():
    body = b""
    for fid, text in ((b"TT2", b"Two2"), (b"TP1", b"P1")):
        payload = b"\x00" + text
        body += fid + len(payload).to_bytes(3, "big") + payload
    hdr = b"ID3" + bytes([2, 0, 0]) + bytes(
        [(len(body) >> 21) & 0x7F, (len(body) >> 14) & 0x7F,
         (len(body) >> 7) & 0x7F, len(body) & 0x7F])
    meta = mp3_metadata(hdr + body + _mp3_frame())
    assert meta["title"] == "Two2"
    assert meta["artist"] == "P1"


def test_audio_metadata_operator(spark):
    from encoders import encode_wav
    import numpy as np
    from unfurl_spark.functions.multimodal import audio_metadata

    wav = encode_wav(8000, np.zeros((1600, 2), np.int16))
    mp3 = _id3v2({b"TIT2": b"Song"}) + _mp3_frame(bitrate_idx=9) * 8
    aac = _adts_frame() * 10
    df = spark.createDataFrame(
        [("a.wav", "audio/wav", wav),
         ("b.mp3", "audio/mpeg", mp3),
         ("c.aac", "audio/aac", aac),
         ("d.bin", "application/octet-stream", b"\x00\x01\x02")],
        "media_ref string, ctype string, payload binary")
    rows = {r.media_ref: r for r in audio_metadata(df).collect()}
    assert rows["a.wav"].container == "wav"
    assert rows["a.wav"].sample_rate == 8000
    assert rows["a.wav"].channels == 2
    assert abs(rows["a.wav"].duration_s - 0.2) < 1e-6
    assert rows["b.mp3"].title == "Song"
    assert rows["b.mp3"].bitrate_kbps == 128
    assert rows["b.mp3"].ok == "ok"
    assert rows["c.aac"].container == "aac"
    assert abs(rows["c.aac"].duration_s - 10 * 1024 / 44100) < 0.01
    assert rows["d.bin"].ok == "err:not-audio"


def test_id3v2_unsynchronisation():
    # build the logical frame, then apply the FF -> FF 00 byte stuffing
    # the unsync flag (bit 7) declares
    raw_frame = b"TIT2" + struct.pack(">I", 7) + b"\x00\x00" \
        + b"\x00" + b"My \xff~T"
    stuffed = raw_frame.replace(b"\xff", b"\xff\x00")
    hdr = b"ID3" + bytes([3, 0, 0x80]) + bytes(
        [(len(stuffed) >> 21) & 0x7F, (len(stuffed) >> 14) & 0x7F,
         (len(stuffed) >> 7) & 0x7F, len(stuffed) & 0x7F])
    meta = mp3_metadata(hdr + stuffed + _mp3_frame())
    assert meta["title"] == b"My \xff~T".decode("latin-1")
    assert meta["sample_rate"] == 44100


def _ogg_page(serial, seq, granule, packets, htype=0):
    import struct as _s
    body = b"".join(packets)
    lacing = b""
    for p in packets:
        n = len(p)
        while n >= 255:
            lacing += bytes([255])
            n -= 255
        lacing += bytes([n])
    hdr = (b"OggS" + bytes([0, htype])
           + _s.pack("<q", granule) + _s.pack("<I", serial)
           + _s.pack("<I", seq) + _s.pack("<I", 0)
           + bytes([len(lacing)]) + lacing)
    return hdr + body


def _vorbis_comment_block(tags):
    import struct as _s
    body = _s.pack("<I", 4) + b"test"
    body += _s.pack("<I", len(tags))
    for k, v in tags.items():
        item = f"{k}={v}".encode()
        body += _s.pack("<I", len(item)) + item
    return body


def test_ogg_opus_metadata():
    import struct as _s

    from unfurl_spark.functions.media import _sniff, ogg_metadata

    head = (b"OpusHead" + bytes([1, 2])           # version, channels
            + _s.pack("<H", 312)                  # pre-skip
            + _s.pack("<I", 44100)                # input rate
            + _s.pack("<h", 0) + bytes([0]))
    tags = b"OpusTags" + _vorbis_comment_block(
        {"TITLE": "Song A", "ARTIST": "Band B", "album": "LP C"})
    data = (_ogg_page(7, 0, 0, [head], htype=2)
            + _ogg_page(7, 1, -1, [tags])
            + _ogg_page(7, 2, 48000 * 3 + 312, [b"\x00" * 10], htype=4))
    assert _sniff(data) == "ogg"
    m = ogg_metadata(data, total_bytes=len(data))
    assert m["codec"] == "opus"
    assert m["channels"] == 2
    assert m["sample_rate"] == 44100
    assert m["duration_s"] == 3.0          # granule minus pre-skip @48k
    assert (m["title"], m["artist"], m["album"]) == ("Song A", "Band B",
                                                     "LP C")


def test_ogg_vorbis_metadata_and_capped_estimate():
    import struct as _s

    from unfurl_spark.functions.media import ogg_metadata

    ident = (b"\x01vorbis" + _s.pack("<I", 0) + bytes([2])
             + _s.pack("<I", 22050)
             + _s.pack("<i", 0) + _s.pack("<i", 128000) + _s.pack("<i", 0)
             + bytes([0xB8, 1]))
    tags = b"\x03vorbis" + _vorbis_comment_block({"TITLE": "V"})
    full = (_ogg_page(9, 0, 0, [ident], htype=2)
            + _ogg_page(9, 1, -1, [tags])
            + _ogg_page(9, 2, 22050 * 7, [b"\x00" * 8], htype=4))
    m = ogg_metadata(full, total_bytes=len(full))
    assert m["codec"] == "vorbis"
    assert m["sample_rate"] == 22050 and m["channels"] == 2
    assert m["bitrate_kbps"] == 128
    assert m["duration_s"] == 7.0
    assert m["title"] == "V"
    # byte-capped read: last page out of reach → nominal-rate estimate
    capped = full[:len(full) - 40]
    m2 = ogg_metadata(capped, total_bytes=160000)
    assert m2.get("duration_estimated") is True
    assert abs(m2["duration_s"] - 160000 * 8 / 128000) < 0.01


def test_audio_metadata_operator_ogg(spark):
    import struct as _s

    from pyspark.sql import Row

    from unfurl_spark.functions.multimodal import audio_metadata

    head = (b"OpusHead" + bytes([1, 1]) + _s.pack("<H", 0)
            + _s.pack("<I", 48000) + _s.pack("<h", 0) + bytes([0]))
    tags = b"OpusTags" + _vorbis_comment_block({"TITLE": "T"})
    data = (_ogg_page(3, 0, 0, [head], htype=2)
            + _ogg_page(3, 1, -1, [tags])
            + _ogg_page(3, 2, 96000, [b"\x00"], htype=4))
    df = spark.createDataFrame(
        [Row(media_ref="a.opus", ctype="audio/ogg", payload=data),
         Row(media_ref="bad.ogg", ctype="audio/ogg",
             payload=b"OggS" + b"\x00" * 30)])
    got = {r["media_ref"]: r for r in audio_metadata(df).collect()}
    assert got["a.opus"]["container"] == "ogg"
    assert got["a.opus"]["ok"] == "ok"
    assert got["a.opus"]["duration_s"] == 2.0
    assert got["a.opus"]["title"] == "T"
    assert got["bad.ogg"]["ok"].startswith("err:")


def _ogg_raw_page(serial, seq, granule, body, lacing, htype=0):
    """One Ogg page with explicit lacing: a last lace of 255 leaves the
    packet open for the next page."""
    import struct as _s
    return (b"OggS" + bytes([0, htype]) + _s.pack("<q", granule)
            + _s.pack("<I", serial) + _s.pack("<I", seq) + _s.pack("<I", 0)
            + bytes([len(lacing)]) + bytes(lacing) + body)


def _opus_tags_over_two_pages():
    """OpusHead page, then an OpusTags packet split after 510 bytes: the
    second page carries the rest with the continuation flag (0x01)."""
    import struct as _s
    head = (b"OpusHead" + bytes([1, 2]) + _s.pack("<H", 0)
            + _s.pack("<I", 48000) + _s.pack("<h", 0) + bytes([0]))
    tags = b"OpusTags" + _vorbis_comment_block(
        {"COMMENT": "x" * 600, "TITLE": "Across", "ARTIST": "Pages",
         "ALBUM": "Two"})
    assert len(tags) > 510
    first, rest = tags[:510], tags[510:]
    rest_lacing = [255] * (len(rest) // 255) + [len(rest) % 255]
    return (_ogg_page(5, 0, 0, [head], htype=2)
            + _ogg_raw_page(5, 1, -1, first, [255, 255])
            + _ogg_raw_page(5, 2, -1, rest, rest_lacing, htype=1)
            + _ogg_page(5, 3, 48000 * 4, [b"\x00" * 6], htype=4))


def test_ogg_comment_packet_spanning_pages(spark):
    from pyspark.sql import Row

    from unfurl_spark.functions.media import ogg_metadata
    from unfurl_spark.functions.multimodal import audio_metadata

    data = _opus_tags_over_two_pages()
    m = ogg_metadata(data, total_bytes=len(data))
    assert m["codec"] == "opus" and m["channels"] == 2
    assert (m["title"], m["artist"], m["album"]) == ("Across", "Pages",
                                                     "Two")
    assert m["duration_s"] == 4.0
    df = spark.createDataFrame(
        [Row(media_ref="long-tags.opus", ctype="audio/ogg", payload=data)])
    [r] = audio_metadata(df).collect()
    assert r["ok"] == "ok"
    assert (r["title"], r["artist"], r["album"]) == ("Across", "Pages",
                                                     "Two")


def test_ogg_orphan_continuation_is_skipped():
    """A read that starts on a continuation page has no start for that
    packet: its tail must not be taken for the identification header."""
    from unfurl_spark.functions.media import ogg_metadata

    data = _opus_tags_over_two_pages()
    orphan = _ogg_raw_page(5, 9, -1, b"tail of a lost packet", [21],
                           htype=1)
    m = ogg_metadata(orphan + data, total_bytes=len(orphan) + len(data))
    assert m["codec"] == "opus"
    assert m["title"] == "Across"


def test_pcm_metadata_header_only():
    """WAV/FLAC/AIFF metadata must come from the HEADER prefix alone —
    asserted by truncating each fixture to its first 256 bytes (the
    sample data is gone; rate/channels/duration must survive)."""
    import numpy as np

    from encoders import encode_wav
    from encoders import encode_aiff, encode_flac
    from unfurl_spark.functions.media import pcm_metadata

    sig = (np.sin(np.arange(22050) / 20) * 8000).astype(np.int16)
    stereo = np.stack([sig, sig], axis=1)
    wav = encode_wav(22050, stereo)
    flac = encode_flac(22050, stereo)
    aiff = encode_aiff(22050, stereo)
    for name, data in (("wav", wav), ("flac", flac), ("aiff", aiff)):
        m = pcm_metadata(data)
        assert m["sample_rate"] == 22050, name
        assert m["channels"] == 2, name
        assert abs(m["duration_s"] - 1.0) < 0.01, name
        capped = pcm_metadata(data[:256])
        assert capped.get("sample_rate") == 22050, name
        # the data-chunk SIZE field sits in the header, so even wav
        # reports duration from the capped prefix
        assert abs(capped.get("duration_s", 0) - 1.0) < 0.01, name
    # a COMM rate far below 1 Hz (80-bit exponent 1, which underflows to
    # 0.0 as a double) is no rate: audio_metadata's err:bad-header, not
    # a ZeroDivisionError
    at = aiff.index(b"COMM") + 16
    tiny = aiff[:at] + b"\x00\x01" + (1 << 63).to_bytes(8, "big") \
        + aiff[at + 10:]
    assert "sample_rate" not in pcm_metadata(tiny)


def test_flac_picture_block_cover_art():
    """FLAC PICTURE metadata blocks (type 6) surface through
    embedded_cover without disturbing the header-only metadata walk."""
    import struct

    import numpy as np

    from encoders import encode_flac, encode_png
    from unfurl_spark.functions.media import embedded_cover, pcm_metadata

    sig = (np.sin(np.arange(2000) / 9) * 5000).astype(np.int16)
    flac = bytearray(encode_flac(2000, sig.reshape(-1, 1)))
    png = encode_png(np.full((3, 4, 3), 77, np.uint8))
    mime = b"image/png"
    body = (struct.pack(">I", 3) + struct.pack(">I", len(mime)) + mime
            + struct.pack(">I", 0) + struct.pack(">IIII", 4, 3, 24, 0)
            + struct.pack(">I", len(png)) + png)
    hdr0 = flac[4]
    blen0 = int.from_bytes(flac[5:8], "big")
    insert_at = 8 + blen0
    was_last = hdr0 & 0x80
    flac[4] = hdr0 & 0x7F
    pic_hdr = bytes([(0x80 if was_last else 0) | 6]) \
        + len(body).to_bytes(3, "big")
    data = bytes(flac[:insert_at]) + pic_hdr + body + bytes(flac[insert_at:])
    got = embedded_cover(data)
    assert got == (png, "flac:picture")
    assert pcm_metadata(data)["sample_rate"] == 2000
    # plain flac (no picture block) yields no cover
    assert embedded_cover(bytes(flac)) is None


def test_rate_beyond_int32_degrades_one_row_not_the_batch(spark):
    """A WAV ``fmt `` rate or an AIFF ``COMM`` rate of 2^31 or more is
    corrupt header data: its row keeps a NULL rate, and the batch's
    other rows come back as they do alone (the int32 column used to
    raise ArrowInvalid for the whole batch)."""
    import numpy as np
    import pyarrow as pa

    from perfbench.kernel_trace import _Capture
    from encoders import encode_wav
    from unfurl_spark.functions.multimodal import audio_metadata

    good = encode_wav(8000, np.zeros((1600, 2), np.int16))
    bad_wav = bytearray(good)
    bad_wav[24:28] = (0xFFFFFFF0).to_bytes(4, "little")  # fmt sample rate
    # COMM: 1 channel, 100 frames, 16 bits, 80-bit rate 2^63 * 2^-31 = 2^32
    comm = (struct.pack(">hIh", 1, 100, 16)
            + struct.pack(">H", 16383 + 32) + (1 << 63).to_bytes(8, "big"))
    body = b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
    bad_aiff = b"FORM" + struct.pack(">I", len(body)) + body

    def run(rows):
        batch = pa.RecordBatch.from_arrays(
            [pa.array([r for r, _ in rows], pa.string()),
             pa.array([p for _, p in rows], pa.binary()),
             pa.array([len(p) for _, p in rows], pa.int64())],
            names=["media_ref", "head", "n_bytes"])
        kernel = audio_metadata(_Capture())
        return pa.Table.from_batches(list(kernel(iter([batch])))).to_pylist()

    got = run([("good.wav", good), ("bad.wav", bytes(bad_wav)),
               ("bad.aiff", bad_aiff)])
    assert [r["media_ref"] for r in got] == ["good.wav", "bad.wav",
                                             "bad.aiff"]
    assert got[0] == run([("good.wav", good)])[0]
    assert got[0]["sample_rate"] == 8000
    assert got[1]["container"] == "wav"
    assert got[2]["container"] == "aiff"
    assert got[1]["sample_rate"] is None and got[2]["sample_rate"] is None
    assert got[1]["channels"] == 2 and got[2]["channels"] == 1
