"""Seeded benchmark inputs.

Every input is a pure function of (family, seed, size) and is written once
under ``<work>/inputs/``; later runs with the same key reuse the files, so
generation never counts towards any measured time.  The program under test
only reads the parquet tables written here; the expectations stay on the
benchmark side.

* ``corpus`` — the generator's default document mix
  (``sources/synthetic.py``: 80% html, 15% html+media, 5% pdf, 25% with
  oembed, 0.1% giant docs) as documents/oembed/media/expected tables, plus
  a warm-up slice and a fixed trace sample (the first documents).
* ``media`` — a payload table: the generator's small gradient PNGs and
  PDFs plus seeded noise PNGs whose sizes straddle the decoder's 128 KiB
  header cap, and the expected output of every payload, computed from the
  pixels the generator chose (``check.media_reference``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
import zlib

FORMAT = 3  # bump when generation changes, so stale caches are rebuilt
# warm-up slices and fixed trace samples: the first rows of each input
CORPUS_WARM, CORPUS_SAMPLE = 4000, 600
MEDIA_WARM, MEDIA_SAMPLE = 128, 200
# one large PNG per this many payloads; sides 150..260 px of RGB noise give
# ~68..203 KB payloads, on both sides of multimodal.HEADER_BYTE_CAP (128 KiB).
# The images are squares with evenly spaced sides, not drawn ones, so every
# seed decodes the same number of pixels; the seed picks the pixels.
LARGE_EVERY = 12
LARGE_SIDES = (150, 260)


def _cached(work: str, key: str, build) -> str:
    """Directory for ``key``, built by ``build(tmp_dir)`` on first use and
    published by an atomic rename, so an interrupted build is redone."""
    final = os.path.join(work, "inputs", key)
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, final)
    return final


def _write_slice(src: str, dst: str, n: int) -> None:
    import pyarrow.parquet as pq

    pq.write_table(pq.read_table(src).slice(0, n), dst, row_group_size=1024)


def corpus(work: str, seed: int, n_docs: int) -> dict:
    def build(d: str) -> None:
        from unfurl_spark.sources.synthetic import write_corpus

        write_corpus(d, n_docs, seed)
        docs = os.path.join(d, "documents_raw.parquet")
        _write_slice(docs, os.path.join(d, "warm.parquet"), CORPUS_WARM)
        _write_slice(docs, os.path.join(d, "sample.parquet"),
                     CORPUS_SAMPLE)

    d = _cached(work, f"corpus-v{FORMAT}-s{seed}-n{n_docs}", build)
    return {"dir": d,
            "input": os.path.join(d, "documents_raw.parquet"),
            "warm": os.path.join(d, "warm.parquet"),
            "sample": os.path.join(d, "sample.parquet"),
            "oembed": os.path.join(d, "oembed_docs.parquet"),
            "media": os.path.join(d, "media_payloads.parquet"),
            "expected": os.path.join(d, "expected_spans.parquet")}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _png_filtered(px, rng: random.Random) -> bytes:
    """An RGB PNG of the pixels ``px`` (HxWx3 uint8).  Each row takes a
    seeded filter type (None/Sub/Up/Average/Paeth), so the decoder runs
    every unfilter path and must reproduce ``px`` exactly."""
    import numpy as np

    h, w, _ = px.shape
    raw = px.reshape(h, w * 3).astype(np.int16)
    up = np.vstack([np.zeros((1, w * 3), np.int16), raw[:-1]])
    left = np.hstack([np.zeros((h, 3), np.int16), raw[:, :-3]])
    upleft = np.hstack([np.zeros((h, 3), np.int16), up[:, :-3]])
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left,
                     np.where(pb <= pc, up, upleft))
    predictors = (0, left, up, (left + up) // 2, paeth)
    out = bytearray()
    for y in range(h):
        kind = rng.randrange(5)
        pred = predictors[kind]
        row = raw[y] - (pred[y] if kind else 0)
        out.append(kind)
        out += (row % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out), 1))
            + _png_chunk(b"IEND", b""))


def _gradient_pixels(width: int, height: int):
    """The pixels of ``synthetic._png_bytes(width, height)``: every row is
    ``(3x + k + 7*width + height) mod 256`` for channel k of column x."""
    import numpy as np

    x = np.arange(width)[:, None] * 3 + np.arange(3)[None, :]
    row = ((x + width * 7 + height) % 256).astype(np.uint8)
    return np.broadcast_to(row, (height, width, 3))


def _generated_media(rows: list) -> dict:
    """media_ref → pixels (HxWx3 uint8) for image payloads, or None for
    PDFs, read from the generator's own expected media spans (image
    snippets carry the generated dimensions)."""
    out = {}
    for row in rows:
        for s in row["spans"]:
            if s["kind"] != "media":
                continue
            snip = json.loads(s["text"])
            out[s["media_ref"]] = (
                _gradient_pixels(snip["width"], snip["height"])
                if snip["type"] == "image" else None)
    return out


def media(work: str, seed: int, n_payloads: int) -> dict:
    def build(d: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from check import media_reference
        from unfurl_spark.sources.synthetic import generate_corpus

        n_large = max(1, n_payloads // LARGE_EVERY)
        n_small = n_payloads - n_large
        n_docs = 4 * n_small + 64  # ~0.35 payloads per generated document
        gen = generate_corpus(n_docs, seed)
        small = gen["media_payloads"][:n_small]
        assert len(small) == n_small, "generator produced too few payloads"
        pixels = _generated_media(gen["expected_spans"])
        rng = random.Random(seed * 7919 + 17)
        rows = list(small)
        lo, hi = LARGE_SIDES
        sides = [lo + (hi - lo) * k // max(1, n_large - 1)
                 for k in range(n_large)]
        for k, w in enumerate(sides):
            h = w
            ref = f"https://cdn.example.com/large/{seed}-{k}.png"
            px = np.frombuffer(rng.randbytes(w * h * 3),
                               np.uint8).reshape(h, w, 3)
            pixels[ref] = px
            rows.append({"media_ref": ref, "ctype": "image/png",
                         "payload": _png_filtered(px, rng)})
        rng.shuffle(rows)
        schema = pa.schema([("media_ref", pa.string()),
                            ("ctype", pa.string()),
                            ("payload", pa.binary())])
        table = pa.Table.from_pylist(rows, schema=schema)
        path = os.path.join(d, "media_payloads.parquet")
        pq.write_table(table, path, row_group_size=256)
        pq.write_table(table.slice(0, MEDIA_WARM),
                       os.path.join(d, "warm.parquet"), row_group_size=256)
        pq.write_table(table.slice(0, MEDIA_SAMPLE),
                       os.path.join(d, "sample.parquet"),
                       row_group_size=256)
        media_reference(
            [(r["media_ref"], len(r["payload"]), pixels[r["media_ref"]])
             for r in rows], os.path.join(d, "expected"))

    d = _cached(work, f"media-v{FORMAT}-s{seed}-n{n_payloads}", build)
    return {"dir": d,
            "input": os.path.join(d, "media_payloads.parquet"),
            "warm": os.path.join(d, "warm.parquet"),
            "sample": os.path.join(d, "sample.parquet"),
            "expected": os.path.join(d, "expected")}
