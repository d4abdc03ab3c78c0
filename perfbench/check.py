"""Output checks: every committed row against the generator's expectation.

A record fails when it is missing or duplicated, when its ``ok`` column
reports an error, or when its output differs from what the generator says
it must be.  Each check returns ``(failed, messages)`` with at most a few
messages, so mismatches are printed without flooding the log.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

MAX_MESSAGES = 5


def _read(path: str, columns: list) -> dict:
    return pq.read_table(path, columns=columns).to_pydict()


class _Failures:
    def __init__(self):
        self.keys: set = set()
        self.messages: list = []

    def add(self, key: str, why: str) -> None:
        if key not in self.keys and len(self.messages) < MAX_MESSAGES:
            self.messages.append(f"{key}: {why}")
        self.keys.add(key)


def load_expected_spans(path: str):
    return pq.read_table(path, columns=["doc_id", "spans"]).sort_by("doc_id")


def _same_spans(got, want) -> bool:
    """Whole-table fast path: the same doc_ids, every ``ok`` 'ok' and
    equal span lists, compared as Arrow columns."""
    import pyarrow.compute as pc

    try:
        spans = got["spans"].cast(want["spans"].type)
    except Exception:  # noqa: BLE001 — another span layout: compare rows
        return False
    return (got.num_rows == want.num_rows
            and got["doc_id"].equals(want["doc_id"])
            and pc.all(pc.equal(got["ok"], "ok")).as_py()
            and spans.equals(want["spans"]))


def check_spans(out_dir: str, expected) -> tuple[int, list]:
    """Join ``<out>/spans`` to the expected spans by doc_id and compare
    kind, text, media_ref and offset of every span."""
    got = pq.read_table(os.path.join(out_dir, "spans"),
                        columns=["doc_id", "spans", "ok"]).sort_by("doc_id")
    if _same_spans(got, expected):
        return 0, []

    def tuples(spans):
        return [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in spans or ()]

    rows = expected.to_pydict()
    want_of = {d: tuples(sp) for d, sp in zip(rows["doc_id"], rows["spans"])}
    rows = got.to_pydict()
    bad = _Failures()
    seen: set = set()
    for doc_id, spans, ok in zip(rows["doc_id"], rows["spans"], rows["ok"]):
        if doc_id in seen:
            bad.add(doc_id, "duplicated")
        seen.add(doc_id)
        want = want_of.get(doc_id)
        got_spans = tuples(spans)
        if want is None:
            bad.add(doc_id, "not in the input")
        elif ok != "ok":
            bad.add(doc_id, f"ok={ok}")
        elif got_spans != want:
            i = next((k for k, (g, w) in enumerate(zip(got_spans, want))
                      if g != w), min(len(got_spans), len(want)))
            g = got_spans[i] if i < len(got_spans) else None
            w = want[i] if i < len(want) else None
            bad.add(doc_id, f"span {i}: got {g!r:.120} want {w!r:.120}")
    for doc_id in want_of.keys() - seen:
        bad.add(doc_id, "missing")
    return len(bad.keys), bad.messages


# the defaults of multimodal.resize_images and multimodal.extract_features
THUMB = (64, 64)
FEATURE_DIM = 64
FEATURE_TOL = 1e-5


def _boxes(n: int, n_out: int) -> list:
    """Source index ranges of the area resample along one axis: output
    cell i covers [round(i*n/n_out), round((i+1)*n/n_out)), at least one
    source pixel wide and inside the image."""
    edges = [round(i * n / n_out) for i in range(n_out)] + [n]
    out = []
    for a, b in zip(edges, edges[1:]):
        b = min(max(b, a + 1), n)
        out.append((min(a, b - 1), b))
    return out


def reference_thumbnail(px, width: int, height: int):
    """Box-filter area average of ``px`` (HxWx3 uint8) to width x height,
    truncated to uint8: exact integer box sums from running sums along
    each axis."""
    import numpy as np

    h, w, c = px.shape
    (y0, y1), (x0, x1) = (np.array(_boxes(n, n_out)).T
                          for n, n_out in ((h, height), (w, width)))
    acc = np.zeros((h + 1, w, c), np.int64)
    acc[1:] = px.cumsum(axis=0)
    rows = acc[y1] - acc[y0]
    acc = np.zeros((height, w + 1, c), np.int64)
    acc[:, 1:] = rows.cumsum(axis=1)
    sums = acc[:, x1] - acc[:, x0]
    area = np.outer(y1 - y0, x1 - x0).astype(np.float64)
    return np.floor(sums / area[:, :, None]).astype(np.uint8)


def reference_features(px, dim: int):
    """Per-channel mean and std of the pixels scaled to [0, 1], then a
    (dim - 6)-bin histogram of Rec.601 luma over [0, 1] normalised to sum
    to 1, the whole vector L2-normalised."""
    import numpy as np

    f = px.astype(np.float32) / 255.0
    ch = [f[:, :, i] for i in range(3)]
    luma = 0.299 * ch[0] + 0.587 * ch[1] + 0.114 * ch[2]
    hist, _ = np.histogram(luma, bins=dim - 6, range=(0.0, 1.0))
    vec = np.array([px[:, :, i].mean() / 255.0 for i in range(3)]
                   + [(px[:, :, i] / 255.0).std() for i in range(3)]
                   + list(hist / hist.sum()))
    return (vec / np.linalg.norm(vec)).astype(np.float32)


def media_reference(payloads: list, stem: str) -> None:
    """Write the expected output of every ``(media_ref, n_bytes, pixels)``
    payload (pixels None for a PDF) to ``<stem>.json`` (media_meta rows)
    and ``<stem>.npz`` (thumbnails and feature vectors of the images)."""
    import numpy as np

    from unfurl_spark.functions.multimodal import HEADER_BYTE_CAP

    meta, refs, thumbs, feats = {}, [], [], []
    for ref, n, px in payloads:
        if px is None:
            meta[ref] = ["pdf", None, None, n, "codec:unavailable"]
            continue
        ok = "capped:header-only" if n > HEADER_BYTE_CAP else "ok"
        meta[ref] = ["png", px.shape[1], px.shape[0], n, ok]
        refs.append(ref)
        thumbs.append(reference_thumbnail(px, *THUMB).reshape(-1))
        feats.append(reference_features(px, FEATURE_DIM))
    with open(stem + ".json", "w") as f:
        json.dump(meta, f)
    np.savez(stem + ".npz", refs=np.array(refs), thumbs=np.stack(thumbs),
             feats=np.stack(feats))


def load_expected_media(stem: str) -> tuple[dict, dict]:
    """→ (media_ref → meta row, media_ref → (thumbnail, features))."""
    import numpy as np

    with open(stem + ".json") as f:
        meta = json.load(f)
    z = np.load(stem + ".npz")
    return meta, {r: (t.tobytes(), v) for r, t, v in
                  zip(z["refs"].tolist(), z["thumbs"], z["feats"])}


def check_media(out_dir: str, expected: tuple) -> tuple[int, list]:
    """Every payload needs one media_meta row with the generated
    container, dimensions, size and outcome, and one features and one
    resize row.  Images must decode (``ok``) to the reference thumbnail
    and features; PDFs must report ``codec:unavailable`` with a stand-in
    of the right size."""
    import numpy as np

    meta_want, images = expected
    bad = _Failures()
    meta = _read(os.path.join(out_dir, "media_meta"),
                 ["media_ref", "container", "width", "height", "n_bytes",
                  "ok"])
    seen: set = set()
    for ref, *row in zip(*meta.values()):
        if ref in seen:
            bad.add(ref, "duplicated meta row")
        seen.add(ref)
        want = meta_want.get(ref)
        if want is None:
            bad.add(ref, "not in the input")
        elif row != want:
            bad.add(ref, f"meta got {row} want {want}")
    for ref in meta_want.keys() - seen:
        bad.add(ref, "missing meta row")

    thumb_bytes = THUMB[0] * THUMB[1] * 3
    for table, col, size in (("media_features", "embedding", FEATURE_DIM),
                             ("media_resize", "payload", thumb_bytes)):
        rows = _read(os.path.join(out_dir, table), ["media_ref", col, "ok"])
        got = {}
        for ref, v, ok in zip(*rows.values()):
            if ref in got:
                bad.add(ref, f"duplicated {table} row")
            got[ref] = (v, ok)
        for ref in meta_want:
            v, ok = got.get(ref, (None, "missing"))
            want_ok = "ok" if ref in images else "codec:unavailable"
            if ok != want_ok:
                bad.add(ref, f"{table} ok={ok}, want {want_ok}")
            elif len(v) != size:
                bad.add(ref, f"{table} {col} has {len(v)} values, not {size}")
            elif ref not in images:
                continue
            elif table == "media_resize" and v != images[ref][0]:
                bad.add(ref, "thumbnail differs from the reference")
            elif table == "media_features":
                err = float(np.abs(np.asarray(v) - images[ref][1]).max())
                if err > FEATURE_TOL:
                    bad.add(ref, f"features differ by up to {err:.3g}")
    return len(bad.keys), bad.messages
