"""One Arrow row runner for every Python stage: each stage's kernel, run
in-process through perfbench's DataFrame stand-in, yields batches whose
schema is the schema the stage declares to Spark, in Arrow form — on an
empty batch, on a mixed batch and when rows fan out to nothing — and
``pipeline.map_rows`` is the package's only ``mapInArrow`` call."""

import inspect
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from encoders import encode_gif_anim, encode_png
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType
from test_pixel_pass import _mixed

from perfbench.kernel_trace import _Capture
from unfurl_spark.functions import multimodal
from unfurl_spark.operators import context_prepass, pipeline
from unfurl_spark.schema import EXTRACTED

_UNKNOWN_CTX = "https://unknown.example/ctx"
_KNOWN_CTX = "https://known.example/ctx"
_OEMBED = "https://ex.com/oembed?u=1"


def _page(ctx_url: str) -> str:
    return ('<html><head><title>T</title>'
            f'<link rel="alternate" type="application/json+oembed" '
            f'href="{_OEMBED}">'
            '<script type="application/ld+json">'
            f'{{"@context": "{ctx_url}", "@type": "NewsArticle", '
            '"headline": "H"}</script></head>'
            '<body><p>some body text for the classifier</p></body></html>')


_PNG = encode_png(np.full((4, 6, 3), 90, np.uint8))
_PDF = b"%PDF-1.4\n1 0 obj<</Type/Catalog>>endobj\n%%EOF\n"

NARROW = pa.schema([("doc_id", pa.string()), ("status", pa.int32()),
                    ("url", pa.string()), ("html", pa.string()),
                    ("media_refs", pa.list_(pa.string())),
                    ("media_kinds", pa.list_(pa.string()))])
NARROW_ROWS = [
    ("d1", 200, "https://ex.com/1", _page(_UNKNOWN_CTX), ["a.png", "b.pdf"],
     ["media", "pdf"]),
    ("d2", 200, None, None, None, None),  # no HTML: no context pairs
    ("d3", 404, "https://ex.com/3", _page(_KNOWN_CTX), [], []),
    ("d4", 200, "https://ex.com/4", "<html><title>x", ["gone.png"],
     ["media"]),
]
OEMBED_JOINED = pa.schema([*NARROW, ("oembed_href", pa.string()),
                           ("o_status", pa.int32()), ("ctype", pa.string()),
                           ("body", pa.string())])
OEMBED_JOINED_ROWS = [(*NARROW_ROWS[0], _OEMBED, 200,
                       "application/json+oembed", '{"title": "From oembed"}'),
                      (*NARROW_ROWS[2], None, None, None, None)]
PAIRS = pa.schema([("doc_id", pa.string()), ("media_ref", pa.string()),
                   ("media_kind", pa.string()), ("ctype", pa.string()),
                   ("payload", pa.binary())])
PAIR_ROWS = [("d1", "a.png", "media", "image/png", _PNG),
             ("d1", "b.pdf", "pdf", "application/pdf", _PDF),
             ("d4", "gone.png", "media", None, None),
             ("d5", "c.pdf", "pdf", "application/pdf", None)]
HEAD = pa.schema([("media_ref", pa.string()), ("head", pa.binary()),
                  ("n_bytes", pa.int64())])
FULL = pa.schema([("media_ref", pa.string()), ("payload", pa.binary())])
MEDIA_ROWS = [(r, p) for r, _, p in _mixed()] + [
    ("clip.gif", encode_gif_anim([np.full((4, 4, 3), v, np.uint8)
                                  for v in (10, 20)], delay_ms=40))]
HEAD_ROWS = [(r, None if p is None else p[:multimodal.HEADER_BYTE_CAP],
              None if p is None else len(p)) for r, p in MEDIA_ROWS]


class _Stage(_Capture):
    """``_Capture`` that also keeps the schema the stage declares."""

    def mapInArrow(self, fn, schema):  # noqa: N802 — DataFrame API name
        self.schema = schema
        return fn


def _side(spark):
    sc = spark.sparkContext
    return pipeline.SideTables(
        sc.broadcast({_OEMBED: (200, "application/json+oembed",
                                '{"title": "From oembed"}')}),
        sc.broadcast({"a.png": ("image/png", _PNG),
                      "b.pdf": ("application/pdf", _PDF)}),
        sc.broadcast({_KNOWN_CTX: {"@context": {"@vocab":
                                                "http://schema.org/"}}}))


# stage → (build the kernel from a stand-in DataFrame, declared schema,
# input schema, mixed input rows, output rows of the mixed input)
STAGES = {
    "extract": (lambda df, side: pipeline._map_kernel(df, side), EXTRACTED,
                NARROW, NARROW_ROWS, 4),
    "oembed_hrefs": (lambda df, side: pipeline._oembed_hrefs(df),
                     pipeline.NARROW_HREF, NARROW, NARROW_ROWS, 4),
    "extract_oembed": (lambda df, side: pipeline._map_kernel(df, side),
                       EXTRACTED, OEMBED_JOINED, OEMBED_JOINED_ROWS, 2),
    "media_texts": (lambda df, side: pipeline._media_texts(df),
                    pipeline.MEDIA_TEXT, PAIRS, PAIR_ROWS, 4),
    "context_prepass": (lambda df, side: context_prepass._unresolved_contexts(
        df, side.contexts), "doc_id string, context_url string", NARROW,
        NARROW_ROWS, 1),
    "decode": (lambda df, side: multimodal.decode_media(df),
               multimodal.DECODE_SCHEMA, HEAD, HEAD_ROWS, len(HEAD_ROWS)),
    "features": (lambda df, side: multimodal.extract_features(df, dim=8),
                 multimodal.FEATURE_SCHEMA, FULL, MEDIA_ROWS,
                 len(MEDIA_ROWS)),
    "resize": (lambda df, side: multimodal.resize_images(df, 4, 4),
               multimodal.RESIZE_SCHEMA, FULL, MEDIA_ROWS, len(MEDIA_ROWS)),
    "fused": (lambda df, side: multimodal.pixel_pass(
        df, ("decode", "features", "resize"), dim=8, width=4, height=4),
        "media_ref string, decode struct<container string, width int, "
        "height int, n_bytes long, ok string>, features struct<embedding "
        "array<float>, ok string>, resize struct<width int, height int, "
        "payload binary, ok string>", FULL, MEDIA_ROWS, len(MEDIA_ROWS)),
    "audio": (lambda df, side: multimodal.audio_metadata(df),
              multimodal.AUDIO_SCHEMA, HEAD, HEAD_ROWS, len(HEAD_ROWS)),
    "frames": (lambda df, side: multimodal.sample_frames(df, n_frames=3),
               multimodal.FRAME_SCHEMA, FULL, MEDIA_ROWS,
               3 * len(MEDIA_ROWS)),
}


def _batch(schema: pa.Schema, rows: list) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema)


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_stage_batches_have_the_declared_schema(spark, stage):
    build, declared, in_schema, rows, n_out = STAGES[stage]
    df = _Stage()
    kernel = build(df, _side(spark))
    if isinstance(declared, str):
        declared = DataType.fromDDL(declared)
    assert df.schema == declared
    want = to_arrow_schema(declared)

    out = list(kernel(iter([_batch(in_schema, []),
                            _batch(in_schema, rows)])))
    assert [b.num_rows for b in out] == [0, n_out]
    for b in out:
        assert b.schema == want


def test_rows_that_fan_out_to_nothing(spark):
    """The pre-pass emits a pair only for a document with an unresolved
    context; frames emit n_frames rows per payload, zero at n_frames=0."""
    side = _side(spark)
    kernel = context_prepass._unresolved_contexts(_Stage(), side.contexts)
    rows = [NARROW_ROWS[1], NARROW_ROWS[0], NARROW_ROWS[2], NARROW_ROWS[1],
            (*NARROW_ROWS[0][:1], 200, None, _page(_UNKNOWN_CTX), [], [])]
    [b] = kernel(iter([_batch(NARROW, rows)]))
    assert b.to_pylist() == [
        {"doc_id": "d1", "context_url": _UNKNOWN_CTX}] * 2

    none = multimodal.sample_frames(_Stage(), n_frames=0)
    [b] = none(iter([_batch(FULL, MEDIA_ROWS)]))
    assert b.num_rows == 0
    assert b.schema == to_arrow_schema(DataType.fromDDL(
        multimodal.FRAME_SCHEMA))


def test_href_pass_passes_rows_through(spark):
    """The oembed join's href pass returns every row as it came, plus the
    oembed href of a status-200 document with HTML (NULL otherwise), one
    row out per row in, a repeated doc_id included."""
    kernel = pipeline._oembed_hrefs(_Stage())
    rows = [*NARROW_ROWS, NARROW_ROWS[0],
            ("d5", 200, None, _page(_KNOWN_CTX), [], [])]
    [b] = kernel(iter([_batch(NARROW, rows)]))
    out = b.to_pylist()
    assert [tuple(r.values())[:6] for r in out] == rows
    assert [r["oembed_href"] for r in out] == [
        _OEMBED, None, None, None, _OEMBED, _OEMBED]


def test_map_rows_opens_once_per_task_and_fans_out(spark):
    opened = []

    def open_rows():
        opened.append(1)
        return lambda x: [(x, i) for i in range(x)]

    run = pipeline.map_rows(_Stage(), "x long, i int", open_rows)
    assert opened == []  # planning opens nothing
    batches = [pa.RecordBatch.from_pydict({"x": v}, pa.schema([("x",
                                                                pa.int64())]))
               for v in ([0, 2], [], [1, 0, 3])]
    out = list(run(iter(batches)))
    assert opened == [1]
    assert [b.to_pydict() for b in out] == [
        {"x": [2, 2], "i": [0, 1]}, {"x": [], "i": []},
        {"x": [1, 3, 3, 3], "i": [0, 0, 1, 2]}]


def test_map_rows_is_the_only_mapInArrow_call():
    pkg = Path(pipeline.__file__).resolve().parents[1]
    sites = [(p.relative_to(pkg).as_posix(), line.strip())
             for p in sorted(pkg.rglob("*.py"))
             for line in p.read_text().splitlines()
             if "mapInArrow(" in line]
    assert sites == [("operators/pipeline.py",
                      "return df.mapInArrow(run, schema)")]
    assert "df.mapInArrow(run, schema)" in inspect.getsource(
        pipeline.map_rows)


TEXT_T = pa.struct([("media_ref", pa.string()), ("media_text", pa.string()),
                    ("pdf_text", pa.string()), ("media_err", pa.string())])


def _texts(*rows):
    return [dict(zip((f.name for f in TEXT_T), r)) for r in rows]


def test_kernel_fills_media_placeholders_from_joined_texts(spark):
    """The media join's texts, joined after the narrow columns (and after
    the oembed join's payload), fill the kernel's placeholders: media_text
    into media spans, a non-NULL pdf_text into the pdf's body_text span;
    the earliest failing ref fails the doc; a NULL ref never matches."""
    sc = spark.sparkContext
    side = pipeline.SideTables(sc.broadcast(None), sc.broadcast(None),
                               sc.broadcast(None))
    html = "<html><head><title>T</title></head><body></body></html>"
    rows = [
        ("d1", 200, "https://ex.com/1", html, ["a.png", "b.pdf", "c.pdf"],
         ["media", "pdf", "pdf"],
         _texts(("b.pdf", "B", "pdf body", None), ("a.png", "A", None, None),
                ("c.pdf", "C", None, None), ("d.png", "D", None, "Boom"))),
        ("d2", 200, None, None, ["x.png", "y.png"], ["media", "media"],
         _texts(("y.png", "", None, "KeyError"),
                ("x.png", "", None, "ValueError"))),
        ("d3", 200, None, None, [None], ["media"],
         _texts((None, "N", None, None))),
        ("d4", 200, None, None, ["a.png"], ["media"], None),
    ]
    in_schema = pa.schema([*NARROW, ("media_texts", pa.list_(TEXT_T))])
    [b] = pipeline._map_kernel(_Stage(), side)(
        iter([_batch(in_schema, rows)]))
    got = {r["doc_id"]: ([(s["kind"], s["text"], s["media_ref"])
                          for s in r["spans"]], r["ok"])
           for r in b.to_pylist()}
    assert got == {
        "d1": ([("title", "T", None), ("media", "A", "a.png"),
                ("media", "B", "b.pdf"), ("body_text", "pdf body", "b.pdf"),
                ("media", "C", "c.pdf"), ("body_text", "", "c.pdf")], "ok"),
        "d2": ([], "ValueError"),
        "d3": ([("media", "", None)], "ok"),
        "d4": ([("media", "", "a.png")], "ok"),
    }

    # the fully joined plan: oembed payload, then the texts
    joined = pa.schema([*OEMBED_JOINED, ("media_texts", pa.list_(TEXT_T))])
    row = (*OEMBED_JOINED_ROWS[0], _texts(("a.png", "A", None, None),
                                          ("b.pdf", "B", "P", None)))
    [b] = pipeline._map_kernel(_Stage(), side)(
        iter([_batch(joined, [row])]))
    [r] = b.to_pylist()
    assert r["ok"] == "ok"
    assert [(s["kind"], s["text"]) for s in r["spans"]
            if s["media_ref"] in ("a.png", "b.pdf")] == [
        ("media", "A"), ("media", "B"), ("body_text", "P")]
    assert "From oembed" in {s["text"] for s in r["spans"]}
