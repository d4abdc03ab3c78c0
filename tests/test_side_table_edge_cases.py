"""Bit-identical broadcast/join parity on IMPERFECT inputs: docs that
repeat a media_ref, and side tables carrying duplicate keys.  The r1
implementation fanned these out in the join regime (cross-product spans /
duplicated docs); the broadcast dict silently deduped.  Both regimes now
share one deterministic one-row-per-key rule (pipeline.dedup_on_key)."""

import pytest
from pyspark.sql import functions as F

from unfurl_spark.operators.pipeline import (
    extract_spans,
    extract_spans_joined,
)

SPAN_T = ("array<struct<kind:string,text:string,media_ref:string,"
          "offset:int>>")


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, f"doc_id string, spans {SPAN_T}")


@pytest.fixture()
def repeat_ref_docs(spark):
    html = ("<html><head><title>T</title></head>"
            "<body><p>hello world body</p></body></html>")
    return _docs(spark, [
        ("d1", [("html", html, "https://ex.com/a", 0),
                ("media", None, "https://ex.com/img.png", 1),
                ("media", None, "https://ex.com/img.png", 2)]),
        ("d2", [("html", html, "https://ex.com/b", 0),
                ("media", None, "https://ex.com/other.png", 1)]),
    ])


# 1x1 PNG with real IHDR (header parse succeeds, deterministic output)
_PNG = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00" + b"\x00\x00\x00\x00")


def test_repeated_media_ref_no_fanout(spark, repeat_ref_docs):
    media = spark.createDataFrame(
        [("https://ex.com/img.png", "image/png", _PNG),
         ("https://ex.com/other.png", "image/png", _PNG)],
        "media_ref string, ctype string, payload binary")
    a = extract_spans(repeat_ref_docs, media_df=media, num_partitions=4)
    b = extract_spans_joined(repeat_ref_docs, media_df=media, num_partitions=4)
    ra = {r.doc_id: [tuple(s) for s in r.spans] for r in a.collect()}
    rb = {r.doc_id: [tuple(s) for s in r.spans] for r in b.collect()}
    assert ra == rb
    # both placeholder spans are filled — exactly two media spans for d1
    d1_media = [s for s in ra["d1"] if s[0] == "media"]
    assert len(d1_media) == 2 and all("png" in s[1] or s[1] == ""
                                      for s in d1_media)


def test_duplicate_media_rows_dedupe_identically(spark, repeat_ref_docs):
    media = spark.createDataFrame(
        [("https://ex.com/img.png", "image/png", _PNG),
         ("https://ex.com/img.png", "image/webp", _PNG),  # dup key!
         ("https://ex.com/other.png", "image/png", _PNG)],
        "media_ref string, ctype string, payload binary")
    a = extract_spans(repeat_ref_docs, media_df=media, num_partitions=4)
    b = extract_spans_joined(repeat_ref_docs, media_df=media, num_partitions=4)
    assert a.count() == 2 and b.count() == 2  # no doc duplication
    ra = {r.doc_id: [tuple(s) for s in r.spans] for r in a.collect()}
    rb = {r.doc_id: [tuple(s) for s in r.spans] for r in b.collect()}
    assert ra == rb


def test_duplicate_oembed_rows_dedupe_identically(spark):
    html = ('<html><head><title>T</title>'
            '<link rel="alternate" type="application/json+oembed" '
            'href="https://oe.example/x">'
            '</head><body><p>content here</p></body></html>')
    docs = _docs(spark, [
        ("d1", [("html", html, "https://ex.com/a", 0)]),
    ])
    oem = spark.createDataFrame(
        [("https://oe.example/x", 200, "application/json",
          '{"title": "A"}'),
         ("https://oe.example/x", 200, "application/json",
          '{"title": "B"}')],  # dup key, different payloads
        "ref string, status int, ctype string, body string")
    a = extract_spans(docs, oembed_df=oem, num_partitions=4)
    b = extract_spans_joined(docs, oembed_df=oem, num_partitions=4)
    assert a.count() == 1 and b.count() == 1  # the r1 join fanned to 2
    ra = [tuple(s) for s in a.collect()[0].spans]
    rb = [tuple(s) for s in b.collect()[0].spans]
    assert ra == rb


def test_ok_column_parity_on_weird_payloads(spark, repeat_ref_docs):
    """Defensive parsers mean no payload throws today (tests/test_fuzz.py),
    so ok must be 'ok' in BOTH regimes even for garbage/None payloads; if a
    parser ever starts throwing, the join path now propagates the earliest
    failing span's error identically to the broadcast path."""
    media = spark.createDataFrame(
        [("https://ex.com/img.png", None, b"\x00garbage"),
         ("https://ex.com/other.png", "image/png", b"")],
        "media_ref string, ctype string, payload binary")
    a = extract_spans(repeat_ref_docs, media_df=media, num_partitions=4)
    b = extract_spans_joined(repeat_ref_docs, media_df=media, num_partitions=4)
    oa = {r.doc_id: r.ok for r in a.collect()}
    ob = {r.doc_id: r.ok for r in b.collect()}
    assert oa == ob == {"d1": "ok", "d2": "ok"}


def test_same_ref_as_media_and_pdf_no_fanout(spark):
    """One doc referencing the SAME payload under both 'media' and 'pdf'
    span kinds: the overlay join must stay one-row-per-(doc,ref) — two
    pair rows would double every matching span in the rebuilt array."""
    html = ("<html><head><title>T</title></head>"
            "<body><p>hello world body text</p></body></html>")
    pdf = b"%PDF-1.4\n%%EOF\n"
    docs = _docs(spark, [
        ("d1", [("html", html, "https://ex.com/a", 0),
                ("media", None, "https://ex.com/f.pdf", 1),
                ("pdf", None, "https://ex.com/f.pdf", 2)]),
    ])
    media = spark.createDataFrame(
        [("https://ex.com/f.pdf", "application/pdf", pdf)],
        "media_ref string, ctype string, payload binary")
    a = extract_spans(docs, media_df=media, num_partitions=2)
    b = extract_spans_joined(docs, media_df=media, num_partitions=2)
    ra = {r.doc_id: [tuple(s) for s in r.spans] for r in a.collect()}
    rb = {r.doc_id: [tuple(s) for s in r.spans] for r in b.collect()}
    assert ra == rb
    offsets = [s[3] for s in rb["d1"]]
    assert len(offsets) == len(set(offsets))  # no duplicated span rows


def test_repeated_doc_id_rows_keep_their_own_spans(spark):
    """Two input rows sharing a doc_id: the media join gives each row its
    own spans, as the broadcast path does — not both rows' spans."""
    html = ("<html><head><title>T%d</title></head>"
            "<body><p>hello world body</p></body></html>")
    docs = _docs(spark, [
        ("d1", [("html", html % 1, "https://ex.com/a", 0),
                ("media", None, "https://ex.com/img.png", 1)]),
        ("d1", [("html", html % 2, "https://ex.com/b", 0),
                ("media", None, "https://ex.com/other.png", 1)]),
    ])
    media = spark.createDataFrame(
        [("https://ex.com/img.png", "image/png", _PNG),
         ("https://ex.com/other.png", "image/png", _PNG)],
        "media_ref string, ctype string, payload binary")
    a = extract_spans(docs, media_df=media, num_partitions=4)
    b = extract_spans_joined(docs, media_df=media, num_partitions=4)
    ra = sorted([tuple(s) for s in r.spans] for r in a.collect())
    rb = sorted([tuple(s) for s in r.spans] for r in b.collect())
    assert len(rb) == 2
    assert ra == rb


def test_repeated_doc_id_rows_each_join_their_own_oembed(spark):
    """Two input rows sharing a doc_id, each naming its own oembed href:
    the oembed join keeps one output row per input row, each with its
    own oembed title, as the broadcast path does."""
    html = ('<html><head><title>T</title>'
            '<link rel="alternate" type="application/json+oembed" '
            'href="https://oe.example/%s">'
            '</head><body><p>content here</p></body></html>')
    docs = _docs(spark, [
        ("d1", [("html", html % "x", "https://ex.com/a", 0)]),
        ("d1", [("html", html % "y", "https://ex.com/b", 0)]),
    ])
    oem = spark.createDataFrame(
        [("https://oe.example/x", 200, "application/json",
          '{"title": "X"}'),
         ("https://oe.example/y", 200, "application/json",
          '{"title": "Y"}')],
        "ref string, status int, ctype string, body string")
    a = extract_spans(docs, oembed_df=oem, num_partitions=4)
    b = extract_spans_joined(docs, oembed_df=oem, num_partitions=4)
    ra = sorted([tuple(s) for s in r.spans] for r in a.collect())
    rb = sorted([tuple(s) for s in r.spans] for r in b.collect())
    assert len(rb) == 2
    assert ra == rb
    assert {s[1] for r in rb for s in r if s[0] == "title"} == {"X", "Y"}
