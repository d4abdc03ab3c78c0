"""narrow_columns edge semantics vs the library kernel (engine.document_spans):
NULL status, NULL/tied offsets — the Spark flatten must reproduce the pure
function's ordering and defaults exactly."""

from pyspark.sql import Row

from unfurl_spark.operators.pipeline import (
    extract_spans,
    extract_spans_joined,
    narrow_columns,
)


def _doc(doc_id, spans, status=None):
    mk = [Row(kind=k, text=t, media_ref=m, offset=o) for k, t, m, o in spans]
    if status is None:
        return Row(doc_id=doc_id, spans=mk)
    return Row(doc_id=doc_id, spans=mk, status=status)


def test_null_status_defaults_to_200_not_typeerror(spark):
    """A schema-mandated-but-absent status column arrives as NULL in
    streaming reads; every doc used to fail with ok='TypeError'."""
    df = spark.createDataFrame([
        Row(doc_id="d1",
            spans=[Row(kind="html", text="<title>T</title>",
                       media_ref="http://x/", offset=0)],
            status=None),
    ], "doc_id string, spans array<struct<kind:string,text:string,"
       "media_ref:string,offset:int>>, status int")
    out = extract_spans(df, salt=False).collect()
    assert out[0].ok == "ok"
    assert any(s.kind == "title" and s.text == "T" for s in out[0].spans)


def test_unterminated_ipv6_image_url_is_no_image(spark):
    """An og:image or twitter:image of ``//[::1`` (an unterminated IPv6
    host) resolves to no URL, as ``new URL()`` would throw: the document
    reads ok='ok' with no image span, not ok='ValueError'."""
    def page(meta):
        return ("<html><head><title>T</title>"
                f'<meta {meta} content="//[::1"></head>'
                "<body><p>text</p></body></html>")

    df = spark.createDataFrame([
        _doc(d, [("html", page(meta), "http://x.example/", 0)], status=200)
        for d, meta in (("og", 'property="og:image"'),
                        ("tw", 'name="twitter:image"'))])
    out = {r.doc_id: r for r in extract_spans(df, salt=False).collect()}
    assert sorted(out) == ["og", "tw"]
    for r in out.values():
        assert r.ok == "ok"
        assert [s.text for s in r.spans if s.kind == "title"] == ["T"]
        assert not [s for s in r.spans if s.kind == "og_image"]


def test_tied_and_null_offsets_match_kernel_order(spark):
    """engine.document_spans sorts stably by `offset or 0`. The Spark
    sort_array struct must not tie-break on kind/text (input order wins)
    nor sort NULL offsets before 0 (they tie with 0)."""
    from unfurl_spark.functions.engine import document_spans

    spans = [("html", "<title>B", "http://x/", 0),
             ("html", "A</title>", None, 0),     # tied offset: stays 2nd
             ("html", "<meta>", None, None)]     # null offset: ties as 0
    df = spark.createDataFrame([_doc("d1", spans)])
    got = narrow_columns(df).collect()[0]
    kernel = document_spans(
        "d1", [{"kind": k, "text": t, "media_ref": m, "offset": o}
               for k, t, m, o in spans], 200)
    # same html reassembly as the kernel (stable: B then A then meta)
    assert got.html == "<title>BA</title><meta>"
    assert any(s["kind"] == "title" and s["text"] == "BA"
               for s in kernel)
    out = extract_spans(df, salt=False).collect()[0]
    assert [ (s.kind, s.text) for s in out.spans ] == \
        [ (s["kind"], s["text"]) for s in kernel ]


def _regimes(df, oem, med):
    """``df`` extracted in every regime, in (broadcast, join) pairs over
    the same side tables: the oembed table, the media table and both."""
    for tables in ({"oembed_df": oem}, {"media_df": med},
                   {"oembed_df": oem, "media_df": med}):
        yield (extract_spans(df, num_partitions=2, **tables),
               extract_spans_joined(df, num_partitions=2, **tables))


def test_empty_spans_array_is_an_empty_ok_document(spark):
    """A document with no spans has no url: narrow_columns gives it a
    NULL url instead of failing the job (element_at on an empty array
    raises under ANSI mode), and every regime returns it as an empty,
    ok document."""
    df = spark.createDataFrame(
        [("e1", [])], "doc_id string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>")
    oem = spark.createDataFrame(
        [], "ref string, status int, ctype string, body string")
    med = spark.createDataFrame(
        [], "media_ref string, ctype string, payload binary")
    want = [("e1", [], 0, "ok")]
    for pair in _regimes(df, oem, med):
        for out in pair:
            assert [tuple(r) for r in out.collect()] == want


# 1x1 PNG with a real IHDR: its header parse gives a non-empty media text
_PNG = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00" + b"\x00\x00\x00\x00")


def test_null_doc_id_is_one_more_document(spark):
    """A NULL doc_id is one more lineage row, not a failed kernel stage:
    every regime returns it ok, with the same spans as broadcast — its
    media span filled in the media join too (a NULL key never matches
    in a plain equi-join, so the doc_id join is NULL-safe)."""
    html = "<html><head><title>T</title></head><body></body></html>"
    df = spark.createDataFrame(
        [(None, [("html", html, "https://ex.com/a", 0),
                 ("media", None, "https://ex.com/img.png", 1)]),
         ("d1", [("html", html, "https://ex.com/b", 0),
                 ("media", None, "https://ex.com/img.png", 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    oem = spark.createDataFrame(
        [], "ref string, status int, ctype string, body string")
    med = spark.createDataFrame(
        [("https://ex.com/img.png", "image/png", _PNG)],
        "media_ref string, ctype string, payload binary")

    def rows(out):
        return {r.doc_id: ([tuple(s) for s in r.spans], r.ok)
                for r in out.collect()}

    for broadcast, joined in _regimes(df, oem, med):
        want = rows(broadcast)
        assert want[None][1] == "ok"
        assert rows(joined) == want
    # with the media table, the NULL-id doc's media span is filled like
    # d1's (same html and ref)
    assert want[None] == want["d1"]
    assert [s[1] for s in want[None][0] if s[0] == "media"] != [""]


def test_oracle_check_canon_is_total():
    """canon() must order rows with None/mixed cells and inf floats
    instead of raising — a nullable output column used to abort the
    whole gate."""
    import math
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from oracle_check import canon, norm_cell

    cols, ms = canon([{"a": 1, "b": "x"}, {"a": None, "b": "y"},
                      {"a": float("nan"), "b": None},
                      {"a": 1.5, "b": "x"}])
    assert cols == ["a", "b"] and len(ms) == 4
    assert norm_cell(float("inf")) == "Inf"
    assert norm_cell(float("-inf")) == "-Inf"
