"""Non-UTF-8 HTML round-trips: BOM / content-type / meta-prescan charset
sniffing at the byte boundary (functions/charset), driven end-to-end
through page_to_spans → the Spark extraction pipeline."""

from pyspark.sql import functions as F

from unfurl_spark.functions.charset import decode_html, sniff_charset
from unfurl_spark.sources.fixtures import page_to_spans


def test_sniff_order():
    assert sniff_charset(b"\xef\xbb\xbfhello") == "utf-8-sig"
    # plain utf-16 consumes the BOM (utf-16-le/-be would leak U+FEFF
    # into the decoded document text)
    assert sniff_charset(b"\xff\xfeh\x00") == "utf-16"
    assert sniff_charset(b"\xfe\xff\x00h") == "utf-16"
    assert decode_html(b"\xff\xfe" + "<title>hi</title>".encode("utf-16-le")
                       ) == "<title>hi</title>"
    assert decode_html(b"\xfe\xff" + "<title>hi</title>".encode("utf-16-be")
                       ) == "<title>hi</title>"
    # WHATWG: the iso-8859-1 label decodes as windows-1252 (the C1 range
    # carries smart quotes/dashes on real pages labeled latin-1)
    assert sniff_charset(b"<html>", "text/html; charset=ISO-8859-1") == \
        "cp1252"
    assert sniff_charset(
        b'<html><head><meta charset="Shift_JIS"></head>') == "shift_jis"
    assert sniff_charset(
        b'<html><head><meta http-equiv="Content-Type" '
        b'content="text/html; charset=gb2312"></head>') == "gbk"
    # content-type param beats meta prescan
    assert sniff_charset(
        b'<meta charset="shift_jis">',
        "text/html; charset=windows-1251") == "cp1251"
    # unknown labels degrade to utf-8, never raise
    assert sniff_charset(b"<html>", "text/html; charset=x-bogus-enc") == \
        "utf-8"
    assert sniff_charset(b"plain") == "utf-8"


def test_decode_latin1():
    html = "<html><head><title>Café Señor</title></head></html>"
    assert decode_html(html.encode("latin-1"),
                       "text/html; charset=iso-8859-1") == html


def test_decode_shift_jis_meta():
    title = "日本語のタイトル"
    html = (f'<html><head><meta charset="shift_jis">'
            f"<title>{title}</title></head></html>")
    assert title in decode_html(html.encode("shift_jis"))


def _page(body: bytes, ctype: str):
    return {"url": "https://enc.example.com/page", "status": 200,
            "headers": {"content-type": ctype}, "body": body}


def test_latin1_page_spans_roundtrip(spark):
    html = ("<html><head><title>Café Señor</title>"
            '<meta name="description" content="Crème brûlée à côté">'
            "</head><body><p>voilà un paragraphe assez long pour le strip"
            " de contenu principal</p></body></html>")
    page = _page(html.encode("latin-1"), "text/html; charset=iso-8859-1")
    row = page_to_spans(page)
    assert "Café Señor" in row["spans"][0]["text"]

    from unfurl_spark.operators.pipeline import extract_spans
    df = spark.createDataFrame(
        [(row["doc_id"], row["spans"])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = extract_spans(df, num_partitions=2).select(
        F.explode("spans").alias("s")).select("s.kind", "s.text").collect()
    spans = {r.kind: r.text for r in out}
    assert spans["title"] == "Café Señor"
    assert spans["description"] == "Crème brûlée à côté"


def test_shift_jis_page_spans_roundtrip(spark):
    title = "日本語のタイトル"
    desc = "これは説明文です"
    html = (f'<html><head><meta charset="shift_jis"><title>{title}</title>'
            f'<meta name="description" content="{desc}"></head>'
            f"<body><p>{'本文 ' * 30}</p></body></html>")
    page = _page(html.encode("shift_jis"), "text/html")
    row = page_to_spans(page)

    from unfurl_spark.operators.pipeline import extract_spans
    df = spark.createDataFrame(
        [(row["doc_id"], row["spans"])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    out = extract_spans(df, num_partitions=2).select(
        F.explode("spans").alias("s")).select("s.kind", "s.text").collect()
    spans = {r.kind: r.text for r in out}
    assert spans["title"] == title
    assert spans["description"] == desc


def test_mojibake_without_sniffing():
    """Regression guard: the naive fixed-utf-8 decode this replaces really
    does mangle the latin-1 fixture (the bug class the sniffer closes)."""
    raw = "Café".encode("latin-1")
    assert "Café" not in raw.decode("utf-8", "replace")
    assert decode_html(raw, "text/html; charset=latin1") == "Café"


def test_decode_never_raises_property():
    """Property: decode_html is total — arbitrary bytes with arbitrary
    content-type strings decode to SOME str, never raise."""
    from datetime import timedelta

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=timedelta(seconds=1))
    @given(st.binary(max_size=2048),
           st.one_of(st.none(), st.text(max_size=64)))
    def check(data, ctype):
        out = decode_html(data, ctype)
        assert isinstance(out, str)

    check()


def test_utf16_bom_not_leaked_into_title():
    """A BOM-prefixed UTF-16 page must not leak U+FEFF into the decoded
    document (utf-16-le/-be codecs would emit it as leading text)."""
    html = "<html><head><title>hi</title></head></html>"
    for enc, bom in (("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff")):
        page = _page(bom + html.encode(enc), "text/html")
        row = page_to_spans(page)
        text = row["spans"][0]["text"]
        assert text == html and "﻿" not in text


def test_whatwg_label_registry_complete():
    """Table-driven check over the full WHATWG label registry: every label
    resolves, non-sentinel codecs are real python codecs, and the spec's
    cross-family mappings hold."""
    import codecs as pycodecs

    from unfurl_spark.functions.charset import _ENCODINGS, resolve_label

    n_labels = 0
    for codec, labels in _ENCODINGS.items():
        if codec not in ("replacement", "x-user-defined"):
            pycodecs.lookup(codec)  # raises if not a real codec
        for lab in labels:
            n_labels += 1
            assert resolve_label(lab) == codec, lab
            assert resolve_label(lab.upper()) == codec, lab  # case-fold
    assert n_labels >= 210  # the registry is ~220 labels

    # spec cross-family mappings
    assert resolve_label("iso-8859-9") == "cp1254"
    assert resolve_label("ascii") == "cp1252"
    assert resolve_label("iso-8859-11") == "cp874"
    assert resolve_label("koi8-ru") == "koi8_u"
    assert resolve_label("x-mac-ukrainian") == "mac_cyrillic"


def test_replacement_and_user_defined_sentinels():
    # replacement: whole stream → a single U+FFFD, empty stays empty
    assert decode_html(b"\x1b$)Cabc",
                       "text/html; charset=iso-2022-kr") == "�"
    assert decode_html(b"", "text/html; charset=hz-gb-2312") == ""
    # x-user-defined: ascii passthrough, 0x80+n → U+F780+n
    out = decode_html(b"ab\x80\xff", "text/html; charset=x-user-defined")
    assert out == "ab" + chr(0xF780) + chr(0xF7FF)


def test_c1_smart_quotes_under_latin1_label():
    # 0x93/0x94 are curly quotes in cp1252; a strict latin-1 decode
    # would emit invisible C1 controls
    raw = b"\x93hello\x94"
    assert decode_html(raw, "text/html; charset=iso-8859-1") == "“hello”"
