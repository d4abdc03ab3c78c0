"""Event-stream equivalence of the single-pass tokenizer
(functions/tokenizer.drive) against the stdlib HTMLParser driver: the two
paths must produce IDENTICAL parse results (full Result dict + content
blocks) on every reference fixture body and on adversarial hypothesis
markup."""

from pathlib import Path

import pytest

from unfurl_spark.functions.charset import decode_html
from unfurl_spark.functions.htmlmeta import parse_html_full

FIXTURES = Path("/root/reference/packages/test/fixtures")


def _bodies():
    out = []
    for d in sorted(FIXTURES.iterdir()):
        body = d / "body"
        meta = d / "meta.json"
        if not body.is_file() or not meta.is_file():
            continue
        import json
        m = json.loads(meta.read_text())
        ct = m.get("headers", {}).get("content-type") or ""
        if isinstance(ct, list):
            ct = ct[0] if ct else ""
        if not ct.split(";")[0].strip().lower() == "text/html":
            continue
        out.append((d.name, decode_html(body.read_bytes(), ct),
                    m.get("url", "https://x.example/")))
    return out


def test_fixture_corpus_equivalence():
    bodies = _bodies()
    assert len(bodies) > 60  # the corpus's html fixtures
    for name, text, url in bodies:
        slow = parse_html_full(text, url, fast=False)
        fast = parse_html_full(text, url, fast=True)
        assert fast == slow, f"tokenizer divergence on fixture {name}"


ADVERSARIAL = [
    "", "<", ">", "</>", "</", "<x", "<3 &amp; <4",
    "a & b &amp; c &#65; &#x41; &notareal; &",
    "<p>text<p>more</p>", "<P ATTR=V>X</P>",
    "<a href='x&amp;y' title=\"q&quot;z\">t</a>",
    "<script>if (a < b && c > d) { x(); }</script><p>after</p>",
    "<script>unterminated...",
    "<script>x</ScRiPt ><i>y</i>",
    "<style>a { content: '</p>'; }</style>",
    "<!-- comment <p>not a tag</p> --><p>real</p>",
    "<!-- unterminated comment <p>swallowed",
    "<!DOCTYPE html><html><body>x</body></html>",
    "<!doctype html\n  SYSTEM 'about:legacy-compat'><p>y</p>",
    "<![CDATA[ raw <b>stuff</b> ]]><p>z</p>",
    "<!--[if IE]><p>ie</p><![endif]--><p>all</p>",
    "<?php echo '<b>no</b>'; ?><p>w</p>",
    "<div a b=1 c = '2' d=\"3\" e*bogus=4>t</div>",
    "<div/ >odd</div>", "<br/><br />", "<div / >x",
    "<a href=>empty</a>", "<a =weird>x</a>",
    "<div unclosed <span>recover</span>",
    "<p>trailing open <",
    "<p>amp at end &",
    "<p>amp-hash &#",
    "</ bogus endtag>after",
    "</div extra junk>after",
    "<meta charset=utf-8><title>T &eacute; T</title>",
    "<td nowrap>old school</td>",
    "﻿<html><body>bom</body></html>",
    "<svg><![FOO[bad section",
    # cdata closes: truncated / near-miss / spaced — the fast path's close
    # regex must carry the stdlib's full `</\s*script\s*>` pattern or the
    # unterminated-tail drop diverges
    '<script type="application/ld+json">{"a":1}</script',
    "<p><script>var a=1;</scriptx>rest</script>done",
    "<p><script>x</scripts></script>ok",
    "<style>a{}</style",
    "<script>a</ script >b",
    "<script>one</SCRIPT >two",
]


@pytest.mark.parametrize("snippet", ADVERSARIAL)
def test_adversarial_snippets(snippet):
    slow = parse_html_full(snippet, "https://x.example/a", fast=False)
    fast = parse_html_full(snippet, "https://x.example/a", fast=True)
    assert fast == slow


def test_hypothesis_markup_equivalence():
    from datetime import timedelta

    from hypothesis import given, settings
    from hypothesis import strategies as st

    tokens = st.sampled_from([
        "<", ">", "&", ";", "/", "!", "?", "-", "--", "=", "'", '"',
        "p", "div", "script", "style", "a", "meta", "amp", "#65", "x41",
        " ", "\n", "\t", "text", "<!--", "-->", "<![CDATA[", "]]>",
        "<p>", "</p>", "<script>", "</script>", "<!doctype html>",
        "href", "content", "property", "og:title",
    ])

    @settings(max_examples=300, deadline=timedelta(seconds=1))
    @given(st.lists(tokens, max_size=40))
    def check(parts):
        text = "".join(parts)
        slow = parse_html_full(text, "https://x.example/h", fast=False)
        fast = parse_html_full(text, "https://x.example/h", fast=True)
        assert fast == slow, repr(text)

    check()
