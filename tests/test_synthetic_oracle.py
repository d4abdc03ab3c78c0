"""Engine vs the construction-time oracle on the seeded synthetic corpus
(FIXTURES.md §5 provenance class 2): span-sequence equality
(kind, text, media_ref, order) per document, pure Python (no Spark)."""

from unfurl_spark.functions.engine import document_spans
from unfurl_spark.sources.synthetic import generate_corpus


def test_synthetic_span_equality():
    c = generate_corpus(500, seed=42)
    oe = {r["ref"]: (r["status"], r["ctype"], r["body"])
          for r in c["oembed_docs"]}
    med = {r["media_ref"]: (r["ctype"], r["payload"])
           for r in c["media_payloads"]}
    exp = {r["doc_id"]: r["spans"] for r in c["expected_spans"]}

    fails = []
    for d in c["documents_raw"]:
        got = document_spans(d["doc_id"], d["spans"], status=d["status"],
                             oembed_store=oe, media_store=med)
        if got != exp[d["doc_id"]]:
            fails.append(d["doc_id"])
    assert not fails, f"{len(fails)} docs mismatched: {fails[:5]}"


def test_determinism_across_seeds():
    a = generate_corpus(50, seed=7)
    b = generate_corpus(50, seed=7)
    assert a == b
    c = generate_corpus(50, seed=8)
    assert c != a


def _html_pages(c):
    """(url, html, status) of every corpus document with HTML, reassembled
    as ``document_spans`` reassembles it."""
    for d in c["documents_raw"]:
        spans = sorted(d["spans"], key=lambda s: s.get("offset") or 0)
        html = "".join(s["text"] or "" for s in spans if s["kind"] == "html")
        if html:
            yield spans[0]["media_ref"] or d["doc_id"], html, d["status"]


def _website_spans(spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans
            if s["kind"] in ("title", "description", "og_image")]


def test_kernel_website_equals_scrape_html():
    """The Spark kernel's page path (``flat_document_spans``) and the
    reference-parity path (``scrape_html``) reach the same website: the
    title, description and og_image spans are scrape_html's headline,
    description and images, oembed included.  And the store the oembed
    join hands the kernel — the one entry the join matched, or none for
    a document it matched nothing to — gives the spans of the full store.
    The store lacks every third oembed document, so both occur."""
    from unfurl_spark.functions.engine import (
        find_oembed_href,
        flat_document_spans,
        scrape_html,
    )
    from unfurl_spark.functions.htmlmeta import parse_html

    c = generate_corpus(800, seed=7)
    store = {r["ref"]: (r["status"], r["ctype"], r["body"])
             for k, r in enumerate(c["oembed_docs"]) if k % 3}
    n_href = n_hit = n_changed = 0
    for url, html, status in _html_pages(c):
        spans = flat_document_spans(url, html, status, [],
                                    oembed_store=store)
        site = scrape_html(url, status, html, oembed_lookup=store.get)
        want = ([("title", site["headline"], None)]
                if site.get("headline") else [])
        want += ([("description", site["description"], None)]
                 if site.get("description") else [])
        want += [("og_image", img.get("description") or "", img.get("url"))
                 for img in site.get("image") or []]
        assert _website_spans(spans) == want, url

        href = (find_oembed_href(parse_html(html, url))
                if status == 200 else None)
        if href is None:
            continue
        n_href += 1
        one = {href: store[href]} if href in store else None
        n_hit += one is not None
        assert flat_document_spans(url, html, status, [],
                                   oembed_store=one) == spans, url
        n_changed += flat_document_spans(url, html, status, []) != spans
    assert 0 < n_hit < n_href
    assert n_changed == n_hit
