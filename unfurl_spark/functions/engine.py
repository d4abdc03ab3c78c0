"""Per-document extraction kernel — the fused P1+P4+C1-C15 stage.

One pure function, ``scrape_document``, reproduces the reference's whole
middleware chain for a single page (unfurl/src/index.ts:171-188 +
unfurl-html/src/index.ts:41-87): MIME dispatch, HTML tokenize, JSON-LD
normalize, oembed lookup, field extraction, media/pdf metadata, link
fallback.  It is deliberately free of I/O: sub-request documents (oembed
payloads, remote JSON-LD contexts) arrive as arguments, so on Spark they
come from broadcast/joined side tables and the kernel runs Arrow-batched
with no executor network access.

The HTML plugin after the parse is written once, ``_website``: the
reference-parity path (``scrape_html``) and the Spark kernel's span path
(``flat_document_spans``) differ only in the parse they run before it
and in what they do with the website it returns.
"""

from __future__ import annotations

import json

from .coerce import content_type_of, extract_mime
from .extract import extract_website, to_array
from .htmlmeta import parse_html
from .jsonld_lite import normalize_jsonld

CONTENT_TYPE_JSON = "application/json"
CONTENT_TYPE_OEMBED = "application/json+oembed"


def find_oembed_href(metadata: dict | None) -> str | None:
    """First ``application/json+oembed`` alternate link
    (unfurl-html/src/index.ts:96-99)."""
    if not metadata:
        return None
    for alt in metadata.get("alternate", []):
        if alt.get("type") == "application/json+oembed":
            return alt.get("href")
    return None


def parse_oembed(status: int, ctype: str, body: str | bytes | None) -> dict | None:
    """Gate + parse an oembed sub-request payload
    (unfurl-html/src/index.ts:101-122): 200 + json type + object payload."""
    mime = extract_mime(ctype or "")
    if status != 200 or mime not in (CONTENT_TYPE_JSON, CONTENT_TYPE_OEMBED):
        return None
    if body is None:
        return None
    try:
        if isinstance(body, bytes):
            body = body.decode("utf-8")
        data = json.loads(body)
    except Exception:
        return None
    if isinstance(data, dict):
        return data
    return None


def _website(url: str, status: int, metadata: dict | None,
             context_store: dict | None, oembed_lookup) -> dict:
    """The HTML plugin after the parse (unfurl-html/src/index.ts:41-87,
    :92-122): the JSON-LD graph, the oembed sub-request, the field
    extractors.  ``oembed_lookup(href) -> (status, ctype, body) | None``
    answers the sub-request from a side table; it is asked only for a
    status-200 page that names an oembed href.  ``metadata`` None (the
    parse failed) gives the bare website."""
    graph = oembed = None
    if metadata is not None:
        docs = (to_array(metadata.get("jsonld"))
                + to_array(metadata.get("rdfa"))
                + to_array(metadata.get("microdata")))
        graph = normalize_jsonld(docs, url, context_store)
        if status == 200 and oembed_lookup is not None:
            href = find_oembed_href(metadata)
            sub = None if href is None else oembed_lookup(href)
            if sub is not None:
                oembed = parse_oembed(*sub)
    return extract_website(url, metadata, graph, oembed)


def scrape_html(url: str, status: int, html_text: str,
                context_store: dict | None = None,
                oembed_lookup=None) -> dict:
    """The HTML plugin for one page (unfurl-html/src/index.ts:41-87):
    ``parse_html``, then ``_website``.  ``oembed_lookup`` emulates the
    record-scoped oembed sub-request (see ``_website``)."""
    return _website(url, status, parse_html(html_text, url), context_store,
                    oembed_lookup)


def document_spans(doc_id: str, spans: list[dict],
                   status: int = 200,
                   oembed_store: dict | None = None,
                   context_store: dict | None = None,
                   media_store: dict | None = None) -> list[dict]:
    """One interleaved input row → the ordered output span sequence
    (SURVEY.md §2.6): title, description, og_image*, jsonld*, body_text*,
    media*.  Pure function — the Spark stage runs its flat twin,
    ``flat_document_spans``, through the engine's one Arrow row runner
    (operators/pipeline.py ``map_rows``).

    ``spans`` is the input span list (kind ∈ html|pdf|media); the first
    span's media_ref is the page URL.  ``oembed_store`` maps discovery href
    → (status, ctype, body); ``media_store`` maps media_ref → (ctype,
    payload bytes) for media/pdf spans.
    """
    if not spans:
        return []
    ordered = sorted(spans, key=lambda s: s.get("offset") or 0)
    url = ordered[0].get("media_ref") or doc_id
    html_text = "".join(
        s.get("text") or "" for s in ordered if s.get("kind") == "html")
    media = [(s.get("media_ref"), s.get("kind")) for s in ordered
             if s.get("kind") in ("media", "pdf")]
    return flat_document_spans(url, html_text, status,
                               [r for r, _ in media],
                               oembed_store, context_store, media_store,
                               media_kinds=[k for _, k in media])


def flat_document_spans(url: str, html_text: str, status: int,
                        media_refs: list,
                        oembed_store: dict | None = None,
                        context_store: dict | None = None,
                        media_store: dict | None = None,
                        media_kinds: list | None = None) -> list[dict]:
    """Flat-column kernel: (url, reassembled html, status, media refs) →
    ordered output spans.  This is the shape the Spark stage feeds after
    JVM-side span flattening (operators/pipeline.py).

    The page is ``parse_html_full`` (metadata and the body-text blocks in
    one pass) plus ``_website`` — the same plugin body ``scrape_html``
    runs — with ``oembed_store`` (discovery href → (status, ctype, body))
    as its oembed lookup.  Both scale regimes pass a store: the broadcast
    side table, or under the oembed join the one entry the join matched
    to this document.  Every regime calls this once per document.
    """
    from .content import classify_blocks
    from .htmlmeta import parse_html_full

    out: list[dict] = []

    def emit(kind: str, text: str | None, media_ref: str | None = None):
        out.append({"kind": kind, "text": text, "media_ref": media_ref,
                    "offset": len(out)})

    if html_text:
        metadata, raw_blocks = parse_html_full(html_text, url)
        site = _website(url, status, metadata, context_store,
                        None if oembed_store is None else oembed_store.get)
        if site.get("headline"):
            emit("title", site["headline"])
        if site.get("description"):
            emit("description", site["description"])
        for img in site.get("image") or []:
            emit("og_image", img.get("description") or "", img.get("url"))
        for block in (metadata or {}).get("jsonld_blocks", []):
            emit("jsonld", block)
        for block in classify_blocks(raw_blocks):
            emit("body_text", block)

    kinds = media_kinds if media_kinds is not None \
        else ["media"] * len(media_refs)
    for ref, mkind in zip(media_refs, kinds):
        extracted = body_text = None
        if media_store is not None and ref in media_store:
            ctype, payload = media_store[ref]
            extracted, body_text = media_span_texts(ref, ctype, payload,
                                                    mkind)
        emit("media", extracted or "", ref)
        if mkind == "pdf":
            # PDF main content (north-rule "PDF/layout parse"): the span
            # is ALWAYS present for pdf-kind refs — empty text when the
            # payload is unavailable (the media join fills it from the
            # joined payload's text, bit-identically)
            emit("body_text", body_text or "", ref)

    return out


def media_span_texts(ref: str, ctype: str | None, payload: bytes,
                     kind: str) -> tuple[str, str | None]:
    """One media/pdf ref's span texts: its exif/exiftool snippet as
    sorted JSON, and for a ``pdf``-kind ref its body text (else None).
    Both extraction regimes call this — the broadcast media store and the
    media join (operators/pipeline.py)."""
    snippet = scrape_document(ref, 200, {"content-type": ctype}, None,
                              body_bytes=payload,
                              plugins=("exif", "exiftool"))
    extracted = json.dumps(snippet, default=str, sort_keys=True,
                           ensure_ascii=False)
    if kind != "pdf":
        return extracted, None
    from .pdftext import pdf_text
    return extracted, pdf_text(payload)


def scrape_document(url: str, status: int, headers: dict,
                    body_text: str | None,
                    body_bytes: bytes | None = None,
                    context_store: dict | None = None,
                    oembed_lookup=None,
                    plugins: tuple = ("html",)) -> dict:
    """Full middleware chain for one page.  ``plugins`` mirrors the
    reference's per-package test configs: ("html",) / ("exif",) /
    ("exiftool",) / or the product chain ("html", "exif", "exiftool")."""
    mime = content_type_of(headers or {})

    for plugin in plugins:
        if plugin == "html" and mime == "text/html":
            return scrape_html(url, status, body_text or "", context_store,
                               oembed_lookup)
        if plugin == "exif" and mime.startswith("image/"):
            from .media import exif_image
            return exif_image(url, body_bytes or b"", mime)
        if plugin == "exiftool":
            from .media import exiftool_image, exiftool_pdf, exiftool_video
            if mime == "application/pdf":
                return exiftool_pdf(url, body_bytes or b"")
            if mime.startswith("image/"):
                return exiftool_image(url, body_bytes or b"")
            if mime.startswith("video/"):
                return exiftool_video(url, body_bytes or b"")

    return {"type": "link", "url": url}
