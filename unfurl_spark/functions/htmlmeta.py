"""Batched HTML metadata tokenizer — the engine's P1 stage.

Re-imagines the reference's streaming parse (htmlparser2 ``WritableStream``
driving the ``htmlmetaparser.Handler``, unfurl-html/src/index.ts:212-225) as
a columns-in/columns-out pure-Python kernel: one call per document, executed
by the engine's one Arrow row runner (operators/pipeline.py
``map_rows``) — no per-row Spark UDFs.

Output is the ``Result``-equivalent dict the extractors consume
(shape recovered from the reference's consumption sites, SURVEY.md §1.3):

    {
      "html":      {title, description, keywords, author, canonical,
                    language, "apple-mobile-web-app-title", ...},
      "twitter":   {<key after 'twitter:'>: str | [str, ...]},
      "sailthru":  {<key after 'sailthru.'>: str},
      "applinks":  {<key after 'al:'>: str},
      "dublincore":{...},
      "icons":     [{href, sizes, type}],            # href resolved
      "alternate": [{type, href, title, media}],     # href resolved
      "jsonld":    parsed JSON-LD value or list,
      "rdfa":      [RdfaNode],   # og:*/article:* etc, expanded-IRI keys
      "microdata": [node],       # itemscope trees, schema URL types
      "jsonld_blocks": [raw script text, document order],
    }
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser

from .coerce import whatwg_url

# RDFa initial-context prefixes relevant to the consumed key set
# (every graph key read by the extractors, unfurl-html/src/index.ts §2.3).
RDFA_PREFIXES = {
    "og": "http://ogp.me/ns#",
    "fb": "http://ogp.me/ns/fb#",
    "music": "http://ogp.me/ns/music#",
    "video": "http://ogp.me/ns/video#",
    "article": "http://ogp.me/ns/article#",
    "book": "http://ogp.me/ns/book#",
    "profile": "http://ogp.me/ns/profile#",
    "website": "http://ogp.me/ns/website#",
    "cc": "https://creativecommons.org/ns#",
    "dc": "http://purl.org/dc/terms/",
    "dcterms": "http://purl.org/dc/terms/",
    "dctypes": "http://purl.org/dc/dcmitype/",
    "schema": "http://schema.org/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "sioc": "http://rdfs.org/sioc/ns#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
}

_VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}
_ICON_RELS = {
    "icon", "shortcut icon", "apple-touch-icon", "apple-touch-icon-precomposed",
}
# oEmbed endpoint discovery for pages with no in-body discovery link is
# registry-backed: functions/oembed_providers.py bundles an offline subset
# of the public oembed.com providers.json (the reference gets the same
# behavior from htmlmetaparser's bundled provider data, consumed at
# unfurl-html/src/index.ts:96-99), always keyed by the FINAL page URL.
from .oembed_providers import discovery_href as _oembed_discovery_href
# <meta name=...> keys copied into result.html verbatim (consumed set plus
# common aliases seen in the fixture corpus).
_HTML_META_NAMES = {
    "description", "keywords", "author", "application-name", "generator",
    "apple-mobile-web-app-title", "theme-color", "robots", "language",
}

_WS = re.compile(r"\s+")


def _clean(value: str) -> str:
    """htmlmetaparser normalizes harvested values: collapse whitespace, trim
    (observed against the reference snapshots — newlines in meta content
    become single spaces)."""
    return _WS.sub(" ", value).strip()


def _set(mapping: dict, key: str, value: str) -> None:
    """Repeated meta keys overwrite (last wins — observed: duplicated
    al:/twitter: app tags yield scalars in the reference snapshots);
    empty values are skipped (observed: empty meta description yields
    an absent key, not '')."""
    if value == "":
        return
    mapping[key] = value


_UNSET = object()  # sentinel: frame saved no vocab


class _Frame:
    """One open element: carries any microdata item / text capture."""
    __slots__ = ("tag", "item", "text_parts", "capture_text",
                 "c_skip", "c_boiler", "c_anchor",
                 "rdfa_node", "rdfa_prev_vocab")

    def __init__(self, tag: str):
        self.tag = tag
        self.item: dict | None = None        # microdata itemscope node
        self.text_parts: list[str] | None = None  # text-content capture
        self.capture_text = False
        self.c_skip = False
        self.c_boiler = False
        self.c_anchor = False
        self.rdfa_node: dict | None = None   # RDFa typeof scope to pop
        self.rdfa_prev_vocab = _UNSET        # vocab to restore on close


# Boring tags — no live <title>, no RDFa/microdata/prefix attributes —
# never mutate their frame after open: every _Frame field is then a pure
# function of the tag name, so one immutable instance per tag is shared
# across the stack, the document, and all handler instances (~97k frame
# allocations per 4k docs profiled; read-only after construction, and
# CPython dict get/set are GIL-atomic).  The close-time skip/boiler/
# anchor counters live on the handler, not the frame.
_SHARED_FRAMES: dict = {}


# content-block segmentation sets (shared with functions/content.py — the
# body_text strip runs in the SAME parse pass as the metadata harvest)
_C_BLOCK = {
    "p", "div", "section", "article", "main", "li", "td", "th",
    "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    "figcaption", "summary", "dd", "dt", "br", "tr", "table", "ul", "ol",
}
_C_BLOCK_END = _C_BLOCK | {"body", "html"}
_C_SKIP = {"script", "style", "noscript", "template", "svg", "iframe",
           "object", "option", "select", "textarea", "head"}
_C_BOILER = {"nav", "header", "footer", "aside", "form", "menu"}


def _shared_frame(tag: str) -> _Frame:
    f = _SHARED_FRAMES.get(tag)
    if f is None:
        f = _Frame(tag)
        f.c_skip = tag in _C_SKIP
        f.c_boiler = tag in _C_BOILER
        f.c_anchor = tag == "a"
        if len(_SHARED_FRAMES) < 4096:  # hostile tag minting: stop caching
            _SHARED_FRAMES[tag] = f
    return f


class MetaHandler(HTMLParser):
    """Single-pass SAX-style harvest of every metadata source class,
    optionally also segmenting body text into content blocks."""

    def __init__(self, url: str, collect_content: bool = False):
        super().__init__(convert_charrefs=True)
        self.url = url
        self.result: dict = {"icons": [], "alternate": [], "jsonld_blocks": []}
        self._prefixes = dict(RDFA_PREFIXES)
        self._rdfa_root: dict = {"@id": url}
        self._rdfa_stack: list[dict] = [self._rdfa_root]  # current subject
        self._rdfa_items: list[dict] = []   # hanging-typeof top-level nodes
        self._rdfa_vocab: str | None = None  # active RDFa @vocab
        self._stack: list[_Frame] = []
        self._item_stack: list[dict] = []          # open microdata items
        self._micro_top: list[dict] = []
        # (keys, parts, item) triples waiting for element close
        self._script_jsonld = False
        self._script_parts: list[str] = []
        self._title_done = False
        self._n_capture = 0  # open frames with text capture (gates handle_data)
        # content-block state (body_text strip)
        self._content = collect_content
        self.blocks: list[tuple[str, int, bool]] = []  # (text, link_chars, boiler)
        self._c_parts: list[str] | None = None
        self._c_link_chars = 0
        self._c_boiler = False
        self._c_skip = 0
        self._c_boiler_depth = 0
        self._c_anchor = 0

    # line/column tracking is dead weight here (getpos is never consulted;
    # errors fall back per-document) — html.parser calls updatepos on every
    # token, ~4% of kernel time profiled
    def updatepos(self, i, j):  # noqa: D102 — HTMLParser internal
        return j

    # -- content blocks --------------------------------------------------------

    def _c_flush(self):
        if self._c_parts is None:
            return
        text = _WS.sub(" ", "".join(self._c_parts)).strip()
        if text:
            self.blocks.append((text, self._c_link_chars, self._c_boiler))
        self._c_parts = None
        self._c_link_chars = 0

    # -- helpers -------------------------------------------------------------

    def _map(self, name: str) -> dict:
        m = self.result.get(name)
        if m is None:
            m = self.result[name] = {}
        return m

    def _resolve(self, href: str) -> str:
        return whatwg_url(href, self.url) or href

    def _expand_curie(self, term: str) -> str | None:
        if term.startswith("http://") or term.startswith("https://"):
            return term
        if ":" not in term:
            # RDFa Lite bare term resolves against the active @vocab
            return self._rdfa_vocab + term if self._rdfa_vocab else None
        prefix, _, rest = term.partition(":")
        base = self._prefixes.get(prefix.lower())
        return base + rest if base else None

    def _rdfa_iris(self, attr: str) -> list[str]:
        return [iri for t in _WS.split(attr.strip()) if t
                for iri in (self._expand_curie(t),) if iri]

    def _rdfa_add(self, prop_attr: str, value) -> None:
        node = self._rdfa_stack[-1]
        for iri in self._rdfa_iris(prop_attr):
            node.setdefault(iri, []).append(value)

    def _vocab(self) -> str:
        for node in reversed(self._item_stack):
            for t in node.get("@type") or []:
                m = re.match(r"^(https?://[^#]*[/#])", t)
                if m:
                    return m.group(1)
        return "http://schema.org/"

    def _prop_keys(self, names_attr: str) -> list[str]:
        vocab = self._vocab()
        return [
            n if n.startswith("http") else vocab + n
            for n in _WS.split(names_attr.strip()) if n
        ]

    # -- tag handlers ----------------------------------------------------------

    _EMPTY_ATTRS: dict = {}  # shared read-only map for attribute-less tags

    def handle_starttag(self, tag, attrs):
        if attrs:
            a = {}
            for k, v in attrs:
                if k not in a:
                    a[k] = v if v is not None else ""
            # attributes that can mutate the frame at open (RDFa /
            # microdata / prefix) force a private _Frame instance
            special = ("property" in a or "typeof" in a or "vocab" in a
                       or "itemscope" in a or "itemprop" in a
                       or "prefix" in a)
        else:
            a = self._EMPTY_ATTRS
            special = False
        if special and "prefix" in a:  # RDFa 1.1 prefix declarations
            toks = _WS.split(a["prefix"].strip())
            for i in range(0, len(toks) - 1, 2):
                if toks[i].endswith(":"):
                    self._prefixes[toks[i][:-1].lower()] = toks[i + 1]

        frame = None
        if tag not in _VOID:
            if special or (tag == "title" and not self._title_done):
                frame = _Frame(tag)
                if self._content:
                    frame.c_skip = tag in _C_SKIP
                    frame.c_boiler = tag in _C_BOILER
                    frame.c_anchor = tag == "a"
            else:
                frame = _shared_frame(tag)
            self._stack.append(frame)

        if self._content:
            if frame is not None:
                if frame.c_skip:
                    self._c_skip += 1
                if frame.c_boiler:
                    self._c_boiler_depth += 1
                if frame.c_anchor:
                    self._c_anchor += 1
            elif tag == "a":  # (void-tag guard kept for parity)
                self._c_anchor += 1
            if tag in _C_BLOCK:
                self._c_flush()

        if tag == "title" and not self._title_done and frame is not None:
            frame.capture_text = True
            frame.text_parts = []
            self._n_capture += 1
        elif tag == "meta":
            self._handle_meta(a)
        elif tag == "link":
            self._handle_link(a)
        elif tag == "base" and "href" in a and "base_seen" not in self.result:
            self.result["base_seen"] = True
            resolved = whatwg_url(a["href"], self.url)
            if resolved:
                self.url = resolved
        elif tag == "script" and frame is not None:
            stype = (a.get("type") or "").split(";", 1)[0].strip().lower()
            self._script_jsonld = stype == "application/ld+json"
            self._script_parts = []

        # RDFa (Lite) on content-bearing elements: vocab scoping, typeof
        # chains (nested subjects), property literals/IRIs/text captures
        if tag != "meta" and ("property" in a or "typeof" in a
                              or "vocab" in a):
            self._rdfa_element(a, frame)

        # microdata
        if "itemscope" in a:
            node: dict = {}
            itemtype = a.get("itemtype")
            if itemtype:
                node["@type"] = [t for t in _WS.split(itemtype.strip()) if t]
            itemid = a.get("itemid")
            if itemid:
                node["@id"] = self._resolve(itemid)
            if "itemprop" in a and self._item_stack:
                parent = self._item_stack[-1]
                for key in self._prop_keys(a["itemprop"]):
                    parent.setdefault(key, []).append(node)
            else:
                self._micro_top.append(node)
            self._item_stack.append(node)
            if frame is not None:
                frame.item = node
            else:  # itemscope on a void element — close immediately
                self._item_stack.pop()
        elif "itemprop" in a and self._item_stack:
            self._micro_prop(tag, a, frame)

    def _rdfa_element(self, a: dict, frame: _Frame | None) -> None:
        """One RDFa-bearing element (htmlmetaparser builds the same node
        tree from these attributes; semantics follow RDFa Lite)."""
        void_prev_vocab = _UNSET  # restore-at-return for frameless elements
        if a.get("vocab"):
            if frame is not None:
                frame.rdfa_prev_vocab = self._rdfa_vocab
            else:
                # void element: @vocab scopes to this element only (it has
                # no descendants) — restore before returning, else the
                # vocab would leak to the rest of the document
                void_prev_vocab = self._rdfa_vocab
            self._rdfa_vocab = a["vocab"].strip()
        new_node: dict | None = None
        if "typeof" in a:
            new_node = {}
            subj = a.get("about") or a.get("resource")
            if subj:
                new_node["@id"] = self._resolve(subj)
            types = self._rdfa_iris(a["typeof"])
            if types:
                new_node["@type"] = types
        prop = a.get("property")
        if prop is not None:
            if new_node is not None:
                # property + typeof: the new subject is the value of
                # property on the ENCLOSING subject (RDFa chaining)
                self._rdfa_add(prop, new_node)
            else:
                content = a.get("content")
                if content is not None:
                    self._rdfa_add(prop, _clean(content))
                else:
                    ref = a.get("resource") or a.get("href") or a.get("src")
                    if ref:
                        self._rdfa_add(prop, {"@id": self._resolve(ref)})
                    elif frame is not None:
                        self._rdfa_text_prop(frame, prop)
        elif new_node is not None:
            # hanging typeof with no property: a new top-level item
            self._rdfa_items.append(new_node)
        if new_node is not None:
            if frame is not None:
                frame.rdfa_node = new_node
                self._rdfa_stack.append(new_node)
            # void element: subject scope closes immediately — no push
        if void_prev_vocab is not _UNSET:
            self._rdfa_vocab = void_prev_vocab

    def _rdfa_text_prop(self, frame: _Frame, prop_attr: str) -> None:
        """property with no content/resource: the element's text content
        becomes the literal (folded at close via the shared slot path)."""
        iris = self._rdfa_iris(prop_attr)
        if not iris:
            return
        if frame.text_parts is None:
            frame.capture_text = True
            frame.text_parts = []
            self._n_capture += 1
        slot: list = []
        node = self._rdfa_stack[-1]
        for iri in iris:
            node.setdefault(iri, []).append(slot)
        self._pending_text.append((frame, slot, frame.text_parts))

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in _VOID:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in _VOID:
            return
        stack = self._stack
        if stack and stack[-1].tag == tag:  # well-nested fast path (hot)
            self._close_frame(stack.pop())
            return
        # pop up to the matching open tag (lenient recovery)
        idx = None
        for i in range(len(stack) - 1, -1, -1):
            if stack[i].tag == tag:
                idx = i
                break
        if idx is None:
            return
        while len(stack) > idx:
            self._close_frame(stack.pop())

    def _close_frame(self, frame: _Frame) -> None:
        if frame.capture_text:
            self._n_capture -= 1
        if frame.rdfa_node is not None and self._rdfa_stack and \
                self._rdfa_stack[-1] is frame.rdfa_node:
            self._rdfa_stack.pop()
        if frame.rdfa_prev_vocab is not _UNSET:
            self._rdfa_vocab = frame.rdfa_prev_vocab
        if self._content:
            if frame.c_skip and self._c_skip > 0:
                self._c_skip -= 1
            if frame.c_boiler and self._c_boiler_depth > 0:
                self._c_boiler_depth -= 1
            if frame.c_anchor and self._c_anchor > 0:
                self._c_anchor -= 1
            if frame.tag in _C_BLOCK_END:
                self._c_flush()
        if frame.tag == "title" and frame.capture_text and frame.text_parts is not None:
            if not self._title_done:
                _set(self._map("html"), "title",
                     _clean("".join(frame.text_parts)))
                self._title_done = True
        elif frame.tag == "script":
            if self._script_jsonld:
                text = "".join(self._script_parts)
                self.result["jsonld_blocks"].append(text)
                try:
                    doc = json.loads(text)
                except Exception:
                    doc = None
                if doc is not None:
                    prev = self.result.get("jsonld")
                    if prev is None:
                        self.result["jsonld"] = doc
                    elif isinstance(prev, list) and prev and isinstance(
                            self.result.get("__jsonld_islist__"), bool):
                        prev.append(doc)
                    else:
                        self.result["jsonld"] = [prev, doc]
                        self.result["__jsonld_islist__"] = True
                self._script_jsonld = False
        elif frame.capture_text and frame.text_parts is not None:
            pass  # value already registered by reference into node list
        if frame.item is not None and self._item_stack and \
                self._item_stack[-1] is frame.item:
            self._item_stack.pop()

    def handle_data(self, data):
        if self._script_jsonld:
            self._script_parts.append(data)
            return
        if self._n_capture:
            for frame in self._stack:
                if frame.capture_text and frame.text_parts is not None:
                    frame.text_parts.append(data)
        if self._content and not self._c_skip and data \
                and not data.isspace():
            # script/style run through _Frame c_skip except inline <script>
            # without jsonld type — those still open a frame in _C_SKIP
            if self._c_parts is None:
                self._c_parts = []
                self._c_boiler = self._c_boiler_depth > 0
            self._c_parts.append(data)
            if self._c_anchor:
                # collapsed count, same units as the block text the
                # classifier divides by — raw counting would let a
                # whitespace-padded anchor push link_density past 1.0
                self._c_link_chars += len(_WS.sub(" ", data).strip())

    # -- meta/link -------------------------------------------------------------

    def _route_meta_key(self, key: str, content: str, is_property: bool) -> None:
        lk = key.strip()
        low = lk.lower()
        if low.startswith("twitter:"):
            _set(self._map("twitter"), lk[8:], content)
        elif low.startswith("sailthru."):
            _set(self._map("sailthru"), lk[9:], content)
        elif low.startswith("al:"):
            _set(self._map("applinks"), lk[3:], content)
        elif low.startswith("dc.") or low.startswith("dcterms."):
            _set(self._map("dublincore"), lk.split(".", 1)[1], content)
        elif is_property and ":" in lk:
            self._rdfa_add(lk, content)
        elif not is_property and low in _HTML_META_NAMES:
            _set(self._map("html"), low, content)

    def _handle_meta(self, a: dict) -> None:
        content = a.get("content")
        if content is None:
            return
        content = _clean(content)
        name = a.get("name")
        prop = a.get("property")
        # name and property are routed independently — real pages carry both
        # on one tag (e.g. name="twitter:image" property="og:image")
        if name is not None:
            self._route_meta_key(name, content, is_property=False)
        if prop is not None:
            self._route_meta_key(prop, content, is_property=True)
        if "itemprop" in a and self._item_stack:
            node = self._item_stack[-1]
            for k in self._prop_keys(a["itemprop"]):
                node.setdefault(k, []).append(content)

    def _handle_link(self, a: dict) -> None:
        # rel matching is case-sensitive (observed: rel="Shortcut Icon" is
        # NOT harvested while rel="shortcut icon" is)
        rel = (a.get("rel") or "").strip()
        href = a.get("href")
        if "itemprop" in a and href and self._item_stack:
            node = self._item_stack[-1]
            for k in self._prop_keys(a["itemprop"]):
                node.setdefault(k, []).append({"@id": self._resolve(href)})
        if not rel or href is None:
            return
        rel_norm = _WS.sub(" ", rel)
        if rel_norm == "canonical":
            _set(self._map("html"), "canonical", self._resolve(href))
        elif rel_norm in _ICON_RELS:
            resolved = self._resolve(href)
            # dedupe by href, later links overlay missing fields (observed:
            # duplicated favicon links collapse; a sizes-bearing repeat of a
            # sizeless link contributes its sizes)
            for icon in self.result["icons"]:
                if icon["href"] == resolved:
                    if a.get("sizes") is not None:
                        icon["sizes"] = a.get("sizes")
                    if a.get("type") is not None:
                        icon["type"] = a.get("type")
                    break
            else:
                self.result["icons"].append({
                    "href": resolved,
                    "sizes": a.get("sizes"),
                    "type": a.get("type"),
                })
        elif rel_norm == "alternate":
            self.result["alternate"].append({
                "type": a.get("type"),
                "href": self._resolve(href),
                "title": a.get("title"),
                "media": a.get("media"),
                "hreflang": a.get("hreflang"),
            })

    # -- microdata value props ----------------------------------------------------

    def _micro_prop(self, tag: str, a: dict, frame: _Frame | None) -> None:
        node = self._item_stack[-1]
        keys = self._prop_keys(a["itemprop"])
        value: object | None = None
        text_prop = False
        if tag in ("a", "link", "area"):
            # href as a plain string (observed: microdata keyword hrefs
            # surface through jsonLdValue, i.e. as @value, in the snapshots)
            href = a.get("href")
            value = self._resolve(href) if href else None
        elif tag in ("img", "audio", "video", "source", "embed", "iframe", "track"):
            src = a.get("src")
            value = {"@id": self._resolve(src)} if src else None
        elif tag == "time":
            value = a.get("datetime")
            text_prop = value is None
        elif tag == "data":
            value = a.get("value")
        elif tag == "object":
            d = a.get("data")
            value = {"@id": self._resolve(d)} if d else None
        elif tag == "meta":
            value = a.get("content", "")
        else:
            text_prop = True
        if text_prop and frame is not None:
            # reuse an existing capture list (an RDFa text property on the
            # same element already registered one — replacing it would
            # orphan that slot and silently blank the RDFa literal)
            if frame.text_parts is None:
                frame.capture_text = True
                frame.text_parts = []
                self._n_capture += 1
            slot: list = []
            for k in keys:
                node.setdefault(k, []).append(slot)
            # on close the shared slot path folds text_parts into slot
            self._pending_text.append((frame, slot, frame.text_parts))
            return
        if value is None:
            return
        for k in keys:
            node.setdefault(k, []).append(value)

    _pending_text: list

    # -- finish --------------------------------------------------------------------

    def finalize(self) -> dict:
        while self._stack:
            self._close_frame(self._stack.pop())
        if self._content:
            self._c_flush()
        for frame, slot, parts in self._pending_text:
            slot.append(_WS.sub(" ", "".join(parts)).strip())
        _strip_text_slots(self._micro_top)
        self.result.pop("__jsonld_islist__", None)
        self.result.pop("base_seen", None)
        provider_href = _oembed_discovery_href(self.url)
        if provider_href is not None:
            self.result["alternate"].append({
                "type": "application/json+oembed",
                "href": provider_href,
                "title": None, "media": None, "hreflang": None,
            })
        if self._micro_top:
            self.result["microdata"] = self._micro_top
        rdfa_nodes = ([self._rdfa_root] if len(self._rdfa_root) > 1 else []) \
            + self._rdfa_items
        if rdfa_nodes:
            _strip_text_slots(rdfa_nodes)
            self.result["rdfa"] = rdfa_nodes
        return self.result


def _strip_text_slots(nodes: list) -> None:
    """Replace single-element text slots [ 'text' ] with the text itself."""
    for node in nodes:
        if not isinstance(node, dict):
            continue
        for key, vals in node.items():
            if key.startswith("@") or not isinstance(vals, list):
                continue
            for i, v in enumerate(vals):
                if isinstance(v, list):
                    vals[i] = v[0] if v else ""
                elif isinstance(v, dict):
                    _strip_text_slots([v])


def parse_html(html_text: str, url: str) -> dict | None:
    """Parse one HTML document into the Result dict. Error → None
    (reference: parse failure → bare website, unfurl-html/src/index.ts:49-50).
    """
    result, _ = parse_html_full(html_text, url, collect_content=False)
    return result


def parse_html_full(html_text: str, url: str, collect_content: bool = True,
                    fast: bool = True) -> tuple[dict | None, list]:
    """One pass → (Result dict | None, content blocks).  Blocks are
    (text, link_chars, in_boilerplate_container) triples for the
    body_text classifier (functions/content.py).

    ``fast`` drives the handler with the single-pass document tokenizer
    (functions/tokenizer.py), which produces the same event stream as
    ``HTMLParser.feed`` + ``close`` without the incremental-feed
    machinery; ``fast=False`` is that stdlib driver, kept as the
    reference tests/test_fast_tokenizer.py asserts equivalence against."""
    handler = MetaHandler(url, collect_content=collect_content)
    handler._pending_text = []
    try:
        if fast:
            from .tokenizer import drive
            drive(handler, html_text)
        else:
            handler.feed(html_text)
            handler.close()
    except Exception:
        return None, []
    return handler.finalize(), handler.blocks
