"""Field extractors — the precedence-coalesce family (C1–C15).

Pure-Python re-expression of the reference's 15 ``getX`` extractors
(unfurl-html/src/index.ts:371-1170), operating on the tokenizer Result,
the normalized JSON-LD graph and the oembed doc for ONE document.  Runs
Arrow-batched inside the fused extract stage; the Spark-native coalesce
variants of the same shapes live in operators/relational.py.

JS semantics are mirrored exactly — including truthiness (empty arrays are
truthy, so e.g. the og video:tag branch of getTags and the twitter image
*append* path are unreachable, matching the reference's snapshots).
"""

from __future__ import annotations

import math
import re

from .coerce import (
    decode,
    js_number,
    to_date,
    to_number,
    to_twitter_handle,
    to_url,
)

OG = "http://ogp.me/ns#"
ARTICLE = "http://ogp.me/ns/article#"
SCHEMA = "http://schema.org/"
DCTERMS = "http://purl.org/dc/terms/"
CC = "https://creativecommons.org/ns#"


# --- JS-semantics helpers ----------------------------------------------------

def truthy(v: object) -> bool:
    """JavaScript truthiness (arrays/objects truthy, NaN/''/0 falsy)."""
    if type(v) is str:  # hottest case by far (profiled) — exact-type fast path
        return v != ""
    if v is None or v is False:
        return False
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return not (v == 0 or (isinstance(v, float) and math.isnan(v)))
    if isinstance(v, str):
        return v != ""
    return True


def js_or(*vals):
    """a || b || c — returns first truthy, else last."""
    out = None
    for v in vals:
        if callable(v):
            v = v()
        out = v
        if type(v) is str:
            if v != "":
                return v
        elif truthy(v):
            return v
    return out


def js_string(v: object) -> str:
    """JS String() coercion for the value shapes that occur here."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e21:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, list):
        return ",".join("" if x is None else js_string(x) for x in v)
    return str(v)


def to_array(value) -> list:
    """``toArray`` (unfurl-html/src/index.ts:230-233)."""
    if isinstance(value, list):
        return value
    return [value] if truthy(value) else []


def to_str(value):
    """``toString`` type guard (:245-247)."""
    return value if isinstance(value, str) else None


def first(iterable):
    """First JS-truthy element (:353-355)."""
    for v in iterable:
        if truthy(v):
            return v
    return None


def first_of(value, map_fn):
    """``firstOf`` (:360-366)."""
    if not isinstance(value, list):
        return None  # non-lists (incl. falsy) never map — same as reference
    for x in value:
        v = map_fn(x)
        if truthy(v):
            return v
    return None


# --- JSON-LD node accessors (:302-341) ---------------------------------------

def jsonld_value(node) -> str | None:
    if not isinstance(node, dict):
        return None
    v = node.get("@value")
    if not truthy(v):
        return None
    return js_string(v)


def jsonld_key(key: str, node):
    if type(node) is dict:  # nodes are plain dicts from the expander (hot)
        return node.get(key)
    if not isinstance(node, dict):
        return None
    return node.get(key)


def jsonld_is_of_type(type_iri: str, node) -> bool:
    types = node.get("@type") or [] if isinstance(node, dict) else []
    return type_iri in types


def jsonld_id_string(value) -> str | None:
    if value is None:
        value = []
    return first(x.get("@id") if isinstance(x, dict) else None for x in value)


def jsonld_value_string(value) -> str | None:
    if value is None:
        value = []
    return decode(first(jsonld_value(x) for x in value))


def jsonld_value_array(value) -> list:
    if value is None:
        value = []
    return [decode(v) for v in (jsonld_value(x) for x in value) if truthy(v)]


# --- metadata map accessors ---------------------------------------------------

def _m(options: dict, section: str, key: str):
    meta = options.get("metadata")
    if type(meta) is dict:  # always a plain dict from the parser (hot path)
        sec = meta.get(section)
        if type(sec) is dict:
            return sec.get(key)
        return None
    return None


def _graph(options: dict):
    return options.get("graph")


def _oembed(options: dict, key: str):
    oe = options.get("oembed")
    if not isinstance(oe, dict):
        return None
    return oe.get(key)


# --- C1 canonical url (:371-384) -----------------------------------------------

def get_canonical_url(options: dict):
    url = options["url"]

    def u(v):
        if isinstance(v, list):
            v = js_string(v)
        return to_url(v if isinstance(v, str) and v else None, url)

    return js_or(
        lambda: u(_m(options, "html", "canonical")),
        lambda: u(_m(options, "twitter", "url")),
        lambda: u(jsonld_value_string(
            first_of(_graph(options), lambda x: jsonld_key(OG + "url", x)))),
        lambda: u(_m(options, "applinks", "web:url")),
        lambda: u(to_str(_oembed(options, "url"))),
    )


# --- C4 author (:389-410) -------------------------------------------------------

def get_author(options: dict) -> dict:
    name = js_or(
        lambda: _m(options, "html", "author"),
        lambda: jsonld_value_string(first_of(
            _graph(options),
            lambda x: js_or(
                lambda: jsonld_key(ARTICLE + "author", x),
                lambda: jsonld_key(CC + "attributionName", x),
                lambda: first_of(
                    jsonld_key(SCHEMA + "author", x),
                    lambda y: jsonld_key(SCHEMA + "name", y)),
            ))),
        lambda: decode(to_str(_oembed(options, "author_name"))),
        lambda: _m(options, "sailthru", "author"),
    )
    return {
        "name": name,
        "url": to_str(_oembed(options, "author_url")),
        "twitterHandle": to_twitter_handle(
            to_str(_m(options, "twitter", "creator"))),
    }


# --- C6 tags (:415-434) ----------------------------------------------------------

_COMMA = re.compile(r" *, *")


def get_tags(options: dict) -> list:
    html_keywords = _m(options, "html", "keywords")
    if truthy(html_keywords) and isinstance(html_keywords, str):
        return _COMMA.split(html_keywords.strip())
    schema_keywords = jsonld_value_array(first_of(
        _graph(options), lambda x: jsonld_key(SCHEMA + "keywords", x)))
    # JS: an array (even empty) is truthy → this branch always returns;
    # the og video:tag branch below it is dead code (index.ts:428-431).
    if len(schema_keywords) == 1:
        return _COMMA.split(schema_keywords[0])
    return schema_keywords


# --- C5 provider (:439-451) --------------------------------------------------------

def get_provider(options: dict) -> dict:
    name = js_or(
        lambda: jsonld_value_string(first_of(
            _graph(options), lambda x: jsonld_key(OG + "site_name", x))),
        lambda: decode(to_str(_oembed(options, "provider_name"))),
        lambda: _m(options, "html", "apple-mobile-web-app-title"),
    )
    return {
        "name": name,
        "url": to_str(_oembed(options, "provider_url")),
        "twitterHandle": to_twitter_handle(
            to_str(_m(options, "twitter", "site"))),
    }


# --- C2 headline (:456-472) -----------------------------------------------------------

def get_headline(options: dict):
    return js_or(
        lambda: decode(to_str(_oembed(options, "title"))),
        lambda: jsonld_value_string(first_of(
            _graph(options),
            lambda x: js_or(
                lambda: jsonld_key(OG + "title", x),
                lambda: jsonld_key(DCTERMS + "title", x)))),
        lambda: _m(options, "sailthru", "title"),
        lambda: _m(options, "twitter", "title"),
        lambda: _m(options, "twitter", "text:title"),
        lambda: _m(options, "html", "title"),
    )


# --- C3 description (:477-492) ----------------------------------------------------------

def get_description(options: dict):
    return js_or(
        lambda: jsonld_value_string(first_of(
            _graph(options),
            lambda x: js_or(
                lambda: jsonld_key(SCHEMA + "description", x),
                lambda: jsonld_key(OG + "description", x)))),
        lambda: decode(to_str(_oembed(options, "summary"))),
        lambda: _m(options, "sailthru", "description"),
        lambda: _m(options, "twitter", "description"),
        lambda: _m(options, "html", "description"),
    )


# --- C8 icons (:497-514) ------------------------------------------------------------------

def _v8_insertion_sort(arr: list, comp) -> list:
    """V8 TimSort binary-insertion pass — faithful for the buggy
    single-arg comparator ``(x) => x[0]`` the reference uses (:503)."""
    a = list(arr)
    for i in range(1, len(a)):
        pivot = a[i]
        left, right = 0, i
        while left < right:
            mid = (left + right) >> 1
            o = comp(pivot, a[mid])
            if isinstance(o, float) and math.isnan(o):
                o = 0.0
            if o < 0:
                right = mid
            else:
                left = mid + 1
        a[left + 1: i + 1] = a[left:i]
        a[left] = pivot
    return a


def get_icon(options: dict) -> list:
    meta = options.get("metadata") or {}
    icons = to_array(meta.get("icons"))
    out = []
    for x in icons:
        sizes = x.get("sizes")
        pair = []
        # optional chaining (x.sizes?.split) skips only null/undefined —
        # an empty string still splits to [''] and yields width 0
        if sizes is not None and isinstance(sizes, str):
            pairs = [
                [js_number(n) for n in tok.split("x")[:2]]
                for tok in re.split(r"\s+", sizes)
            ]
            pairs = _v8_insertion_sort(pairs, lambda p, q: p[0] if p else 0)
            pair = pairs[-1] if pairs else []
        width = pair[0] if len(pair) > 0 else None
        height = pair[1] if len(pair) > 1 else None
        out.append({
            "type": "image",
            "url": x.get("href"),
            "encodingFormat": x.get("type"),
            "width": width,
            "height": height,
        })
    return out


# --- C9/C10/C11 media arrays (:519-799) -------------------------------------------------------

def _ogp_array(options: dict, *keys: str) -> list:
    # loop form of firstOf(graph, x => jsonLdKey(k1, x) || jsonLdKey(k2, x))
    # — the nested-lambda version allocated 2 closures per key per node and
    # was the hottest extract-chain call site (profiled)
    graph = _graph(options)
    if not isinstance(graph, list):
        return []
    for x in graph:
        if type(x) is not dict:
            continue
        for k in keys:
            v = x.get(k)
            if truthy(v):
                return jsonld_value_array(v)
    return []


def get_image(options: dict) -> list:
    url_base = options["url"]
    ogp_images = _ogp_array(options, OG + "image", OG + "image:url")
    twitter_images = to_array(_m(options, "twitter", "image"))
    # || toArray(twitter.image0) is dead code: toArray always returns an array
    sailthru_image = _m(options, "sailthru", "image.full")
    images: list[dict] = []

    def add_image(new_image: dict, append: bool) -> None:
        for image in images:
            if image.get("url") == new_image.get("url"):
                for k, v in new_image.items():
                    if v is not None:
                        image[k] = v
                return
        if append and (truthy(new_image.get("url"))
                       or truthy(new_image.get("secureUrl"))):
            images.append(new_image)

    def add_images(urls, secure_urls, types, alts, widths, heights, append):
        secure_urls = secure_urls or []
        types = types or []
        alts = alts or []
        widths = widths or []
        heights = heights or []

        def at(lst, i):
            return lst[i] if i < len(lst) else None

        for i in range(len(urls)):
            secure_url = to_url(at(secure_urls, i), url_base)
            u = to_url(at(urls, i), url_base)
            u = u if u is not None else secure_url  # ?? (nullish)
            if not truthy(u):
                continue
            add_image({
                "type": "image",
                "url": u,
                "secureUrl": secure_url,
                "encodingFormat": at(types, i),
                "description": at(alts, i),
                "width": to_number(at(widths, i)),
                "height": to_number(at(heights, i)),
            }, append)

    if truthy(sailthru_image):
        u = to_url(sailthru_image if isinstance(sailthru_image, str) else
                   js_string(sailthru_image), url_base)
        if truthy(u):
            add_image({"type": "image", "url": u}, True)

    # ogp_images is always an array (truthy in JS)
    add_images(
        ogp_images,
        _ogp_array(options, OG + "image:secure_url"),
        _ogp_array(options, OG + "image:type"),
        None,
        _ogp_array(options, OG + "image:width"),
        _ogp_array(options, OG + "image:height"),
        True,
    )

    add_images(
        twitter_images,
        None,
        None,
        to_array(_m(options, "twitter", "image:alt")),
        to_array(_m(options, "twitter", "image:width")),
        to_array(_m(options, "twitter", "image:height")),
        not truthy(ogp_images),  # ogp_images always truthy → never appends
    )

    return images


def get_audio(options: dict) -> list:
    url_base = options["url"]
    ogp_audios = _ogp_array(options, OG + "audio", OG + "audio:url")
    audios: list[dict] = []

    def add_audio(new_audio: dict) -> None:
        for audio in audios:
            if audio.get("url") == new_audio.get("url"):
                for k, v in new_audio.items():
                    if v is not None:
                        audio[k] = v
                return
        audios.append(new_audio)

    types = _ogp_array(options, OG + "audio:type")
    secure = _ogp_array(options, OG + "audio:secure_url")
    for i in range(len(ogp_audios)):
        secure_url = to_url(secure[i] if i < len(secure) else None, url_base)
        u = to_url(ogp_audios[i], url_base)
        u = u if u is not None else secure_url
        if not truthy(u):
            continue
        add_audio({
            "type": "audio", "url": u, "secureUrl": secure_url,
            "encodingFormat": types[i] if i < len(types) else None,
        })
    return audios


def get_video(options: dict) -> list:
    url_base = options["url"]
    ogp_videos = _ogp_array(options, OG + "video", OG + "video:url")
    videos: list[dict] = []

    def add_video(new_video: dict) -> None:
        for video in videos:
            if video.get("url") == new_video.get("url"):
                for k, v in new_video.items():
                    if v is not None:
                        video[k] = v
                return
        videos.append(new_video)

    types = _ogp_array(options, OG + "video:type")
    widths = _ogp_array(options, OG + "video:width")
    heights = _ogp_array(options, OG + "video:height")
    secure = _ogp_array(options, OG + "video:secure_url")

    def at(lst, i):
        return lst[i] if i < len(lst) else None

    for i in range(len(ogp_videos)):
        secure_url = to_url(at(secure, i), url_base)
        u = to_url(ogp_videos[i], url_base)
        u = u if u is not None else secure_url
        if not truthy(u):
            continue
        add_video({
            "type": "video", "url": u, "secureUrl": secure_url,
            "encodingFormat": at(types, i),
            "width": to_number(at(widths, i)),
            "height": to_number(at(heights, i)),
        })

    if _m(options, "twitter", "card") == "player":
        embed_url = to_url(to_str(_m(options, "twitter", "player")), url_base)
        width = to_number(_m(options, "twitter", "player:width"))
        height = to_number(_m(options, "twitter", "player:height"))
        stream_url = to_url(
            to_str(_m(options, "twitter", "player:stream")), url_base)
        stream_fmt = _m(options, "twitter", "player:stream:content_type")
        if truthy(embed_url) and truthy(width) and truthy(height):
            add_video({
                "type": "video", "url": embed_url,
                "encodingFormat": "text/html",
                "width": width, "height": height,
            })
        if truthy(stream_url):
            add_video({
                "type": "video", "url": stream_url,
                "encodingFormat": stream_fmt,
                "width": width, "height": height,
            })
    return videos


# --- C12 apps (:804-1001) ------------------------------------------------------------------

def _app(options, tw_suffix, al_prefix, al_id_key, device, os_name):
    tw_url = _m(options, "twitter", f"app:url:{tw_suffix}") if tw_suffix else None
    tw_id = _m(options, "twitter", f"app:id:{tw_suffix}") if tw_suffix else None
    tw_name = _m(options, "twitter", f"app:name:{tw_suffix}") if tw_suffix else None
    if truthy(tw_id) and truthy(tw_name) and truthy(tw_url):
        app = {"os": os_name, "id": tw_id, "name": tw_name, "url": tw_url}
        if device:
            app["device"] = device
        return app
    al_url = _m(options, "applinks", f"{al_prefix}:url")
    al_id = _m(options, "applinks", f"{al_prefix}:{al_id_key}")
    al_name = _m(options, "applinks", f"{al_prefix}:app_name")
    if truthy(al_id) and truthy(al_name) and truthy(al_url):
        app = {"os": os_name, "id": al_id, "name": al_name, "url": al_url}
        if device:
            app["device"] = device
        return app
    return None


def get_apps(options: dict) -> list:
    candidates = [
        _app(options, "iphone", "iphone", "app_store_id", "iPhone", "iOS"),
        _app(options, "ipad", "ipad", "app_store_id", "iPad", "iOS"),
        _app(options, None, "ios", "app_store_id", None, "iOS"),
        _app(options, "googleplay", "android", "package", None, "Android"),
        _app(options, None, "windows", "app_id", "PC", "Windows"),
        _app(options, None, "windows_phone", "app_id", "Mobile", "Windows"),
        _app(options, None, "windows_universal", "app_id", None, "Windows"),
    ]
    return [a for a in candidates if truthy(a)]


# --- C7 language (:1006-1012) ------------------------------------------------------------------

def get_language(options: dict):
    return js_or(
        lambda: jsonld_value_string(first_of(
            _graph(options), lambda x: jsonld_key(OG + "locale", x))),
        lambda: _m(options, "html", "language"),
    )


# --- C15 graph → Image / Person (:1025-1063) ------------------------------------------------------

def jsonld_to_image(options: dict, node) -> dict | None:
    url = jsonld_id_string(jsonld_key(SCHEMA + "url", node))
    if truthy(url) and not url.startswith(options["url"]):
        height = to_number(jsonld_value_string(
            jsonld_key(SCHEMA + "height", node)))
        width = to_number(jsonld_value_string(
            jsonld_key(SCHEMA + "width", node)))
        return {"type": "image", "url": url, "height": height, "width": width}
    return None


def jsonld_to_person(options: dict, node) -> dict | None:
    name = jsonld_value_string(jsonld_key(SCHEMA + "name", node))
    if truthy(name):
        image = first(
            jsonld_to_image(options, x)
            for x in (jsonld_key(SCHEMA + "logo", node) or []))
        return {"name": name, "image": image}
    return None


# --- C13 main entity (:1068-1138) -----------------------------------------------------------------

def get_main_entity(options: dict) -> dict | None:
    graph = _graph(options) or []
    ogp = next(
        (x for x in graph if truthy(jsonld_key(OG + "type", x))), {})
    article_schema = next(
        (x for x in graph
         if jsonld_is_of_type(SCHEMA + "NewsArticle", x)), {})
    ogp_type = jsonld_value_string(jsonld_key(OG + "type", ogp))

    if truthy(article_schema.get("@type")) or ogp_type == "article":
        def nn(a, b):
            return a if a is not None else b  # JS ?? on jsonLdKey results

        return {
            "type": "article",
            "image": [
                img for img in (
                    jsonld_to_image(options, x)
                    for x in (jsonld_key(SCHEMA + "image", article_schema)
                              or []))
                if truthy(img)
            ],
            "author": first(
                jsonld_to_person(options, x)
                for x in (jsonld_key(SCHEMA + "author", article_schema)
                          or [])),
            "publisher": first(
                jsonld_to_person(options, x)
                for x in (jsonld_key(SCHEMA + "publisher", article_schema)
                          or [])),
            "headline": jsonld_value_string(
                jsonld_key(SCHEMA + "headline", article_schema)),
            "section": jsonld_value_string(nn(
                jsonld_key(SCHEMA + "articleSection", article_schema),
                jsonld_key(ARTICLE + "section", ogp))),
            "datePublished": to_date(jsonld_value_string(nn(
                jsonld_key(SCHEMA + "datePublished", article_schema),
                jsonld_key(ARTICLE + "published_time", ogp)))),
            "dateExpires": to_date(jsonld_value_string(
                jsonld_key(ARTICLE + "expiration_time", ogp))),
            "dateModified": to_date(jsonld_value_string(nn(
                jsonld_key(SCHEMA + "dateModified", article_schema),
                jsonld_key(ARTICLE + "modified_time", ogp)))),
        }
    return None


# --- C14 embed (:1140-1170) --------------------------------------------------------------------------

def get_embed(options: dict) -> dict | None:
    twitter_type = _m(options, "twitter", "card")
    oembed_type = _oembed(options, "type")
    html = to_str(_oembed(options, "html"))

    if oembed_type in ("video", "rich") and truthy(html):
        return {
            "type": "rich",
            "html": html,
            "width": to_number(_oembed(options, "width")),
            "height": to_number(_oembed(options, "height")),
        }

    if twitter_type in ("photo", "gallery") or oembed_type == "photo":
        u = to_url(to_str(_oembed(options, "url")), options["url"])
        if truthy(u):
            return {
                "type": "image",
                "url": u,
                "width": to_number(_oembed(options, "width")),
                "height": to_number(_oembed(options, "height")),
            }
    return None


# --- the full Website snippet (unfurl-html/src/index.ts:66-84) --------------------------------------

def extract_website(url: str, metadata: dict | None, graph: list | None,
                    oembed: dict | None) -> dict:
    if metadata is None:
        return {"type": "website", "url": url}
    options = {"url": url, "metadata": metadata, "graph": graph,
               "oembed": oembed}
    return {
        "type": "website",
        "url": url,
        "encodingFormat": "text/html",
        "icon": get_icon(options),
        "image": get_image(options),
        "video": get_video(options),
        "audio": get_audio(options),
        "mainEntity": get_main_entity(options),
        "embed": get_embed(options),
        "canonicalUrl": get_canonical_url(options),
        "headline": get_headline(options),
        "description": get_description(options),
        "provider": get_provider(options),
        "author": get_author(options),
        "tags": get_tags(options),
        "language": get_language(options),
        "apps": get_apps(options),
    }
