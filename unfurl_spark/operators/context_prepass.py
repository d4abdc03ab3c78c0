"""Remote JSON-LD context pre-pass.

The extraction kernel resolves ``@context`` URLs from an OFFLINE store —
executors never fetch (the reference's memoized documentLoader,
unfurl-html/src/index.ts:146-172, is the only network crossing this
replaces).  A context URL missing from the store makes that document's
graph degrade to None, exactly like the reference when jsonld.js cannot
load a context.

This pre-pass closes the gap operationally: one scan over the corpus
emits the table of unresolved context URLs (with per-URL document counts
and a sample doc), which an out-of-band fetcher turns into new store
entries before the main extraction run.  Plan shape: JVM flatten →
salted exchange → one Arrow stage (parse + collect + filter against the
broadcast store) → groupBy(context_url) — the aggregate output is tiny
(distinct context URLs on the web number in the thousands), so at
10^12 docs the shuffle after the kernel carries only (doc_id, url)
pairs for the unresolved fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipeline import _salted, map_rows, narrow_columns


def _unresolved_contexts(narrow: DataFrame, b_ctx) -> DataFrame:
    """``narrow_columns`` rows → one (doc_id, context_url) row per remote
    @context a document names that the broadcast store cannot satisfy
    (none for a document without HTML, JSON-LD or unknown contexts)."""

    def open_rows():
        from ..functions.htmlmeta import parse_html
        from ..functions.jsonld_lite import (
            collect_context_urls,
            context_resolvable,
        )

        store = b_ctx.value

        def row(doc_id, status, url, html, *media):
            if not html:
                return ()
            try:
                metadata = parse_html(html, url or str(doc_id))
            except Exception:  # noqa: BLE001 — per-doc isolation
                return ()
            if not metadata:
                return ()
            return [(doc_id, u)
                    for u in collect_context_urls(metadata.get("jsonld"))
                    if not context_resolvable(u, store)]

        return row

    return map_rows(narrow, "doc_id string, context_url string", open_rows)


def context_fetch_list(df: DataFrame,
                       context_store: dict | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """(doc_id, spans) → (context_url, n_docs, sample_doc_id) for every
    remote @context the offline store cannot satisfy."""
    b_ctx = df.sparkSession.sparkContext.broadcast(context_store)

    pairs = _unresolved_contexts(
        _salted(narrow_columns(df), num_partitions), b_ctx)
    return (pairs.groupBy("context_url")
            .agg(F.count("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("sample_doc_id")))
