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

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipeline import _bvalues, narrow_columns

def context_fetch_list(df: DataFrame,
                       context_store: dict | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """(doc_id, spans) → (context_url, n_docs, sample_doc_id) for every
    remote @context the offline store cannot satisfy."""
    spark = df.sparkSession
    b_ctx = spark.sparkContext.broadcast(context_store)

    narrow = narrow_columns(df)
    n = num_partitions or spark.sparkContext.defaultParallelism
    salted = narrow.repartition(n, F.xxhash64("doc_id"))

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        from ..functions.htmlmeta import parse_html
        from ..functions.jsonld_lite import (
            collect_context_urls,
            context_resolvable,
        )

        (store,) = _bvalues(b_ctx)
        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            urls = batch.column(2).to_pylist()
            htmls = batch.column(3).to_pylist()
            o_docs, o_urls = [], []
            for i in range(len(doc_ids)):
                html = htmls[i]
                if not html:
                    continue
                try:
                    metadata = parse_html(html, urls[i] or str(doc_ids[i]))
                except Exception:  # noqa: BLE001 — per-doc isolation
                    continue
                if not metadata:
                    continue
                found = collect_context_urls(metadata.get("jsonld"))
                for url in found:
                    if not context_resolvable(url, store):
                        o_docs.append(doc_ids[i])
                        o_urls.append(url)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_docs, pa.string()),
                 pa.array(o_urls, pa.string())],
                names=["doc_id", "context_url"])

    pairs = salted.mapInArrow(
        run, schema="doc_id string, context_url string")
    return (pairs.groupBy("context_url")
            .agg(F.count("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("sample_doc_id")))
