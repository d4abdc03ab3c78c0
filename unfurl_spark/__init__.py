"""unfurl_spark — a from-scratch PySpark-native rich-metadata extraction engine.

Reproduces the query/data-processing capabilities of the reference
``borderless/unfurl`` (TypeScript middleware scraper) as an idiomatic
Spark pipeline over tables of interleaved text+media documents:

    (doc_id: string,
     spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Layout:
    functions/   pure-Python batch kernels (HTML meta tokenizer, JSON-LD
                 expansion subset, field extractors, JS-semantics coercions,
                 media header readers, main-content strip) — unit-testable
                 without Spark, run as row functions by the one Arrow
                 runner, operators/pipeline.py ``map_rows``.
    operators/   Spark DataFrame pipelines (the fused extract stage, the
                 Arrow row runner, span emission), the remote-context
                 pre-pass and the query registry with its DuckDB oracles.
    sources/     fixture importer (reference test corpus -> span table),
                 deterministic synthetic corpus generator.
    plans/       job driver: salted repartition, checkpointed per-partition
                 lineage + metrics, idempotent resume.
"""

__version__ = "0.1.0"
