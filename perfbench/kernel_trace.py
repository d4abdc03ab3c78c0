"""Traced kernel run: the ``functions/*`` entry points timed in-process.

The per-record kernels are called directly, over a fixed sample of the
workload's inputs, in the shape each Spark stage feeds them:

* ``extract_broadcast`` — ``engine.flat_document_spans`` with the oembed
  and media stores, so media scraping and PDF text run inline;
* ``media_decode`` — the decode, features and resize Arrow kernels.

Tracing replaces module attributes with timing wrappers for the duration
of a pass; no file of the package is edited.  A span's self time is its
duration minus the time of the traced calls made inside it.  The same
sample also runs untraced, and the ratio of the two rates is the tracing
overhead.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

REPS = 3  # traced and untraced passes each, alternating, after one warm-up


class Tracer:
    def __init__(self):
        self.total = defaultdict(float)
        self.own = defaultdict(float)
        self.counts = defaultdict(int)
        self.root = 0.0  # time in outermost spans
        self.root_own = 0.0  # ... minus the traced calls inside them
        self._stack: list[float] = []

    def span(self, name: str, fn, count=None):
        """Time ``fn``; ``count(result)`` adds to the counter ``name``."""
        def traced(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                children = self._stack.pop()
                self.total[name] += dt
                self.own[name] += dt - children
                if self._stack:
                    self._stack[-1] += dt
                else:
                    self.root += dt
                    self.root_own += dt - children
            if count is not None:
                self.counts[name] += count(result)
            return result
        return traced

    def counter(self, name: str, fn, count):
        """Count without timing: the call's time stays in its parent."""
        def counted(*args, **kwargs):
            result = fn(*args, **kwargs)
            self.counts[name] += count(result)
            return result
        return counted


@contextmanager
def patched(replacements: list):
    """``[(module, attr, wrapper_factory)]`` — swap, run, restore."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in replacements]
    try:
        for m, a, make in replacements:
            setattr(m, a, make(getattr(m, a)))
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)


def _extraction_targets(tr: Tracer) -> list:
    from unfurl_spark.functions import content, engine, htmlmeta, pdftext

    def hit(r):
        return 1

    def found(r):
        return int(r is not None)

    return [
        (engine, "flat_document_spans",
         lambda f: tr.span("engine.kernel", f, count=len)),
        (htmlmeta, "parse_html_full",
         lambda f: tr.span("htmlmeta.parse", f)),
        (engine, "normalize_jsonld",
         lambda f: tr.span("jsonld_lite.normalize", f)),
        (engine, "extract_website", lambda f: tr.span("extract.website", f)),
        (content, "classify_blocks", lambda f: tr.span("content.classify", f)),
        (engine, "scrape_document",
         lambda f: tr.span("media.scrape", f, count=hit)),
        (pdftext, "pdf_text", lambda f: tr.span("pdftext.text", f,
                                                 count=hit)),
        (engine, "find_oembed_href",
         lambda f: tr.counter("engine.oembed_hrefs", f, found)),
        (engine, "parse_oembed",
         lambda f: tr.counter("engine.oembed_hits", f, hit)),
    ]


def _media_targets(tr: Tracer) -> list:
    from unfurl_spark.functions import multimodal

    def hit(r):
        return 1

    return [
        (multimodal, "decode_pixels",
         lambda f: tr.span("multimodal.decode", f, count=hit)),
        (multimodal, "resize_area", lambda f: tr.span("codecs.resize", f)),
    ]


def _narrow_rows(spark, path: str) -> list:
    """The sample as the kernel stage sees it: the program's own JVM-side
    flattening (``pipeline.narrow_columns``) collected to the driver."""
    from unfurl_spark.operators.pipeline import narrow_columns

    t = narrow_columns(spark.read.parquet(path)).toArrow()
    return list(zip(*(t.column(i).to_pylist() for i in range(6))))


def _stores(paths: dict) -> tuple[dict, dict]:
    import pyarrow.parquet as pq

    o = pq.read_table(paths["oembed"]).to_pydict()
    m = pq.read_table(paths["media"]).to_pydict()
    return (dict(zip(o["ref"], zip(o["status"], o["ctype"], o["body"]))),
            dict(zip(m["media_ref"], zip(m["ctype"], m["payload"]))))


def _broadcast_pass(rows, oe, med):
    from unfurl_spark.functions import engine

    for doc_id, status, url, html, refs, kinds in rows:
        engine.flat_document_spans(
            url or str(doc_id), html or "", int(status), list(refs or ()),
            oembed_store=oe, context_store=None, media_store=med,
            media_kinds=list(kinds or ()))


class _Capture:
    """Stands in for a DataFrame: ``select`` returns itself and
    ``mapInArrow`` hands back the Arrow kernel, which is how the per-payload
    loops of ``multimodal`` are reached in-process."""

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802 — DataFrame API name
        return fn


def _media_kernels(path: str) -> list:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unfurl_spark.functions import multimodal

    t = pq.read_table(path).to_pydict()
    refs, payloads = t["media_ref"], t["payload"]
    cap = multimodal.HEADER_BYTE_CAP
    head = pa.RecordBatch.from_arrays(
        [pa.array(refs, pa.string()),
         pa.array([p[:cap] for p in payloads], pa.binary()),
         pa.array([len(p) for p in payloads], pa.int64())],
        names=["media_ref", "head", "n_bytes"])
    full = pa.RecordBatch.from_arrays(
        [pa.array(refs, pa.string()), pa.array(payloads, pa.binary())],
        names=["media_ref", "payload"])
    return [("multimodal.decode_media",
             multimodal.decode_media(_Capture()), head),
            ("multimodal.features",
             multimodal.extract_features(_Capture()), full),
            ("multimodal.resize", multimodal.resize_images(_Capture()), full)]


def prepare(workload: str, spark, paths: dict):
    """Collect the fixed sample while Spark is up; → ``(one_pass, targets,
    metrics, n)``.  The passes themselves need no Spark, so they run after
    the session is gone and its JVM and workers no longer share the CPU."""
    if workload == "media_decode":
        kernels = _media_kernels(paths["sample"])

        def one_pass(tr=None):
            for name, fn, batch in kernels:
                def consume(b=batch, fn=fn):
                    for _ in fn(iter([b])):
                        pass
                (tr.span(name, consume) if tr else consume)()

        return (one_pass, _media_targets, MEDIA_METRICS,
                kernels[0][2].num_rows)

    rows = _narrow_rows(spark, paths["sample"])
    oe, med = _stores(paths)

    def one_pass(tr=None):
        _broadcast_pass(rows, oe, med)

    return one_pass, _extraction_targets, EXTRACTION_METRICS, len(rows)


# metric → (span, "us" total time | "self_us" own time | "count") per record
# sample; only the layers a workload runs are reported for it
EXTRACTION_METRICS = {
    "functions.htmlmeta.parse_us": ("htmlmeta.parse", "us"),
    "functions.jsonld_lite.normalize_us": ("jsonld_lite.normalize", "us"),
    "functions.extract.website_us": ("extract.website", "us"),
    "functions.content.classify_us": ("content.classify", "us"),
    "functions.media.scrape_us": ("media.scrape", "us"),
    "functions.pdftext.text_us": ("pdftext.text", "us"),
    "functions.media.refs": ("media.scrape", "count"),
    "functions.pdftext.pdfs": ("pdftext.text", "count"),
    "functions.engine.kernel_us": ("engine.kernel", "us"),
    "functions.engine.self_us": ("engine.kernel", "self_us"),
    "functions.engine.spans_out": ("engine.kernel", "count"),
    "functions.engine.oembed_hrefs": ("engine.oembed_hrefs", "count"),
    "functions.engine.oembed_hits": ("engine.oembed_hits", "count"),
}
MEDIA_METRICS = {
    "functions.multimodal.decode_us": ("multimodal.decode", "us"),
    "functions.multimodal.decodes": ("multimodal.decode", "count"),
    "functions.codecs.resize_us": ("codecs.resize", "us"),
    "functions.multimodal.features_us": ("multimodal.features", "self_us"),
}


def measure(prepared) -> dict:
    """→ per-layer figures: traced and untraced passes in ABBA order after
    one warm-up pass (lazy imports, compiled regexes, module caches)."""
    one_pass, targets, metrics, n = prepared
    one_pass()
    plain, traced = [], []
    tr = Tracer()
    for rep in range(REPS):
        for is_traced in ((False, True) if rep % 2 == 0 else (True, False)):
            with patched(targets(tr) if is_traced else []):
                t0 = time.perf_counter()
                one_pass(tr if is_traced else None)
                (traced if is_traced else plain).append(
                    time.perf_counter() - t0)

    calls = REPS * n
    out = {}
    for metric, (span, kind) in metrics.items():
        if kind == "count":
            out[metric] = tr.counts[span] / REPS
        else:
            out[metric] = ((tr.own if kind == "self_us" else tr.total)[span]
                           / calls * 1e6)
    t_plain = statistics.median(plain)
    t_traced = statistics.median(traced)
    out.update({
        "functions.kernel_us": tr.root / calls * 1e6,
        "functions.self_us": tr.root_own / calls * 1e6,
        "trace.sample_records": n,
        "trace.records_per_s_untraced": n / t_plain,
        "trace.records_per_s_traced": n / t_traced,
        "trace.overhead_pct": (t_traced / t_plain - 1.0) * 100.0,
    })
    return out
