"""The Spark extract pipeline — fused P1+P4+C1-C15 over Arrow batches.

Replaces the reference's per-page async middleware chain
(unfurl/src/index.ts:171-188) with the idiomatic Spark plan (SURVEY.md §3):

    read (doc_id, spans)
      → JVM flatten (nested spans never cross into Python or the shuffle)
      → salted repartition by xxhash64(doc_id)        # giant-doc skew defusal
      → map_rows(fused tokenize+normalize+extract)     # columnar both ways,
                                                       # no per-row UDFs
      → spans + per-doc lineage columns

Sub-request documents (oembed payloads, JSON-LD remote contexts, media
payloads) are side tables — executors never touch the network (the
reference's two HTTP crossings, unfurl-html/src/index.ts:92-122 and
:146-172, become table lookups).  Two scale regimes: broadcast stores
(`extract_spans`) when the tables fit executors, distributed shuffle
joins of every side table given (`extract_spans_joined`) when at 10^12
documents they cannot — outputs bit-identical either way.

Every Python stage of the engine — the document kernel, the oembed
join's href pass (`_oembed_hrefs`), the media join's header readers
(`_media_texts`), the context pre-pass and the multimodal operators — is
a row function run by one Arrow runner, `map_rows`.  Every regime ends
in the same tail, `_map_kernel(_salted(rows, n), side)`: the two
regimes differ only in what is joined onto the narrow rows before it
(a joined oembed href and payload, the doc's joined media texts), and
the kernel reads which from the row's arity.  Either way the document
kernel takes its oembed document through one input, a store: the
broadcast table, or the one entry the join matched.
One kernel pass per document in every regime, plus one metadata parse
per document under the oembed join.
"""

from __future__ import annotations

import os
import sys
import weakref
import zipimport
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import EXTRACTED

# One Arrow batch should stay well under executor memory even with 100×
# skew-tail documents (FIXTURES.md): 2048 docs × ~100 KB tail ≈ 200 MB peak
# per concurrent task; typical docs are ~1-2 KB (≈4 MB/batch).  Measured at
# local[32] on the 100k-doc bench: 2048-row batches beat 1024 by ~15%
# (fewer JVM↔Python crossings) and 4096 by ~8% (cache pressure); 256-row
# batches cost ~1.7× in per-batch crossing overhead.  Truly giant documents
# are byte-capped upstream (S3 projection) before the Python stage.
DEFAULT_ARROW_BATCH = 2048

# The per-task fixed cost of a Python worker.  PySpark calls
# ``importlib.invalidate_caches()`` at the start of every task
# (``worker_util.setup_spark_files``), and before CPython 3.13 each
# ``zipimporter`` answers by re-reading its archive's whole central
# directory: 16 re-reads per task for the importers a worker holds over
# pyspark.zip, py4j's zip and the spark-core jar, before a single row is
# read.  An identity ``map_rows`` task cost 0.28-0.30 worker CPU-s with
# them and 0.03-0.07 without (4-vCPU VM, CPython 3.11).  The re-read only
# matters when the archive changed, so each importer re-reads only then:
# when ``os.stat``'s (mtime_ns, size, inode) of its archive differs from
# the key stat'ed before that importer's last re-read, or the stat fails.
# Keyed per importer, not per archive: every importer over a rewritten
# archive must re-read its own ``_files``.
_ZIP_DIR_KEYS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install_zip_dir_cache() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed; idempotent.  Every importer
    alive at install time is keyed on its archive as it is now: in a
    worker this runs inside a task whose ``setup_spark_files`` has just
    re-read them all.  An importer made later has no key, so its first
    invalidation re-reads.  A no-op on CPython >= 3.13, whose
    ``invalidate_caches`` only drops the archive's cache entry."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or _ZIP_DIR_KEYS.get(self) != key:
            reread(self)
            _ZIP_DIR_KEYS[self] = key

    invalidate_caches.__wrapped__ = reread
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            _ZIP_DIR_KEYS[imp] = _archive_key(imp.archive)
    cls.invalidate_caches = invalidate_caches


def session_configs(profile: str = "local", master: str | None = None,
                    shuffle_partitions: int = 32,
                    checkpoint_dir: str | None = None) -> dict[str, str]:
    """The engine's Spark config set as a pure, testable function of the
    deployment profile (SCALE.md "Input layout" / "Side tables").

    ``profile="local"`` — this sandbox: single JVM, one shared memory bus,
    a handful of small parquet files.  ``profile="cluster"`` — the
    north-rule deployment: 1000 executors reading ~400k × 256 MB Iceberg
    parquet files over a network.  The two differ exactly where the
    hardware differs:

    * ``maxPartitionBytes`` — local 1 MB keeps the scan of a single
      ~160 MB test file as parallel as the box; at 100 TB a 1 MB split
      size would mean ~10^8 scheduler tasks (driver listing/scheduling
      blow-up), so cluster uses 256 MB, matching the table's file size
      (one split per file, ~400k tasks).
    * shuffle compression — local shuffle bytes never cross a network
      (tmpfs, measured ~5% pure CPU loss from lz4) so it's off; cluster
      shuffles ~100 TB worker-to-worker, compression stays on (default).
    * ``spark.local.dir`` — local uses /dev/shm to keep /tmp jitter out
      of the scaling signal; cluster leaves it to the site's node-local
      NVMe configuration.
    * checkpoint dir — cluster jobs set a durable (DFS) checkpoint dir so
      the driver's resumable bucket loop (plans/driver.py) and any
      truncated lineage survive executor loss; meaningless on one box.
    * executor shape — cluster pins the SCALE.md arithmetic (16 cores ×
      16 GB heap; the Python workers' ~5 GB steady state and one
      broadcast store copy each live in the 10 GB memoryOverhead); local
      mode has no executors to shape.
    """
    common = {
        # moderate heap: measured on this box, a 48g heap made G1 regions
        # huge and scan+shuffle stages 3-4× slower/noisier than 16g; 16g
        # comfortably holds 32 concurrent document-batch tasks
        "spark.driver.memory": "16g",
        "spark.driver.maxResultSize": "8g",
        # pin the SQL timezone: a CAST of a tz-naive timestamp to
        # TIMESTAMP reads it in the session zone (the registry's
        # sessionize_gaps_islands does this for its gap test).  Under the
        # default (JVM local zone) a 2.5 h gap across a daylight-saving
        # switch measures 1.5 h, and the DuckDB oracle reads it as UTC
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # skew backstop for the media join's hot media_refs (SCALE.md)
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            str(DEFAULT_ARROW_BATCH),
        "spark.python.worker.faulthandler.enabled": "true",
    }
    if profile == "cluster":
        common.update({
            # one split per ~256 MB Iceberg data file: ~400k tasks at
            # 100 TB, not the ~10^8 a 1 MB split size would produce
            "spark.sql.files.maxPartitionBytes": "256m",
            "spark.executor.memory": "16g",
            # kernel stage is CPU-bound; default parallelism follows cores
            "spark.executor.cores": "16",
            # the Python workers (the map_rows kernels, one per core) live
            # here, outside the JVM heap, beside the JVM's own off-heap
            # share.  No spark.executor.pyspark.memory: it would cap each
            # worker's address space at 1/16 of it, and the imports alone
            # map ~340 MB.  The size is checked by the session-profile
            # tests (SCALE.md "Side tables").
            "spark.executor.memoryOverhead": "10g",
            "spark.shuffle.compress": "true",
            "spark.shuffle.spill.compress": "true",
            # large shuffles: fewer, bigger fetch requests
            "spark.reducer.maxSizeInFlight": "96m",
            "spark.shuffle.file.buffer": "1m",
            # decommission/retry hygiene for thousand-executor fleets
            "spark.stage.maxConsecutiveAttempts": "8",
            "spark.checkpoint.dir": checkpoint_dir or "/tmp/unfurl-ckpt",
        })
    else:
        common["spark.sql.files.maxPartitionBytes"] = "1m"
        if master and master.startswith("local"):
            if os.path.isdir("/dev/shm"):
                # local-mode-ONLY shuffle files on tmpfs: a real cluster
                # writes shuffle to node-local NVMe (RAM-backed tmpfs would
                # blow up at scale); on this box /tmp jitter (2× trial
                # variance, measured) would otherwise dominate the scaling
                # signal
                common["spark.local.dir"] = "/dev/shm/spark-tmp"
            # shuffle blocks never cross a network in local mode and tmpfs
            # bytes are free — lz4 is pure CPU overhead here (~5% measured)
            common["spark.shuffle.compress"] = "false"
            common["spark.shuffle.spill.compress"] = "false"
        if checkpoint_dir:
            common["spark.checkpoint.dir"] = checkpoint_dir
    return common


def session(app: str = "unfurl_spark", master: str | None = None,
            shuffle_partitions: int = 32, profile: str | None = None,
            checkpoint_dir: str | None = None) -> SparkSession:
    """Engine session defaults: AQE on, Arrow on, bounded batches.

    ``profile`` defaults by master: ``local[...]``/unset → "local"
    (sandbox values), anything else (yarn, k8s://, spark://) →
    "cluster" (SCALE.md deployment values).  See ``session_configs``.
    """
    if profile is None:
        profile = ("local" if master is None or master.startswith("local")
                   else "cluster")
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    for k, v in session_configs(profile, master=master,
                                shuffle_partitions=shuffle_partitions,
                                checkpoint_dir=checkpoint_dir).items():
        b = b.config(k, v)
    return b.getOrCreate()


def dedup_on_key(df: DataFrame, key: str) -> DataFrame:
    """Deterministic one-row-per-key dedup for side tables: keep the
    lexicographically greatest struct of the remaining columns.  Unlike
    ``dropDuplicates`` (arbitrary row) or the old collect-order dict build
    (last row wins in a nondeterministic order), this picks the SAME row in
    the broadcast and shuffle-join regimes, preserving the bit-identical
    contract even when a side table carries duplicate keys."""
    cols = [c for c in df.columns if c != key]
    return (df.groupBy(key)
              .agg(F.max(F.struct(*cols)).alias("_s"))
              .select(key, *[F.col(f"_s.{c}").alias(c) for c in cols]))


class SideTables:
    """Broadcast handles for the record-scoped lookup tables.  Build ONCE
    per job and pass to every ``extract_spans`` call — the driver-side
    collect + pickle of these tables is seconds of single-threaded work."""

    __slots__ = ("oembed", "media", "contexts")

    def __init__(self, oembed, media, contexts):
        self.oembed = oembed
        self.media = media
        self.contexts = contexts


def _store(df: DataFrame | None, key: str, *cols: str) -> dict | None:
    """``{key: (cols…)}`` over ``df`` deduplicated on ``key``; None for no
    table."""
    if df is None:
        return None
    t = dedup_on_key(df.select(key, *cols), key).toArrow()
    return dict(zip(t.column(key).to_pylist(),
                    zip(*(t.column(c).to_pylist() for c in cols))))


def broadcast_side_tables(spark: SparkSession,
                          oembed_df: DataFrame | None = None,
                          media_df: DataFrame | None = None,
                          context_store: dict | None = None) -> SideTables:
    sc = spark.sparkContext
    return SideTables(
        sc.broadcast(_store(oembed_df, "ref", "status", "ctype", "body")),
        sc.broadcast(_store(media_df, "media_ref", "ctype", "payload")),
        sc.broadcast(context_store))


def narrow_columns(df: DataFrame) -> DataFrame:
    """JVM-side flattening BEFORE the exchange: the nested spans column
    never crosses into Python (nested array<struct> → Arrow → object
    conversion is the dominant cost otherwise) and never crosses the
    shuffle either — profiled on this box, shuffle-writing the raw
    nested rows costs ~2× the whole flatten+scan, while flat strings
    serialize at memcpy speed.  The flatten is cheap columnar work in
    the scan stage (its parallelism is file splits — kept fine-grained
    via spark.sql.files.maxPartitionBytes)."""
    has_status = "status" in df.columns
    pre = df.select(
        "doc_id",
        # coalesce, not just cast: a read schema that names ``status``
        # over files that lack it yields a NULL status column, and
        # int(None) downstream would fail EVERY doc
        (F.coalesce(F.col("status").cast("int"), F.lit(200))
         if has_status else F.lit(200))
        .alias("status"),
        "spans",
    )
    # native sort_array over an offset-first struct reshape — no lambda
    # comparator, whole-stage-friendly.  (coalesce(offset,0), pos)
    # reproduces the library kernel's semantics exactly (engine.
    # document_spans: stable sort by `offset or 0`): NULL offsets tie
    # with 0 instead of sorting NULLS FIRST, and equal offsets keep
    # input order instead of tie-breaking on kind/text.
    ordered = F.sort_array(F.transform(
        "spans",
        lambda s, i: F.struct(
            F.coalesce(s["offset"], F.lit(0)).alias("offset"),
            i.alias("pos"), s["kind"].alias("kind"),
            s["text"].alias("text"), s["media_ref"].alias("media_ref"),
        )))
    return pre.select(
        "doc_id",
        "status",
        # try_: an empty spans array gives a NULL url (the kernel falls
        # back to doc_id), where element_at raises under ANSI mode
        F.try_element_at(ordered, F.lit(1))["media_ref"].alias("url"),
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s["kind"] == F.lit("html")),
                lambda s: F.coalesce(s["text"], F.lit(""))),
            "").alias("html"),
        F.transform(
            F.filter(ordered, lambda s: s["kind"].isin("media", "pdf")),
            lambda s: s["media_ref"]).alias("media_refs"),
        F.transform(
            F.filter(ordered, lambda s: s["kind"].isin("media", "pdf")),
            lambda s: s["kind"]).alias("media_kinds"),
    )


def map_rows(df: DataFrame, schema: StructType | str,
             open_rows: Callable[[], Callable[..., Iterable[tuple]]]
             ) -> DataFrame:
    """The one Arrow stage every Python kernel of the engine runs in:
    ``schema`` (a StructType or DDL string) is the stage's output format,
    written once.

    ``open_rows()`` runs once per task on the worker (broadcast loads,
    lazy imports) and returns the row function, which maps one input
    row's column values to that row's output tuples: one for a 1:1
    stage, 0..N for a fan-out.  A batch's output tuples go to Arrow in
    ONE ``pa.array(rows, struct)`` conversion against the Arrow form of
    ``schema``, derived once at plan time.  Nothing but
    ``df.mapInArrow`` is called on ``df``.

    Each task first installs ``_install_zip_dir_cache`` in its worker
    (once per worker), so a reused worker's later tasks skip the zip
    directory re-reads PySpark's per-task ``invalidate_caches`` costs
    before CPython 3.13: a task costs its rows, not a fixed 0.25 CPU-s."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    row_type = pa.struct(list(to_arrow_schema(schema)))

    def run(batches: Iterator) -> Iterator:
        _install_zip_dir_cache()
        rows_of = open_rows()
        for batch in batches:
            out: list = []
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                out += rows_of(*values)
            yield pa.RecordBatch.from_struct_array(pa.array(out, row_type))

    return df.mapInArrow(run, schema)


def _fill_media(spans: list[dict], texts: list[dict]) -> str | None:
    """Fill the media placeholders of ``spans`` in place from the doc's
    joined ``MEDIA_TEXT`` rows: ``media_text`` into its ``media`` spans,
    ``pdf_text`` (when not NULL) into the pdf's ``body_text`` span.  →
    the error of the earliest span whose ref failed, else None: the
    broadcast path scrapes refs in span order inside the per-doc try, so
    the first throwing ref is the doc's recorded failure.  A NULL ref
    never matches, as in the join."""
    by_ref = {t["media_ref"]: t for t in texts if t["media_ref"] is not None}
    for s in spans:
        t = (by_ref.get(s["media_ref"])
             if s["kind"] in ("media", "body_text") else None)
        if t is None:
            continue
        if t["media_err"] is not None:
            return t["media_err"]
        text = t["media_text"] if s["kind"] == "media" else t["pdf_text"]
        if text is not None:
            s["text"] = text
    return None


def _map_kernel(narrow: DataFrame, side: SideTables) -> DataFrame:
    """The fused kernel over ``narrow_columns`` rows — the single place
    documents enter ``flat_document_spans``, once per document in every
    regime.

    The kernel always gets the broadcast stores in ``side`` (an absent
    table is a broadcast ``None``), read through ``Broadcast.value``:
    PySpark keeps a reused worker's broadcasts loaded while its tasks
    carry the same set.  After the six narrow columns, the row's arity
    says what was joined onto it: (oembed_href, o_status, ctype, body)
    from the oembed join, then the doc's list of ``MEDIA_TEXT`` rows from
    the media join, which fill the kernel's media placeholders
    (``_fill_media``).  A row the oembed join gave a body gets the
    one-entry store {oembed_href: (o_status, ctype, body)}; any other
    row gets no store, since the broadcast store would answer it nothing
    ``parse_oembed`` accepts."""
    b_oembed, b_media, b_ctx = side.oembed, side.media, side.contexts

    def open_rows():
        from ..functions.engine import flat_document_spans

        oe, med, ctx = b_oembed.value, b_media.value, b_ctx.value

        def row(doc_id, status, url, html, media_refs, media_kinds,
                *joined):
            html = html or ""
            store = oe
            if len(joined) >= 4:
                href, o_status, ctype, body = joined[:4]
                store = None if body is None else {
                    href: (o_status, ctype, body)}
            texts = joined[-1] if len(joined) in (1, 5) else None
            try:
                spans = flat_document_spans(
                    url or str(doc_id), html, int(status),
                    list(media_refs or ()), oembed_store=store,
                    context_store=ctx, media_store=med,
                    media_kinds=list(media_kinds or ()))
                ok = "ok"
            except Exception as e:  # noqa: BLE001 — per-doc isolation
                spans, ok = [], type(e).__name__
            err = _fill_media(spans, texts) if texts else None
            if err is not None:
                spans, ok = [], err
            return [(doc_id, spans, len(html), ok)]

        return row

    return map_rows(narrow, EXTRACTED, open_rows)


def _salted(narrow: DataFrame, num_partitions: int | None) -> DataFrame:
    """Uniform redistribution by doc hash: a run of giant documents in
    one input file cannot pin a single Python-stage task (AQE cannot
    split a skewed UDF stage input on its own — SURVEY.md §4)."""
    n = num_partitions or narrow.sparkSession.sparkContext.defaultParallelism
    return narrow.repartition(n, F.xxhash64("doc_id"))


def extract_spans(
    df: DataFrame,
    oembed_df: DataFrame | None = None,
    context_store: dict | None = None,
    media_df: DataFrame | None = None,
    num_partitions: int | None = None,
    salt: bool = True,
    side: SideTables | None = None,
) -> DataFrame:
    """(doc_id, spans[, status]) → (doc_id, spans, n_input_bytes, ok).

    ``oembed_df``: (ref, status, ctype, body) side table, broadcast to
    executors.  ``media_df``: (media_ref, ctype, payload) side table for
    media/pdf spans.  ``context_store``: {url: @context doc}.  Pass a
    prebuilt ``side`` (broadcast_side_tables) to amortize the driver-side
    collect across calls.
    """
    if side is None:
        side = broadcast_side_tables(df.sparkSession, oembed_df, media_df,
                                     context_store)
    narrow = narrow_columns(df)
    if salt:
        narrow = _salted(narrow, num_partitions)
    return _map_kernel(narrow, side)


# --------------------------------------------------------------------------
# the join regime — side tables joined, not broadcast (10^12 docs)

NARROW_HREF = ("doc_id string, status int, url string, html string, "
               "media_refs array<string>, media_kinds array<string>, "
               "oembed_href string")


def _oembed_hrefs(narrow: DataFrame) -> DataFrame:
    """``narrow_columns`` rows → the same rows plus ``oembed_href``, the
    oembed link the kernel would look up: found in the parsed metadata
    of a status-200 document with HTML, else NULL."""

    def open_rows():
        from ..functions.engine import find_oembed_href
        from ..functions.htmlmeta import parse_html

        def row(doc_id, status, url, html, *media):
            href = None
            if status == 200 and html:
                try:
                    href = find_oembed_href(
                        parse_html(html, url or str(doc_id)))
                except Exception:  # noqa: BLE001 — per-doc isolation
                    pass
            return [(doc_id, status, url, html, *media, href)]

        return row

    return map_rows(narrow, NARROW_HREF, open_rows)


def _join_oembed(narrow: DataFrame, oembed_df: DataFrame,
                 num_partitions: int | None) -> DataFrame:
    """``narrow_columns`` rows with the (oembed_href, o_status, ctype,
    body) of the oembed document each names left-joined after the six
    narrow columns (the payload all NULL for a row that names none, or
    one the table lacks).  Both sides shuffle on the href — the oembed
    table never touches the driver.  A row that names no href (most
    documents) shuffles on its doc_id instead, so those rows spread over
    the join's partitions rather than meeting in one under a shared NULL
    key; the ``isNotNull`` term keeps them from matching."""
    oembed_side = dedup_on_key(
        oembed_df.select("ref", F.col("status").alias("o_status"),
                         "ctype", "body"),
        "ref")
    rows = _oembed_hrefs(_salted(narrow, num_partitions))
    key = F.coalesce(rows.oembed_href, rows.doc_id)
    return (rows.join(oembed_side, (key == oembed_side.ref)
                      & rows.oembed_href.isNotNull(), "left")
            .select(*narrow.columns, "oembed_href", "o_status", "ctype",
                    "body"))


MEDIA_TEXT = ("doc_id string, media_ref string, media_text string, "
              "pdf_text string, media_err string")


def _media_texts(pairs: DataFrame) -> DataFrame:
    """(doc_id, media_ref, media_kind, ctype, payload) → the media span
    texts of each joined pair, as the broadcast path computes them."""

    def open_rows():
        from ..functions.engine import media_span_texts

        def row(doc_id, ref, kind, ctype, payload):
            text, body_text, err = "", ("" if kind == "pdf" else None), None
            if payload is not None:
                try:
                    text, body_text = media_span_texts(ref, ctype, payload,
                                                       kind)
                except Exception as e:  # noqa: BLE001 — per-ref record
                    # the broadcast path runs this scrape inside the
                    # per-doc try, so a throwing payload fails the whole
                    # doc — record the error so the kernel can reproduce
                    # that (ok=<ExcName>, spans=[])
                    err = type(e).__name__
            return [(doc_id, ref, text, body_text, err)]

        return row

    return map_rows(pairs, MEDIA_TEXT, open_rows)


def _join_media(rows: DataFrame, narrow: DataFrame,
                media_df: DataFrame) -> DataFrame:
    """``rows`` plus ``media_texts``, left-joined on doc_id: each doc's
    list of ``MEDIA_TEXT`` rows, its media spans' texts as the broadcast
    path computes them.

    The (doc_id, media_ref) pairs explode out of ``narrow``, the
    ``narrow_columns`` rows ``rows`` was built from, and equi-join the
    media table on media_ref (both sides shuffle on the key — payload
    bytes never touch the driver); one Arrow stage runs the header
    readers per payload, and each doc's texts group into one list."""
    # distinct BEFORE the join: a doc repeating a media_ref must not fan the
    # payload join out into a cross product (the broadcast dict naturally
    # dedupes); the media side gets the same deterministic one-row-per-ref
    # rule the broadcast store uses
    pairs = (narrow
             .select("doc_id",
                     F.explode(F.arrays_zip("media_refs", "media_kinds"))
                     .alias("mk"))
             .select("doc_id",
                     F.col("mk.media_refs").alias("media_ref"),
                     F.col("mk.media_kinds").alias("media_kind"))
             # ONE row per (doc, ref) even when the doc uses the ref under
             # both 'media' and 'pdf' kinds.  'pdf' wins (max: 'pdf' >
             # 'media') so pdf_text is computed whenever any use needs it;
             # the kernel reads media_text/pdf_text by span kind, so a
             # merged row serves both.
             .groupBy("doc_id", "media_ref")
             .agg(F.max("media_kind").alias("media_kind"))
             .join(dedup_on_key(
                       media_df.select("media_ref", "ctype", "payload"),
                       "media_ref"),
                   "media_ref", "left")
             .select("doc_id", "media_ref", "media_kind", "ctype",
                     "payload"))
    # NULL-safe on doc_id, so a NULL-id doc keeps its texts: the keys are
    # the (coalesce, isnull) pair Spark plans `<=>` as, and the texts
    # group on that same pair, so they arrive partitioned for the join
    # (grouped on doc_id, an `eqNullSafe` join shuffles them again)
    texts = (_media_texts(pairs)
             .groupBy(F.coalesce("doc_id", F.lit("")).alias("t_id"),
                      F.isnull("doc_id").alias("t_null"))
             .agg(F.collect_list(F.struct(
                 "media_ref", "media_text", "pdf_text", "media_err"))
                 .alias("media_texts")))
    key = F.coalesce(rows.doc_id, F.lit(""))
    return (rows.join(texts, (key == texts.t_id)
                      & (rows.doc_id.isNull() == texts.t_null), "left")
            .select(*rows.columns, "media_texts"))


def extract_spans_joined(
    df: DataFrame,
    oembed_df: DataFrame | None = None,
    media_df: DataFrame | None = None,
    context_store: dict | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``extract_spans`` for the regime where the side tables are too
    large to broadcast (at 10^12 documents the oembed corpus is billions
    of rows and the media payloads most of the input bytes).  Every side
    table given is joined; only ``context_store`` is broadcast.

    Plan: the oembed table left-joins the rows on each document's oembed
    href (``_join_oembed``); each doc's media texts (``_join_media``)
    left-join its row on doc_id, after the oembed payload when both are
    given; then the one kernel pass.  Output is bit-identical to the
    broadcast path (tests/test_twopass_oembed.py).
    """
    side = broadcast_side_tables(df.sparkSession, None, None, context_store)
    narrow = rows = narrow_columns(df)
    if oembed_df is not None:
        rows = _join_oembed(narrow, oembed_df, num_partitions)
    if media_df is not None:
        rows = _join_media(rows, narrow, media_df)
    return _map_kernel(_salted(rows, num_partitions), side)
