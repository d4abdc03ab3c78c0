"""Production job driver — ``spark-submit --py-files unfurl_spark.zip
unfurl_spark/plans/driver.py --input ... --output ...``.

Implements the engine contract's operational envelope (BASELINE.json
north_rule): salted repartitioning, AQE-coalesced shuffles, and
**per-partition checkpointed lineage + metrics** so any bucket can resume
idempotently:

* documents are assigned to B deterministic buckets by
  ``pmod(xxhash64(doc_id), B)``;
* output is written partitioned by bucket with dynamic partition overwrite
  (a re-run of a bucket replaces, never duplicates);
* the per-bucket stats (docs, bytes, failures) are observed on the data
  commit itself — a ``pyspark.sql.Observation`` directly under the write,
  so they cost no Spark job and the committed data is never read back;
* after each chunk of buckets commits, its metrics rows (those stats plus
  wall sec) are appended to the metrics table as one file, which is the
  chunk's done-marker; a restarted run anti-joins the done set and only
  processes the remainder;
* broadcast side tables are built once per job, at the first chunk that
  has work, so a fully resumed run builds none.

Every Spark job the driver starts carries a job description naming its
phase (inputs, done set, side tables, data commit with its buckets,
metrics), so the Spark UI and status API attribute stages without
wrappers.

Table format goes through ``sources/tables.py``: Iceberg
(`overwritePartitions` / `append`) when the catalog jars are present,
parquet dynamic-partition-overwrite otherwise — the same idempotence
contract either way.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from contextlib import contextmanager
from functools import cache, partial

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def _job_description(spark: SparkSession, text: str):
    """Name the Spark jobs started inside the block ``text`` in the UI and
    status API; the enclosing description comes back afterwards.  (Job
    groups are left to the caller: a benchmark or scheduler may own them.)
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _done_buckets(spark: SparkSession, metrics_dir: str, n_buckets: int,
                  ops, always_ops) -> set[int]:
    """Committed buckets for THIS bucketing scheme whose recorded op set
    covers the required one (requested ∪ always-on ops).

    Rows written under a different --buckets value, or before the modulus
    was recorded, are ignored: bucket ids from another modulus name
    different document sets, so honoring them would skip or duplicate
    docs.  A full re-run under the new modulus rewrites every partition
    (dynamic overwrite), which self-heals the layout.  The op check keeps
    a first media run with ops=(decode,) from marking buckets done for a
    later run that adds features/resize/frames — the extra tables would
    be silently left missing data.  Legacy rows with no op lineage count
    only when nothing beyond the always-on ops is required (always so for
    the extraction job, which has no ops).
    """
    required = set(ops) | set(always_ops)
    path = spark._jvm.org.apache.hadoop.fs.Path(metrics_dir)
    if not path.getFileSystem(
            spark._jsc.hadoopConfiguration()).exists(path):
        # first run: no metrics yet.  Checked up front rather than caught,
        # because a query that fails analysis is still reported to the
        # session's listeners, and the observation listener logs it as
        # an error.
        return set()
    # only the columns the rule reads, by name: a file from an older
    # writer reads a column it lacks as NULL, so the rule holds per row
    # (schema inference would pick ONE file's footer and treat a mixed
    # legacy/current table either way)
    m = spark.read.schema("bucket int, status string, n_buckets int, "
                          "ops string").parquet(metrics_dir)
    done_ops: dict[int, set[str]] = {}
    for r in (m.filter((F.col("status") == "committed")
                       & (F.col("n_buckets") == n_buckets))
              .select("bucket", "ops").distinct().collect()):
        # a row without op lineage committed the always-on ops only
        done_ops.setdefault(r["bucket"], set()).update(
            always_ops if r["ops"] is None
            else (o for o in r["ops"].split(",") if o))
    return {b for b, s in done_ops.items() if required <= s}


def run_context_prepass(spark: SparkSession, input_path: str,
                        output_dir: str,
                        context_store: dict | None = None) -> int:
    """Pre-flight stage: scan the corpus for remote JSON-LD @context URLs
    the offline store cannot satisfy and write the fetch-list table
    (context_url, n_docs, sample_doc_id) under <output>/context_fetch_list.
    An out-of-band fetcher turns that list into store entries before the
    main run — executors never touch the network.  Returns the number of
    unresolved context URLs found."""
    from unfurl_spark.operators.context_prepass import context_fetch_list
    from unfurl_spark.sources.tables import read_table

    docs = read_table(spark, input_path).select("doc_id", "spans")
    out = context_fetch_list(docs, context_store)
    path = os.path.join(output_dir, "context_fetch_list")
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def _one_if(cond):
    return F.when(cond, 1).otherwise(0)


def _run_bucketed(spark: SparkSession, rows, key: str, stage,
                  metrics_dir: str, stats: dict, summed: tuple,
                  const_cols: dict, rates: dict, n_buckets: int,
                  buckets_per_job: int, run_id: str, ops=(),
                  always_ops=()) -> dict:
    """The bucketed, resumable job loop of ``run_job`` and
    ``run_media_job``.

    Rows are assigned to buckets by ``pmod(xxhash64(key), B)``, and
    buckets in the done set are skipped.  For each chunk of buckets,
    ``stage(part, bucket_of, observe)`` writes its tables, passing the
    one the stats describe through ``observe`` right before its write.
    ``stats`` ({column: per-row value}) are summed per bucket by that
    observation, so they come from the commit's own pass: no readback,
    no extra Spark job, and an empty bucket observes 0.  Once the stage
    returns, one committed metrics row per bucket is appended, the
    chunk's rows as one file: the stats (``long``), run_id, status,
    n_buckets, ``const_cols``, wall_sec and ``rates`` ({column: stat} →
    stat per wall second).  The ``summed`` stats add up into the summary.
    """
    import pyarrow as pa

    from unfurl_spark.sources import tables

    bucket_of = F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    rows = rows.withColumn("bucket", bucket_of)
    with _job_description(spark, f"unfurl {run_id}: done set"):
        done = _done_buckets(spark, metrics_dir, n_buckets, ops, always_ops)
    todo = [b for b in range(n_buckets) if b not in done]
    summary = {"run_id": run_id, "resumed_buckets": sorted(done),
               "processed_buckets": [], **dict.fromkeys(summed, 0)}

    for i in range(0, len(todo), buckets_per_job):
        chunk = todo[i:i + buckets_per_job]
        # one aggregate per (stat, bucket): Observation has no group-by
        obs = Observation()
        per_bucket = [
            F.coalesce(F.sum(F.when(F.col("bucket") == b, value)),
                       F.lit(0)).cast("long").alias(f"{name}_{b}")
            for name, value in stats.items() for b in chunk]
        t0 = time.time()
        with _job_description(spark,
                              f"unfurl {run_id}: data commit {chunk}"):
            stage(rows.filter(F.col("bucket").isin(chunk)), bucket_of,
                  lambda df: df.observe(obs, *per_bucket))
        wall = time.time() - t0
        seen = obs.get
        per_stat = {n: [seen[f"{n}_{b}"] for b in chunk] for n in stats}

        # lineage metrics, one row per bucket (appended after data commit)
        # from Arrow: a local relation, so the append starts no Python
        # worker; one partition, so the chunk's rows land in one file
        out = spark.createDataFrame(pa.table({
            "bucket": pa.array(chunk, pa.int32()),
            **{n: pa.array(v, pa.int64()) for n, v in per_stat.items()}})
        ).coalesce(1)
        out = (out.withColumn("run_id", F.lit(run_id))
               .withColumn("status", F.lit("committed"))
               .withColumn("n_buckets", F.lit(n_buckets)))
        for name, value in const_cols.items():
            out = out.withColumn(name, F.lit(value))
        out = out.withColumn("wall_sec", F.lit(round(wall, 3)))
        for name, stat in rates.items():
            out = out.withColumn(name, F.round(F.col(stat) / F.lit(wall), 1))
        with _job_description(spark, f"unfurl {run_id}: metrics {chunk}"):
            tables.append_metrics(out, metrics_dir)
        summary["processed_buckets"].extend(chunk)
        for name in summed:
            summary[name] += sum(per_stat[name])

    return summary


def run_media_job(spark: SparkSession, media_path: str, output_dir: str,
                  ops: tuple = ("decode",), n_buckets: int = 16,
                  buckets_per_job: int = 4,
                  run_id: str | None = None) -> dict:
    """Multimodal stage with the same operational envelope as the
    extraction job: media payloads bucketed by ``pmod(xxhash64(
    media_ref), B)``, per-bucket idempotent overwrite, per-bucket
    metrics + done-markers, restart resumes the remainder.

    ``ops`` ⊆ {decode, features, resize, frames}: decode always writes
    ``<out>/media_meta`` (container/dims/ok lineage).  The pixel ops run
    as ONE kernel, one decode per payload (``multimodal.pixel_pass``);
    with features or resize, its result is persisted once, written as
    ``media_meta`` / ``media_features`` / ``media_resize`` projections and
    unpersisted.  frames is its own stage.  Both read the chunk salted
    into ``defaultParallelism`` partitions on ``media_ref``, not the
    scan's file splits.  The per-bucket stats are observed on the
    ``media_meta`` commit.
    """
    from unfurl_spark.functions.multimodal import pixel_pass, sample_frames
    from unfurl_spark.sources import tables

    run_id = run_id or f"media-{int(time.time())}"
    pixel = ("decode", *(op for op in ("features", "resize") if op in ops))
    table_of = {"decode": "media_meta", "features": "media_features",
                "resize": "media_resize", "frames": "media_frames"}

    salt = spark.sparkContext.defaultParallelism

    def stage(part, bucket_of, observe):
        part = part.select("media_ref", "ctype", "payload")
        res = pixel_pass(part, pixel, num_partitions=salt)
        outs = ({"decode": res} if len(pixel) == 1 else
                {op: res.select("media_ref", f"{op}.*") for op in pixel})
        if "frames" in ops:
            outs["frames"] = sample_frames(part, num_partitions=salt)
        if len(pixel) > 1:
            res.persist()  # one decode feeds every pixel table
        try:
            for op, out in outs.items():
                out = out.withColumn("bucket", bucket_of)
                tables.write_bucketed(
                    observe(out) if op == "decode" else out,
                    os.path.join(output_dir, table_of[op]))
        finally:
            res.unpersist()  # a no-op when nothing was persisted

    always = ("decode",)
    stats = {"n_media": F.lit(1),
             "n_decoded": _one_if(F.col("ok") == "ok"),
             "n_codec_unavailable":
                 _one_if(F.col("ok") == "codec:unavailable"),
             "n_errors": _one_if(F.col("ok").startswith("err:"))}
    with _job_description(spark, f"unfurl {run_id}: inputs"):
        media = tables.read_table(spark, media_path)
    return _run_bucketed(
        spark, media, "media_ref", stage,
        os.path.join(output_dir, "media_metrics"), stats,
        summed=tuple(stats),
        const_cols={"ops": ",".join(sorted({*ops, *always}))},
        rates={}, n_buckets=n_buckets, buckets_per_job=buckets_per_job,
        run_id=run_id, ops=ops, always_ops=always)


def run_job(spark: SparkSession, input_path: str, output_dir: str,
            oembed_path: str | None = None, media_path: str | None = None,
            n_buckets: int = 16, buckets_per_job: int = 4,
            run_id: str | None = None,
            side_mode: str = "broadcast") -> dict:
    if side_mode not in ("broadcast", "join"):
        raise ValueError(f"unknown side_mode {side_mode!r}: "
                         "expected 'broadcast' or 'join'")
    # absolute import: this file doubles as a spark-submit entry script
    # (no parent package when launched via --py-files + script path).
    # Module attributes are looked up per call, so a patched
    # extract_spans / broadcast_side_tables / write_bucketed is honored.
    from unfurl_spark.operators import pipeline
    from unfurl_spark.sources import tables

    run_id = run_id or f"run-{int(time.time())}"
    out_data = os.path.join(output_dir, "spans")
    with _job_description(spark, f"unfurl {run_id}: inputs"):
        docs = tables.read_table(spark, input_path)
        oembed_df = (tables.read_table(spark, oembed_path)
                     if oembed_path else None)
        media_df = (tables.read_table(spark, media_path)
                    if media_path else None)

    if side_mode == "broadcast":
        # once per job, at the first chunk with work: a fully resumed run
        # collects and broadcasts nothing
        @cache
        def side():
            with _job_description(spark, f"unfurl {run_id}: side tables"):
                return pipeline.broadcast_side_tables(spark, oembed_df,
                                                      media_df)

        def extract(sel):
            return pipeline.extract_spans(sel, side=side())
    else:
        # 10^12-doc regime: side tables too large to broadcast — oembed
        # via href pass + equi-join, media payloads via explode +
        # equi-join (pipeline.py)
        extract = partial(pipeline.extract_spans_joined,
                          oembed_df=oembed_df, media_df=media_df)

    def stage(part, bucket_of, observe):
        sel = part.select("doc_id", "spans",
                          *(["status"] if "status" in docs.columns else []))
        # bucket is a pure function of doc_id — recompute instead of
        # joining back against the input table (that join is a full extra
        # shuffle of the span payload at scale)
        result = extract(sel).withColumn("bucket", bucket_of)
        # idempotent data commit: replace exactly these buckets
        # (Iceberg overwritePartitions / parquet dynamic overwrite); the
        # stats are observed directly under the write, no exchange between
        tables.write_bucketed(observe(result), out_data)

    return _run_bucketed(
        spark, docs, "doc_id", stage, os.path.join(output_dir, "metrics"),
        {"n_docs": F.lit(1), "n_bytes": F.col("n_input_bytes"),
         "n_failures": _one_if(F.col("ok") != "ok")},
        summed=("n_docs", "n_failures"), const_cols={},
        rates={"docs_per_sec": "n_docs"}, n_buckets=n_buckets,
        buckets_per_job=buckets_per_job, run_id=run_id)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--oembed")
    ap.add_argument("--media")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--buckets-per-job", type=int, default=4)
    ap.add_argument("--run-id")
    ap.add_argument("--side-mode", choices=("broadcast", "join"),
                    default="broadcast",
                    help="side-table strategy: broadcast (fits executors) "
                         "or join (10^12-doc regime, no broadcast)")
    ap.add_argument("--context-prepass", action="store_true",
                    help="run ONLY the remote-context fetch-list pre-pass "
                         "and exit (writes <output>/context_fetch_list)")
    ap.add_argument("--media-job",
                    help="run the multimodal stage instead of extraction: "
                         "comma list of ops from decode,features,resize,"
                         "frames (decode always included); --input is the "
                         "media payload table")
    ap.add_argument("--master")
    args = ap.parse_args()

    from unfurl_spark.operators.pipeline import session

    spark = session(app="unfurl_spark_driver", master=args.master)
    if args.media_job:
        ops = tuple(o.strip() for o in args.media_job.split(",") if o.strip())
        summary = run_media_job(spark, args.input, args.output, ops=ops,
                                n_buckets=args.buckets,
                                buckets_per_job=args.buckets_per_job,
                                run_id=args.run_id)
    elif args.context_prepass:
        summary = {"unresolved_context_urls": run_context_prepass(
                       spark, args.input, args.output),
                   "fetch_list": os.path.join(args.output,
                                              "context_fetch_list")}
    else:
        summary = run_job(spark, args.input, args.output,
                          oembed_path=args.oembed, media_path=args.media,
                          n_buckets=args.buckets,
                          buckets_per_job=args.buckets_per_job,
                          run_id=args.run_id, side_mode=args.side_mode)
    print(json.dumps(summary))
    spark.stop()

if __name__ == "__main__":
    main()
