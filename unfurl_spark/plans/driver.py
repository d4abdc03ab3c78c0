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
* after each chunk of buckets commits, one metrics row per bucket
  (docs, bytes, failures, wall sec) is appended to the metrics table and a
  done-marker recorded; a restarted run anti-joins the done set and only
  processes the remainder.

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
from functools import partial

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


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
    try:
        # only the columns the rule reads, by name: a file from an older
        # writer reads a column it lacks as NULL, so the rule holds per
        # row (schema inference would pick ONE file's footer and treat a
        # mixed legacy/current table either way)
        m = spark.read.schema("bucket int, status string, n_buckets int, "
                              "ops string").parquet(metrics_dir)
    except Exception:  # noqa: BLE001 — first run, no metrics yet
        return set()
    done_ops: dict[int, set[str]] = {}
    for r in (m.filter((F.col("status") == "committed")
                       & (F.col("n_buckets") == n_buckets))
              .select("bucket", "ops").distinct().collect()):
        # a row without op lineage committed the always-on ops only
        done_ops.setdefault(r["bucket"], set()).update(
            always_ops if r["ops"] is None
            else (o for o in r["ops"].split(",") if o))
    return {b for b, s in done_ops.items() if required <= s}


def _chunk_stats(spark: SparkSession, data_dir: str, chunk: list[int],
                 agg_exprs: list, zero_cols: dict):
    """Per-bucket stats for a committed chunk, read back from the data
    table.  Total over two edge cases: a bucket with ZERO rows still gets
    a committed metrics row (else resume would reprocess it forever), and
    a data dir with no parquet files yet (every bucket in the first chunk
    empty) must not crash schema inference."""
    buckets = spark.createDataFrame([(int(b),) for b in chunk],
                                    "bucket int")
    try:
        agg = (spark.read.parquet(data_dir)
               .filter(F.col("bucket").isin(chunk))
               .groupBy("bucket").agg(*agg_exprs))
    except Exception:  # noqa: BLE001 — empty table, no schema
        agg = None
    if agg is None:
        out = buckets
        for name, zero in zero_cols.items():
            out = out.withColumn(name, F.lit(zero))
        return out
    out = buckets.join(agg, "bucket", "left")
    for name, zero in zero_cols.items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(zero)))
    return out


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


def _count_if(cond):
    return F.sum(F.when(cond, 1).otherwise(0))


def _run_bucketed(spark: SparkSession, rows, key: str, stage,
                  metrics_dir: str, stats: dict, summed: tuple,
                  const_cols: dict, rates: dict, n_buckets: int,
                  buckets_per_job: int, run_id: str, ops=(),
                  always_ops=()) -> dict:
    """The bucketed, resumable job loop of ``run_job`` and
    ``run_media_job``.

    Rows are assigned to buckets by ``pmod(xxhash64(key), B)``, and
    buckets in the done set are skipped.  For each chunk of buckets,
    ``stage(part, bucket_of)`` writes its tables and returns the one the
    per-bucket stats are read back from.  One committed metrics row per
    bucket is then appended: the ``stats`` aggregates ({column: expr},
    all counts or sums, so an empty bucket reads 0), run_id, status,
    n_buckets, ``const_cols``, wall_sec and ``rates`` ({column: stat} →
    stat per wall second).  The ``summed`` stats add up into the summary.
    """
    from unfurl_spark.sources.tables import append_metrics

    bucket_of = F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    rows = rows.withColumn("bucket", bucket_of)
    done = _done_buckets(spark, metrics_dir, n_buckets, ops, always_ops)
    todo = [b for b in range(n_buckets) if b not in done]
    summary = {"run_id": run_id, "resumed_buckets": sorted(done),
               "processed_buckets": [], **dict.fromkeys(summed, 0)}

    for i in range(0, len(todo), buckets_per_job):
        chunk = todo[i:i + buckets_per_job]
        t0 = time.time()
        stats_dir = stage(rows.filter(F.col("bucket").isin(chunk)),
                          bucket_of)
        wall = time.time() - t0

        # lineage metrics, one row per bucket (appended after data commit)
        out = (_chunk_stats(spark, stats_dir, chunk,
                            [e.alias(n) for n, e in stats.items()],
                            dict.fromkeys(stats, 0))
               .withColumn("run_id", F.lit(run_id))
               .withColumn("status", F.lit("committed"))
               .withColumn("n_buckets", F.lit(n_buckets)))
        for name, value in const_cols.items():
            out = out.withColumn(name, F.lit(value))
        out = out.withColumn("wall_sec", F.lit(round(wall, 3)))
        for name, stat in rates.items():
            out = out.withColumn(name, F.round(F.col(stat) / F.lit(wall), 1))
        append_metrics(out, metrics_dir)
        agg = out.agg(*[F.sum(c) for c in summed]).collect()[0]
        summary["processed_buckets"].extend(chunk)
        for j, name in enumerate(summed):
            summary[name] += agg[j] or 0

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
    ``<out>/media_meta`` (container/dims/ok lineage — the cheap
    header+codec pass); the others add their own bucketed tables.
    """
    from unfurl_spark.functions.multimodal import (decode_media,
                                                   extract_features,
                                                   resize_images,
                                                   sample_frames)
    from unfurl_spark.sources.tables import read_table, write_bucketed

    writers = {"decode": ("media_meta", decode_media),
               "features": ("media_features", extract_features),
               "resize": ("media_resize", resize_images),
               "frames": ("media_frames", sample_frames)}

    def stage(part, bucket_of):
        part = part.select("media_ref", "ctype", "payload")
        for op in dict.fromkeys(("decode", *ops)):
            if op in writers:
                table, op_fn = writers[op]
                write_bucketed(op_fn(part).withColumn("bucket", bucket_of),
                               os.path.join(output_dir, table))
        return os.path.join(output_dir, "media_meta")

    always = ("decode",)
    stats = {"n_media": F.count("*"),
             "n_decoded": _count_if(F.col("ok") == "ok"),
             "n_codec_unavailable":
                 _count_if(F.col("ok") == "codec:unavailable"),
             "n_errors": _count_if(F.col("ok").startswith("err:"))}
    return _run_bucketed(
        spark, read_table(spark, media_path), "media_ref", stage,
        os.path.join(output_dir, "media_metrics"), stats,
        summed=tuple(stats),
        const_cols={"ops": ",".join(sorted({*ops, *always}))},
        rates={}, n_buckets=n_buckets, buckets_per_job=buckets_per_job,
        run_id=run_id or f"media-{int(time.time())}", ops=ops,
        always_ops=always)


def run_job(spark: SparkSession, input_path: str, output_dir: str,
            oembed_path: str | None = None, media_path: str | None = None,
            n_buckets: int = 16, buckets_per_job: int = 4,
            run_id: str | None = None,
            side_mode: str = "broadcast") -> dict:
    if side_mode not in ("broadcast", "join"):
        raise ValueError(f"unknown side_mode {side_mode!r}: "
                         "expected 'broadcast' or 'join'")
    # absolute import: this file doubles as a spark-submit entry script
    # (no parent package when launched via --py-files + script path)
    from unfurl_spark.operators.pipeline import (extract_spans,
                                                 extract_spans_media_join,
                                                 extract_spans_twopass)
    from unfurl_spark.sources.tables import read_table, write_bucketed

    out_data = os.path.join(output_dir, "spans")
    docs = read_table(spark, input_path)
    oembed_df = read_table(spark, oembed_path) if oembed_path else None
    media_df = read_table(spark, media_path) if media_path else None

    if side_mode == "broadcast":
        extract = partial(extract_spans, oembed_df=oembed_df,
                          media_df=media_df)
    # 10^12-doc regime: side tables too large to broadcast — oembed via
    # two-pass href join, media payloads via explode + equi-join
    # (pipeline.py)
    elif media_df is not None:
        extract = partial(extract_spans_media_join, media_df=media_df,
                          oembed_df=oembed_df, join_oembed=True)
    elif oembed_df is not None:
        extract = partial(extract_spans_twopass, oembed_df=oembed_df)
    else:
        extract = extract_spans

    def stage(part, bucket_of):
        sel = part.select("doc_id", "spans",
                          *(["status"] if "status" in docs.columns else []))
        # bucket is a pure function of doc_id — recompute instead of
        # joining back against the input table (that join is a full extra
        # shuffle of the span payload at scale)
        result = extract(sel).withColumn("bucket", bucket_of)
        # idempotent data commit: replace exactly these buckets
        # (Iceberg overwritePartitions / parquet dynamic overwrite)
        write_bucketed(result, out_data)
        return out_data

    return _run_bucketed(
        spark, docs, "doc_id", stage, os.path.join(output_dir, "metrics"),
        {"n_docs": F.count("*"), "n_bytes": F.sum("n_input_bytes"),
         "n_failures": _count_if(F.col("ok") != "ok")},
        summed=("n_docs", "n_failures"), const_cols={},
        rates={"docs_per_sec": "n_docs"}, n_buckets=n_buckets,
        buckets_per_job=buckets_per_job,
        run_id=run_id or f"run-{int(time.time())}")


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
