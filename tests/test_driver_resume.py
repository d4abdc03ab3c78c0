"""Batch driver: bucketed checkpointed lineage + idempotent resume."""

import glob
import json
import os
import shutil
import time
import urllib.request
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import unfurl_spark.operators.pipeline as pipeline_mod
from unfurl_spark.plans.driver import _done_buckets, _metrics_table, run_job
from unfurl_spark.sources.synthetic import write_corpus
from unfurl_spark.sources.tables import append_metrics


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("drv")
    return write_corpus(str(out), 200, seed=42)


def _data_files(table_dir):
    return glob.glob(os.path.join(table_dir, "**", "part-*"),
                     recursive=True)


def test_run_commits_all_buckets(spark, corpus, tmp_path):
    out = str(tmp_path / "out")
    s = run_job(spark, corpus["documents_raw"], out,
                oembed_path=corpus["oembed_docs"],
                media_path=corpus["media_payloads"],
                n_buckets=4, buckets_per_job=2, run_id="t1")
    assert sorted(s["processed_buckets"]) == [0, 1, 2, 3]
    assert s["n_docs"] == 200
    assert s["n_failures"] == 0

    spans = spark.read.parquet(out + "/spans")
    assert spans.count() == 200
    metrics = spark.read.parquet(out + "/metrics")
    assert metrics.filter("status = 'committed'").count() == 4
    assert metrics.agg(F.sum("n_docs")).collect()[0][0] == 200
    # one metrics file per chunk (2 chunks of 2 buckets), not per bucket
    assert len(_data_files(out + "/metrics")) == 2

    # re-run: everything already committed → pure no-op resume
    s2 = run_job(spark, corpus["documents_raw"], out,
                 oembed_path=corpus["oembed_docs"],
                 media_path=corpus["media_payloads"],
                 n_buckets=4, buckets_per_job=2, run_id="t2")
    assert s2["processed_buckets"] == []
    assert sorted(s2["resumed_buckets"]) == [0, 1, 2, 3]
    assert spark.read.parquet(out + "/spans").count() == 200
    assert len(_data_files(out + "/metrics")) == 2


def test_crash_midway_then_resume(spark, corpus, tmp_path, monkeypatch):
    out = str(tmp_path / "out2")
    real = pipeline_mod.extract_spans
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        return real(*args, **kwargs)

    import unfurl_spark.plans.driver as driver_mod  # noqa: F401
    monkeypatch.setattr(pipeline_mod, "extract_spans", flaky)
    with pytest.raises(RuntimeError):
        run_job(spark, corpus["documents_raw"], out,
                oembed_path=corpus["oembed_docs"],
                media_path=corpus["media_payloads"],
                n_buckets=4, buckets_per_job=2, run_id="crash")
    monkeypatch.setattr(pipeline_mod, "extract_spans", real)

    committed = spark.read.parquet(out + "/metrics") \
        .filter("status = 'committed'").select("bucket").distinct().count()
    assert committed == 2  # first chunk landed, second did not

    s = run_job(spark, corpus["documents_raw"], out,
                oembed_path=corpus["oembed_docs"],
                media_path=corpus["media_payloads"],
                n_buckets=4, buckets_per_job=2, run_id="resume")
    assert len(s["processed_buckets"]) == 2
    assert len(s["resumed_buckets"]) == 2
    spans = spark.read.parquet(out + "/spans")
    assert spans.count() == 200
    assert spans.select("doc_id").distinct().count() == 200


def test_empty_buckets_still_commit(spark, corpus, tmp_path):
    """Buckets that receive zero docs (tiny corpus, many buckets) must
    still get a committed metrics row — else every restart reprocesses
    them forever — and an all-empty first chunk must not crash the
    metrics read-back on schema inference."""
    out = str(tmp_path / "out_empty")
    # 3 docs over 64 buckets: most buckets are empty
    docs = spark.read.parquet(corpus["documents_raw"]).limit(3)
    small = str(tmp_path / "small.parquet")
    docs.write.parquet(small)
    s = run_job(spark, small, out, n_buckets=64, buckets_per_job=16,
                run_id="empty1")
    assert len(s["processed_buckets"]) == 64
    metrics = spark.read.parquet(out + "/metrics")
    assert metrics.filter("status = 'committed'") \
                  .select("bucket").distinct().count() == 64
    # resume: nothing left
    s2 = run_job(spark, small, out, n_buckets=64, buckets_per_job=16,
                 run_id="empty2")
    assert s2["processed_buckets"] == []


def test_bucket_count_change_invalidates_done_set(spark, corpus, tmp_path):
    """Metrics rows committed under a different --buckets modulus name
    different doc sets — a resume with a new modulus must reprocess
    everything (dynamic overwrite self-heals the layout)."""
    out = str(tmp_path / "out_mod")
    run_job(spark, corpus["documents_raw"], out, n_buckets=4,
            buckets_per_job=4, run_id="m4")
    s = run_job(spark, corpus["documents_raw"], out, n_buckets=8,
                buckets_per_job=8, run_id="m8")
    assert s["resumed_buckets"] == []          # old rows ignored
    assert sorted(s["processed_buckets"]) == list(range(8))
    # no duplicated docs after the modulus change
    assert spark.read.parquet(out + "/spans") \
                .select("doc_id").distinct().count() == 200
    assert spark.read.parquet(out + "/spans").count() == 200


def _drop_metrics_column(spark, metrics_dir, column):
    """Rewrite a metrics table without ``column``, as an older writer
    would have left it."""
    tmp = metrics_dir + ".rewrite"
    spark.read.parquet(metrics_dir).drop(column).write.parquet(tmp)
    shutil.rmtree(metrics_dir)
    shutil.move(tmp, metrics_dir)


def test_legacy_metrics_rows_resume_rules(spark, corpus, tmp_path):
    """Rows without n_buckets name an unknown modulus → reprocess.  The
    extraction job has no ops, so its rows (which carry no ops column)
    are honored."""
    out = str(tmp_path / "out_legacy")
    run_job(spark, corpus["documents_raw"], out, n_buckets=4,
            buckets_per_job=4, run_id="l1")
    _drop_metrics_column(spark, out + "/metrics", "n_buckets")
    s = run_job(spark, corpus["documents_raw"], out, n_buckets=4,
                buckets_per_job=4, run_id="l2")
    assert s["resumed_buckets"] == []
    assert sorted(s["processed_buckets"]) == [0, 1, 2, 3]
    assert spark.read.parquet(out + "/spans").count() == 200

    assert "ops" not in spark.read.parquet(out + "/metrics").columns
    s = run_job(spark, corpus["documents_raw"], out, n_buckets=4,
                buckets_per_job=4, run_id="l3")
    assert s["processed_buckets"] == []
    assert sorted(s["resumed_buckets"]) == [0, 1, 2, 3]


def test_unknown_side_mode_rejected(spark, corpus, tmp_path):
    out = str(tmp_path / "out_mode")
    with pytest.raises(ValueError, match="side_mode"):
        run_job(spark, corpus["documents_raw"], out, side_mode="brodcast")
    assert not os.path.exists(out)


def test_side_tables_built_once_per_job(spark, corpus, tmp_path,
                                        monkeypatch):
    """Broadcast side tables are built once per job, not per chunk, and
    not at all by a fully resumed run; a worker task of a later job holds
    only that job's side-table set, not every set its worker ever
    loaded (PySpark's per-worker broadcast registry)."""
    real = pipeline_mod.broadcast_side_tables
    built = []

    def counted(*args, **kwargs):
        built.append(real(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(pipeline_mod, "broadcast_side_tables", counted)

    def run(out, run_id):
        return run_job(spark, corpus["documents_raw"], str(out),
                       oembed_path=corpus["oembed_docs"],
                       media_path=corpus["media_payloads"],
                       n_buckets=4, buckets_per_job=1, run_id=run_id)

    assert len(run(tmp_path / "a", "s1")["processed_buckets"]) == 4
    assert len(built) == 1
    assert run(tmp_path / "a", "s2")["processed_buckets"] == []
    assert len(built) == 1          # fully resumed: nothing built
    run(tmp_path / "b", "s3")
    assert len(built) == 2

    # the probe's tasks carry the last job's set, as that job's kernel
    # tasks did, on workers that ran both jobs' kernels
    last = (built[-1].oembed, built[-1].media, built[-1].contexts)

    def open_rows():
        from pyspark.core.broadcast import _broadcastRegistry

        oe, med, _ = (b.value for b in last)     # read as the kernel does
        return lambda _id: [(sorted(_broadcastRegistry), bool(oe and med))]

    n = spark.sparkContext.defaultParallelism
    rows = pipeline_mod.map_rows(spark.range(0, n, 1, n),
                                 "held array<long>, loaded boolean",
                                 open_rows).collect()
    ids = sorted(b._jbroadcast.id() for b in last)
    assert [tuple(r) for r in rows] == [(ids, True)] * n


def test_reused_worker_loads_each_side_table_once(spark):
    """Over 3 × defaultParallelism one-row tasks that carry the same side
    tables, every task a worker runs after its first finds each table's
    value already loaded: loads are counted per worker by a
    ``Broadcast.load_from_path`` wrapper that each worker's first task
    installs, and that first task loads each of the 3 tables once."""
    sc = spark.sparkContext
    expected = ({"https://ex.com/oembed": (200, "application/json", "{}")},
                {"a.png": ("image/png", b"\x89PNG")}, None)
    tables = tuple(sc.broadcast(v) for v in expected)

    def open_rows():
        from pyspark.core.broadcast import Broadcast

        loads = getattr(Broadcast.load_from_path, "loads", None)
        first = loads is None
        if first:
            real = Broadcast.load_from_path

            def counted(self, path):
                counted.loads[0] += 1
                return real(self, path)

            counted.loads = loads = [0]
            Broadcast.load_from_path = counted
        oe, med, ctx = (b.value for b in tables)
        seen, loads[0] = loads[0], 0
        read = (oe, med, ctx) == expected
        return lambda _id: [(first, seen, read)]

    n = sc.defaultParallelism
    rows = pipeline_mod.map_rows(
        spark.range(0, 3 * n, 1, 3 * n),
        "first boolean, loads long, read boolean", open_rows).collect()
    later = [r for r in rows if not r["first"]]
    assert len(rows) == 3 * n
    assert all(r["read"] for r in rows)
    assert [r["loads"] for r in rows if r["first"]] == \
        [3] * (len(rows) - len(later))
    assert later                      # some worker ran more than one task
    assert [r["loads"] for r in later] == [0] * len(later)


def _with_failing_doc(spark, corpus, tmp_path, n_docs):
    """``n_docs`` corpus documents plus one the kernel fails on: an
    og:image whose netloc is an unterminated IPv6 literal makes URL
    resolution raise, so that document reads ok='ValueError'."""
    t = pq.read_table(corpus["documents_raw"]).slice(0, n_docs)
    bad = pa.Table.from_pylist([{
        "doc_id": "bad-og-image",
        "spans": [{"kind": "html", "media_ref": "http://bad.example/",
                   "offset": 0,
                   "text": '<html><head><meta property="og:image" '
                           'content="//[::1"></head><body><p>text</p>'
                           '</body></html>'}],
        "status": 200}], schema=t.schema)
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.concat_tables([t, bad]), path)
    return path


@pytest.mark.parametrize("side_mode", ["broadcast", "join"])
def test_metrics_equal_committed_spans(spark, corpus, tmp_path, side_mode):
    """Every committed metrics row equals the per-bucket count, byte sum
    and failure count of the committed spans table — empty buckets (more
    buckets than documents) read 0, and a failing document counts."""
    docs = _with_failing_doc(spark, corpus, tmp_path, 8)
    out = str(tmp_path / "out")
    n_buckets = 16
    s = run_job(spark, docs, out, oembed_path=corpus["oembed_docs"],
                media_path=corpus["media_payloads"], n_buckets=n_buckets,
                buckets_per_job=4, run_id="eq", side_mode=side_mode)
    assert s["n_docs"] == 9
    assert s["n_failures"] >= 1

    spans = spark.read.parquet(out + "/spans")
    want = {b: (0, 0, 0) for b in range(n_buckets)}
    for r in spans.groupBy("bucket").agg(
            F.count("*"), F.sum("n_input_bytes"),
            F.expr("count_if(ok != 'ok')")).collect():
        want[r[0]] = (r[1], r[2], r[3])
    assert sum(1 for v in want.values() if v[0] == 0) > 0   # empty buckets
    assert sum(v[2] for v in want.values()) >= 1

    metrics = spark.read.parquet(out + "/metrics")
    assert {f.name: f.dataType.simpleString() for f in metrics.schema
            if f.name in ("n_docs", "n_bytes", "n_failures")} \
        == dict.fromkeys(("n_docs", "n_bytes", "n_failures"), "bigint")
    got = {r["bucket"]: (r["n_docs"], r["n_bytes"], r["n_failures"])
           for r in metrics.collect()}
    assert metrics.count() == n_buckets
    assert got == want
    assert s["n_failures"] == sum(v[2] for v in want.values())


def _jobs_of(spark, run):
    """The Spark jobs started while ``run()`` ran, read through the status
    REST API between two marker jobs."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"

    def jobs():
        with urllib.request.urlopen(base, timeout=30) as r:
            return json.load(r)

    def marker(text):
        # one RDD job (no AQE stages); the status store is fed
        # asynchronously, but once the marker shows up, every job started
        # before it has too
        sc.setJobDescription(text)
        sc.parallelize([1], 1).count()
        sc.setJobDescription(None)
        for _ in range(100):
            found = [j["jobId"] for j in jobs()
                     if j.get("description") == text]
            if found:
                return found[0]
            time.sleep(0.1)
        raise AssertionError(f"marker job {text!r} never listed")

    tag = uuid.uuid4().hex
    start = marker(f"jobs-start-{tag}")
    run()
    end = marker(f"jobs-end-{tag}")
    return [j for j in jobs() if start < j["jobId"] < end]


def test_every_driver_job_is_named(spark, corpus, tmp_path):
    """Every Spark job ``run_job`` starts carries a job description naming
    its phase (read through the status REST API), and the caller's own
    description is restored afterwards."""
    sc = spark.sparkContext

    def run():
        sc.setJobDescription("caller's description")
        run_job(spark, corpus["documents_raw"], str(tmp_path / "out"),
                oembed_path=corpus["oembed_docs"],
                media_path=corpus["media_payloads"],
                n_buckets=4, buckets_per_job=2, run_id="named")
        assert sc.getLocalProperty("spark.job.description") \
            == "caller's description"
        sc.setJobDescription(None)

    started = _jobs_of(spark, run)
    assert started
    unnamed = [j["name"] for j in started
               if not (j.get("description") or "").startswith("unfurl named:")]
    assert unnamed == []
    descs = {j["description"] for j in started}
    assert "unfurl named: side tables" in descs
    assert "unfurl named: data commit [0, 1]" in descs


def test_parquet_metrics_marker_starts_no_spark_job(spark, corpus, tmp_path):
    """Under parquet the driver writes each chunk's metrics file itself:
    ``run_job`` starts no metrics job, its data commits are still named,
    and each chunk's marker is one committed file."""
    out = str(tmp_path / "out")
    started = _jobs_of(spark, lambda: run_job(
        spark, corpus["documents_raw"], out, n_buckets=4, buckets_per_job=2,
        run_id="marker"))
    descs = [j.get("description") or "" for j in started]
    assert [d for d in descs if ": metrics" in d] == []
    assert "unfurl marker: data commit [0, 1]" in descs
    assert "unfurl marker: data commit [2, 3]" in descs
    assert len(_data_files(out + "/metrics")) == 2
    assert glob.glob(out + "/metrics/_tmp-*") == []
    assert spark.read.parquet(out + "/metrics").count() == 4


def test_hidden_metrics_file_is_not_a_marker(spark, corpus, tmp_path):
    """A metrics file still under its hidden ``_tmp-`` name (a driver that
    died before the rename) holds committed rows, yet neither marks its
    buckets done nor shows in a read of the metrics table: the resumed
    run reprocesses exactly those buckets."""
    out = str(tmp_path / "out")
    run_job(spark, corpus["documents_raw"], out, n_buckets=4,
            buckets_per_job=2, run_id="h1")
    metrics = out + "/metrics"
    part = sorted(_data_files(metrics))[0]
    lost = sorted(r["bucket"] for r in pq.read_table(part).to_pylist())
    os.rename(part, os.path.join(metrics, "_tmp-" + os.path.basename(part)))
    kept = set(range(4)) - set(lost)
    assert len(lost) == 2

    assert {r["bucket"] for r in spark.read.parquet(metrics).collect()} \
        == kept
    assert _done_buckets(spark, metrics, 4, (), ()) == kept
    s = run_job(spark, corpus["documents_raw"], out, n_buckets=4,
                buckets_per_job=2, run_id="h2")
    assert sorted(s["processed_buckets"]) == lost
    assert spark.read.parquet(out + "/spans").count() == 200


def _spark_written_metrics(spark, chunk, per_stat, const, wall, rates):
    """A chunk's metrics rows as the driver wrote them through a Spark job
    before it wrote the marker file itself."""
    out = spark.createDataFrame(pa.table({
        "bucket": pa.array(chunk, pa.int32()),
        **{n: pa.array(v, pa.int64()) for n, v in per_stat.items()}})
    ).coalesce(1)
    for name, value in const.items():
        out = out.withColumn(name, F.lit(value))
    out = out.withColumn("wall_sec", F.lit(round(wall, 3)))
    for name, stat in rates.items():
        out = out.withColumn(name, F.round(F.col(stat) / F.lit(wall), 1))
    return out


def test_spark_and_driver_written_metrics_read_as_one(spark, tmp_path):
    """A metrics table holding one Spark-written and one driver-written
    file reads under one schema, with the same values for the same chunk
    (the rates rounded HALF_UP, as Spark's ``round`` does: 2.25 → 2.3,
    0.15 → 0.2), and ``_done_buckets`` honours both files."""
    metrics = str(tmp_path / "metrics")
    per_stat = {"n_docs": [45, 3, 7, 0], "n_bytes": [10, 20, 30, 0],
                "n_failures": [1, 0, 0, 0]}
    const = {"run_id": "mixed", "status": "committed", "n_buckets": 8,
             "ops": "decode"}
    rates = {"docs_per_sec": "n_docs"}
    _spark_written_metrics(spark, [0, 1, 2, 3], per_stat, const, 20.0,
                           rates).write.mode("append").parquet(metrics)
    append_metrics(_metrics_table([4, 5, 6, 7], per_stat, const, 20.0,
                                  rates), metrics)

    files = sorted(_data_files(metrics))
    assert len(files) == 2
    schemas = {spark.read.parquet(f).schema.simpleString() for f in files}
    assert schemas == {
        "struct<bucket:int,n_docs:bigint,n_bytes:bigint,n_failures:bigint,"
        "run_id:string,status:string,n_buckets:int,ops:string,"
        "wall_sec:double,docs_per_sec:double>"}
    both = spark.read.option("mergeSchema", "true").parquet(metrics)
    assert {both.schema.simpleString()} == schemas
    assert {spark.read.parquet(metrics).schema.simpleString()} == schemas

    rows = {r["bucket"]: r.asDict() for r in both.collect()}
    for b in range(4):
        assert {**rows[b], "bucket": None} == {**rows[b + 4], "bucket": None}
    assert [rows[b]["docs_per_sec"] for b in range(4)] == [2.3, 0.2, 0.4, 0.0]
    assert _done_buckets(spark, metrics, 8, ("decode",), ("decode",)) \
        == set(range(8))
