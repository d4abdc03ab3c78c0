"""Batch driver: bucketed checkpointed lineage + idempotent resume."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

import unfurl_spark.operators.pipeline as pipeline_mod
from unfurl_spark.plans.driver import run_job
from unfurl_spark.sources.synthetic import write_corpus


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("drv")
    return write_corpus(str(out), 200, seed=42)


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

    # re-run: everything already committed → pure no-op resume
    s2 = run_job(spark, corpus["documents_raw"], out,
                 oembed_path=corpus["oembed_docs"],
                 media_path=corpus["media_payloads"],
                 n_buckets=4, buckets_per_job=2, run_id="t2")
    assert s2["processed_buckets"] == []
    assert sorted(s2["resumed_buckets"]) == [0, 1, 2, 3]
    assert spark.read.parquet(out + "/spans").count() == 200


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
