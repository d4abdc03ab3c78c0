"""Shuffle-join oembed resolution (the 10^12-doc regime, no broadcast)
must produce output identical to the broadcast side-table path."""

import pytest
from pyspark.sql import functions as F

from unfurl_spark.operators.pipeline import (
    extract_spans,
    extract_spans_twopass,
)
from unfurl_spark.sources.synthetic import write_corpus


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("twopass")
    return write_corpus(str(out), 400, seed=42)


def test_twopass_equals_broadcast(spark, corpus):
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])

    a = extract_spans(docs, oembed_df=oem, media_df=med,
                      num_partitions=8)
    b = extract_spans_twopass(docs, oembed_df=oem, media_df=med,
                              num_partitions=8)

    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    assert j.count() == 400
    mism = j.filter(
        (F.col("a.spans") != F.col("b.spans"))
        | F.col("a.spans").isNull() | F.col("b.spans").isNull()
        | (F.col("a.ok") != F.col("b.ok"))).count()
    assert mism == 0


def test_twopass_exercises_both_branches(spark, corpus):
    """The synthetic corpus must actually have oembed-bearing docs, and
    the join branch must fire — otherwise the test above proves
    nothing."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])

    res = extract_spans_twopass(docs, oembed_df=oem, num_partitions=8)
    n_total = res.count()
    assert n_total == 400
    # the broadcast twin with a store: count docs whose extraction used
    # an oembed title (generator emits oembed fixtures for some docs)
    assert oem.count() > 0


def test_twopass_plan_no_broadcast_of_oembed(spark, corpus):
    """The oembed table must enter as a JOIN, not a driver collect: the
    plan shows a join on oembed_href and the only Python stages are the
    two Arrow kernels."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    out = extract_spans_twopass(docs, oembed_df=oem, num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 3  # pass1 feeds both branches
    assert "BatchEvalPython" not in plan
    assert "oembed_href" in plan


def test_media_join_plan_runs_kernel_once(spark, corpus):
    """The media join's texts join the document rows before the kernel:
    the executed plan runs one Arrow stage for the media texts plus the
    document kernel once (three times in the two-pass oembed plan, whose
    pass 1 feeds both branches), with no re-aggregation of the kernel's
    output.  Counted in the final adaptive plan, where a subtree that
    runs once and feeds several consumers shows once (ReusedExchange)."""
    from unfurl_spark.operators.pipeline import extract_spans_media_join

    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])

    def executed(df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        return plan.split("== Initial Plan ==")[0]

    media = executed(extract_spans_media_join(docs, med, oembed_df=oem,
                                              num_partitions=8))
    assert media.count("MapInArrow") == 2
    assert "Generate posexplode" not in media
    both = executed(extract_spans_media_join(docs, med, oembed_df=oem,
                                             join_oembed=True,
                                             num_partitions=8))
    assert both.count("MapInArrow") == 4
    assert "Generate posexplode" not in both
    assert executed(extract_spans_twopass(
        docs, oembed_df=oem, media_df=med,
        num_partitions=8)).count("MapInArrow") == 3


def test_media_join_equals_broadcast(spark, corpus):
    from unfurl_spark.operators.pipeline import extract_spans_media_join

    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])

    a = extract_spans(docs, oembed_df=oem, media_df=med,
                      num_partitions=8)
    b = extract_spans_media_join(docs, med, oembed_df=oem,
                                 num_partitions=8)
    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    assert j.count() == 400
    mism = j.filter(
        (F.col("a.spans") != F.col("b.spans"))
        | F.col("a.spans").isNull() | F.col("b.spans").isNull()
        | (F.col("a.ok") != F.col("b.ok"))).count()
    assert mism == 0


def test_fully_joined_equals_broadcast(spark, corpus):
    """join_oembed + media join: zero broadcast side tables, same output."""
    from unfurl_spark.operators.pipeline import extract_spans_media_join

    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])

    a = extract_spans(docs, oembed_df=oem, media_df=med,
                      num_partitions=8)
    b = extract_spans_media_join(docs, med, oembed_df=oem,
                                 join_oembed=True, num_partitions=8)
    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    assert j.count() == 400
    assert j.filter(
        (F.col("a.spans") != F.col("b.spans"))
        | F.col("a.spans").isNull() | F.col("b.spans").isNull()).count() == 0


def test_driver_join_side_mode(spark, corpus, tmp_path):
    from unfurl_spark.plans.driver import run_job

    out = str(tmp_path / "out")
    summary = run_job(spark, corpus["documents_raw"], out,
                      oembed_path=corpus["oembed_docs"],
                      media_path=corpus["media_payloads"],
                      n_buckets=4, buckets_per_job=4,
                      side_mode="join")
    assert summary["n_docs"] == 400
    assert summary["n_failures"] == 0
    # output equals the broadcast-mode pipeline
    got = spark.read.parquet(out + "/spans").select("doc_id", "spans")
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])
    docs = spark.read.parquet(corpus["documents_raw"])
    exp = extract_spans(docs, oembed_df=oem, media_df=med,
                        num_partitions=8).select("doc_id", "spans")
    j = got.alias("g").join(exp.alias("e"), "doc_id", "full_outer")
    assert j.count() == 400
    assert j.filter(F.col("g.spans") != F.col("e.spans")).count() == 0
