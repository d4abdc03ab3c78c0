"""Shuffle-join side-table resolution (the 10^12-doc regime, no
broadcast of the oembed or media tables) must produce output identical
to the broadcast side-table path."""

import pytest
from pyspark.sql import functions as F

from unfurl_spark.operators.pipeline import (
    extract_spans,
    extract_spans_joined,
)
from unfurl_spark.sources.synthetic import write_corpus


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("twopass")
    return write_corpus(str(out), 400, seed=42)


def _assert_same_spans_and_ok(a, b):
    j = a.alias("a").join(b.alias("b"), "doc_id", "full_outer")
    assert j.count() == 400
    mism = j.filter(
        (F.col("a.spans") != F.col("b.spans"))
        | F.col("a.spans").isNull() | F.col("b.spans").isNull()
        | (F.col("a.ok") != F.col("b.ok"))).count()
    assert mism == 0


def test_twopass_equals_broadcast(spark, corpus):
    """The oembed join equals the broadcast oembed store."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])

    a = extract_spans(docs, oembed_df=oem, num_partitions=8)
    b = extract_spans_joined(docs, oembed_df=oem, num_partitions=8)
    _assert_same_spans_and_ok(a, b)


def _changed_docs(a, b):
    """The doc_ids whose spans differ between ``a`` and ``b``."""
    return {r.doc_id for r in a.alias("a").join(b.alias("b"), "doc_id")
            .filter(F.col("a.spans") != F.col("b.spans"))
            .select("doc_id").collect()}


def test_twopass_exercises_both_branches(spark, corpus):
    """The join branch fires: joining the oembed table changes some
    documents' spans, and exactly the documents the broadcast oembed
    store changes — otherwise the test above proves nothing."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])

    joined = _changed_docs(
        extract_spans_joined(docs, oembed_df=oem, num_partitions=8),
        extract_spans_joined(docs, num_partitions=8))
    broadcast = _changed_docs(
        extract_spans(docs, oembed_df=oem, num_partitions=8),
        extract_spans(docs, num_partitions=8))
    assert joined
    assert joined == broadcast


@pytest.mark.parametrize("tables,n_python", [
    (("oembed_df",), 2),             # href pass, then the kernel
    (("media_df",), 2),              # media texts, then the kernel
    (("oembed_df", "media_df"), 3),  # media texts + href pass + kernel
], ids=["oembed", "media", "both"])
def test_join_plan_runs_kernel_once(spark, corpus, tables, n_python):
    """Every side table enters as a JOIN, not a driver collect, and the
    joined rows meet the document kernel once: the executed plan runs
    one Arrow stage per join plus the kernel, with no re-aggregation of
    the kernel's output, and a join on ``oembed_href`` exactly when the
    oembed table is given.  Counted in the final adaptive plan, where a
    subtree that runs once and feeds several consumers shows once
    (ReusedExchange)."""
    side = {"oembed_df": spark.read.parquet(corpus["oembed_docs"]),
            "media_df": spark.read.parquet(corpus["media_payloads"])}
    out = extract_spans_joined(spark.read.parquet(corpus["documents_raw"]),
                               num_partitions=8,
                               **{t: side[t] for t in tables})
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("MapInArrow") == n_python
    assert "Generate posexplode" not in plan
    assert "BatchEvalPython" not in plan
    assert ("oembed_href" in plan) == ("oembed_df" in tables)


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
    """The media join equals the broadcast media store."""
    docs = spark.read.parquet(corpus["documents_raw"])
    med = spark.read.parquet(corpus["media_payloads"])

    a = extract_spans(docs, media_df=med, num_partitions=8)
    b = extract_spans_joined(docs, media_df=med, num_partitions=8)
    _assert_same_spans_and_ok(a, b)


def test_fully_joined_equals_broadcast(spark, corpus):
    """Both tables joined: zero broadcast side tables, same output."""
    docs = spark.read.parquet(corpus["documents_raw"])
    oem = spark.read.parquet(corpus["oembed_docs"])
    med = spark.read.parquet(corpus["media_payloads"])

    a = extract_spans(docs, oembed_df=oem, media_df=med,
                      num_partitions=8)
    b = extract_spans_joined(docs, oembed_df=oem, media_df=med,
                             num_partitions=8)
    _assert_same_spans_and_ok(a, b)


@pytest.mark.parametrize("paths", [
    ("oembed",), ("media",), ("oembed", "media"), ()],
    ids=["oembed", "media", "both", "neither"])
def test_driver_join_side_mode(spark, corpus, tmp_path, paths):
    """``run_job(side_mode="join")`` with any set of side tables commits
    the spans broadcast ``extract_spans`` gives over the same tables."""
    from unfurl_spark.plans.driver import run_job

    given = {"oembed": corpus["oembed_docs"],
             "media": corpus["media_payloads"]}
    given = {k: v for k, v in given.items() if k in paths}
    out = str(tmp_path / "out")
    summary = run_job(spark, corpus["documents_raw"], out,
                      oembed_path=given.get("oembed"),
                      media_path=given.get("media"),
                      n_buckets=4, buckets_per_job=4,
                      side_mode="join")
    assert summary["n_docs"] == 400
    assert summary["n_failures"] == 0
    # output equals the broadcast-mode pipeline
    got = spark.read.parquet(out + "/spans")
    exp = extract_spans(
        spark.read.parquet(corpus["documents_raw"]), num_partitions=8,
        **{f"{k}_df": spark.read.parquet(v) for k, v in given.items()})
    _assert_same_spans_and_ok(exp.select("doc_id", "spans", "ok"),
                              got.select("doc_id", "spans", "ok"))
