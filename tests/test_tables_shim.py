"""Iceberg/parquet table shim: the no-Iceberg fallback must round-trip
catalog-style identifiers and must not leak session-wide config."""

import os

import pyarrow as pa

from unfurl_spark.sources.tables import (append_metrics, read_table,
                                         write_bucketed)

_METRICS = pa.table({"id": pa.array([1, 2], pa.int32()), "v": ["a", "b"]})


def test_catalog_identifier_roundtrips_without_iceberg(spark):
    """write_bucketed('db.metrics') → read_table('db.metrics') used to
    diverge (parquet write to ./db.metrics, read via spark.read.table →
    TABLE_OR_VIEW_NOT_FOUND). Both now agree on a deterministic
    warehouse-anchored path."""
    import shutil

    from unfurl_spark.sources.tables import _fallback_path
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id int, v string, bucket int")
    try:
        write_bucketed(df, "shimtest.spans")
        got = read_table(spark, "shimtest.spans")
        assert sorted(r.id for r in got.collect()) == [1, 2]
        local = _fallback_path(spark, "shimtest.spans") \
            .removeprefix("file:")
        assert os.path.isdir(local)

        append_metrics(_METRICS, "shimtest.metrics")
        append_metrics(_METRICS, "shimtest.metrics")
        assert read_table(spark, "shimtest.metrics").count() == 4
    finally:
        root = _fallback_path(spark, "shimtest").removeprefix("file:")
        shutil.rmtree(root, ignore_errors=True)


def test_write_bucketed_does_not_mutate_session_overwrite_mode(spark,
                                                               tmp_path):
    """The dynamic-overwrite setting must be scoped per write: a later
    plain partitioned overwrite by user code still truncates fully."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    df = spark.createDataFrame([(1, 0), (2, 1)], "id int, bucket int")
    write_bucketed(df, str(tmp_path / "t"))
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode") == before
    # per-write semantics themselves still dynamic: overwrite bucket 0
    # only, bucket 1 survives
    df0 = spark.createDataFrame([(9, 0)], "id int, bucket int")
    write_bucketed(df0, str(tmp_path / "t"))
    got = sorted(r.id for r in
                 spark.read.parquet(str(tmp_path / "t")).collect())
    assert got == [2, 9]


def test_append_metrics_commits_one_file_per_call(spark, tmp_path):
    """On a path, each append is one ``part-*.parquet`` file renamed into
    place; no hidden ``_tmp-*`` file stays behind."""
    path = str(tmp_path / "metrics")
    append_metrics(_METRICS, path)
    append_metrics(_METRICS, path)
    names = os.listdir(path)
    parts = [n for n in names if n.startswith("part-")]
    assert len(parts) == 2 and all(n.endswith(".parquet") for n in parts)
    assert [n for n in names if "_tmp-" in n] == []
    got = read_table(spark, path)
    assert got.count() == 4
    assert got.schema.simpleString() == "struct<id:int,v:string>"
