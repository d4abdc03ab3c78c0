"""Table-format shim: Iceberg first, parquet fallback.

The production deployment (BASELINE.json north_rule) reads and writes
Iceberg tables — partition-pruned scans, snapshot isolation, and
`overwritePartitions` give the driver's bucket resume its atomicity.
This sandbox ships no Iceberg catalog jars, so the shim makes the
format a runtime capability probe instead of a code fork: callers use
`read_table` / `write_bucketed` / `append_metrics` and get Iceberg
semantics when the catalog is present, parquet
dynamic-partition-overwrite otherwise (same idempotence contract,
verified by tests/test_driver_resume.py and test_spark_submit.py).

Identifier convention: values containing "/" are paths (parquet);
other values are catalog table identifiers (Iceberg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Per-application probe cache, keyed by the applicationId of the SESSION the
# probe actually ran against (an lru_cache on an unused argument could serve
# one session's answer to another in a multi-session process).
_ICEBERG_PROBE: dict[str, bool] = {}


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is importable in this session's JVM."""
    key = spark.sparkContext.applicationId
    if key not in _ICEBERG_PROBE:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.SparkTable")
            _ICEBERG_PROBE[key] = True
        except Exception:  # noqa: BLE001 — jar probe
            _ICEBERG_PROBE[key] = False
    return _ICEBERG_PROBE[key]


def _is_path(identifier: str) -> bool:
    return "/" in identifier or identifier.endswith(".parquet")


def _fallback_path(spark: SparkSession, identifier: str) -> str:
    """Deterministic parquet location for a catalog identifier when no
    Iceberg catalog is present — read and write agree on it, so
    `write_bucketed(df, "db.metrics")` → `read_table(spark, "db.metrics")`
    round-trips instead of diverging into spark.read.table.  Anchored at
    the session warehouse dir (a relative path would resolve against the
    JVM launch dir, which differs from the caller's cwd)."""
    base = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return base.rstrip("/") + "/" + identifier.replace(".", "/")


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    """Scan a documents/side table by path (parquet) or name (Iceberg)."""
    if _is_path(identifier):
        return spark.read.parquet(identifier)
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(identifier)
    return spark.read.parquet(_fallback_path(spark, identifier))


def write_bucketed(df: DataFrame, identifier: str,
                   partition_col: str = "bucket") -> None:
    """Idempotent bucket commit: replace exactly the buckets present in
    `df`, never duplicate — Iceberg `overwritePartitions` or parquet
    dynamic partition overwrite (scoped per-write: no session-wide
    partitionOverwriteMode mutation leaks to other writers)."""
    spark = df.sparkSession
    if not _is_path(identifier):
        if iceberg_available(spark):
            df.writeTo(identifier).overwritePartitions()
            return
        identifier = _fallback_path(spark, identifier)
    df.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy(partition_col) \
        .parquet(identifier)


def append_metrics(df: DataFrame, identifier: str) -> None:
    """Append-only lineage/metrics table."""
    spark = df.sparkSession
    if not _is_path(identifier):
        if iceberg_available(spark):
            df.writeTo(identifier).append()
            return
        identifier = _fallback_path(spark, identifier)
    df.write.mode("append").parquet(identifier)
