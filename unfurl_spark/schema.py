"""Spark schemas for the interleaved-document engine (BASELINE input_hint)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

# output of the extract stage: the ordered spans + per-doc lineage metrics
EXTRACTED = StructType([
    # nullable: a NULL-id input document is one more lineage row
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN), nullable=False),
    StructField("n_input_bytes", LongType()),
    StructField("ok", StringType()),  # 'ok' | error class name
])
