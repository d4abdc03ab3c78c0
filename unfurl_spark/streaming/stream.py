"""Structured Streaming front-end for the extraction engine.

The reference has no streaming semantics (SURVEY §2.5) — this wraps the
same fused extract stage as an incremental job: new document files landing
in a directory are picked up by the file source, run through
``extract_spans`` (its one Arrow stage composes with streaming
DataFrames), and
appended to a parquet sink with Spark's own checkpointing providing
exactly-once per-file processing and restart recovery — the streaming twin
of the batch driver's bucket checkpoints (plans/driver.py).

``trigger=availableNow`` drains the backlog and stops, which is also how
the test exercises restart-resume.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..schema import DOCUMENTS_RAW


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    oembed_df=None,
    media_df=None,
    context_store: dict | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming extraction; returns the StreamingQuery."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..operators.pipeline import extract_spans

    # StructType.add mutates in place — build a fresh schema each call
    schema = StructType(list(DOCUMENTS_RAW.fields)
                        + [StructField("status", IntegerType())])
    reader = (spark.readStream.schema(schema)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.load(input_dir)

    out = extract_spans(docs, oembed_df=oembed_df, media_df=media_df,
                        context_store=context_store, salt=False)

    writer = (out.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
