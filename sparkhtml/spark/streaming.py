"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.6) and the north rule's
"resumable from checkpoint" is realized by :mod:`.checkpoint` for batch;
this module adds the streaming face of the same pipeline for continuous
ingest:

- :func:`stream_extract` — file-stream of interleaved documents →
  the same ``extract_spans_df`` stage → parquet sink, exactly-once via
  Spark's own streaming checkpoint; ``Trigger.AvailableNow`` drains the
  backlog then stops (the batch-with-streaming-bookkeeping mode).
- :func:`stream_quality_metrics` — event-time windowed aggregation with a
  watermark (late-data bound), the canonical stateful op.
- :func:`stream_dedup_exact` — drop-duplicates-within-watermark over the
  document fingerprint, the streaming form of exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schemas
from .dedup import normalized_text
from .pipeline import extract_spans_df


def read_document_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(schemas.DOCUMENTS_INTERLEAVED).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(in_dir)


def stream_extract(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous (or drain-and-stop) extraction: same mapInArrow stage as
    batch; the streaming checkpoint gives exactly-once file-level resume."""
    stream = read_document_stream(spark, in_dir)
    out = extract_spans_df(stream)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_quality_metrics(
    docs_with_ts: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Windowed per-window extraction metrics with a late-data watermark.

    Input: streaming DataFrame (ts: timestamp, doc_id, n_words: int).
    """
    return (
        docs_with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_docs",
            "n_words",
        )
    )


def stream_dedup_exact(
    docs_with_ts: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup: fingerprint + dropDuplicatesWithinWatermark —
    state size bounded by the watermark horizon (at 10^12-doc scale the
    batch LSH pass handles history; the stream handles the live window)."""
    fp = docs_with_ts.withColumn("fingerprint", F.xxhash64(normalized_text("text")))
    return fp.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )
