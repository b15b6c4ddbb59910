"""Incremental / streaming ingestion of image batches.

The reference is a batch engine — it has NO event streams (SURVEY.md
§2.11); its incremental story is ``--resume`` (skip already-written
tiles, ``gdal2tiles.py:2852``) plus streamed-algorithm datasets
(``frmts/gdalg/gdalgdriver.cpp:190``).  This module expresses that
same story on Spark's two native mechanisms:

- **Batch-incremental** (`process_new_images`): the tiler's resume
  anti-join (against the keys already written) — run any operator
  pipeline over only the not-yet-processed rows.  This is the 100 TB
  production path (Iceberg snapshot diff).
- **Structured Streaming** (`stream_pipeline`): ``readStream`` over an
  arriving-files directory → the SAME DataFrame operators (they are
  stream-safe: stateless projections/joins against static dims) →
  ``foreachBatch`` sink that reuses the batch writer, giving
  exactly-once via the streaming checkpoint + idempotent resume.
  ``trigger(availableNow=True)`` makes it a catch-up batch — the
  streaming-flavored equivalent of ``--resume``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def process_new_images(
    images: DataFrame,
    manifest: DataFrame | None,
    key: str = "image_id",
) -> DataFrame:
    """Rows of ``images`` not yet in the manifest (resume semantics)."""
    if manifest is None:
        return images
    return images.join(manifest.select(key).distinct(), key, "left_anti")


def stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire a file-arrival stream through a batch transform.

    ``transform`` receives the micro-batch-agnostic streaming frame;
    ``sink(batch_df, batch_id)`` runs per micro-batch (foreachBatch),
    so every batch operator in this package works unchanged.  Returns
    the started ``StreamingQuery``.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    out = transform(stream)
    writer = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts with late-data watermark — the
    standard streaming agg shape (not in the reference; provided for
    the events table so the streaming surface is complete).  Works on
    batch frames too (watermark only applies to streams)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_v"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_v",
        )
    )
