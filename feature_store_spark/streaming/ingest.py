"""Structured Streaming ingestion into the engine's partitioned tables.

The reference has no streaming operators (SURVEY.md §2.9 — its "online"
features are daily batch tables), and the north rule's session windows are
batch gap-sessionization.  This module covers the ingestion seam a
continuously-arriving image+caption feed needs: a file-source stream with
event-time watermarking and within-watermark dedup, committing each
micro-batch to a ``PartitionedTable`` (snapshot per batch) via
``foreachBatch`` so the batch engine's incremental/resume machinery applies
unchanged downstream.

Run with ``trigger="availableNow"`` for catch-up/batch-like drains (used by
tests) or a processing-time trigger for continuous tailing.  Exactly-once
into the table is end-to-end: Spark's checkpoint makes batch delivery
at-least-once, and the sink records ``(checkpoint, batch_id)`` in the
snapshot manifest so a replayed micro-batch (failure between sink commit
and checkpoint advance) is skipped instead of appended twice.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from feature_store_spark.io.tables import PartitionedTable

IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, event_time timestamp"
)


def stream_meta(checkpoint_dir: str, batch_id: int) -> dict:
    """Manifest ``meta`` of a stream commit — the one definition of the
    format :func:`committed_batch_ids` reads back."""
    return {"stream_checkpoint": checkpoint_dir,
            "stream_batch_id": int(batch_id)}


def committed_batch_ids(table: PartitionedTable, checkpoint_dir: str) -> set[int]:
    """Batch ids already committed to ``table`` by the stream anchored at
    ``checkpoint_dir`` (from snapshot-manifest metadata)."""
    out = set()
    for e in table._read_manifest():
        m = e.get("meta", {})
        if m.get("stream_checkpoint") == checkpoint_dir and "stream_batch_id" in m:
            out.add(int(m["stream_batch_id"]))
    return out


def make_batch_committer(table: PartitionedTable, checkpoint_dir: str):
    """foreachBatch sink: append the micro-batch as one snapshot, skipping
    batch ids already in the manifest (idempotent under replay).  The
    ``isEmpty`` check stays here: within-watermark dedup can empty a
    non-empty source batch."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in committed_batch_ids(table, checkpoint_dir):
            return  # replayed micro-batch — already committed
        table.write(
            batch_df, mode="append", meta=stream_meta(checkpoint_dir, batch_id)
        )

    return commit_batch


def stream_images_to_table(
    spark: SparkSession,
    source_dir: str,
    table: PartitionedTable,
    checkpoint_dir: str,
    watermark: str = "1 day",
    dedup_keys: tuple[str, ...] = ("image_id", "event_time", "phash"),
    available_now: bool = True,
    schema: str = IMAGES_DDL,
) -> StreamingQuery:
    """Tail ``source_dir`` for parquet files and commit micro-batches into
    ``table`` partitioned by event date.

    Late rows beyond ``watermark`` are dropped by the dedup state bound;
    duplicate rows (same ``dedup_keys``) within the watermark are dropped
    exactly once across batches.
    """
    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(list(dedup_keys))
        .withColumn(
            table.partition_col, F.date_format("event_time", "yyyy-MM-dd")
        )
    )

    writer = (
        stream.writeStream.foreachBatch(make_batch_committer(table, checkpoint_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
