"""Streaming push ingest: drop-zone payloads → snapshot-tree appends.

Restates the reference's two ingest entry points as one streaming job:
- HTTP push (S7, web.py:156-169): payloads land in a drop-zone
  directory (one JSON payload per line) instead of a Flask route;
- micro-batch buffering (K2, ingestion_job.py:42-43,92-105): the
  stream trigger IS the flush policy — ``processingTime='60 seconds'``
  replaces the hand-rolled 1000-row/60-s buffer.

Delivery contract matches the reference (SURVEY §2.10): at-least-once
append + downstream dedup (maintenance W1-W4); the checkpoint makes
re-delivery rare, ``dedup_within_watermark`` makes it rarer, and the
dedup job stays the backstop — identical to the reference's re-run +
remove_duplicates story, but with far smaller duplicate windows.

Scale notes: each micro-batch is map-only (parse → explode → append);
no shuffle except the tiny per-batch id mint. Parquet appends are
partitioned by website_id, the universal filter column (§1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT, TableFormat
from faexport_db_spark.ingest.base import explode_to_store
from faexport_db_spark.ingest.faexport_api import (
    parse_submission_payloads,
    submission_snapshots,
)
from faexport_db_spark.streaming.microbatch import start_batch_stream

# Batch-local minted ids get the micro-batch id in the high bits so ids
# are unique ACROSS batches without reading the store's current max
# (the reference round-trips RETURNING ids instead,
# models/submission.py:353-360). explode_to_store mints DENSE 0..n-1
# ids per table from one pin of the batch (ingest/base.py), so any
# batch with < 2^40 rows in each table (a trillion) cannot collide with
# the next batch's stride — unlike raw monotonically_increasing_id,
# whose partition-indexed sparse ids overflow the stride as soon as a
# batch has >= 128 partitions. A re-delivered batch mints the same ids
# again, so its duplicates are full-row copies that maintenance
# collapses.
_BATCH_ID_STRIDE = 1 << 40


def payload_stream(
    spark: SparkSession, dropzone: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of raw payload lines (column ``payload``)."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(dropzone).select(F.col("value").alias("payload"))


def dedup_within_watermark(
    snapshots: DataFrame, event_time_col: str = "scan_datetime", delay: str = "1 hour"
) -> DataFrame:
    """Drop re-delivered snapshots at the edge: same dedup key as the
    maintenance job W3 (remove_duplicates.py:253-271), bounded state via
    watermark instead of an unbounded seen-set."""
    return snapshots.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        ["website_id", "site_submission_id", "scan_datetime", "archive_contributor_id"]
    )


def start_submission_ingest(
    spark: SparkSession,
    dropzone: str,
    store_dir: str,
    contributor_id: int,
    checkpoint: str,
    trigger: dict | None = None,
    scan_time=None,
    on_batch_complete=None,
    fmt: TableFormat = DEFAULT_FORMAT,
):
    """Run the streaming ingest; returns the StreamingQuery.

    ``trigger`` defaults to the reference's 60-second flush cadence;
    pass ``{"availableNow": True}`` to drain the backlog and stop
    (used by tests and batch replays).

    ``on_batch_complete(batch_id)`` fires after a batch's appends but
    BEFORE the checkpoint commits — the window where a crash causes
    re-delivery. Tests inject a failure here to prove the at-least-once
    + dedup-backstop contract end-to-end.
    """
    stream = payload_stream(spark, dropzone)

    def _write_batch(batch: DataFrame, batch_id: int, stream_id: str) -> None:
        parsed = parse_submission_payloads(batch)
        nested = submission_snapshots(parsed, contributor_id, scan_time=scan_time)
        tables = explode_to_store(nested)
        offset = batch_id * _BATCH_ID_STRIDE
        id_cols = {
            "submission_snapshots": ("submission_snapshot_id",),
            "submission_snapshot_keywords": ("keyword_id", "submission_snapshot_id"),
            "submission_snapshot_files": ("file_id", "submission_snapshot_id"),
            "submission_snapshot_file_hashes": ("hash_id", "file_id"),
        }
        for name, df in tables.items():
            for col in id_cols[name]:
                df = df.withColumn(col, F.col(col) + F.lit(offset))
            fmt.append(
                df,
                f"{store_dir.rstrip('/')}/{name}",
                ["website_id"] if "website_id" in df.columns else None,
            )
        if on_batch_complete is not None:
            on_batch_complete(batch_id)

    return start_batch_stream(
        stream, _write_batch, checkpoint,
        trigger=trigger or {"processingTime": "60 seconds"},
    )
