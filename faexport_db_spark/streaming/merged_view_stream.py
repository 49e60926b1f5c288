"""Incremental maintenance of the merged current-entity view.

The reference recomputes the merged entity on every read
(models/user.py:8-48) — correct but O(history) per request. The
streaming restatement keeps a materialized merged view fresh without
full recomputes: each micro-batch of new snapshots identifies the
TOUCHED entity keys, re-merges only those entities from the full
snapshot store, and rewrites only the partitions they live in
(dynamic partition overwrite). Untouched entities are never read.

Correctness leans on the merge being order-insensitive w.r.t. ingest
order (README.md:11, SURVEY §2.10): a late-arriving old snapshot just
lands in its entity's history and the next touch recomputes the same
answer a batch rebuild would give — no watermark needed for the view
to converge; a periodic full rebuild stays as the audit backstop.

Scale notes: per batch the work is (touched keys ⋉ snapshot store)
— a broadcast semi-join when batches are small — plus one merge agg
over just those entities' snapshots. The merged view is partitioned by
``website_id``; with dynamic partition overwrite only partitions
containing touched entities rewrite. On a real deployment the
partition key would be (website_id, bucket(site_user_id)) so one hot
site doesn't rewrite wholesale; Delta/Iceberg MERGE INTO replaces the
overwrite entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT, TableFormat
from faexport_db_spark.operators.merge import merged_users
from faexport_db_spark.streaming.microbatch import start_batch_stream

ENTITY_KEY = ["website_id", "site_user_id"]


def refresh_touched_users(
    spark: SparkSession,
    snapshot_store_dir: str,
    merged_view_dir: str,
    touched_keys: DataFrame,
    fmt: TableFormat = DEFAULT_FORMAT,
    store_fmt: TableFormat = DEFAULT_FORMAT,
) -> None:
    """Re-merge the entities in ``touched_keys`` and upsert them into
    the merged view through the storage seam: on parquet that is
    keep-rows ∪ recomputed + dynamic partition overwrite with the
    lineage-break and first-batch handling in
    ``ParquetFormat.upsert_keys``; on Delta/Iceberg it becomes one
    ``MERGE INTO``. ``fmt`` governs the VIEW table; the snapshot
    store — appended by the ingest stream, plain parquet unless stated
    otherwise — is read with ``store_fmt`` (defaults to the parquet
    strategy, NOT to ``fmt``: the two tables' formats are independent)."""
    store = store_fmt.read(spark, snapshot_store_dir)
    touched = touched_keys.distinct()
    touched_snaps = store.join(F.broadcast(touched), ENTITY_KEY, "left_semi")
    recomputed = merged_users(touched_snaps)
    # keys=touched (not recomputed's keys): a touched entity whose
    # snapshots were ALL deleted has no recomputed row, and its stale
    # merged-view row must be purged, not kept.
    fmt.upsert_keys(
        recomputed, merged_view_dir, ENTITY_KEY, ["website_id"], keys=touched
    )


def start_incremental_merged_users(
    spark: SparkSession,
    snapshot_stream: DataFrame,
    snapshot_store_dir: str,
    merged_view_dir: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Maintain the merged-user view from a stream of user snapshots.

    ``snapshot_stream`` is a streaming DataFrame of user-snapshot rows
    (e.g. the parquet store written by ``ingest_stream`` read back with
    ``spark.readStream``). Each batch appends the new snapshots to the
    store, then refreshes exactly the touched entities.
    """

    def _process(batch: DataFrame, batch_id: int, stream_id: str) -> None:
        if not batch.take(1):
            return
        DEFAULT_FORMAT.append(batch, snapshot_store_dir, ["website_id"])
        refresh_touched_users(
            batch.sparkSession,
            snapshot_store_dir,
            merged_view_dir,
            batch.select(*ENTITY_KEY),
        )

    return start_batch_stream(
        snapshot_stream, _process, checkpoint,
        trigger=trigger or {"processingTime": "60 seconds"},
    )
