"""Structured Streaming layer (SURVEY.md §2.10).

The reference has no streaming engine; its analogs are the hand-rolled
micro-batch ingest buffer (flush at 1000 rows or 60 s,
scripts/ingest/ingestion_job.py:42-43,92-105) and the HTTP push route
(web.py:156-169). Here those become real Structured Streaming jobs:

- ``microbatch`` — the one micro-batch runner every sink goes through
  (``start_batch_stream``: stream token, ``foreachBatch``, checkpoint,
  trigger) and the one commit protocol every batch step uses: each
  batch's rows land in a partition named by the batch, the index
  partition last, so a re-delivered batch replaces its output.
- ``ingest_stream``  — drop-zone payload stream → snapshot-tree append
  (S7 + K2), with ``dropDuplicatesWithinWatermark`` at the edge.
- ``merged_view_stream`` — incremental maintenance of the merged
  current-entity view: each micro-batch recomputes ONLY the touched
  entities and rewrites only their partitions.
- ``dedup_stream`` — near-duplicate / decontamination steps against a
  growing corpus index (MinHash, embedding, semantic, passage,
  substring, line, media, fuzzy and Bloom decontamination).
- ``cdc_stream`` — a changelog stream materialized as current state.
- ``sketch_stream`` — HLL, KMV and quantile sketch stores, one
  partition per batch.
- ``stateful`` — first-seen, as-of enrichment and funnel tracking with
  operator state.
- ``events_stream`` — watermarked tumbling-window aggregation over the
  events table (the late-data pattern the reference never needed
  because its merge is order-insensitive by design, README.md:11).
"""

from faexport_db_spark.streaming.events_stream import windowed_event_counts  # noqa: F401
from faexport_db_spark.streaming.ingest_stream import (  # noqa: F401
    dedup_within_watermark,
    payload_stream,
    start_submission_ingest,
)
from faexport_db_spark.streaming.merged_view_stream import (  # noqa: F401
    start_incremental_merged_users,
)
from faexport_db_spark.streaming.microbatch import start_batch_stream  # noqa: F401
from faexport_db_spark.streaming.stateful import (  # noqa: F401
    asof_enrich,
    first_seen,
    funnel_track,
)
