"""The one micro-batch runner every streaming sink shares, plus the
commit-protocol helpers its batch steps use.

The reference has a single micro-batch loop for every ingest format
(one buffer, flushed at 1000 rows or 60 s,
scripts/ingest/ingestion_job.py:42-43,92-105). Here that loop is
``start_batch_stream``: it mints the checkpoint's stream token once and
runs a batch step under ``foreachBatch``. A batch step is any function
``step(batch_df, *args, batch_id=..., stream_id=..., **kwargs)``; the
same function is the direct batch API when called without a stream.

Commit protocol (the dedup and CDC steps): a batch step writes a
marker ``<root>/_batch_committed/<stream_id>/<batch_id>`` after its
appends, and skips a re-delivered batch whose marker exists. The BM25
and sketch steps instead name their per-batch output by
``<stream_id>-<batch_id>``, so a re-delivery overwrites it.
``stream_id`` is a token kept in ``<checkpoint>/_dedup_stream_token``,
so a restarted checkpoint keeps its namespace and a wiped one gets a
new one.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from faexport_db_spark.datamodel.table_format import TableFormat


def start_batch_stream(
    source: DataFrame,
    step,
    checkpoint: str,
    *args,
    trigger: dict | None = None,
    **kwargs,
):
    """Run ``step(batch_df, *args, batch_id=batch_id, stream_id=sid,
    **kwargs)`` for every micro-batch of the streaming DataFrame
    ``source`` and return the ``StreamingQuery``. ``sid`` is the
    checkpoint's stream token (``_stream_id``), minted once here.
    ``trigger`` is passed to ``DataStreamWriter.trigger`` as keywords
    (e.g. ``{"availableNow": True}``); ``None`` keeps Spark's default."""
    sid = _stream_id(source.sparkSession, checkpoint)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        step(batch_df, *args, batch_id=batch_id, stream_id=sid, **kwargs)

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _read_store_or_none(fmt: TableFormat, spark: SparkSession, store_path: str):
    """The store before the first committed batch reads as ``None``.
    Only the no-committed-data conditions qualify: a missing path, a
    directory a crashed first write left with zero parquet footers
    (``UNABLE_TO_INFER_SCHEMA``), or — manifest strategies — no
    committed manifest (``FileNotFoundError``). Any other failure
    propagates so the micro-batch retries; a swallowed transient error
    here would let duplicates through silently."""
    try:
        return fmt.read(spark, store_path)
    except FileNotFoundError:
        return None
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return None


def _batch_marker(
    spark: SparkSession,
    index_path: str,
    batch_id: int | None,
    stream_id: str | None,
):
    """(committed?, mark_fn) for the per-batch commit marker — see the
    module docstring's atomicity contract. Batch ids are only unique
    WITHIN one stream-checkpoint lifetime (a fresh or wiped checkpoint
    renumbers from 0), so markers are namespaced by ``stream_id`` —
    the checkpoint-resident token ``_stream_id`` mints.
    ``batch_id=None`` (direct batch-API callers outside a stream)
    disables the protocol."""
    if batch_id is None:
        return False, lambda: None
    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, index_path)
    ns = stream_id or "direct"
    ns_dir = f"{index_path.rstrip('/')}/_batch_committed/{ns}"
    marker = f"{ns_dir}/{batch_id}"

    def mark() -> None:
        fs.write_text(marker, "")
        # Markers only matter for RECENT batches (a re-delivery is
        # always near the checkpoint's tail), so prune the long tail —
        # without this, one empty file per batch accumulates forever.
        # Prune every ~50 batches, not every batch: the directory LIST
        # is an RPC worth amortizing on object stores.
        if batch_id % 50 == 0:
            for name in fs.list_names(ns_dir):
                if name.isdigit() and int(name) < batch_id - 200:
                    fs.delete(f"{ns_dir}/{name}")

    return fs.exists(marker), mark


def _stream_id(spark: SparkSession, checkpoint: str) -> str:
    """Stream-instance namespace for batch markers: a token file
    INSIDE the checkpoint directory, created on first use. Batch ids
    are only meaningful relative to a checkpoint's lifetime — if the
    checkpoint is wiped, Spark renumbers batches from 0, and a
    path-derived namespace would then skip brand-new batches 0..N as
    'already committed' (review finding: silent data loss). The token
    dies with the checkpoint, so a wiped checkpoint gets a fresh
    namespace while restarts of a live checkpoint keep their markers."""
    import uuid

    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, checkpoint)
    token_path = f"{checkpoint.rstrip('/')}/_dedup_stream_token"
    if fs.exists(token_path):
        token = fs.read_text(token_path).strip()
        # An empty/truncated token (crash mid-create) must re-mint —
        # falling through to the shared 'direct' namespace could skip
        # batches whose ids collide with another degraded stream's
        # markers (review finding).
        if token:
            return token
    token = uuid.uuid4().hex[:12]
    fs.mkdirs(checkpoint.rstrip("/"))
    fs.write_text(token_path, token)
    return token
