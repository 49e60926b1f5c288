"""The one micro-batch runner every streaming sink shares, and the one
commit protocol its batch steps use.

The reference has a single micro-batch loop for every ingest format
(one buffer, flushed at 1000 rows or 60 s,
scripts/ingest/ingestion_job.py:42-43,92-105). Here that loop is
``start_batch_stream``: it mints the checkpoint's stream token once and
runs a batch step under ``foreachBatch``. A batch step is any function
``step(batch_df, *args, batch_id=..., stream_id=..., **kwargs)``; the
same function is the direct batch API when called without a stream.

Commit protocol. Exactly-once comes from a replayable source plus an
idempotent sink (Structured Streaming, Armbrust et al. SIGMOD 2018):
every output a batch makes is named by the batch, so a re-delivery
replaces it instead of adding to it.

- **Tag.** A batch's tag is ``<stream_id>-<batch_id>``
  (``batch_tag``); a direct call without a ``batch_id`` gets a unique
  tag, so direct calls accumulate.
- **Store rows** land in the store partition ``batch=<tag>`` through
  ``fmt.overwrite_partitions`` (``overwrite_batch_rows``), which the
  parquet, manifest and Delta formats all provide.
- **Index rows** are published last, by ``publish_partition``: written
  to a hidden dot-prefixed dir that Spark's reader skips, then renamed
  to ``<index>/batch=<tag>``. Any sidecar is written before that
  rename. Every index builder writes the same ``batch=<tag>/`` layout
  (``replace_index``), so a stream can append to a built index.
- **Commit.** The index's ``batch=<tag>`` directory is the commit
  record: a step whose index partition exists (``is_committed``)
  returns ``None``.

A crash before the rename leaves the index as the batch found it, so
the retry recomputes the same rows and replaces its store partition.
Steps without an index (decontamination, sketches) recompute and
overwrite on every delivery; CDC's sequence gate makes a re-applied
batch a no-op. ``stream_id`` is a token kept in
``<checkpoint>/_dedup_stream_token``, so a restarted checkpoint keeps
its namespace and a wiped one gets a new one.
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import TableFormat
from faexport_db_spark.operators.hadoop_fs import HadoopFs

BATCH_COL = "batch"


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
    """The store (or index) before its first committed rows reads as
    ``None``. Only the no-committed-data conditions qualify: a missing
    path, a directory holding no parquet footer — a crashed first
    write, or only empty ``batch=`` partitions and sidecars
    (``UNABLE_TO_INFER_SCHEMA``) — or, for manifest strategies, no
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


def batch_tag(batch_id: int | None, stream_id: str | None) -> str:
    """``<stream_id>-<batch_id>``: the name of everything one batch
    writes. Batch ids are unique only within one checkpoint's lifetime,
    hence the stream token. A call without a ``batch_id`` gets a unique
    tag: a fixed one would make the next direct call replace this
    call's rows."""
    bid = batch_id if batch_id is not None else f"x{uuid.uuid4().hex[:12]}"
    return f"{stream_id or 'direct'}-{bid}"


def _partition_dir(root: str, tag: str) -> str:
    return f"{root.rstrip('/')}/{BATCH_COL}={tag}"


def is_committed(spark: SparkSession, index_path: str, tag: str) -> bool:
    """Whether the batch ``tag`` published its index partition — the
    commit record."""
    return HadoopFs(spark, index_path).exists(_partition_dir(index_path, tag))


def publish_partition(
    table: DataFrame, root: str, tag: str, partition_by: list[str] | None = None
) -> None:
    """Publish ``table`` as the partition ``<root>/batch=<tag>``
    (optionally partitioned inside by ``partition_by``): write to a
    hidden dot-prefixed dir, then rename. A concurrent reader sees the
    partition whole or not at all; a re-published tag replaces the
    previous copy."""
    part = _partition_dir(root, tag)
    tmp = f"{root.rstrip('/')}/.tmp-{BATCH_COL}={tag}"
    writer = table.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    fs = HadoopFs(table.sparkSession, root)
    if fs.exists(part):
        fs.delete(part, recursive=True)
    fs.rename(tmp, part)


def replace_index(
    table: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """An index builder's write: drop whatever ``path`` holds and
    publish ``table`` as its one ``batch=`` partition, the layout a
    stream's batches add to."""
    HadoopFs(table.sparkSession, path).delete(path, recursive=True)
    publish_partition(table, path, batch_tag(None, None), partition_by)


def overwrite_batch_rows(
    fmt: TableFormat, rows: DataFrame, store_path: str, tag: str
) -> None:
    """``rows`` replace the store partition ``batch=<tag>``."""
    fmt.overwrite_partitions(
        rows.withColumn(BATCH_COL, F.lit(tag)), store_path, [BATCH_COL]
    )


def commit_batch(
    fmt: TableFormat,
    rows: DataFrame,
    store_path: str,
    index_rows: DataFrame,
    index_path: str,
    tag: str,
    partition_by: list[str] | None = None,
) -> None:
    """Land one batch: ``rows`` replace its store partition, then
    ``index_rows`` are published as the index partition of the same
    name — the commit record, written last."""
    overwrite_batch_rows(fmt, rows, store_path, tag)
    publish_partition(index_rows, index_path, tag, partition_by)


def _stream_id(spark: SparkSession, checkpoint: str) -> str:
    """Stream-instance namespace for batch tags: a token file INSIDE
    the checkpoint directory, created on first use. Batch ids are only
    meaningful relative to a checkpoint's lifetime — if the checkpoint
    is wiped, Spark renumbers batches from 0, and a path-derived
    namespace would then skip brand-new batches 0..N as 'already
    committed' (silent data loss). The token dies with the checkpoint,
    so a wiped checkpoint gets a fresh namespace while restarts of a
    live checkpoint keep their tags."""
    fs = HadoopFs(spark, checkpoint)
    token_path = f"{checkpoint.rstrip('/')}/_dedup_stream_token"
    if fs.exists(token_path):
        token = fs.read_text(token_path).strip()
        # An empty/truncated token (crash mid-create) must re-mint —
        # falling through to the shared 'direct' namespace could skip
        # batches whose ids collide with another degraded stream's
        # tags.
        if token:
            return token
    token = uuid.uuid4().hex[:12]
    fs.mkdirs(checkpoint.rstrip("/"))
    fs.write_text(token_path, token)
    return token
