"""Streaming CDC materialization: a Debezium-style changelog stream
(upserts + tombstones, per-key sequence numbers) maintained as a
current-state table behind the ``TableFormat`` seam.

Semantics (the batch twin is ``operators/merge.py::cdc_apply``, the
oracle-checked m10): per key the highest sequence wins; a tombstone
winner removes the key; a later re-insert revives it. The streaming
form must additionally survive BATCH boundaries and redelivery:

- Cross-batch out-of-order: an event older than the stored row for
  its key must NOT regress the store. Every surviving batch row is
  seq-gated against the stored sequence before it is applied.
  Tombstones RETAIN a store row (``__del`` flag, filtered out by
  ``read_cdc_state``) precisely so this gate has no hole: if a delete
  purged the row, a late upsert with a LOWER seq than the applied
  tombstone would see no stored seq and resurrect the key — diverging
  from what batch ``cdc_apply`` over the same log produces. The
  retained seq makes the gate total over everything ever applied.
- Redelivery (checkpoint replay after a crash): the seq gate makes
  re-application a no-op — every key the batch touched already holds
  a seq at least as new (equal seq is not newer), and re-deleting an
  absent key is harmless — so CDC needs no commit record of its own.
- One store mutation per batch: upserts and tombstone markers land in
  a SINGLE ``fmt.upsert_keys`` call — a tombstone is just a recomputed
  row with ``__del = true`` — so there is no window where a reader
  sees the upserts applied but the deletes pending, and every touched
  key carries exactly one recomputed row (the one-row-per-key
  ``upsert_keys`` precondition all three format strategies agree on).

Scale: the store is hive-partitioned by a key-hash bucket (``pb``),
so a micro-batch rewrites only the buckets its keys touch, never the
whole table; the seq-gate join reads the store once per batch (under
MERGE-capable formats it becomes the MERGE's matched-predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT, TableFormat
from faexport_db_spark.streaming.microbatch import _read_store_or_none

PB_COL = "pb"
DEL_COL = "__del"


def read_cdc_state(
    spark: SparkSession,
    store_path: str,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame:
    """Current materialized state: the store minus tombstone markers
    and internal columns — column-for-column what batch ``cdc_apply``
    of the full log returns (minus the changelog's op column)."""
    return (
        fmt.read(spark, store_path)
        .filter(~F.col(DEL_COL))
        .drop(DEL_COL, PB_COL)
    )


def cdc_apply_batch_against_store(
    batch: DataFrame,
    store_path: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = 16,
    fmt: TableFormat = DEFAULT_FORMAT,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Apply one changelog micro-batch to the materialized store.
    Stream it with ``start_batch_stream(changelog,
    cdc_apply_batch_against_store, checkpoint, store_path, key_cols,
    seq_col)``; ``changelog`` carries ``key_cols + [seq_col, op_col]``
    plus payload columns. ``batch_id``/``stream_id`` are accepted for
    the runner and unused: the seq gate is the redelivery guard."""
    spark = batch.sparkSession
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn(PB_COL, F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)))
    )
    store = _read_store_or_none(fmt, spark, store_path)
    if store is not None:  # first batch: no store yet -> gate is moot
        stored = store.select(*key_cols, F.col(seq_col).alias("__sseq"))
        latest = (
            latest.join(stored, key_cols, "left")
            .filter(F.col("__sseq").isNull() | (F.col(seq_col) > F.col("__sseq")))
            .drop("__sseq")
        )
    # pin BEFORE the store mutates underneath this plan
    latest = latest.localCheckpoint(eager=True)
    # Tombstones stay in the store as flagged rows (not purges) so
    # their seq keeps gating late, lower-seq upserts for the same key.
    rows = latest.withColumn(
        DEL_COL, F.col(op_col) == F.lit(delete_op)
    ).drop(op_col)
    touched = latest.select(*key_cols, PB_COL)
    fmt.upsert_keys(
        rows, store_path, [*key_cols, PB_COL], [PB_COL], keys=touched
    )
