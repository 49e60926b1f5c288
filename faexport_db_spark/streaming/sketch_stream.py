"""Streaming sketch maintenance: a HyperLogLog register store kept up
to date per micro-batch — continuous approximate distinct-counting
over an unbounded stream with CONSTANT state.

The enabling algebra is that register merge (elementwise MAX per
bucket) is idempotent AND commutative, and each batch writes ITS OWN
register table as the store partition ``batch=<tag>``
(``microbatch.publish_partition``, the commit protocol's publish — a
re-delivered batch overwrites the same partition with identical
rows), so the store needs no commit record; the read path
merges all partitions with one bounded groupBy. A crash anywhere
leaves either the old partition content or the new identical content;
double-merging changes nothing.

Scale: each partition is ≤ 2^p rows (p=8 → ≤256); merge-on-read costs
n_batches × 2^p rows — compact with ``maintenance.compaction`` when
the partition count grows, or periodically replace the store with its
own merge (also idempotent). The sketch answers "distinct users/URLs
ever seen" on a stream where an exact seen-set would grow without
bound — the classic stream-analytics trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.streaming.microbatch import batch_tag, publish_partition
from faexport_db_spark.training.pipeline import hll_register_table


def hll_batch_into_store(
    batch: DataFrame,
    store_path: str,
    col: str,
    p: int = 8,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Fold one micro-batch into the register store: compute the
    batch's own register table (one bounded map-side-combining
    groupBy) and publish it under a per-batch partition directory.

    The publish is write-to-hidden-dir then rename: Spark's parquet
    reader skips dot-prefixed paths, so a concurrent
    ``read_hll_store`` never observes partial files mid-write — at
    worst it misses a not-yet-renamed partition (a transient
    undercount that the monotone MAX-merge repairs on the next read).
    Re-delivery of a crashed batch rewrites the identical rows, so a
    crash at any point (partial hidden dir, missing final dir) is
    repaired by idempotence — see the module docstring. Stream it with
    ``start_batch_stream(source, hll_batch_into_store, checkpoint,
    store_path, col)``."""
    publish_partition(
        hll_register_table(batch, col, p), store_path, batch_tag(batch_id, stream_id)
    )


def read_hll_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged register table over every batch partition — the same
    (bucket, register) shape ``hll_register_table`` produces, so
    ``hll_estimate`` reads it directly and further merges (other
    stores, other engines' tables) compose."""
    return (
        spark.read.parquet(store_path)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )


def kmv_batch_into_store(
    batch: DataFrame,
    store_path: str,
    col: str,
    k: int = 256,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Fold one micro-batch into a KMV bottom-k store — the
    set-algebra sibling of ``hll_batch_into_store``: the batch's own
    ≤k-row sketch lands under an idempotent per-batch partition via
    the same hidden-dir-then-rename publish. KMV union (bottom-k of a
    concatenation) is idempotent and commutative exactly like the HLL
    MAX, so re-delivery and mid-write crashes need no commit record.
    Streamed through ``start_batch_stream``, its set algebra
    (union/intersection vs OTHER corpora or streams) stays available
    at any time."""
    from faexport_db_spark.training.pipeline import kmv_sketch

    publish_partition(
        kmv_sketch(batch, col, k), store_path, batch_tag(batch_id, stream_id)
    )


def read_kmv_store(spark: SparkSession, store_path: str, k: int = 256) -> DataFrame:
    """Merged bottom-k sketch over every batch partition — the same
    (hval) shape ``kmv_sketch`` produces, so ``kmv_estimate`` and the
    intersection estimator read it directly, and stores from other
    streams/engines compose by a further union. Merge-on-read costs
    n_batches × k rows. The ``batch=`` partition directories surface
    as a discovered partition column — project it away BEFORE the
    distinct, or duplicate hashes shared by two batches would consume
    sketch slots."""
    return (
        spark.read.parquet(store_path)
        .select("hval")
        .distinct()
        .orderBy("hval")
        .limit(k)
    )


def qsketch_batch_into_store(
    batch: DataFrame,
    store_path: str,
    value,
    batch_id: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Fold one micro-batch into a dyadic QUANTILE-sketch store — the
    rank sibling of the HLL/KMV stores. Register counts merge by SUM,
    which is NOT idempotent, so correctness leans entirely on the
    per-batch partition contract: each batch's own ≤64-row register
    table lands under its idempotent ``batch=`` directory (re-delivery
    overwrites identical rows; the hidden-dir-then-rename publish
    keeps concurrent readers off partial files), and the read path
    sums each batch's contribution exactly once — the line-count
    index's scheme, where the IDEMPOTENT WRITE stands in for an
    idempotent merge. Streamed through ``start_batch_stream`` it
    answers "p99 of everything ever streamed" at any time via
    ``qsketch_quantile_brackets(read_qsketch_store(...))``."""
    from faexport_db_spark.training.pipeline import qsketch_register_table

    publish_partition(
        qsketch_register_table(batch, value), store_path, batch_tag(batch_id, stream_id)
    )


def read_qsketch_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged register table over every batch partition — the same
    (bucket, cnt) shape ``qsketch_register_table`` produces, so
    ``qsketch_quantile_brackets`` reads it directly and cross-store /
    cross-engine merges compose by further SUM. Project the
    discovered ``batch=`` column away before the sum so each batch
    counts exactly once per bucket."""
    return (
        spark.read.parquet(store_path)
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
