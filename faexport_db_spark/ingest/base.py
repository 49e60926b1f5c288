"""Ingest core: nested-snapshot normalization + DQ reporting.

The reference's ingest jobs convert raw rows to snapshot objects one at
a time (scripts/ingest/ingestion_job.py:67-69 ``convert_row``), then
bulk-insert parents, back-propagate RETURNING ids into children, and
cascade child inserts (models/submission.py:333-366). The Spark
restatement: every format adapter is a pure expression tree producing a
NESTED snapshot DataFrame (keywords/files/hashes as array columns);
``explode_to_store`` flattens it into the relational child tables with
minted surrogate ids — no id round-trips, one pass per table.

Surrogate ids are non-semantic (SURVEY §1.2: dedup tie-breaks aside,
nothing reads them as meaning); we mint them DENSE (0..n-1) with
``with_dense_ids`` on checkpointed frames so parent/child ids stay
consistent across the multiple explode passes AND callers can pack
batches of ids into fixed strides (streaming/ingest_stream.py) without
the sparse-id overflow monotonically_increasing_id would cause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() == (partition index << 33) | row-in-partition.
_MID_ROW_BITS = 33


def with_dense_ids(df: DataFrame, name: str) -> DataFrame:
    """Mint DENSE ``0..n-1`` surrogate ids in ``name`` — no global sort.

    ``monotonically_increasing_id`` alone is unique-within-frame but
    sparse: it encodes ``partitionId*2^33 + row``, so a frame with >=128
    partitions mints raw ids >= 2^40 — which collides with the next
    micro-batch once a ``batch_id * 2^40`` stride is added
    (streaming/ingest_stream.py). Dense ids bound every id by the row
    count, making any stride >= rows-per-batch collision-free.

    Two map-side passes, no shuffle of the data itself: (1) count rows
    per partition (a tiny aggregation — one row per partition), (2)
    broadcast the cumulative offsets back and add the in-partition row
    number. This is ``zipWithIndex``'s algorithm kept in DataFrame land
    (no Python RDD round-trip), so it scales to any partition count.

    The input is pinned with an eager ``localCheckpoint`` before the
    counting job so both passes see identical ``_mid`` values. A
    ``persist()`` would work too, but CacheManager entries are never
    auto-released — in a long-running foreachBatch loop (4 calls per
    ingested batch) that leaks storage memory indefinitely, while
    checkpoint blocks are freed by the ContextCleaner once a JVM GC
    collects the RDD. The returned frame reads the pin, so nothing here
    can release it earlier (``operators.pins.unpin`` states the rule
    and the trade-off).
    """
    marked = df.withColumn("_mid", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    pid = F.shiftright(F.col("_mid"), _MID_ROW_BITS)
    counts = marked.groupBy(pid.alias("_pid")).agg(F.count("*").alias("_cnt")).collect()
    acc = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_cnt"]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid bigint, _offset bigint"
    )
    row_in_part = F.col("_mid").bitwiseAND(F.lit((1 << _MID_ROW_BITS) - 1))
    return (
        marked.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(name, (F.col("_offset") + row_in_part).cast("bigint"))
        .drop("_mid", "_pid", "_offset")
    )

KEYWORD_ARRAY = "array<struct<ordinal:int,keyword:string>>"
HASH_ARRAY = "array<struct<algo_id:bigint,hash_value:binary>>"
FILE_ARRAY = (
    "array<struct<site_file_id:string,file_url:string,file_size:bigint,"
    "extra_data:string,hashes:array<struct<algo_id:bigint,hash_value:binary>>>>"
)

NESTED_SUBMISSION_SCHEMA = [
    "website_id",
    "site_submission_id",
    "scan_datetime",
    "archive_contributor_id",
    "ingest_datetime",
    "uploader_site_user_id",
    "is_deleted",
    "title",
    "description",
    "datetime_posted",
    "extra_data",
    "keywords",  # null array ⇒ keywords not recorded (null ≠ [])
    "files",
]


def ordered_keywords(arr: F.Column) -> F.Column:
    """ordered_keywords ingest shape: position becomes the ordinal
    (reference: models/keyword.py:111-121, C20)."""
    return F.transform(
        arr, lambda kw, i: F.struct(i.cast("int").alias("ordinal"), kw.alias("keyword"))
    )


def unordered_keywords(arr: F.Column) -> F.Column:
    """unordered_keywords shape: no ordinals (e621-style tag soup,
    README.md:20)."""
    return F.transform(
        arr,
        lambda kw: F.struct(F.lit(None).cast("int").alias("ordinal"), kw.alias("keyword")),
    )


def explode_to_store(nested: DataFrame) -> dict[str, DataFrame]:
    """Nested snapshots → relational store tables (parent + 3 children)
    with consistent minted DENSE ids (0..n-1 per table, see
    ``with_dense_ids``). Map-only except the checkpoint barriers and the
    per-partition count jobs. Nothing is cached: ``with_dense_ids`` pins
    each frame it numbers with an eager checkpoint, so every re-read of
    ``with_ids`` or the flattened files sees the same ids, and a
    foreachBatch caller leaks no CacheManager entries."""
    with_ids = with_dense_ids(nested, "submission_snapshot_id")

    snapshots = with_ids.select(
        "submission_snapshot_id",
        "website_id",
        "site_submission_id",
        "scan_datetime",
        "archive_contributor_id",
        "ingest_datetime",
        "uploader_site_user_id",
        "is_deleted",
        "title",
        "description",
        "datetime_posted",
        F.col("extra_data"),
        F.col("keywords").isNotNull().alias("keywords_recorded"),
    )

    keywords = with_dense_ids(
        with_ids.select("submission_snapshot_id", F.explode("keywords").alias("kw")),
        "keyword_id",
    ).select(
        "keyword_id",
        "submission_snapshot_id",
        F.col("kw.keyword").alias("keyword"),
        F.col("kw.ordinal").alias("ordinal"),
    )

    files_flat = with_dense_ids(
        with_ids.select("submission_snapshot_id", F.explode("files").alias("f")),
        "file_id",
    )
    files = files_flat.select(
        "file_id",
        "submission_snapshot_id",
        F.col("f.site_file_id").alias("site_file_id"),
        F.col("f.file_url").alias("file_url"),
        F.col("f.file_size").alias("file_size"),
        F.col("f.extra_data").alias("extra_data"),
    )
    file_hashes = with_dense_ids(
        files_flat.select("file_id", F.explode("f.hashes").alias("h")),
        "hash_id",
    ).select(
        "hash_id",
        "file_id",
        F.col("h.algo_id").alias("algo_id"),
        F.col("h.hash_value").alias("hash_value"),
    )
    return {
        "submission_snapshots": snapshots,
        "submission_snapshot_keywords": keywords,
        "submission_snapshot_files": files,
        "submission_snapshot_file_hashes": file_hashes,
    }


def validation_report(raw: DataFrame, rules: dict[str, F.Column]) -> DataFrame:
    """Validation mode as a single-pass DQ report: each rule is a
    boolean VIOLATION expression; output (rule, violations).

    Replaces the reference's assert-per-row loop
    (ingestion_job.py:117-122) — same checks, one aggregation, and the
    job reports counts instead of dying on the first bad row.
    """
    aggs = [
        F.sum(F.when(expr, 1).otherwise(0)).cast("bigint").alias(name)
        for name, expr in rules.items()
    ]
    wide = raw.agg(*aggs)
    stack = ", ".join(f"'{name}', `{name}`" for name in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack}) as (rule, violations)"
    )
