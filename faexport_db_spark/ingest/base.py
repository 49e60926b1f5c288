"""Ingest core: nested-snapshot normalization + DQ reporting.

The reference's ingest jobs convert raw rows to snapshot objects one at
a time (scripts/ingest/ingestion_job.py:67-69 ``convert_row``), then
bulk-insert parents, back-propagate RETURNING ids into children, and
cascade child inserts (models/submission.py:333-366). The Spark
restatement: every format adapter is a pure expression tree producing a
NESTED snapshot DataFrame (keywords/files/hashes as array columns);
``explode_to_store`` flattens it into the relational child tables with
minted surrogate ids — no id round-trips.

Surrogate ids are non-semantic (SURVEY §1.2: dedup tie-breaks aside,
nothing reads them as meaning); we mint them DENSE (0..n-1 per table) so
callers can pack batches of ids into fixed strides
(streaming/ingest_stream.py) without the sparse-id overflow
monotonically_increasing_id would cause. All four tables' ids come from
one pin of the nested frame and one per-partition count job
(``_pin_with_offsets``); ``with_dense_ids`` is the one-table case.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id() == (partition index << 33) | row-in-partition.
_MID_ROW_BITS = 33
_MID = "_mid"
_PID = "_pid"


def _pid(mid: str) -> Column:
    return F.shiftright(F.col(mid), _MID_ROW_BITS)


def _row_in_part(mid: str) -> Column:
    return F.col(mid).bitwiseAND(F.lit((1 << _MID_ROW_BITS) - 1))


def _pin_with_offsets(
    df: DataFrame, sizes: dict[str, Column]
) -> tuple[DataFrame, dict[str, Column]]:
    """Pin ``df`` marked with ``_mid`` = ``monotonically_increasing_id``,
    and count, per partition of the pin, the rows each id column of
    ``sizes`` numbers (``sizes[name]`` is that count for one row of
    ``df``). Returns the pin and, per name, an array literal indexed by
    partition index: the ids numbered in the partitions before it.

    ``zipWithIndex``'s algorithm kept in DataFrame land: one eager
    ``localCheckpoint`` (so every read sees the same ``_mid`` values
    and the same rows in the same order), one tiny aggregate collected
    to the driver, and the cumulative offsets handed back as literals,
    so the lookup is one array index per row and no join. A
    ``persist()`` would pin too, but CacheManager entries are never
    auto-released, which in a long-running foreachBatch loop leaks
    storage memory; checkpoint blocks are freed by the ContextCleaner
    once a JVM GC collects the RDD. Frames read from the pin keep it
    alive, so nothing here can release it earlier
    (``operators.pins.unpin`` states the rule and the trade-off).
    """
    pin = df.withColumn(_MID, F.monotonically_increasing_id()).localCheckpoint(eager=True)
    rows = pin.groupBy(_pid(_MID).alias(_PID)).agg(
        *[F.sum(size).alias(name) for name, size in sizes.items()]
    )
    by_pid = {row[_PID]: row for row in rows.collect()}
    pids = range(max(by_pid, default=0) + 1)
    offsets = {}
    for name in sizes:
        counts = [(by_pid[p][name] or 0) if p in by_pid else 0 for p in pids]
        offsets[name] = _long_array(list(accumulate(counts, initial=0))[:-1])
    return pin, offsets


def _long_array(values: list[int]) -> Column:
    """An ``array<bigint>`` literal that is one plan node at any length:
    Catalyst constant-folds the split of one string literal, where
    ``F.lit`` of a list builds one expression per element."""
    return F.split(F.lit(",".join(map(str, values))), ",").cast("array<bigint>")


def _numbered(df: DataFrame, offsets: dict[str, Column], ids: dict[str, str]) -> DataFrame:
    """``df`` (narrow over a ``_pin_with_offsets`` pin, in the pin's
    partitions) with each id column ``name`` of ``ids`` minted from
    ``ids[name]``, a ``monotonically_increasing_id`` column marked on
    the rows that name numbers: the partition's offset plus the
    in-partition row number."""
    return df.select(
        *[
            (offsets[name][_pid(mid).cast("int")] + _row_in_part(mid)).alias(name)
            for name, mid in ids.items()
        ],
        *df.columns,
    )


def with_dense_ids(df: DataFrame, name: str) -> DataFrame:
    """Mint DENSE ``0..n-1`` surrogate ids in ``name`` — no global sort.

    ``monotonically_increasing_id`` alone is unique-within-frame but
    sparse: it encodes ``partitionId*2^33 + row``, so a frame with >=128
    partitions mints raw ids >= 2^40 — which collides with the next
    micro-batch once a ``batch_id * 2^40`` stride is added
    (streaming/ingest_stream.py). Dense ids bound every id by the row
    count, making any stride >= rows-per-batch collision-free.

    The one-table case of ``explode_to_store``'s minting: one pin, one
    per-partition count job, then the offsets plus the in-partition row
    number (``_pin_with_offsets``). The returned frame reads the pin.
    """
    pin, offsets = _pin_with_offsets(df, {name: F.lit(1)})
    return _numbered(pin, offsets, {name: _MID}).drop(_MID)


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


def _elements(arr: Column) -> Column:
    """Elements of ``arr``, 0 when it is null (as ``explode`` yields)."""
    return F.when(arr.isNull(), 0).otherwise(F.size(arr))


def explode_to_store(nested: DataFrame) -> dict[str, DataFrame]:
    """Nested snapshots → relational store tables (parent + 3 children)
    with consistent minted DENSE ids (0..n-1 per table).

    One pin of ``nested`` marked with ``monotonically_increasing_id``
    and one per-partition count job for the rows, keywords, files and
    hashes (``_pin_with_offsets``) number all four tables: a row's id is
    its table's offset for the partition plus the row's in-partition
    position, marked on the child rows as they are exploded from the
    pin. The pin fixes every partition's rows and their order, so each
    re-read re-explodes the same children in the same order and mints
    the same ids, and a parent's id is a function of its pinned mark,
    so a child carries it with no join to the parent table. Nothing is
    cached, so a foreachBatch caller leaks no CacheManager entries."""
    pin, offsets = _pin_with_offsets(
        nested,
        {
            "submission_snapshot_id": F.lit(1),
            "keyword_id": _elements(F.col("keywords")),
            "file_id": _elements(F.col("files")),
            "hash_id": F.aggregate(
                "files", F.lit(0), lambda acc, f: acc + _elements(f["hashes"])
            ),
        },
    )
    snap_id = {"submission_snapshot_id": _MID}

    snapshots = _numbered(pin, offsets, snap_id).select(
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

    keywords = _numbered(
        pin.select(_MID, F.explode("keywords").alias("kw")).withColumn(
            "_kmid", F.monotonically_increasing_id()
        ),
        offsets,
        {"keyword_id": "_kmid", **snap_id},
    ).select(
        "keyword_id",
        "submission_snapshot_id",
        F.col("kw.keyword").alias("keyword"),
        F.col("kw.ordinal").alias("ordinal"),
    )

    files_flat = pin.select(_MID, F.explode("files").alias("f")).withColumn(
        "_fmid", F.monotonically_increasing_id()
    )
    files = _numbered(files_flat, offsets, {"file_id": "_fmid", **snap_id}).select(
        "file_id",
        "submission_snapshot_id",
        F.col("f.site_file_id").alias("site_file_id"),
        F.col("f.file_url").alias("file_url"),
        F.col("f.file_size").alias("file_size"),
        F.col("f.extra_data").alias("extra_data"),
    )
    file_hashes = _numbered(
        files_flat.select("_fmid", F.explode("f.hashes").alias("h")).withColumn(
            "_hmid", F.monotonically_increasing_id()
        ),
        offsets,
        {"hash_id": "_hmid", "file_id": "_fmid"},
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
