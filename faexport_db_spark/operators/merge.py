"""Merge-to-current-entity operator family (SURVEY.md §2.5, M1-M8).

The reference computes the "current" state of an entity by merging all
of its immutable snapshots newest-first in Python, one entity at a time
(reference: faexport_db/models/submission.py:27-104, models/user.py:8-48).
Here the same semantics are a **single-pass groupBy aggregation**: one
shuffle on the entity key, all merge rules as JVM aggregate expressions
(`max_by` over a deterministic order key). The M5 layered JSON merge of
``extra_data`` (shallow, newest key wins — reference: faexport_db/
db.py:10-17, models/submission.py:71-77) is ALSO pure expressions
(variant-typed first-wins map fold, ``folds.py``), and so is M7's
clash-reset file merge (reference: models/submission.py:89-104,
models/file.py:50-72), so the merge plans have zero Python eval
operators. The Python forms of both folds are the test golden
(``tests/golden_folds.py``).

Scale notes: the entity key (website_id, site_entity_id) is
high-cardinality and well distributed (SURVEY §4 skew note), so the
single shuffle partitions evenly; per-entity snapshot counts are tiny
(1-6), so collect_list stays bounded. No window function is used: the
rules are `max_by`/`min`/`max` aggregates with partial (map-side)
combine. Whether that aggregate sorts depends on its buffers.
`merged_submissions` and `merged_users` also `collect_list`, so Spark
plans every rule with it on ObjectHashAggregate and nothing sorts
(pinned in tests/test_plans.py). A scalar-only merge, `max_by` of a
string or struct value under the struct order key, has no buffer that
HashAggregate can hold and falls back to SortAggregate, which sorts
each partition for its partial and its final step (ROADMAP lists the
merge queries whose plans still sort).

Determinism: the reference sorts by ``scan_datetime`` only, relying on
Python's stable sort for ties (models/submission.py:27-29). We refine
the order to (scan_datetime, snapshot_id) so results are deterministic
under ties — the reference's tie behavior is storage-order-dependent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faexport_db_spark.operators.folds import merge_extra_data_history_expr, merged_files


def snapshot_order(ts_col: str = "scan_datetime", id_col: str | None = None) -> Column:
    """Deterministic recency key (M1). Reference: models/submission.py:27-29."""
    if id_col is None:
        return F.struct(F.col(ts_col))
    return F.struct(F.col(ts_col), F.col(id_col))


def latest_value(col: str | Column, order: Column) -> Column:
    """M2 — value from the newest snapshot, even if null there.

    Reference: models/submission.py:31-33 (``is_deleted`` is read off
    ``sorted_snapshots[0]`` with no null-walk).
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.max_by(col, order)


def newest_non_null(col: str | Column, order: Column) -> Column:
    """M4 — walk newest→oldest, take the first non-null value.

    Reference: models/submission.py:43-69. Implemented by masking the
    order key to null where the value is null: ``max_by`` ignores
    null-keyed rows, which is exactly the newest-non-null walk.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.max_by(col, F.when(col.isNotNull(), order))


def newest_matching(col: str | Column, predicate: Column, order: Column) -> Column:
    """Value of ``col`` from the newest snapshot satisfying ``predicate``
    (M6's shape: first snapshot, newest-first, with keywords_recorded —
    reference: models/submission.py:79-87)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.max_by(col, F.when(predicate, order))


def _merged_extra_data(order: Column) -> Column:
    """M5 — fold ``merge_dicts`` oldest→newest (newest key wins).

    Reference: models/submission.py:71-77, db.py:10-17 (shallow
    ``{**base, **overlay}``). We collect the JSON history in scan order
    (sort_array on (order, extra_data) structs) and fold it with pure
    Catalyst expressions (``merge_extra_data_history_expr`` — variant
    parse + first-wins map merge over the reversed history), so the
    whole scalar merge plan has ZERO Python eval operators. Output is
    canonical JSON (recursively sorted keys) — key order is
    non-semantic in the reference (dict).
    """
    ordered = F.sort_array(F.collect_list(F.struct(order.alias("o"), F.col("extra_data").alias("d"))))
    history = F.transform(ordered, lambda s: s["d"])
    return merge_extra_data_history_expr(history)


# ---------------------------------------------------------------------------
# Entity-level assemblies (§3.1 restated as one Spark job)
# ---------------------------------------------------------------------------


def merged_users(user_snapshots: DataFrame) -> DataFrame:
    """Merged current-user view. Reference: models/user.py:8-72.

    Note the reference's ``display_name`` walks the *unsorted* snapshot
    list (models/user.py:35-40 iterates ``self.snapshots``, not
    ``sorted_snapshots``) — storage-order-dependent, clearly an
    accident; we implement the documented intent (newest non-null),
    consistent with Submission.title (models/submission.py:50-55).
    """
    order = snapshot_order("scan_datetime", "user_snapshot_id")
    return user_snapshots.groupBy("website_id", "site_user_id").agg(
        F.count(F.lit(1)).alias("snapshot_count"),
        F.min("scan_datetime").alias("first_scanned"),
        F.max("scan_datetime").alias("latest_update"),
        latest_value("is_deleted", order).alias("is_deleted"),
        newest_non_null("display_name", order).alias("display_name"),
        _merged_extra_data(order).alias("extra_data"),
    )


def merged_submissions(
    submission_snapshots: DataFrame,
    keywords: DataFrame | None = None,
    files: DataFrame | None = None,
    file_hashes: DataFrame | None = None,
) -> DataFrame:
    """Merged current-submission view — the reference's flagship read
    (GET /api/view/submissions/..., web.py:68-78 → models/submission.py).

    One aggregation pass for all scalar merges + keywords; a second
    aggregation runs the clash-reset file merge (M7) as an expression
    fold, left-joined back on the entity key.
    """
    order = snapshot_order("scan_datetime", "submission_snapshot_id")
    snaps = submission_snapshots

    kw_type = "array<struct<ordinal:int,keyword:string>>"
    if keywords is not None:
        # Nest keywords per snapshot, pre-sorted by (ordinal, keyword) —
        # reference sort key models/submission.py:83-86.
        kw_nested = keywords.groupBy("submission_snapshot_id").agg(
            F.array_sort(F.collect_list(F.struct("ordinal", "keyword"))).alias("kw_list")
        )
        snaps = snaps.join(kw_nested, "submission_snapshot_id", "left")
        # keywords_recorded with zero child rows means "recorded as
        # empty", not "not captured" (schema/faexport_db.sql:66,
        # models/submission.py:252-254): null ≠ [].
        snaps = snaps.withColumn(
            "kw_list",
            F.when(F.col("keywords_recorded") & F.col("kw_list").isNull(), F.lit([]).cast(kw_type)).otherwise(
                F.col("kw_list")
            ),
        )
    else:
        snaps = snaps.withColumn("kw_list", F.lit(None).cast(kw_type))

    merged = snaps.groupBy("website_id", "site_submission_id").agg(
        F.count(F.lit(1)).alias("snapshot_count"),
        F.min("scan_datetime").alias("first_scanned"),
        F.max("scan_datetime").alias("latest_update"),
        latest_value("is_deleted", order).alias("is_deleted"),
        newest_non_null("uploader_site_user_id", order).alias("uploader_site_user_id"),
        newest_non_null("title", order).alias("title"),
        newest_non_null("description", order).alias("description"),
        newest_non_null("datetime_posted", order).alias("datetime_posted"),
        F.coalesce(
            newest_matching("kw_list", F.col("keywords_recorded"), order),
            F.lit([]).cast(kw_type),
        ).alias("keywords"),
        _merged_extra_data(order).alias("extra_data"),
    )

    if files is not None:
        file_view = merged_files(submission_snapshots, files, file_hashes)
        files_nested = file_view.groupBy("website_id", "site_submission_id").agg(
            F.collect_list(
                F.struct("site_file_id", "file_url", "file_size", "extra_data", "hashes")
            ).alias("files")
        )
        merged = merged.join(files_nested, ["website_id", "site_submission_id"], "left")
    return merged


def merged_submission_web_json(merged: DataFrame) -> DataFrame:
    """M8 — serialize merged entities to the API's nested JSON shape.

    Reference: models/submission.py:106-125 (cache_data + submission_data
    envelopes) with ISO datetime coercion (db.py:40-50, web.py:40).
    """
    iso = "yyyy-MM-dd'T'HH:mm:ssXXX"
    return merged.select(
        "website_id",
        "site_submission_id",
        F.to_json(
            F.struct(
                F.col("website_id"),
                F.col("site_submission_id"),
                F.struct(
                    F.col("snapshot_count"),
                    F.date_format("first_scanned", iso).alias("first_scanned"),
                    F.date_format("latest_update", iso).alias("latest_update"),
                ).alias("cache_data"),
                F.struct(
                    F.col("is_deleted"),
                    F.col("uploader_site_user_id"),
                    F.col("title"),
                    F.col("description"),
                    F.date_format("datetime_posted", iso).alias("datetime_posted"),
                    F.col("keywords"),
                    F.col("files"),
                    F.col("extra_data"),
                ).alias("submission_data"),
            )
        ).alias("web_json"),
    )


def scd2_collapse(
    snapshots: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Collapse an ordered snapshot stream into SCD-type-2 validity
    intervals: consecutive snapshots of the same entity carrying the
    SAME value fold into one (value, valid_from, valid_to, n_snapshots)
    row; every value CHANGE opens a new interval.  The
    gaps-and-islands formulation — island id = global row_number minus
    per-value row_number, both over the same (key, order) — needs two
    window passes over ONE partitioning (a single exchange on the
    entity key; Catalyst plans both windows in the same stage), then a
    doc-keyed aggregate.  No self-joins, no lag-chain loops: the naive
    lag()-then-cumulative-flag form is an extra window pass and
    expresses the identical island id.

    At 100 TB the partition key is the entity — uniform by
    construction for snapshot streams (each entity contributes its own
    history) — and the island aggregate reuses the window's
    partitioning.  Deterministic given a deterministic ``order_cols``
    (callers must include a unique tiebreaker when the timestamp can
    tie, same contract as W1-W4).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    wv = Window.partitionBy(*key_cols, value_col).orderBy(*order_cols)
    first_order = order_cols[0]
    islanded = snapshots.withColumn(
        "__island", F.row_number().over(w) - F.row_number().over(wv)
    )
    return islanded.groupBy(*key_cols, value_col, "__island").agg(
        F.min(first_order).alias("valid_from"),
        F.max(first_order).alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_snapshots"),
    ).drop("__island")


def cdc_apply(
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change-data-capture changelog to produce the CURRENT
    snapshot: for each key, the highest-``seq_col`` row wins; if that
    winner is a ``delete_op`` tombstone the key vanishes entirely
    (upserts that were later deleted never resurface). The standard
    CDC-compaction/materialize step (Debezium-style streams, Delta
    CDF) as one window pass.

    ONE exchange on the key — same shape and skew profile as W1–W4
    dedup; tombstones are filtered only AFTER the latest-row pick, so
    a delete followed by nothing stays deleted while a delete followed
    by a re-insert (higher seq) correctly revives the key. Contract:
    (key, seq) pairs are unique — the changelog's own ordering
    guarantee; pre-dedup if a source can emit doubles. Output: the
    winning non-tombstone rows minus the op column."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.filter(F.col(op_col) != F.lit(delete_op)).drop(op_col)
