"""JSONL export (K3) — the reference's dump_db.py without the caps.

The reference capped its dumps at 10/100 rows because the per-row
child fetch was "very slow … not worth trying to optimise"
(scripts/cron/dump_db.py:21,17-25,54). Here both dumps are one
distributed plan each — children attach via nested aggregation, the
write is partition-parallel JSONL — so the full store exports.

``extra_data`` is emitted as its canonical JSON *string* (the engine's
storage form, SURVEY §1.2): re-parsing it into the envelope would be
possible for flat payloads but lossy for nested ones, and every
consumer of the reference's JSON already round-trips it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faexport_db_spark.operators.merge import merged_submission_web_json
from faexport_db_spark.serve.api import Tables, _merged_store, _nested_submission_snapshots

_ISO = "yyyy-MM-dd'T'HH:mm:ssXXX"


def snapshot_dump_df(tables: Tables) -> DataFrame:
    """One JSON line per raw submission snapshot, children nested —
    the shape of SubmissionSnapshot.to_web_json (models/submission.py:256-278)."""
    nested = _nested_submission_snapshots(tables)
    files_json = F.transform(
        "files",
        lambda f: F.struct(
            f["file_url"].alias("file_url"),
            f["file_size"].alias("file_size"),
            f["extra_data"].alias("extra_data"),
            F.transform(
                f["hashes"],
                lambda h: F.struct(
                    h["algo_id"].alias("algo_id"),
                    F.base64(h["hash_value"]).alias("hash_value"),
                ),
            ).alias("file_hashes"),
        ),
    )
    doc = F.struct(
        F.col("submission_snapshot_id"),
        F.col("website_id"),
        F.col("site_submission_id"),
        F.struct(
            F.date_format("scan_datetime", _ISO).alias("scan_datetime"),
            F.struct(
                F.col("archive_contributor_id").alias("contributor_id"),
                F.col("contributor_name").alias("name"),
            ).alias("archive_contributor"),
            F.date_format("ingest_datetime", _ISO).alias("ingest_datetime"),
        ).alias("cache_data"),
        F.struct(
            F.col("uploader_site_user_id"),
            F.col("is_deleted"),
            F.col("title"),
            F.col("description"),
            F.date_format("datetime_posted", _ISO).alias("datetime_posted"),
            # null ≠ []: keywords stay null when not recorded
            F.when(F.col("keywords_recorded"), F.coalesce("kw_list", F.array())).alias(
                "keywords"
            ),
            files_json.alias("files"),
            F.col("extra_data"),
        ).alias("submission_data"),
    )
    return nested.select(F.to_json(doc, {"ignoreNullFields": "false"}).alias("value"))


def merged_dump_df(tables: Tables) -> DataFrame:
    """One JSON line per merged submission entity (Submission.to_web_json
    shape, models/submission.py:106-125)."""
    merged = _merged_store(tables)
    return merged_submission_web_json(merged).select(F.col("web_json").alias("value"))


def dump_snapshots(tables: Tables, out_dir: str) -> None:
    """K3: write the raw-snapshot JSONL dump (dump_db.py:13-26)."""
    snapshot_dump_df(tables).write.mode("overwrite").text(out_dir)


def dump_merged_submissions(tables: Tables, out_dir: str) -> None:
    """K3: write the merged-entity JSONL dump (dump_db.py:29-42)."""
    merged_dump_df(tables).write.mode("overwrite").text(out_dir)
