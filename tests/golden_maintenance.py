"""Reference-order golden for ``maintenance.cleanup``.

``cascade_cleanup`` follows the reference cron job's statement order
(remove_duplicates.py:316-322) literally: hashes, files, keywords, then
snapshots, each dedup followed by the same-run cascade of orphan
deletes against the kept parents (:127-138, :217-250). The library's
``cleanup`` reaches the same tables in dependency order, one dedup and
one filter per table; tests/test_maintenance.py checks the two agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from faexport_db_spark.maintenance.dedup import (
    SUBMISSION_DEDUP_KEYS,
    USER_DEDUP_KEYS,
    dedup_keep_one,
    remove_orphans,
)


def cascade_cleanup(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """One lazy pass of the reference's cleanup sequence, cascade order."""
    out = dict(tables)

    if "user_snapshots" in out:
        out["user_snapshots"] = dedup_keep_one(
            out["user_snapshots"], USER_DEDUP_KEYS, "user_snapshot_id", keep="lowest"
        )

    files = out.get("submission_snapshot_files")
    hashes = out.get("submission_snapshot_file_hashes")
    snaps = out.get("submission_snapshots")

    if hashes is not None and files is not None:
        hashes = remove_orphans(hashes, files, "file_id", "file_id")
        hashes = dedup_keep_one(hashes, ["file_id", "algo_id"], "hash_id", keep="highest")

    if files is not None and snaps is not None:
        files = remove_orphans(
            files, snaps, "submission_snapshot_id", "submission_snapshot_id"
        )
        files = dedup_keep_one(
            files,
            ["submission_snapshot_id", "site_file_id"],
            "file_id",
            keep="highest",
        )
        if hashes is not None:
            # Cascade of the file dedup (remove_duplicates.py:127-138).
            hashes = remove_orphans(hashes, files, "file_id", "file_id")

    keywords = out.get("submission_snapshot_keywords")
    if keywords is not None and snaps is not None:
        keywords = remove_orphans(
            keywords, snaps, "submission_snapshot_id", "submission_snapshot_id"
        )
        keywords = dedup_keep_one(
            keywords,
            ["submission_snapshot_id", "keyword", "ordinal"],
            "keyword_id",
            keep="lowest",
        )

    if snaps is not None:
        snaps = dedup_keep_one(
            snaps, SUBMISSION_DEDUP_KEYS, "submission_snapshot_id", keep="lowest"
        )
        # Cascade of the snapshot dedup: the losing snapshots' files,
        # keywords, and those files' hashes (remove_duplicates.py:217-250).
        if files is not None:
            files = remove_orphans(
                files, snaps, "submission_snapshot_id", "submission_snapshot_id"
            )
            if hashes is not None:
                hashes = remove_orphans(hashes, files, "file_id", "file_id")
        if keywords is not None:
            keywords = remove_orphans(
                keywords, snaps, "submission_snapshot_id", "submission_snapshot_id"
            )

    for name, df in (
        ("submission_snapshots", snaps),
        ("submission_snapshot_files", files),
        ("submission_snapshot_keywords", keywords),
        ("submission_snapshot_file_hashes", hashes),
    ):
        if df is not None:
            out[name] = df
    return out
