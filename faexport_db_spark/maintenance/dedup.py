"""Maintenance: duplicate-snapshot dedup + orphan cleanup (SURVEY §2.6
W1-W4, §2.3 J4, §2.1 K4).

The reference's cron job (scripts/cron/remove_duplicates.py:310-328)
streams ids into Python lists and issues chunked DELETEs; here each
step is a window/semi-join and the "delete" is a rewrite: the kept
DataFrame replaces the table (K4 — delete-as-anti-join, SURVEY §2.1).

The reference CASCADES within a single run: ``delete_files`` also
deletes the removed files' hashes (remove_duplicates.py:127-138) and
``delete_submissions`` deletes the removed snapshots' files, keywords
and those files' hashes (:217-250). ``cleanup`` reaches the same state
in dependency order instead — parents before children, each table
deduplicated once and filtered once against its parent's FINAL kept
set — so one pass leaves no orphans and is a fixpoint by construction.
``cleanup_to_fixpoint`` runs a second pass as the audit.

Every kept table is materialized once (``localCheckpoint(eager=True)``)
before its children read it, so no window is re-derived downstream and
appending the returned tables is a pure write. Scale notes: every
window partitions on a high-cardinality composite key; every semi-join
joins child fact to parent fact on the surrogate id — co-partitionable,
handled by AQE. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from faexport_db_spark.operators.pins import unpin


def dedup_keep_one(
    df: DataFrame, keys: list[str], id_col: str, keep: str = "highest"
) -> DataFrame:
    """Keep exactly one row per key group, by surrogate-id direction.

    ``keep="highest"`` mirrors remove_duplicates.py:107-124 (hashes) and
    :161-178 (files); ``keep="lowest"`` mirrors :253-271 (submission
    snapshots) and :290-307 (user snapshots) — SURVEY §7.4.5 warns the
    direction differs by table.
    """
    order = F.desc(id_col) if keep == "highest" else F.asc(id_col)
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def remove_orphans(
    child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """Drop child rows whose parent no longer exists (J4 + K4).

    Reference: remove_duplicates.py:89-96 (hashes), :143-150 (files),
    :199-206 (keywords) — LEFT JOIN … WHERE parent.id IS NULL, then
    chunked DELETE. Spark form: keep the left-semi survivors directly.
    A semi-join already has set semantics on the parent side, so the
    parent keys need no ``distinct()`` aggregate.
    """
    return child.join(parent.select(F.col(pk).alias(fk)), fk, "left_semi")


SUBMISSION_DEDUP_KEYS = [
    "website_id",
    "site_submission_id",
    "scan_datetime",
    "archive_contributor_id",
]
USER_DEDUP_KEYS = [
    "website_id",
    "site_user_id",
    "scan_datetime",
    "archive_contributor_id",
]


def cleanup(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """One pass of the reference's cleanup (remove_duplicates.py:316-322),
    in dependency order, as eager DataFrame rewrites::

        snaps'    = dedup(snaps)
        files'    = dedup(semi(files, snaps'))
        hashes'   = dedup(semi(hashes, files'))
        keywords' = dedup(semi(keywords, snaps'))

    (``user_snapshots`` has no parent: ``dedup`` only.) This equals the
    reference's cascade order — hashes, files, keywords, then snapshots,
    each dedup followed by orphan deletes against the kept parents —
    because every child dedup key contains the child's foreign key: a
    semi-join on that key keeps or drops whole dedup groups, so it
    commutes with the ``row_number`` dedup, and semi-joins against a
    shrinking parent compose into one semi-join against the final
    parent. One pass is therefore a fixpoint.

    Eager: each kept table is deduplicated, filtered and materialized
    ONCE with ``localCheckpoint(eager=True)`` — one job per table,
    parents before children, so a child reads its parent's pinned copy
    and the returned plans read only the pins. The caller owns the
    returned pins (``operators.pins.unpin`` states the trade-off and
    when one may be released).

    Input/output dict keys: user_snapshots, submission_snapshots,
    submission_snapshot_keywords, submission_snapshot_files,
    submission_snapshot_file_hashes. A missing table is skipped, and a
    child whose parent table is missing is passed through unchanged,
    as in the reference cascade; other keys pass through.
    """
    out = dict(tables)

    def keep(name, keys, id_col, order, parent=None, fk=None):
        df = out.get(name)
        if df is None or (parent is not None and parent not in out):
            return
        if parent is not None:
            df = remove_orphans(df, out[parent], fk, fk)
        out[name] = dedup_keep_one(df, keys, id_col, order).localCheckpoint(eager=True)

    snaps, snap_id = "submission_snapshots", "submission_snapshot_id"
    files = "submission_snapshot_files"
    keep("user_snapshots", USER_DEDUP_KEYS, "user_snapshot_id", "lowest")
    keep(snaps, SUBMISSION_DEDUP_KEYS, snap_id, "lowest")
    keep(files, [snap_id, "site_file_id"], "file_id", "highest", snaps, snap_id)
    keep(
        "submission_snapshot_file_hashes", ["file_id", "algo_id"], "hash_id", "highest",
        files, "file_id",
    )
    # The reference never needs a keyword dedup: duplicate snapshots
    # always carry fresh serial ids there, so the snapshot-dedup cascade
    # removes the losing snapshot's keywords. Our streaming redelivery
    # mints the SAME ids deterministically, leaving full-row keyword
    # duplicates the cascade can't see — collapse them (a no-op on
    # reference-shaped data).
    keep(
        "submission_snapshot_keywords", [snap_id, "keyword", "ordinal"], "keyword_id", "lowest",
        snaps, snap_id,
    )
    return out


def cleanup_to_fixpoint(
    tables: dict[str, DataFrame], max_rounds: int = 3
) -> dict[str, DataFrame]:
    """Run ``cleanup`` until row counts stop changing (the reference
    reaches the same state by being run repeatedly from cron). Counts
    are the only extra actions; bounded by ``max_rounds``.

    ``cleanup`` is a fixpoint in one pass, so round 2 is the audit: it
    re-cleans round 1's pins, its counts read the new pins, and equal
    counts end the loop. Once a round's counts have run, the pins of
    the round it superseded are released; input frames and tables
    passed through unchanged are kept. The returned tables are the last
    round's pins, owned by the caller, so writing them re-runs no
    dedup plan."""
    inputs = list(tables.values())
    counts = {name: df.count() for name, df in tables.items()}
    for _ in range(max_rounds):
        done, tables = tables, cleanup(tables)
        new_counts = {name: df.count() for name, df in tables.items()}
        kept = {id(df) for df in (*inputs, *tables.values())}
        for df in done.values():
            if id(df) not in kept:
                unpin(df)
        if new_counts == counts:
            break
        counts = new_counts
    return tables
