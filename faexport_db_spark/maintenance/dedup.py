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
``cleanup_to_fixpoint`` checks that with one unpinned audit query over
the pass's output and runs another pass only if the audit finds work.

Every kept table is materialized once (``localCheckpoint(eager=True)``)
before its children read it, so no window is re-derived downstream and
appending the returned tables is a pure write. Scale notes: every
window partitions on a high-cardinality composite key; every semi-join
joins child fact to parent fact on the surrogate id — co-partitionable,
handled by AQE. Only the audit's one-row probe reaches the driver.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

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


class Rule(NamedTuple):
    """How ``cleanup`` keeps one table, and what the audit checks: one
    row per ``keys`` group (the ``keep`` end of ``id_col``) whose ``fk``
    is in ``parent``'s ``fk`` column."""

    table: str
    keys: list[str]
    id_col: str
    keep: str
    parent: str | None = None
    fk: str | None = None


_SNAPS, _SNAP_ID = "submission_snapshots", "submission_snapshot_id"
_FILES = "submission_snapshot_files"

# Dependency order: every parent before its children.
CLEANUP_RULES = (
    Rule("user_snapshots", USER_DEDUP_KEYS, "user_snapshot_id", "lowest"),
    Rule(_SNAPS, SUBMISSION_DEDUP_KEYS, _SNAP_ID, "lowest"),
    Rule(_FILES, [_SNAP_ID, "site_file_id"], "file_id", "highest", _SNAPS, _SNAP_ID),
    Rule(
        "submission_snapshot_file_hashes", ["file_id", "algo_id"], "hash_id", "highest",
        _FILES, "file_id",
    ),
    # The reference never needs a keyword dedup: duplicate snapshots
    # always carry fresh serial ids there, so the snapshot-dedup cascade
    # removes the losing snapshot's keywords. Our streaming redelivery
    # mints the SAME ids deterministically, leaving full-row keyword
    # duplicates the cascade can't see — collapse them (a no-op on
    # reference-shaped data).
    Rule(
        "submission_snapshot_keywords", [_SNAP_ID, "keyword", "ordinal"], "keyword_id",
        "lowest", _SNAPS, _SNAP_ID,
    ),
)


def _applies(rule: Rule, tables: dict[str, DataFrame]) -> bool:
    """A missing table is skipped, and so is a child whose parent table
    is missing (the reference cascade passes it through unchanged)."""
    return rule.table in tables and (rule.parent is None or rule.parent in tables)


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

    Input/output dict keys: the tables of ``CLEANUP_RULES``. A missing
    table is skipped, and a child whose parent table is missing is
    passed through unchanged, as in the reference cascade; other keys
    pass through.
    """
    out = dict(tables)
    for rule in CLEANUP_RULES:
        if not _applies(rule, out):
            continue
        df = out[rule.table]
        if rule.parent is not None:
            df = remove_orphans(df, out[rule.parent], rule.fk, rule.fk)
        kept = dedup_keep_one(df, rule.keys, rule.id_col, rule.keep)
        out[rule.table] = kept.localCheckpoint(eager=True)
    return out


def _keyed(df: DataFrame, check: str, cols: list[str], rows: int, parents: int) -> DataFrame:
    """``df``'s rows as ``(check, key, rows, parents)`` audit rows; the
    key is ``cols`` as an array of strings, which compares exactly for
    the key columns' types (ids, strings, timestamps)."""
    return df.select(
        F.lit(check).alias("check"),
        F.array(*[F.col(c).cast("string") for c in cols]).alias("key"),
        F.lit(rows).alias("rows"),
        F.lit(parents).alias("parents"),
    )


def _needs_another_round(tables: dict[str, DataFrame]) -> bool:
    """Whether another ``cleanup`` pass would change ``tables``: some
    dedup-key group holds more than one row, or some child row's
    foreign key is missing from its parent.

    One query with one shuffle, and nothing pinned: every row of a
    checked table is keyed by its rule and its dedup key (a duplicate
    is a key with two rows), and every child row and non-null parent id
    by its rule and foreign key (an orphan is a key with child rows and
    no parent row)."""
    keyed = []
    for rule in CLEANUP_RULES:
        if not _applies(rule, tables):
            continue
        df = tables[rule.table]
        keyed.append(_keyed(df, f"{rule.table} dedup", rule.keys, 1, 0))
        if rule.parent is not None:
            parent = tables[rule.parent].filter(F.col(rule.fk).isNotNull())
            keyed.append(_keyed(df, f"{rule.table} fk", [rule.fk], 1, 0))
            keyed.append(_keyed(parent, f"{rule.table} fk", [rule.fk], 0, 1))
    if not keyed:
        return False
    groups = (
        reduce(DataFrame.unionAll, keyed)
        .groupBy("check", "key")
        .agg(F.sum("rows").alias("rows"), F.sum("parents").alias("parents"))
    )
    bad = F.when(F.col("check").endswith(" dedup"), F.col("rows") > 1).otherwise(
        (F.col("rows") > 0) & (F.col("parents") == 0)
    )
    return not groups.filter(bad).isEmpty()


def cleanup_to_fixpoint(
    tables: dict[str, DataFrame], max_rounds: int = 3
) -> dict[str, DataFrame]:
    """Run ``cleanup`` until another pass would change nothing (the
    reference reaches the same state by being run repeatedly from
    cron); bounded by ``max_rounds``.

    ``cleanup`` is a fixpoint in one pass, so after each pass an audit
    query over its pins (``_needs_another_round``: a duplicate dedup
    key or an orphan child row) decides whether another pass runs; on
    correct input it never does, and the audit pins nothing. A round's
    pins are released as soon as the next round has materialized its
    own; input frames and tables passed through unchanged are kept.
    The returned tables are the last round's pins, owned by the
    caller, so writing them re-runs no dedup plan."""
    inputs = list(tables.values())
    for _ in range(max_rounds):
        done, tables = tables, cleanup(tables)
        kept = {id(df) for df in (*inputs, *tables.values())}
        for df in done.values():
            if id(df) not in kept:
                unpin(df)
        if not _needs_another_round(tables):
            break
    return tables
