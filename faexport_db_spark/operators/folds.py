"""The two merge folds Spark aggregates cannot state directly, as
Catalyst expressions (SURVEY.md §7.3):

- M5 ``extra_data`` layering: ordered shallow-dict fold, newest key
  wins (reference: faexport_db/db.py:10-17 ``merge_dicts``;
  models/submission.py:71-77 folds oldest→newest).
- M7 clash-reset file merge: an ordered *stateful* fold — a clash
  (url/size/same-algo-hash conflict) REPLACES the accumulated file,
  dropping previously-unioned hashes (reference: models/file.py:50-72,
  models/submission.py:89-104). Not expressible as a plain aggregate
  because the reset discards accumulated state, but ``F.aggregate`` is
  a sequential left fold, so a reset is just a fold step.

One implementation per operator. The Arrow-batched Python M7 fold
tied the expression form in round 7 (BENCHNOTES "Round 7: M7 fold
default re-measured") and lost 2× on the keyed single-exchange path in
round 10 (OPTIMIZATION_r10.md), so it left the library. The Python
folds live on as the pure-Python golden reference in
``tests/golden_folds.py``, which the property and golden tests compare
these expressions against byte for byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_extra_data_history_expr(history: Column) -> Column:
    """M5 as a pure Catalyst expression — no Python in the plan.

    Walk the ordered history NEWEST-first and keep the first occurrence
    of each key (≡ oldest→newest overlay-wins, reference db.py:10-17),
    so ``map_concat`` never sees a duplicate key and no dedup-policy
    config is needed. Values parse to ``variant`` (typed: numbers stay
    numbers, nested objects stay objects), and Variant's to_json stores
    object fields key-sorted at EVERY level — the recursive
    canonicalization ``json.dumps(sort_keys=True)`` does in the golden
    fold. Top-level order comes from rebuilding the map from key-sorted
    entries. Non-object / malformed docs parse to NULL and are skipped,
    like the golden fold's isinstance(dict) guard.

    Known presentation seam vs the golden fold (property-tested equal
    otherwise): float values render per Jackson (``1.0`` → ``1``,
    ``1e+30`` → ``1.0E30``) — numerically identical JSON.
    """
    maps = F.transform(history, lambda d: F.from_json(d, "map<string,variant>"))
    merged = F.aggregate(
        F.reverse(maps),
        F.expr("cast(map() as map<string,variant>)"),
        lambda acc, m: F.when(m.isNull(), acc).otherwise(
            F.map_concat(acc, F.map_filter(m, lambda k, v: ~F.map_contains_key(acc, k)))
        ),
    )
    return _canonical_map_json(merged)


def _canonical_map_json(m: Column) -> Column:
    """Render a string-keyed map as canonical JSON: top-level keys
    sorted by rebuilding the map from sorted entries (binary string
    compare ≡ code-point order ≡ ``json.dumps(sort_keys=True)`` for
    UTF-8), nested levels sorted by Variant's own key-sorted storage.
    NULL map → NULL."""
    entries = F.array_sort(
        F.map_entries(m),
        lambda a, b: F.when(a["key"] < b["key"], F.lit(-1))
        .when(a["key"] > b["key"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.to_json(F.map_from_entries(entries))


def _keyed_files(
    submission_snapshots: DataFrame,
    files: DataFrame,
    file_hashes: DataFrame | None,
) -> DataFrame:
    """Shared M7 prelude: hashes nest into files (shuffle on file_id),
    files pick up entity keys from their snapshot (shuffle on
    snapshot_id). All keys are high-cardinality; per-group row counts
    are tiny."""
    if file_hashes is not None:
        hashes_nested = file_hashes.groupBy("file_id").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("algo_id"),
                        F.base64(F.col("hash_value")).alias("hash_b64"),
                    )
                )
            ).alias("hashes_list")
        )
        files = files.join(hashes_nested, "file_id", "left")
    else:
        files = files.withColumn(
            "hashes_list",
            F.lit(None).cast("array<struct<algo_id:bigint,hash_b64:string>>"),
        )

    return files.join(
        submission_snapshots.select(
            "submission_snapshot_id", "website_id", "site_submission_id", "scan_datetime"
        ),
        "submission_snapshot_id",
        "inner",
    )


# The clash-reset fold as a Catalyst expression. A clash "resets"
# accumulated state, which rules out a commutative SQL aggregate — but
# ``F.aggregate`` is a *sequential left fold* over an ordered array, so
# resets are just the fold step choosing the element over the
# accumulator. Accumulator: (url, size, extra map, hashes map, init).
def _m7_acc_init() -> Column:
    return F.expr(
        """named_struct(
          'url', cast(null as string), 'size', cast(null as bigint),
          'extra', cast(null as map<string,variant>),
          'hashes', cast(map() as map<bigint,string>), 'init', false)"""
    )


def _hashes_map(hl: Column) -> Column:
    """(algo_id → hash_b64) map from the sorted entry list; last entry
    wins per algo_id like the golden fold's dict build (map_from_entries
    throws on duplicate keys under ANSI). NULL list → empty map."""
    n = F.size(hl)
    kept = F.filter(
        hl,
        lambda h, i: (i == n - 1)
        | (F.try_element_at(hl, i + 2)["algo_id"] != h["algo_id"]),
    )
    return F.when(
        hl.isNotNull(),
        F.map_from_entries(
            F.transform(
                kept,
                lambda h: F.struct(
                    h["algo_id"].alias("key"), h["hash_b64"].alias("value")
                ),
            )
        ),
    ).otherwise(F.expr("cast(map() as map<bigint,string>)"))


def _m7_step(acc: Column, e: Column) -> Column:
    """One fold step — semantics of the golden ``_fold_batch``'s inner
    loop (tests/golden_folds.py; reference models/file.py:50-72): conflicting non-null url / size /
    shared-algo hash REPLACES the accumulated file wholesale; otherwise
    extra_data merges overlay-wins, url/size stay immutable, and only
    new-algo hashes are added.

    ``extra_map`` / ``hmap`` arrive PRE-PARSED (projected map-side
    before the collect): higher-order lambdas evaluate interpreted and
    without common-subexpression elimination, so a ``from_json`` here
    would re-parse the JSON at every one of its ~3 occurrences per
    step — measured ~40% of the whole query."""
    url_e, size_e = e["file_url"], e["file_size"]
    extra_e = e["extra_map"]
    hashes_e = e["hmap"]
    clash = (
        (url_e.isNotNull() & acc["url"].isNotNull() & (acc["url"] != url_e))
        | (size_e.isNotNull() & acc["size"].isNotNull() & (acc["size"] != size_e))
        | F.exists(
            F.map_entries(hashes_e),
            # eqNullSafe: a stored "abc" vs incoming NULL b64 IS a
            # conflict (the golden fold's `!=` says so), but a plain
            # SQL `!=` would yield NULL and silently skip the reset.
            lambda kv: F.map_contains_key(acc["hashes"], kv["key"])
            & ~F.try_element_at(acc["hashes"], kv["key"]).eqNullSafe(kv["value"]),
        )
    )
    merged_extra = (
        F.when(extra_e.isNull(), acc["extra"])
        .when(acc["extra"].isNull(), extra_e)
        .otherwise(
            F.map_concat(
                F.map_filter(acc["extra"], lambda k, v: ~F.map_contains_key(extra_e, k)),
                extra_e,
            )
        )
    )
    merged_hashes = F.map_concat(
        acc["hashes"],
        F.map_filter(hashes_e, lambda k, v: ~F.map_contains_key(acc["hashes"], k)),
    )
    take_new = (~acc["init"]) | clash
    return F.struct(
        F.when(take_new, url_e).otherwise(acc["url"]).alias("url"),
        F.when(take_new, size_e).otherwise(acc["size"]).alias("size"),
        F.when(take_new, extra_e).otherwise(merged_extra).alias("extra"),
        F.when(take_new, hashes_e).otherwise(merged_hashes).alias("hashes"),
        F.lit(True).alias("init"),
    )


def merged_files_keyed(keyed: DataFrame) -> DataFrame:
    """M7 fold over an already-keyed frame — the entry for callers that
    can produce ``_keyed_files``'s output columns (website_id,
    site_submission_id, site_file_id, scan_datetime,
    submission_snapshot_id, file_id, file_url, file_size, extra_data,
    hashes_list) WITHOUT the snapshot/hash joins, e.g. when all three
    branches derive from one source row (guide §8: use what you know
    that the optimizer does not). Semantics identical to
    ``merged_files``; the golden/property tests pin the fold itself.

    One shuffle (groupBy the (entity, file) key, map-side partial
    collect), a comparator ``array_sort`` establishes fold order on the
    (scan_datetime, snapshot_id, file_id) key prefix, then the
    ``aggregate`` fold and canonical-JSON rendering, zero Python in the
    plan. Folding per (entity, file) key equals folding
    the entity stream because a file key's state only changes on its
    own rows. JSON/hash-list parsing happens ONCE per row in the
    pre-collect projection, not inside the interpreted fold lambda."""
    # Collect raw (orderable) structs so array_sort runs the native
    # struct comparison — the (scan_datetime, snapshot_id, file_id)
    # prefix decides every comparison (snapshot ids are unique), same
    # order the golden fold sorts its rows into. Parsing
    # happens in ONE transform pass after the sort, so the JSON/hash
    # list is parsed exactly once per row — never inside the fold step,
    # where the interpreted lambda would re-parse per occurrence.
    sorted_raw = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("scan_datetime"),
                F.col("submission_snapshot_id"),
                F.col("file_id"),
                F.col("file_url"),
                F.col("file_size"),
                F.col("extra_data"),
                F.col("hashes_list"),
            )
        )
    )
    hist = F.transform(
        sorted_raw,
        lambda e: F.struct(
            e["file_url"].alias("file_url"),
            e["file_size"].alias("file_size"),
            # Values stay VARIANT through the fold (one from_json per
            # row, nothing else): the fold only tests KEY membership
            # (map_filter/map_concat never look at a value), and the
            # final render's to_json is key-sorted at every nesting
            # level straight from variant. The earlier string-map form
            # additionally paid one to_json per value per INPUT row
            # here and one parse_json per value per survivor in the
            # output projection — pure churn, r10 removes both
            # (property tests + oracle pin the rendered bytes).
            F.from_json(e["extra_data"], "map<string,variant>").alias("extra_map"),
            _hashes_map(e["hashes_list"]).alias("hmap"),
        ),
    )
    # The fold lands in its OWN Project, referenced by attribute from a
    # second Project that extracts the four output fields. Inlining the
    # fold expression directly into each field (the pre-r09 form) put
    # FOUR copies of the whole interpreted aggregate lambda in one
    # Project — higher-order lambdas get no common-subexpression
    # elimination, so every output row replayed the fold 4×.
    # CollapseProject keeps the split: a non-cheap expression consumed
    # by multiple references is never re-inlined.
    folded = F.col("__folded")
    hashes_json = F.to_json(
        F.transform(
            F.array_sort(F.map_entries(folded["hashes"])),
            lambda kv: F.struct(
                kv["key"].alias("algo_id"), kv["value"].alias("hash_b64")
            ),
        ),
        # A NULL hash_b64 must render as "hash_b64":null like the
        # golden fold's json.dumps, not be dropped from the struct.
        {"ignoreNullFields": "false"},
    )
    return (
        keyed.groupBy("website_id", "site_submission_id", "site_file_id")
        .agg(hist.alias("hist"))
        .select(
            "website_id",
            "site_submission_id",
            "site_file_id",
            F.aggregate(F.col("hist"), _m7_acc_init(), _m7_step).alias("__folded"),
        )
        .select(
            "website_id",
            "site_submission_id",
            "site_file_id",
            folded["url"].alias("file_url"),
            folded["size"].alias("file_size"),
            _canonical_map_json(folded["extra"]).alias("extra_data"),
            hashes_json.alias("hashes"),
        )
    )


def merged_files(
    submission_snapshots: DataFrame,
    files: DataFrame,
    file_hashes: DataFrame | None = None,
) -> DataFrame:
    """M7 — current files per submission entity, clash-reset semantics.

    Pure Catalyst expressions: groupBy the (entity, file) key and an
    ``aggregate`` left fold, no Python eval in the plan (same
    float-presentation seam as M5: ``1.0`` renders ``1`` via Jackson).
    This is the only implementation. The Arrow-batched Python fold it
    replaced measured 2× slower on the keyed path (expr median 0.55 s
    vs python 1.04 s, OPTIMIZATION_r10.md) and is now the golden in
    ``tests/golden_folds.py``.
    """
    keyed = _keyed_files(submission_snapshots, files, file_hashes)
    return merged_files_keyed(keyed)

