"""Library functions mirroring every reference web.py endpoint.

Each function takes the store — ``tables: Mapping[str, DataFrame]`` keyed
per ``datamodel.schemas.FAEXPORT_SCHEMAS`` — and restates one route's
query lifecycle (SURVEY.md §3.1) as a single Spark plan:

- Point lookups (view_submission, view_submission_snapshots,
  view_user, hash search) are one predicate over a serve view that is
  built once per store (``_store_plan``): the merged submissions, the
  nested snapshot rows, or the merged users. The view is persisted,
  which keeps it fresh when Spark writes to a store path and keeps the
  lineage a rebuild needs, and then pinned with a local checkpoint.
  The first lookup of each kind on a store pays the whole-store build
  and the pin; every later one is one job that filters the pin — one
  RDD scan, no file scan, no merge aggregate, no child join, no sort —
  the Spark analog of the reference's indexes, which its write path
  keeps current (reference: faexport_db/schema/indexes.sql:10-11,21).
  Lookups that return several rows sort them in Python.
  tests/test_plans.py pins that shape. The pinned rows are not sorted
  by the lookup key, so a lookup still reads the whole pin from memory
  (ROADMAP direction 1).
- Child attach is one nested aggregation, not the reference's N+1
  IN-list round-trips (reference: faexport_db/models/submission.py:149-168).
- Listing/count endpoints return DataFrames (distributed; caller limits
  or pages); the ``*_json``-shaped dict assembly collects only after the
  plan has reduced to entity-level rows, and only for point lookups —
  never a full-table collect.

Scale notes: dim tables (websites, contributors, hash_algos) are tiny —
joins against them broadcast. Count endpoints are one groupBy per fact
table, partial-aggregated map-side.
"""

from __future__ import annotations

import base64
import json
import re
import weakref
from collections.abc import Callable, Mapping
from typing import Any, NamedTuple

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from faexport_db_spark.operators.merge import merged_submissions, merged_users
from faexport_db_spark.operators.pins import pinned_rdd, unpin

Tables = Mapping[str, DataFrame]

_ISO = "yyyy-MM-dd'T'HH:mm:ssXXX"


def _iso(value) -> str | None:
    return None if value is None else value.isoformat()


def _json(value) -> Any:
    return None if value is None else json.loads(value)


# ---------------------------------------------------------------------------
# Dimension lookups (F4 family)
# ---------------------------------------------------------------------------


def website(tables: Tables, website_id: str) -> Row | None:
    """Point lookup on the websites dim (reference: models/website.py:58-70)."""
    return tables["websites"].filter(F.col("website_id") == website_id).first()


def authenticate_contributor(tables: Tables, api_key: str) -> Row | None:
    """API-key auth lookup (reference: models/archive_contributor.py:76-88;
    used by web.py:158-163)."""
    return (
        tables["archive_contributors"].filter(F.col("api_key") == api_key).first()
    )


# ---------------------------------------------------------------------------
# Merged-entity point reads (the flagship, web.py:68-78 / 112-122)
# ---------------------------------------------------------------------------


def _entity_filter(df: DataFrame, website_id: str, id_col: str, site_id: str) -> DataFrame:
    return df.filter(
        (F.col("website_id") == website_id) & (F.col(id_col) == site_id)
    )


# Serve views. Each is built once per store, weakly keyed on the table
# it is built over, and held twice. The persisted view keeps the build's
# plan: it shares its file listings with the store's own DataFrames, so
# when Spark writes to a path the view reads, it refreshes that listing
# for both. The pin is a local checkpoint of the persisted view, and a
# lookup filters the pin: its plan is one RDD scan and a filter, so no
# lookup makes Spark describe (explain, walk, clean) the whole-store
# merge again. An entry is reused only while every input table is the
# same object and still lists the same files; otherwise the next lookup
# rebuilds it over the new files. A pin that loses a block with its
# executor fails the lookup that reads it: that lookup drops the entry,
# rebuilds it and retries once. An entry's view and pin are released
# when the key table is collected or when the entry is replaced.
# Concurrent first calls may both build; the last one is kept.
_SUBMISSION_INPUTS = (
    "submission_snapshot_keywords",
    "submission_snapshot_files",
    "submission_snapshot_file_hashes",
    "archive_contributors",
)
_plans_by_store: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LOST_PIN = re.compile(r"\[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND\][^\n]*?\brdd_(\d+)_")


class _StoreView(NamedTuple):
    deps: tuple
    listing: tuple[int, ...]
    pin: DataFrame
    pin_rdd_id: int
    release: weakref.finalize


def _listing(frames: tuple[DataFrame, ...]) -> tuple[int, ...]:
    """A hash of each frame's input files, computed in the JVM: two
    round trips per frame, and the file list never reaches Python."""
    client = frames[0]._sc._gateway._gateway_client
    murmur = getattr(JavaClass("scala.util.hashing.MurmurHash3$", client), "MODULE$")
    return tuple(murmur.arrayHash(df._jdf.inputFiles()) for df in frames)


def _release(view: DataFrame, pin: DataFrame) -> None:
    view.unpersist(False)
    unpin(pin)


def _store_plan(
    tables: Tables,
    build: Callable[[Tables], DataFrame],
    key: str = "submission_snapshots",
    inputs: tuple[str, ...] = _SUBMISSION_INPUTS,
) -> DataFrame:
    """The pin of ``build(tables)`` over the whole store, memoized on
    ``tables[key]`` while the ``inputs`` tables stay the same objects
    and every input lists the same files; a lookup adds one predicate
    on top."""
    owner = tables[key]
    deps = tuple(tables.get(name) for name in inputs)
    listing = _listing((owner, *(df for df in deps if df is not None)))
    views = _plans_by_store.get(owner)
    if views is None:
        views = _plans_by_store[owner] = {}
    hit = views.get(build)
    if hit is None or hit.listing != listing or any(a is not b for a, b in zip(hit.deps, deps)):
        if hit is not None:
            hit.release()
        view = build(tables).persist()
        pin = view.localCheckpoint(eager=True)
        # atexit off: the session may be stopped before the interpreter exits
        release = weakref.finalize(owner, _release, view, pin)
        release.atexit = False
        hit = views[build] = _StoreView(deps, listing, pin, pinned_rdd(pin).id(), release)
    return hit.pin


def _collect(lookup: Callable[..., DataFrame], tables: Tables, *args) -> list[Row]:
    """``lookup(tables, *args).collect()``. When the pin it reads has
    lost a block, the pin's entry is dropped, rebuilt by the retry, and
    the lookup runs once more."""
    try:
        return lookup(tables, *args).collect()
    except Py4JJavaError as err:
        lost = _LOST_PIN.search(str(err))
        if lost is None or not _drop_pin(int(lost[1])):
            raise
    return lookup(tables, *args).collect()


def _drop_pin(rdd_id: int) -> bool:
    for views in list(_plans_by_store.values()):
        for build, hit in list(views.items()):
            if hit.pin_rdd_id == rdd_id:
                del views[build]
                hit.release()
                return True
    return False


def _newest_first(rows: list[Row], *cols: str) -> list[Row]:
    """``rows`` in the order ``orderBy(*map(F.desc, cols))`` gives:
    descending, nulls last."""
    return sorted(rows, key=lambda r: [(r[c] is not None, r[c]) for c in cols], reverse=True)


def _merged_store(tables: Tables) -> DataFrame:
    return merged_submissions(
        tables["submission_snapshots"],
        keywords=tables.get("submission_snapshot_keywords"),
        files=tables.get("submission_snapshot_files"),
        file_hashes=tables.get("submission_snapshot_file_hashes"),
    )


def _merged_user_store(tables: Tables) -> DataFrame:
    return merged_users(tables["user_snapshots"])


def _merged_submission(tables: Tables, website_id: str, site_submission_id: str) -> DataFrame:
    merged = _store_plan(tables, _merged_store)
    return _entity_filter(merged, website_id, "site_submission_id", site_submission_id)


def _merged_user(tables: Tables, website_id: str, site_user_id: str) -> DataFrame:
    merged = _store_plan(tables, _merged_user_store, "user_snapshots", ())
    return _entity_filter(merged, website_id, "site_user_id", site_user_id)


def view_submission(
    tables: Tables, website_id: str, site_submission_id: str
) -> dict | None:
    """GET /api/view/submissions/<site>/<id>.json (web.py:68-78).

    The entity predicate filters the pin of the store's merged view, in
    one job; the merge aggregates and child joins ran once, on the
    store's first view. The key is unique in the merged view.
    """
    rows = _collect(_merged_submission, tables, website_id, site_submission_id)
    if not rows:
        return None
    row = rows[0]
    return {
        "website_id": row["website_id"],
        "site_submission_id": row["site_submission_id"],
        "cache_data": {
            "snapshot_count": row["snapshot_count"],
            "first_scanned": _iso(row["first_scanned"]),
            "latest_update": _iso(row["latest_update"]),
        },
        "submission_data": {
            "is_deleted": row["is_deleted"],
            "uploader_site_user_id": row["uploader_site_user_id"],
            "title": row["title"],
            "description": row["description"],
            "datetime_posted": _iso(row["datetime_posted"]),
            "keywords": [
                {"keyword": kw["keyword"], "ordinal": kw["ordinal"]}
                for kw in (row["keywords"] or [])
            ],
            "files": [
                {
                    "file_url": f["file_url"],
                    "file_size": f["file_size"],
                    "extra_data": _json(f["extra_data"]),
                    # merged_files emits hashes as canonical JSON
                    # [{"algo_id":…,"hash_b64":…}] (folds.py); re-shape to
                    # the API's {algo_id, hash_value} (models/file.py:181-186)
                    "file_hashes": [
                        {"algo_id": h["algo_id"], "hash_value": h["hash_b64"]}
                        for h in (_json(f["hashes"]) or [])
                    ],
                }
                for f in (row["files"] or [])
            ],
            "extra_data": _json(row["extra_data"]) or {},
        },
    }


def view_user(tables: Tables, website_id: str, site_user_id: str) -> dict | None:
    """GET /api/view/users/<site>/<id>.json (web.py:112-122). The
    entity predicate filters the pin of the store's merged-user view,
    in one job; the key is unique in that view."""
    rows = _collect(_merged_user, tables, website_id, site_user_id)
    if not rows:
        return None
    row = rows[0]
    return {
        "website_id": row["website_id"],
        "site_user_id": row["site_user_id"],
        "cache_data": {
            "snapshot_count": row["snapshot_count"],
            "first_scanned": _iso(row["first_scanned"]),
            "latest_update": _iso(row["latest_update"]),
        },
        "user_data": {
            "is_deleted": row["is_deleted"],
            "display_name": row["display_name"],
            "extra_data": _json(row["extra_data"]) or {},
        },
    }


# ---------------------------------------------------------------------------
# Snapshot-history reads (web.py:81-94 / 125-135)
# ---------------------------------------------------------------------------


def _nested_submission_snapshots(tables: Tables) -> DataFrame:
    """Snapshot rows with contributor + nested children attached — the
    per-snapshot web shape (reference: models/submission.py:256-278),
    built as one plan instead of per-snapshot child fetches."""
    contrib = tables["archive_contributors"].select(
        F.col("contributor_id").alias("archive_contributor_id"),
        F.col("name").alias("contributor_name"),
    )
    out = tables["submission_snapshots"].join(
        F.broadcast(contrib), "archive_contributor_id", "left"
    )

    kw = (
        tables["submission_snapshot_keywords"]
        .groupBy("submission_snapshot_id")
        .agg(F.array_sort(F.collect_list(F.struct("ordinal", "keyword"))).alias("kw_list"))
    )
    hashes = (
        tables["submission_snapshot_file_hashes"]
        .groupBy("file_id")
        .agg(F.collect_list(F.struct("algo_id", "hash_value")).alias("hashes"))
    )
    files = (
        tables["submission_snapshot_files"]
        .join(hashes, "file_id", "left")
        .groupBy("submission_snapshot_id")
        .agg(
            F.collect_list(
                F.struct("site_file_id", "file_url", "file_size", "extra_data", "hashes")
            ).alias("files")
        )
    )
    return out.join(kw, "submission_snapshot_id", "left").join(
        files, "submission_snapshot_id", "left"
    )


def _snapshot_web_dict(row: Row) -> dict:
    keywords = None
    if row["keywords_recorded"]:
        keywords = [
            {"keyword": kw["keyword"], "ordinal": kw["ordinal"]}
            for kw in (row["kw_list"] or [])
        ]
    return {
        "submission_snapshot_id": row["submission_snapshot_id"],
        "website_id": row["website_id"],
        "site_submission_id": row["site_submission_id"],
        "cache_data": {
            "scan_datetime": _iso(row["scan_datetime"]),
            "archive_contributor": {
                "contributor_id": row["archive_contributor_id"],
                "name": row["contributor_name"],
            },
            "ingest_datetime": _iso(row["ingest_datetime"]),
        },
        "submission_data": {
            "uploader_site_user_id": row["uploader_site_user_id"],
            "is_deleted": row["is_deleted"],
            "title": row["title"],
            "description": row["description"],
            "datetime_posted": _iso(row["datetime_posted"]),
            "keywords": keywords,
            "files": [
                {
                    "file_url": f["file_url"],
                    "file_size": f["file_size"],
                    "extra_data": _json(f["extra_data"]),
                    "file_hashes": [
                        {
                            "algo_id": h["algo_id"],
                            "hash_value": base64.b64encode(h["hash_value"]).decode(),
                        }
                        for h in (f["hashes"] or [])
                    ],
                }
                for f in (row["files"] or [])
            ],
            "extra_data": _json(row["extra_data"]),
        },
    }


def _submission_history(tables: Tables, website_id: str, site_submission_id: str) -> DataFrame:
    nested = _store_plan(tables, _nested_submission_snapshots)
    return _entity_filter(nested, website_id, "site_submission_id", site_submission_id)


def view_submission_snapshots(
    tables: Tables, website_id: str, site_submission_id: str
) -> dict | None:
    """GET /api/view/submissions/<site>/<id>/snapshots.json (web.py:81-94).
    Snapshots sorted newest-first (models/submission.py:127-133), in
    Python. The entity predicate filters the pin of the store's nested
    view, in one job."""
    rows = _newest_first(
        _collect(_submission_history, tables, website_id, site_submission_id),
        "scan_datetime",
        "submission_snapshot_id",
    )
    if not rows:
        return None
    return {
        "website_id": website_id,
        "site_submission_id": site_submission_id,
        "snapshot_count": len(rows),
        "snapshots": [_snapshot_web_dict(r) for r in rows],
    }


def view_user_snapshots(
    tables: Tables, website_id: str, site_user_id: str
) -> dict | None:
    """GET /api/view/users/<site>/<id>/snapshots.json (web.py:125-135);
    per-snapshot shape models/user.py:144-160. The user's rows are
    sorted newest-first in Python."""
    contrib = tables["archive_contributors"].select(
        F.col("contributor_id").alias("archive_contributor_id"),
        F.col("name").alias("contributor_name"),
    )
    rows = _newest_first(
        _entity_filter(tables["user_snapshots"], website_id, "site_user_id", site_user_id)
        .join(F.broadcast(contrib), "archive_contributor_id", "left")
        .collect(),
        "scan_datetime",
        "user_snapshot_id",
    )
    if not rows:
        return None
    return {
        "website_id": website_id,
        "site_user_id": site_user_id,
        "snapshot_count": len(rows),
        "snapshots": [
            {
                "user_snapshot_id": r["user_snapshot_id"],
                "website_id": r["website_id"],
                "site_user_id": r["site_user_id"],
                "cache_data": {
                    "scan_datetime": _iso(r["scan_datetime"]),
                    "archive_contributor": {
                        "contributor_id": r["archive_contributor_id"],
                        "name": r["contributor_name"],
                    },
                    "ingest_datetime": _iso(r["ingest_datetime"]),
                },
                "user_data": {
                    "is_deleted": r["is_deleted"],
                    "display_name": r["display_name"],
                    "extra_data": _json(r["extra_data"]),
                },
            }
            for r in rows
        ],
    }


# ---------------------------------------------------------------------------
# Listings (web.py:97-109 / 138-153) — DataFrame-first, collect at the edge
# ---------------------------------------------------------------------------


def list_submission_ids(tables: Tables, website_id: str) -> DataFrame:
    """Distinct submission ids for a site (A3; models/submission.py:193-200)."""
    return (
        tables["submission_snapshots"]
        .filter(F.col("website_id") == website_id)
        .select("site_submission_id")
        .distinct()
    )


# Listings default to a bounded page: an unbounded collect of every
# distinct id is a driver OOM at scale (the reference's own TODO at
# web.py:103 asks for pagination). limit=None is an explicit opt-in
# and streams partition-by-partition instead of one full collect.
DEFAULT_LIST_LIMIT = 10_000


def _sorted_ids(ids: DataFrame, col: str, limit: int | None) -> tuple[list, bool]:
    """Returns (ids, truncated). Fetches limit+1 rows so truncation is
    DETECTED, never silent — a capped page must be distinguishable from
    a site that really has `limit` ids."""
    ordered = ids.orderBy(col)
    if limit is not None:
        # Distributed top-k (TakeOrderedAndProject): only limit+1 rows
        # ever reach the driver.
        probe = [r[col] for r in ordered.limit(limit + 1).collect()]
        return probe[:limit], len(probe) > limit
    return [r[col] for r in ordered.toLocalIterator()], False


def list_submissions(
    tables: Tables, website_id: str, limit: int | None = DEFAULT_LIST_LIMIT
) -> dict:
    """GET /api/view/submissions/<site>.json (web.py:97-109). The
    reference TODOs pagination (web.py:103); ``limit`` provides it.
    ``truncated`` flags a capped page, and ``submission_count`` is
    always the count of ids RETURNED (page size), never an estimate of
    the site total."""
    collected, truncated = _sorted_ids(
        list_submission_ids(tables, website_id), "site_submission_id", limit
    )
    return {
        "submission_count": len(collected),
        "submission_ids": collected,
        "truncated": truncated,
    }


def list_user_ids(tables: Tables, website_id: str) -> DataFrame:
    """Distinct user ids for a site (web.py:143-147)."""
    return (
        tables["user_snapshots"]
        .filter(F.col("website_id") == website_id)
        .select("site_user_id")
        .distinct()
    )


def list_users(
    tables: Tables, website_id: str, limit: int | None = DEFAULT_LIST_LIMIT
) -> dict:
    """GET /api/view/users/<site>.json (web.py:138-153)."""
    collected, truncated = _sorted_ids(
        list_user_ids(tables, website_id), "site_user_id", limit
    )
    return {
        "user_count": len(collected),
        "user_ids": collected,
        "truncated": truncated,
    }


# ---------------------------------------------------------------------------
# Dim listings with usage counts (web.py:172-199)
# ---------------------------------------------------------------------------


def _with_count(dim: DataFrame, fact: DataFrame, key: str, out: str) -> DataFrame:
    counts = fact.groupBy(key).agg(F.count(F.lit(1)).alias(out))
    joined = dim.join(counts, key, "left")
    return joined.withColumn(out, F.coalesce(F.col(out), F.lit(0)))


def list_websites(tables: Tables) -> DataFrame:
    """GET /api/websites.json with per-site snapshot counts
    (web.py:172-179; counts models/website.py:19-35). One groupBy per
    fact table replaces the reference's two COUNT queries per website."""
    sites = tables["websites"]
    sites = _with_count(sites, tables["user_snapshots"], "website_id", "num_user_snapshots")
    return _with_count(
        sites, tables["submission_snapshots"], "website_id", "num_submission_snapshots"
    )


def list_hash_algos(tables: Tables) -> DataFrame:
    """GET /api/hash_algos.json (web.py:182-189; count models/file.py:276-283)."""
    return _with_count(
        tables["hash_algos"], tables["submission_snapshot_file_hashes"], "algo_id", "num_file_hashes"
    )


def list_archive_contributors(tables: Tables) -> DataFrame:
    """GET /api/archive_contributors.json (web.py:192-199; counts
    models/archive_contributor.py:13-29)."""
    dim = tables["archive_contributors"].select("contributor_id", "name")
    user_counts = (
        tables["user_snapshots"]
        .groupBy(F.col("archive_contributor_id").alias("contributor_id"))
        .agg(F.count(F.lit(1)).alias("num_user_snapshots"))
    )
    sub_counts = (
        tables["submission_snapshots"]
        .groupBy(F.col("archive_contributor_id").alias("contributor_id"))
        .agg(F.count(F.lit(1)).alias("num_submission_snapshots"))
    )
    out = dim.join(user_counts, "contributor_id", "left").join(
        sub_counts, "contributor_id", "left"
    )
    return out.withColumn(
        "num_user_snapshots", F.coalesce("num_user_snapshots", F.lit(0))
    ).withColumn(
        "num_submission_snapshots", F.coalesce("num_submission_snapshots", F.lit(0))
    )


# ---------------------------------------------------------------------------
# Hash search (web.py:202-216) — the J3 chain
# ---------------------------------------------------------------------------


def _hash_search(tables: Tables, algo_id: int, hash_value: bytes) -> DataFrame:
    nested = _store_plan(tables, _nested_submission_snapshots)
    has_hash = F.exists(
        "files",
        lambda f: F.exists(
            f["hashes"],
            lambda h: (h["algo_id"] == algo_id) & (h["hash_value"] == F.lit(hash_value)),
        ),
    )
    return nested.filter(has_hash)


def search_hash(tables: Tables, algo_id: int, hash_value: bytes) -> list[dict]:
    """POST /api/hash_search/ (web.py:202-216 →
    models/submission.py:400-431). The hash predicate filters the pin
    of the store's nested view on its files' hashes, in one job, so the
    matched snapshots come back with their children already attached,
    not fetched per snapshot as the reference does
    (models/submission.py:416-431). The few matches are sorted by
    snapshot id in Python.
    """
    rows = _collect(_hash_search, tables, algo_id, hash_value)
    return [
        _snapshot_web_dict(r) for r in sorted(rows, key=lambda r: r["submission_snapshot_id"])
    ]


# ---------------------------------------------------------------------------
# Push ingest (web.py:156-169)
# ---------------------------------------------------------------------------


def _store_offset(tables: Tables, name: str, col: str) -> int:
    existing = tables.get(name)
    if existing is None:
        return 0
    return (existing.agg(F.max(col)).first()[0] or 0) + 1


def _append_user_snapshots(out: Tables, tables: Tables, rows: DataFrame) -> None:
    """Mint dense user_snapshot_ids past the store's max and union in
    (the Spark analog of RETURNING-id back-propagation)."""
    from faexport_db_spark.ingest.base import with_dense_ids

    offset = _store_offset(tables, "user_snapshots", "user_snapshot_id")
    with_ids = with_dense_ids(rows, "user_snapshot_id")
    with_ids = with_ids.select(
        (F.col("user_snapshot_id") + offset).alias("user_snapshot_id"),
        *[c for c in rows.columns],
    )
    existing = out.get("user_snapshots")
    out["user_snapshots"] = (
        with_ids if existing is None else existing.unionByName(with_ids)
    )


def _append_submission_tree(out: Tables, tables: Tables, nested: DataFrame) -> None:
    """Explode a nested snapshot frame into the 4 store tables, shifting
    each table's freshly minted dense ids past the existing store's max
    so parent/child links never cross-match rows already in the store
    (models/submission.py:353-360)."""
    from faexport_db_spark.ingest.base import explode_to_store

    new = explode_to_store(nested)
    snap_off = _store_offset(tables, "submission_snapshots", "submission_snapshot_id")
    file_off = _store_offset(tables, "submission_snapshot_files", "file_id")
    shifted = {
        "submission_snapshots": new["submission_snapshots"].withColumn(
            "submission_snapshot_id", F.col("submission_snapshot_id") + snap_off
        ),
        "submission_snapshot_keywords": new["submission_snapshot_keywords"]
        .withColumn("submission_snapshot_id", F.col("submission_snapshot_id") + snap_off)
        .withColumn(
            "keyword_id",
            F.col("keyword_id")
            + _store_offset(tables, "submission_snapshot_keywords", "keyword_id"),
        ),
        "submission_snapshot_files": new["submission_snapshot_files"]
        .withColumn("submission_snapshot_id", F.col("submission_snapshot_id") + snap_off)
        .withColumn("file_id", F.col("file_id") + file_off),
        "submission_snapshot_file_hashes": new["submission_snapshot_file_hashes"]
        .withColumn("file_id", F.col("file_id") + file_off)
        .withColumn(
            "hash_id",
            F.col("hash_id")
            + _store_offset(tables, "submission_snapshot_file_hashes", "hash_id"),
        ),
    }
    for name, df in shifted.items():
        existing = out.get(name)
        out[name] = df if existing is None else existing.unionByName(df)


def push_ingest(
    tables: Tables,
    payloads: DataFrame,
    contributor_id: int,
    format: str = "faexport_submission",
) -> dict[str, DataFrame]:
    """POST /api/ingest/<format> (web.py:156-169, format registry
    web.py:20-35): payload rows (``payload`` string column) → snapshots
    appended to the store. All four reference formats are mirrored:
    ``submission``/``user`` (snapshot-shaped passthrough,
    ingest_formats/base.py:33-48), ``faexport_submission`` (FAExport API
    shape, which ALSO saves the uploader user snapshot,
    ingest_formats/faexport.py:57-67), and ``faexport_user`` (full user
    snapshot + watcher stubs + up to two featured-submission snapshots,
    faexport.py:74-152). Returns the updated store tables; ids are
    minted dense, never round-tripped (SURVEY §7.3)."""
    from faexport_db_spark.ingest import simple
    from faexport_db_spark.ingest.faexport_api import (
        parse_submission_payloads,
        parse_user_payloads,
        submission_snapshots,
        submission_uploader_users,
        user_featured_submissions,
        user_snapshots,
    )

    out = dict(tables)
    if format == "user":
        _append_user_snapshots(out, tables, simple.user_snapshots(payloads, contributor_id))
        return out
    if format == "faexport_user":
        parsed = parse_user_payloads(payloads)
        _append_user_snapshots(out, tables, user_snapshots(parsed, contributor_id))
        _append_submission_tree(
            out, tables, user_featured_submissions(parsed, contributor_id)
        )
        return out
    if format == "submission":
        nested = simple.submission_snapshots(payloads, contributor_id)
    elif format == "faexport_submission":
        parsed = parse_submission_payloads(payloads)
        nested = submission_snapshots(parsed, contributor_id)
        _append_user_snapshots(
            out, tables, submission_uploader_users(parsed, contributor_id)
        )
    else:
        raise ValueError(f"unknown ingest format {format!r}")
    _append_submission_tree(out, tables, nested)
    return out
