"""The ``archive`` workload: the reference's write path, then its reads.

One batch pass runs the whole write path over the generated dumps —
format adapters → ``explode_to_store`` → ``cleanup_to_fixpoint`` →
``TableFormat.append`` (snapshots partitioned by ``website_id``) →
``dump_merged_submissions`` — and then one client reads the store it
just wrote in a closed loop: each call waits for the previous reply,
one ``serve.search_hash`` to three ``serve.view_submission`` calls,
keys Zipf-skewed by the seed.

Outputs are checked against the generator's ground truth with pyarrow
and plain Python, never with the engine under test.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import random
import time

import pyarrow.parquet as pq

import gen
from faexport_db_spark import serve
from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT
from faexport_db_spark.ingest import e621, explode_to_store, fa_indexer
from faexport_db_spark.maintenance import dedup as maintenance
from faexport_db_spark.serve.export import dump_merged_submissions

STORE_TABLES = (
    "submission_snapshots",
    "submission_snapshot_keywords",
    "submission_snapshot_files",
    "submission_snapshot_file_hashes",
)
# Of every 4 lookups the first is a hash search: search, view, view, view.
SEARCH_EVERY = 4


def inputs(work: str, seed: int) -> gen.Archive:
    return gen.make_archive(os.path.join(work, "dumps"), seed, n_e621=3000, n_fa=2000)


def batch_pass(spark, tracer, arc: gen.Archive, out: str, op_id: int) -> dict:
    """Run the write path once into ``out``; returns per-phase walls."""
    with tracer.span("archive.pass", op_id):
        t0 = time.perf_counter()
        with tracer.span("ingest"):
            parts = [
                e621.to_snapshots(
                    e621.read_csv(spark, path),
                    contributor_id=gen.E621_CONTRIBUTOR,
                    scan_datetime_lit=scan,
                )
                for path, scan in arc.e621_dumps
            ] + [
                fa_indexer.to_snapshots(
                    fa_indexer.read_json_dir(spark, path),
                    contributor_id=gen.FA_CONTRIBUTOR,
                    scan_datetime_lit=scan,
                )
                for path, scan in arc.fa_dumps
            ]
            nested = parts[0]
            for part in parts[1:]:
                nested = nested.unionByName(part)
            tables = explode_to_store(nested)
        t1 = time.perf_counter()
        with tracer.span("maintenance"):
            tables = _cleanup_to_fixpoint(tracer, tables)
        t2 = time.perf_counter()
        with tracer.span("datamodel"):
            for name in STORE_TABLES:
                DEFAULT_FORMAT.append(
                    tables[name],
                    os.path.join(out, "store", name),
                    ["website_id"] if name == "submission_snapshots" else None,
                )
        t3 = time.perf_counter()
        with tracer.span("serve.export"):
            store = open_store(spark, out)
            dump_merged_submissions(store, os.path.join(out, "export"))
        t4 = time.perf_counter()
    return {
        "pass_s": t4 - t0,
        "ingest_s": t1 - t0,
        "maintenance_s": t2 - t1,
        "append_s": t3 - t2,
        "export_s": t4 - t3,
    }


def _cleanup_to_fixpoint(tracer, tables: dict) -> dict:
    """``cleanup_to_fixpoint``; when traced, each ``cleanup`` round it
    runs gets a child span, so the rounds are counted."""
    if not tracer.enabled:
        return maintenance.cleanup_to_fixpoint(tables)
    one_round = maintenance.cleanup

    def traced_round(tables):
        with tracer.span("maintenance.cleanup"):
            return one_round(tables)

    maintenance.cleanup = traced_round
    try:
        return maintenance.cleanup_to_fixpoint(tables)
    finally:
        maintenance.cleanup = one_round


def open_store(spark, out: str) -> dict:
    store = {
        name: DEFAULT_FORMAT.read(spark, os.path.join(out, "store", name)) for name in STORE_TABLES
    }
    store["archive_contributors"] = spark.createDataFrame(
        [(gen.E621_CONTRIBUTOR, "e621-export", "k1"), (gen.FA_CONTRIBUTOR, "fa-indexer", "k2")],
        "contributor_id bigint, name string, api_key string",
    )
    return store


def store_files(out: str) -> tuple[int, int, int]:
    """(data files, bytes, rows) the append wrote."""
    files = [
        p
        for p in glob.glob(os.path.join(out, "store", "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return len(files), sum(os.path.getsize(p) for p in files), rows


def _b64(md5_hex: str) -> str:
    return base64.b64encode(bytes.fromhex(md5_hex)).decode()


def check_pass(arc: gen.Archive, out: str) -> list[str]:
    """Mismatches between one pass's store + export and the ground truth."""
    errors = []
    read = {
        name: pq.read_table(os.path.join(out, "store", name)).to_pydict() for name in STORE_TABLES
    }
    snaps = read["submission_snapshots"]
    n = len(snaps["submission_snapshot_id"])
    if n != arc.distinct_snapshots:
        errors.append(f"snapshots {n} != distinct (entity, scan) {arc.distinct_snapshots}")
    keys = set(
        zip(
            snaps["website_id"],
            snaps["site_submission_id"],
            snaps["scan_datetime"],
            snaps["archive_contributor_id"],
        )
    )
    if len(keys) != n:
        errors.append(f"{n - len(keys)} duplicate snapshots left after maintenance")
    snap_ids = set(snaps["submission_snapshot_id"])
    files = read["submission_snapshot_files"]
    file_ids = set(files["file_id"])
    kw = read["submission_snapshot_keywords"]
    hashes = read["submission_snapshot_file_hashes"]
    orphans = {
        "keywords": sum(s not in snap_ids for s in kw["submission_snapshot_id"]),
        "files": sum(s not in snap_ids for s in files["submission_snapshot_id"]),
        "hashes": sum(f not in file_ids for f in hashes["file_id"]),
    }
    for child, count in orphans.items():
        if count:
            errors.append(f"{count} orphan {child}")
    for child, got, want in (
        ("keywords", len(kw["keyword_id"]), arc.keyword_rows),
        ("files", len(files["file_id"]), arc.file_rows),
        ("hashes", len(hashes["hash_id"]), arc.hash_rows),
    ):
        if got != want:
            errors.append(f"{child} rows {got} != {want}")

    exported = {}
    for path in sorted(glob.glob(os.path.join(out, "export", "part-*"))):
        with open(path) as fh:
            for line in fh:
                doc = json.loads(line)
                exported[(doc["website_id"], doc["site_submission_id"])] = doc
    if len(exported) != len(arc.entities):
        errors.append(f"export rows {len(exported)} != entities {len(arc.entities)}")
    for key, ent in arc.entities.items():
        doc = exported.get(key)
        if doc is None:
            errors.append(f"entity {key} missing from export")
            continue
        got = _merged_fields(
            doc["cache_data"]["snapshot_count"],
            doc["submission_data"],
            lambda f: [h["hash_b64"] for h in json.loads(f.get("hashes") or "[]")],
        )
        if got != _expected(ent):
            errors.append(f"export {key}: {got} != {_expected(ent)}")
    return errors


def _expected(ent: gen.Entity) -> tuple:
    return (
        len(ent.scans),
        ent.description,
        ent.title,
        ent.keywords,
        [_b64(ent.md5)] if ent.md5 else [],
    )


def _merged_fields(snapshot_count, data, hashes_of) -> tuple:
    # The export omits null fields; the API dicts carry them as None.
    files = data.get("files") or []
    return (
        snapshot_count,
        data.get("description"),
        data.get("title"),
        [k["keyword"] for k in data.get("keywords") or []],
        [h for f in files for h in hashes_of(f)],
    )


def lookup_plan(arc: gen.Archive, seed: int) -> list[tuple[str, object]]:
    """A seeded, Zipf-skewed request sequence: ("view", entity key) or
    ("search", md5 hex), longer than any run gets through."""
    rng = random.Random(f"lookups-{seed}")
    ents = sorted(arc.entities)
    rng.shuffle(ents)
    md5s = sorted(arc.md5_snapshots)
    rng.shuffle(md5s)

    n = 2_000
    n_search = n // SEARCH_EVERY
    views = rng.choices(ents, _zipf(len(ents)), k=n - n_search)
    searches = rng.choices(md5s, _zipf(len(md5s)), k=n_search)
    return [
        ("search", searches.pop()) if i % SEARCH_EVERY == 0 else ("view", views.pop())
        for i in range(n)
    ]


def _zipf(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (rank + 1) ** s for rank in range(n)]


def lookup(store, tracer, kind: str, key, op_id: int):
    if kind == "view":
        with tracer.span("serve.view_submission", op_id):
            return serve.view_submission(store, key[0], key[1])
    with tracer.span("serve.search_hash", op_id):
        return serve.search_hash(store, e621.MD5_ALGO_ID, bytes.fromhex(key))


def check_lookup(arc: gen.Archive, kind: str, key, result) -> tuple[str | None, int]:
    """(mismatch or None, result rows)."""
    if kind == "view":
        ent = arc.entities[key]
        if result is None:
            return f"view {key}: no result", 0
        got = _merged_fields(
            result["cache_data"]["snapshot_count"],
            result["submission_data"],
            lambda f: [h["hash_value"] for h in f["file_hashes"]],
        )
        if got != _expected(ent):
            return f"view {key}: {got} != {_expected(ent)}", 1
        return None, 1
    want = arc.md5_snapshots[key]
    entity = arc.md5_entity[key]
    bad = [
        r
        for r in result
        if r["site_submission_id"] != entity
        or [h["hash_value"] for f in r["submission_data"]["files"] for h in f["file_hashes"]]
        != [_b64(key)]
    ]
    if len(result) != want or bad:
        return f"search {key}: {len(result)} snapshots (want {want}), {len(bad)} wrong", len(result)
    return None, len(result)

