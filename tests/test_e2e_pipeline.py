"""End-to-end pipeline (SURVEY.md §5 plan item 4): raw dump → ingest →
re-ingest (duplicate delivery) → maintenance cleanup → merged view →
hash search → JSONL export, against hand-computed goldens.

This is the reference's full operational loop (bulk ingest CLI +
remove_duplicates cron + web reads + dump_db cron) as one Spark
pipeline over a tiny e621-shaped dump.
"""

from __future__ import annotations

import csv as _csv
import json

import pytest
from pyspark.sql import functions as F

from faexport_db_spark import serve
from faexport_db_spark.ingest import e621, explode_to_store
from faexport_db_spark.maintenance.dedup import cleanup_to_fixpoint
from faexport_db_spark.serve.export import dump_merged_submissions


def _row(post_id, md5, scan_desc, score="5"):
    return [
        post_id, "u9", "2022-07-01T10:00:00Z", md5,
        "https://a.net/x", "s", "800", "600", "tag_a tag_b", "",
        "10", "png", "", "77", "", "12345", "3", scan_desc, "",
        "2022-07-02T10:00:00Z", "f", "f", "f", score, "7", "-1", "f", "f", "t",
    ]


@pytest.fixture(scope="module")
def dumps(tmp_path_factory):
    d = tmp_path_factory.mktemp("e2e")
    first = d / "dump1.csv"
    second = d / "dump2.csv"  # later scrape: 2001 changed, 2002 unchanged
    with open(first, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(e621.E621_COLUMNS)
        w.writerow(_row("2001", "a" * 32, "first text"))
        w.writerow(_row("2002", "b" * 32, "other post"))
    with open(second, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(e621.E621_COLUMNS)
        w.writerow(_row("2001", "c" * 32, "edited text", score="9"))
        w.writerow(_row("2002", "b" * 32, "other post"))
    return str(first), str(second)


def _redelivered(spark, dumps):
    """Both dumps as nested snapshots, the second delivered TWICE (the
    reference's re-run reality; SURVEY §2.10 contract: append + dedup,
    never upsert)."""
    first, second = dumps
    snaps1 = e621.to_snapshots(
        e621.read_csv(spark, first), contributor_id=1,
        scan_datetime_lit="2022-07-13 00:00:00",
    )
    snaps2 = e621.to_snapshots(
        e621.read_csv(spark, second), contributor_id=1,
        scan_datetime_lit="2022-08-13 00:00:00",
    )
    return snaps1.unionByName(snaps2).unionByName(snaps2)


@pytest.fixture(scope="module")
def store(spark, dumps):
    tables = explode_to_store(_redelivered(spark, dumps))
    # single-pass cleanup mirrors the reference's cron order, which
    # leaves children newly orphaned by snapshot dedup for the NEXT
    # run; the fixpoint composition converges in one call.
    tables = cleanup_to_fixpoint(tables)

    dims = {
        "websites": spark.createDataFrame(
            [("e621", "e621", "https://e621.net")],
            "website_id string, full_name string, link string",
        ),
        "archive_contributors": spark.createDataFrame(
            [(1, "dump-loader", "k1")],
            "contributor_id bigint, name string, api_key string",
        ),
        "hash_algos": spark.createDataFrame(
            [(e621.MD5_ALGO_ID, "any", "md5")],
            "algo_id bigint, language string, algorithm_name string",
        ),
    }
    return {**tables, **dims}


@pytest.mark.slow
def test_dedup_collapsed_duplicate_delivery(store):
    """3 deliveries of 2 dumps × 2 posts → exactly 4 distinct snapshots."""
    assert store["submission_snapshots"].count() == 4
    assert (
        store["submission_snapshots"]
        .groupBy("website_id", "site_submission_id", "scan_datetime")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


@pytest.mark.slow
def test_children_survive_cleanup_consistently(store):
    """Every keyword/file row still points at a surviving snapshot;
    every hash at a surviving file (J4 orphan rules)."""
    snaps = store["submission_snapshots"].select("submission_snapshot_id")
    kw = store["submission_snapshot_keywords"]
    files = store["submission_snapshot_files"]
    hashes = store["submission_snapshot_file_hashes"]
    assert kw.join(snaps, "submission_snapshot_id", "left_anti").count() == 0
    assert files.join(snaps, "submission_snapshot_id", "left_anti").count() == 0
    assert hashes.join(files.select("file_id"), "file_id", "left_anti").count() == 0
    # 2 keywords per snapshot
    assert kw.count() == 8
    assert files.count() == 4 and hashes.count() == 4


@pytest.mark.slow
def test_merged_view_reflects_latest_scrape(store):
    data = serve.view_submission(store, "e621", "2001")
    assert data["cache_data"]["snapshot_count"] == 2
    assert data["submission_data"]["description"] == "edited text"
    assert json.loads(json.dumps(data["submission_data"]["extra_data"]))["score"] == 9
    # md5 change ⇒ file clash ⇒ only the new hash survives (M7)
    [f] = data["submission_data"]["files"]
    assert f["file_hashes"][0]["hash_value"] == _b64_of_hex("c" * 32)

    unchanged = serve.view_submission(store, "e621", "2002")
    assert unchanged["cache_data"]["snapshot_count"] == 2
    assert unchanged["submission_data"]["description"] == "other post"


def _b64_of_hex(hx: str) -> str:
    import base64

    return base64.b64encode(bytes.fromhex(hx)).decode()


@pytest.mark.slow
def test_hash_search_finds_post_by_md5(store):
    results = serve.search_hash(store, e621.MD5_ALGO_ID, bytes.fromhex("c" * 32))
    assert [r["site_submission_id"] for r in results] == ["2001"]
    # the pre-edit hash still resolves to its historical snapshot
    old = serve.search_hash(store, e621.MD5_ALGO_ID, bytes.fromhex("a" * 32))
    assert [r["site_submission_id"] for r in old] == ["2001"]


def test_export_roundtrip(spark, store, tmp_path):
    out = str(tmp_path / "dump")
    dump_merged_submissions(store, out)
    back = {r["site_submission_id"]: r for r in spark.read.json(out).collect()}
    assert set(back) == {"2001", "2002"}
    assert back["2001"]["submission_data"]["description"] == "edited text"
    assert back["2001"]["cache_data"]["snapshot_count"] == 2


def _recorded_rounds(monkeypatch, doctor=None):
    """Patch ``maintenance.cleanup`` (the module global
    ``cleanup_to_fixpoint`` calls) to record every round's output;
    ``doctor(spark_tables)`` may rewrite the first round's output."""
    from faexport_db_spark.maintenance import dedup as maintenance

    rounds = []
    one_round = maintenance.cleanup

    def recorded(tables):
        out = one_round(tables)
        if doctor is not None and not rounds:
            out = doctor(out)
        rounds.append(out)
        return out

    monkeypatch.setattr(maintenance, "cleanup", recorded)
    return rounds


def test_cleanup_to_fixpoint_runs_one_round_and_audit_pins_nothing(spark, dumps, monkeypatch):
    """One ``cleanup`` pass is a fixpoint, so on the redelivered dumps
    the loop runs one round; its audit then finds nothing to do and
    leaves no block in storage. The returned round's pins stay stored."""
    from block_storage import gained_rdds, stored_rdds

    from faexport_db_spark.maintenance import dedup as maintenance
    from faexport_db_spark.operators.pins import pinned_rdd

    rounds = _recorded_rounds(monkeypatch)
    tables = explode_to_store(_redelivered(spark, dumps))
    before = stored_rdds(spark)
    tables = maintenance.cleanup_to_fixpoint(tables)
    assert len(rounds) == 1 and tables is rounds[0]
    returned = {pinned_rdd(df).id() for df in tables.values()}
    assert len(returned) == 4
    assert gained_rdds(spark, before, at_most=4) == returned
    assert tables["submission_snapshots"].count() == 4


def _with_duplicate(tables):
    """Round output with one snapshot row repeated."""
    from faexport_db_spark.operators.pins import unpin

    snaps = tables["submission_snapshots"]
    tables["submission_snapshots"] = snaps.unionByName(snaps.limit(1)).localCheckpoint(eager=True)
    unpin(snaps)
    return tables


def _with_orphan(tables):
    """Round output with one keyword row whose snapshot does not exist."""
    from faexport_db_spark.operators.pins import unpin

    kws = tables["submission_snapshot_keywords"]
    orphan = kws.limit(1).withColumn("submission_snapshot_id", F.lit(-1).cast("bigint"))
    tables["submission_snapshot_keywords"] = kws.unionByName(orphan).localCheckpoint(eager=True)
    unpin(kws)
    return tables


def test_cleanup_to_fixpoint_releases_superseded_rounds(spark, dumps, monkeypatch):
    """A round that leaves one duplicate, or one orphan, makes the audit
    run a second round. The first round's pins are released once the
    second has materialized its own; the returned round's pins stay
    stored, and hold neither the duplicate nor the orphan."""
    from block_storage import still_stored, stored_rdds

    from faexport_db_spark.maintenance import dedup as maintenance
    from faexport_db_spark.operators.pins import pinned_rdd

    for doctor in (_with_duplicate, _with_orphan):
        monkeypatch.undo()
        rounds = _recorded_rounds(monkeypatch, doctor)
        tables = maintenance.cleanup_to_fixpoint(explode_to_store(_redelivered(spark, dumps)))
        assert len(rounds) == 2 and tables is rounds[-1], doctor.__name__
        superseded = {pinned_rdd(df).id() for df in rounds[0].values()}
        returned = {pinned_rdd(df).id() for df in tables.values()}
        assert len(superseded) == len(returned) == 4
        assert not still_stored(spark, superseded), doctor.__name__
        assert returned <= stored_rdds(spark)
        assert tables["submission_snapshots"].count() == 4
        assert tables["submission_snapshot_keywords"].count() == 8
