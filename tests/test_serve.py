"""API-surface tests: each serve.* function against the reference's
endpoint semantics (web.py routes), on the golden fixture store."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from block_storage import still_stored, stored_rdds
import fixtures_faexport as fx
from faexport_db_spark import serve


@pytest.fixture(scope="module")
def store(spark):
    websites = spark.createDataFrame(
        [("fa", "Fur Affinity", "https://furaffinity.net"),
         ("e621", "e621", "https://e621.net"),
         ("weasyl", "Weasyl", "https://weasyl.com")],
        "website_id string, full_name string, link string",
    )
    contributors = spark.createDataFrame(
        [(1, "scraper-one", "key-1"), (2, "scraper-two", "key-2")],
        "contributor_id bigint, name string, api_key string",
    )
    algos = spark.createDataFrame(
        [(1, "any", "md5"), (2, "python", "ahash")],
        "algo_id bigint, language string, algorithm_name string",
    )
    return {
        "websites": websites,
        "archive_contributors": contributors,
        "hash_algos": algos,
        "submission_snapshots": fx.submission_snapshots(spark),
        "submission_snapshot_keywords": fx.keywords(spark),
        "submission_snapshot_files": fx.files(spark),
        "submission_snapshot_file_hashes": fx.file_hashes(spark),
        "user_snapshots": fx.user_snapshots(spark),
    }


@pytest.mark.slow
def test_website_point_lookup(store):
    row = serve.website(store, "fa")
    assert row["full_name"] == "Fur Affinity"
    assert serve.website(store, "nope") is None


def test_authenticate_contributor(store):
    assert serve.authenticate_contributor(store, "key-2")["contributor_id"] == 2
    assert serve.authenticate_contributor(store, "bad") is None


def test_view_submission_merged(store):
    data = serve.view_submission(store, "fa", "101")
    assert data["cache_data"]["snapshot_count"] == 3
    assert data["cache_data"]["first_scanned"].startswith("2024-01-01")
    assert data["cache_data"]["latest_update"].startswith("2024-01-03")
    sub = data["submission_data"]
    assert sub["is_deleted"] is True  # latest snapshot value (M2)
    assert sub["title"] == "Old Title"  # newest non-null walks back (M4)
    assert sub["description"] == "newer desc"
    # extra_data layering: newest key wins, nested dicts replaced wholesale (M5)
    assert sub["extra_data"] == {"a": 1, "b": {"y": 2}, "c": 3}
    # keywords from newest recorded snapshot, (ordinal, keyword)-sorted (M6)
    assert [k["keyword"] for k in sub["keywords"]] == ["cat", "dog"]
    # file clash reset: url change dropped the old hash set (M7)
    (main,) = sub["files"]
    assert main["file_url"] == "http://a/2.png"
    assert [h["algo_id"] for h in main["file_hashes"]] == [1]


def test_view_submission_missing(store):
    assert serve.view_submission(store, "fa", "999") is None


def test_view_submission_alternating_entities_share_one_store_plan(store):
    """Lookups on one store reuse its merged plan; each entity predicate
    still selects only that entity's truth."""
    truth = {
        ("fa", "101"): (3, "Old Title", ["cat", "dog"]),
        ("fa", "102"): (2, "Keep", []),
        ("e621", "201"): (1, None, []),
        ("fa", "999"): None,
    }
    merged = serve.api._store_plan(store, serve.api._merged_store)
    for key in [("fa", "101"), ("fa", "102"), ("fa", "999"), ("e621", "201"), ("fa", "101"), ("fa", "102")]:
        data = serve.view_submission(store, *key)
        if truth[key] is None:
            assert data is None
            continue
        got = (
            data["cache_data"]["snapshot_count"],
            data["submission_data"]["title"],
            [k["keyword"] for k in data["submission_data"]["keywords"]],
        )
        assert got == truth[key], key
    assert serve.api._store_plan(store, serve.api._merged_store) is merged


def test_view_submission_sees_a_replaced_child_table(store):
    """The store plan is reused only while every table it read is the
    same object: a mapping with one child table swapped gets its own."""
    kw = store["submission_snapshot_keywords"]
    swapped = {**store, "submission_snapshot_keywords": kw.filter(F.col("keyword") != "dog")}
    data = serve.view_submission(swapped, "fa", "101")
    assert [k["keyword"] for k in data["submission_data"]["keywords"]] == ["cat"]
    again = serve.view_submission(store, "fa", "101")
    assert [k["keyword"] for k in again["submission_data"]["keywords"]] == ["cat", "dog"]


def test_store_plans_are_released_with_the_store(spark, store):
    """A store's memo entries go when the store's key tables are
    collected, and the blocks of their views and pins go with them."""
    import gc
    import weakref

    api = serve.api
    memo = api._plans_by_store
    local = {
        **store,
        "submission_snapshots": store["submission_snapshots"].filter(F.lit(True)),
        "user_snapshots": store["user_snapshots"].filter(F.lit(True)),
    }
    gc.collect()
    before = len(memo)
    stored = stored_rdds(spark)
    assert serve.view_submission(local, "fa", "102")["submission_data"]["title"] == "Keep"
    assert serve.view_user(local, "weasyl", "u9")["user_data"]["display_name"] == "W9"
    assert len(memo) == before + 2
    built = stored_rdds(spark) - stored
    pins = {
        hit.pin_rdd_id
        for key in ("submission_snapshots", "user_snapshots")
        for hit in memo[local[key]].values()
    }
    # one persisted view and one pin per entry
    assert len(built) == 4 and pins < built, (built, pins)
    snaps = weakref.ref(local["submission_snapshots"])
    users = weakref.ref(local["user_snapshots"])
    del local
    gc.collect()
    assert snaps() is None and users() is None
    assert len(memo) == before
    assert not still_stored(spark, built)


def test_replaced_store_view_releases_its_materialization(spark, store):
    """An entry rebuilt because one of its input tables changed releases
    the blocks of the view and the pin it replaces; a new view and pin
    are stored in their place."""
    api = serve.api

    def keywords(tables):
        data = serve.view_submission(tables, "fa", "101")
        return [k["keyword"] for k in data["submission_data"]["keywords"]]

    snaps = store["submission_snapshots"]
    local = {**store, "submission_snapshots": snaps.filter(F.col("submission_snapshot_id") > 0)}
    stored = stored_rdds(spark)
    assert keywords(local) == ["cat", "dog"]
    old = stored_rdds(spark) - stored
    old_pin = api._plans_by_store[local["submission_snapshots"]][api._merged_store].pin_rdd_id
    assert len(old) == 2 and old_pin in old, old
    kw = local["submission_snapshot_keywords"]
    swapped = {**local, "submission_snapshot_keywords": kw.filter(F.col("keyword") != "dog")}
    assert keywords(swapped) == ["cat"]
    assert not still_stored(spark, old)
    new = stored_rdds(spark) - stored
    new_pin = api._plans_by_store[swapped["submission_snapshots"]][api._merged_store].pin_rdd_id
    assert len(new) == 2 and new_pin in new, new


def test_a_lost_pin_is_rebuilt_by_the_lookup_that_reads_it(store):
    """An executor loss takes a pin's blocks with it. The next lookup
    that reads that pin drops its entry, rebuilds it and answers from
    the rebuild; the store's other entry is kept."""
    api = serve.api
    snaps = store["submission_snapshots"]
    local = {**store, "submission_snapshots": snaps.filter(F.col("submission_snapshot_id") >= 0)}

    def truth():
        data = serve.view_submission(local, "fa", "101")
        found = [r["submission_snapshot_id"] for r in serve.search_hash(local, 1, b"\x01\x01")]
        return data["cache_data"]["snapshot_count"], data["submission_data"]["title"], found

    assert truth() == (3, "Old Title", [1])
    entries = api._plans_by_store[local["submission_snapshots"]]
    for lost, kept in (
        (api._merged_store, api._nested_submission_snapshots),
        (api._nested_submission_snapshots, api._merged_store),
    ):
        lost_entry, kept_entry = entries[lost], entries[kept]
        lost_entry.pin._jdf.queryExecution().analyzed().rdd().unpersist(True)
        assert truth() == (3, "Old Title", [1])
        assert entries[lost] is not lost_entry
        assert entries[kept] is kept_entry


def test_a_spark_write_to_a_store_path_refreshes_its_view(spark, store, tmp_path):
    """Spark refreshes a persisted view, and the file listing it shares
    with the store's own DataFrame, when it writes to a path the view
    reads: after an append, the same store object answers from the new
    files."""
    from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT

    path = str(tmp_path / "submission_snapshots")
    snaps = store["submission_snapshots"]
    DEFAULT_FORMAT.append(snaps, path, ["website_id"])
    local = {**store, "submission_snapshots": DEFAULT_FORMAT.read(spark, path)}
    assert serve.view_submission(local, "fa", "101")["cache_data"]["snapshot_count"] == 3
    rescan = snaps.filter(F.col("submission_snapshot_id") == 1).withColumn(
        "submission_snapshot_id", F.lit(99).cast("long")
    )
    DEFAULT_FORMAT.append(rescan, path, ["website_id"])
    assert serve.view_submission(local, "fa", "101")["cache_data"]["snapshot_count"] == 4
    assert local["submission_snapshots"].count() == snaps.count() + 1


def test_view_user_merged(store):
    data = serve.view_user(store, "fa", "u1")
    assert data["user_data"]["is_deleted"] is True
    assert data["user_data"]["display_name"] == "Name1"
    assert data["user_data"]["extra_data"] == {"w": [{"n": "a"}], "p": 2}
    assert serve.view_user(store, "fa", "zz") is None


def test_view_user_reuses_the_store_plan_per_user_table(store):
    """Alternating user lookups on one store each get their own truth,
    and a mapping with a replaced user table is answered from it."""
    for key, name in [(("fa", "u1"), "Name1"), (("weasyl", "u9"), "W9"), (("fa", "zz"), None)] * 2:
        data = serve.view_user(store, *key)
        assert (data and data["user_data"]["display_name"]) == name, key
    swapped = {**store, "user_snapshots": store["user_snapshots"].filter(F.col("user_snapshot_id") != 3)}
    assert serve.view_user(swapped, "weasyl", "u9") is None
    assert serve.view_user(store, "weasyl", "u9")["user_data"]["display_name"] == "W9"


def test_view_submission_snapshots_newest_first(store):
    data = serve.view_submission_snapshots(store, "fa", "101")
    assert data["snapshot_count"] == 3
    ids = [s["submission_snapshot_id"] for s in data["snapshots"]]
    assert ids == [3, 2, 1]
    newest, middle, oldest = data["snapshots"]
    assert newest["cache_data"]["archive_contributor"]["name"] == "scraper-two"
    # keywords_recorded=False ⇒ keywords is None, not []
    assert newest["submission_data"]["keywords"] is None
    assert [k["keyword"] for k in oldest["submission_data"]["keywords"]] == ["cat", "dog"]
    assert oldest["submission_data"]["files"][0]["file_hashes"][0]["algo_id"] == 1


def test_view_user_snapshots(store):
    data = serve.view_user_snapshots(store, "fa", "u1")
    assert data["snapshot_count"] == 2
    assert [s["user_snapshot_id"] for s in data["snapshots"]] == [2, 1]
    newest, oldest = data["snapshots"]
    assert newest["user_data"]["display_name"] is None
    assert oldest["user_data"]["display_name"] == "Name1"
    assert serve.view_user_snapshots(store, "fa", "nobody") is None


def test_listings(store):
    assert serve.list_submissions(store, "fa") == {
        "submission_count": 2,
        "submission_ids": ["101", "102"],
        "truncated": False,
    }
    assert serve.list_users(store, "fa")["user_ids"] == ["u1"]
    capped = serve.list_submissions(store, "fa", limit=1)
    # a capped page says so — no silent truncation
    assert capped["submission_count"] == 1 and capped["truncated"] is True


def test_default_listing_is_bounded(store):
    # The default path must plan a global limit (distributed top-k) so
    # only DEFAULT_LIST_LIMIT rows can ever reach the driver.
    ids = serve.list_submission_ids(store, "fa").orderBy("site_submission_id")
    plan = ids.limit(serve.api.DEFAULT_LIST_LIMIT)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_unbounded_listing_streams_not_collects(store, monkeypatch):
    # limit=None is the explicit full-listing opt-in: it must stream via
    # toLocalIterator, never one full .collect() on the driver.
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("unbounded listing called .collect()")

    monkeypatch.setattr(DataFrame, "collect", boom)
    out = serve.list_submissions(store, "fa", limit=None)
    assert out["submission_ids"] == ["101", "102"]


def test_list_websites_counts(store):
    rows = {r["website_id"]: r for r in serve.list_websites(store).collect()}
    assert rows["fa"]["num_submission_snapshots"] == 5
    assert rows["fa"]["num_user_snapshots"] == 2
    assert rows["weasyl"]["num_submission_snapshots"] == 0


def test_list_hash_algos_counts(store):
    rows = {r["algo_id"]: r for r in serve.list_hash_algos(store).collect()}
    assert rows[1]["num_file_hashes"] == 3
    assert rows[2]["num_file_hashes"] == 1


def test_list_contributors_counts(store):
    rows = {r["contributor_id"]: r for r in serve.list_archive_contributors(store).collect()}
    assert rows[1]["num_submission_snapshots"] == 4
    assert rows[2]["num_user_snapshots"] == 1


def test_search_hash(store):
    results = serve.search_hash(store, 1, b"\x01\x01")
    assert [r["submission_snapshot_id"] for r in results] == [1]
    assert results[0]["site_submission_id"] == "101"
    assert serve.search_hash(store, 1, b"\xff") == []


def test_push_ingest_appends_with_consistent_ids(spark, store):
    payload = json.dumps(
        {
            "link": "https://www.furaffinity.net/view/5000/",
            "profile_name": "artist9",
            "name": "Artist Nine",
            "title": "fresh art",
            "description": "d",
            "posted_at": "2024-03-01T10:00:00",
            "download": "https://d.facdn.net/art/artist9/5000.png",
            "resolution": "800x600",
            "keywords": ["k1", "k2"],
        }
    )
    payloads = spark.createDataFrame([(payload,)], "payload string")
    assert serve.view_submission(store, "fa", "5000") is None
    assert serve.view_user(store, "fa", "artist9") is None
    out = serve.push_ingest(store, payloads, contributor_id=1)

    # the output store gets its own plan: the memoized one of `store`
    # must not answer for it
    data = serve.view_submission(out, "fa", "5000")
    assert data["submission_data"]["title"] == "fresh art"
    assert [k["keyword"] for k in data["submission_data"]["keywords"]] == ["k1", "k2"]
    assert serve.view_user(out, "fa", "artist9")["user_data"]["display_name"] == "Artist Nine"
    # pre-existing entities unaffected: children didn't cross-attach
    before = serve.view_submission(store, "fa", "101")
    after = serve.view_submission(out, "fa", "101")
    assert before == after
    # minted ids are disjoint from the existing store's
    old_max = store["submission_snapshots"].agg(F.max("submission_snapshot_id")).first()[0]
    new_ids = (
        out["submission_snapshots"]
        .filter(F.col("site_submission_id") == "5000")
        .select("submission_snapshot_id")
        .collect()
    )
    assert all(r[0] > old_max for r in new_ids)


def test_snapshot_dump_jsonl(spark, store, tmp_path):
    from faexport_db_spark.serve.export import dump_snapshots

    out = str(tmp_path / "snap_dump")
    dump_snapshots(store, out)
    back = spark.read.json(out)
    assert back.count() == store["submission_snapshots"].count()
    row = back.filter(F.col("submission_snapshot_id") == 1).first()
    assert row["cache_data"]["archive_contributor"]["name"] == "scraper-one"
    assert [k["keyword"] for k in row["submission_data"]["keywords"]] == ["cat", "dog"]
    assert row["submission_data"]["files"][0]["file_hashes"][0]["hash_value"] == fx.b64(b"\x01\x01")
    # keywords_recorded=False dumps null keywords, not []
    row3 = back.filter(F.col("submission_snapshot_id") == 3).first()
    assert row3["submission_data"]["keywords"] is None


def test_merged_dump_jsonl(spark, store, tmp_path):
    from faexport_db_spark.serve.export import dump_merged_submissions

    out = str(tmp_path / "merged_dump")
    dump_merged_submissions(store, out)
    back = spark.read.json(out)
    assert back.count() == 3  # fa/101, fa/102, e621/201
    row = back.filter(F.col("site_submission_id") == "101").first()
    assert row["cache_data"]["snapshot_count"] == 3
    assert row["submission_data"]["title"] == "Old Title"


def test_multimodal_resize_and_frames(spark, sf_small):
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.training.multimodal import (
        documents_as_media,
        resize_media,
        sample_frames,
    )

    media = documents_as_media(load_table(spark, sf_small, "documents")).limit(20)
    resized = resize_media(media, 8, 4)
    rows = resized.collect()
    assert all(len(r["media_bytes"]) == 32 for r in rows)
    assert all(r["width"] == 8 and r["height"] == 4 for r in rows)

    frames = sample_frames(media, n_frames=4)
    per_media = frames.groupBy("media_id").count().collect()
    assert per_media and all(r["count"] <= 4 for r in per_media)
    assert frames.filter(F.col("frame_bytes").isNull()).count() == 0


def test_push_ingest_simple_submission_format(spark, store):
    payload = json.dumps(
        {
            "website_id": "weasyl",
            "site_submission_id": "W77",
            "scan_datetime": "2024-04-01T00:00:00",
            "title": "simple push",
            "is_deleted": False,
            "ordered_keywords": ["one", "two"],
            "extra_data": {"nested": {"deep": [1, 2]}},
            "files": [
                {
                    "site_file_id": "main",
                    "file_url": "http://w/a.png",
                    "file_size": 5,
                    "extra_data": {"ext": "png"},
                    "file_hashes": [{"algo_id": 1, "hash_value": fx.b64(b"\x42\x42")}],
                }
            ],
        }
    )
    out = serve.push_ingest(
        store, spark.createDataFrame([(payload,)], "payload string"),
        contributor_id=2, format="submission",
    )
    data = serve.view_submission(out, "weasyl", "W77")
    assert data["submission_data"]["title"] == "simple push"
    assert [k["keyword"] for k in data["submission_data"]["keywords"]] == ["one", "two"]
    assert [k["ordinal"] for k in data["submission_data"]["keywords"]] == [0, 1]
    # top-level extra_data keeps nested JSON fidelity
    assert data["submission_data"]["extra_data"] == {"nested": {"deep": [1, 2]}}
    [f] = data["submission_data"]["files"]
    assert f["file_hashes"][0]["hash_value"] == fx.b64(b"\x42\x42")
    assert f["extra_data"] == {"ext": "png"}


def test_push_ingest_simple_user_format(spark, store):
    payload = json.dumps(
        {
            "website_id": "weasyl",
            "site_user_id": "newbie",
            "scan_datetime": "2024-04-01T00:00:00",
            "display_name": "New Bee",
            "extra_data": {"fave_count": 3},
        }
    )
    out = serve.push_ingest(
        store, spark.createDataFrame([(payload,)], "payload string"),
        contributor_id=1, format="user",
    )
    data = serve.view_user(out, "weasyl", "newbie")
    assert data["user_data"]["display_name"] == "New Bee"
    assert data["user_data"]["extra_data"] == {"fave_count": 3}
    # existing users untouched, ids unique
    assert serve.view_user(out, "fa", "u1")["user_data"]["display_name"] == "Name1"
    ids = out["user_snapshots"].select("user_snapshot_id").collect()
    assert len({r[0] for r in ids}) == len(ids)


def test_push_ingest_unknown_format_rejected(spark, store):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        serve.push_ingest(
            store, spark.createDataFrame([("{}",)], "payload string"),
            contributor_id=1, format="nope",
        )


def test_push_ingest_faexport_submission_saves_uploader_user(spark, store):
    """The faexport_submission format also persists the uploader's user
    snapshot (ingest_formats/faexport.py:57-67)."""
    payload = json.dumps(
        {
            "link": "https://www.furaffinity.net/view/5001/",
            "profile_name": "artist9", "name": "Artist Nine",
            "title": "t", "download": "https://d/x.png", "resolution": "8x6",
            "keywords": [],
        }
    )
    payloads = spark.createDataFrame([(payload,)], "payload string")
    out = serve.push_ingest(store, payloads, contributor_id=1)
    new_user = out["user_snapshots"].filter(F.col("site_user_id") == "artist9")
    [row] = new_user.collect()
    assert row["display_name"] == "Artist Nine"
    old_max = store["user_snapshots"].agg(F.max("user_snapshot_id")).first()[0]
    assert row["user_snapshot_id"] > old_max


def test_push_ingest_faexport_user_format(spark, store):
    """POST /api/ingest/faexport_user: full user snapshot + watcher
    stubs + featured-submission stub (faexport.py:70-152)."""
    payload = json.dumps(
        {
            "profile": "https://www.furaffinity.net/user/pusher/", "name": "Pusher",
            "account_type": "Member", "avatar": "https://d/a.jpg", "user_title": "t",
            "registered_at": "2015-01-01T00:00:00Z",
            "featured_submission": {"id": "9009", "title": "Feat", "thumbnail": "https://d/f.jpg"},
            "profile_id": None,
            "watchers": {"count": 1, "recent": [{"profile_name": "pw1", "name": "PW1"}]},
            "watching": {"count": 0, "recent": []},
        }
    )
    payloads = spark.createDataFrame([(payload,)], "payload string")
    out = serve.push_ingest(store, payloads, contributor_id=1, format="faexport_user")

    users = {r["site_user_id"] for r in out["user_snapshots"].collect()}
    assert {"pusher", "pw1"} <= users
    feat = out["submission_snapshots"].filter(F.col("site_submission_id") == "9009")
    [frow] = feat.collect()
    assert frow["uploader_site_user_id"] == "pusher"
    assert frow["keywords_recorded"] is False
    # featured stub's minted ids don't collide with the existing store
    old_max = store["submission_snapshots"].agg(F.max("submission_snapshot_id")).first()[0]
    assert frow["submission_snapshot_id"] > old_max
