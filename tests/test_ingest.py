"""Ingest-adapter tests over tiny format-faithful sample dumps
(FIXTURES.md A9), including rule-violating rows so validation mode has
positive counts."""

import base64
import json
import sqlite3
import struct

import pytest

from faexport_db_spark.ingest import explode_to_store, validation_report
from faexport_db_spark.ingest import (
    e621,
    fa_indexer,
    faexport_api,
    findfurrypicbot,
    foxoblue,
    fuzzysearch,
)


def _e621_row(post_id, md5="a" * 32, rating="s", deleted="f", score="5", down="-1"):
    return [
        post_id, "u9", "2022-07-01T10:00:00Z", md5, "https://www.a.net/x\nhttps://b.org/y",
        rating, "800", "600", "tag1 tag2 tag1", "lock1", "10", "png", "", "77", "",
        "12345", "3", "a description", "", "2022-07-02T10:00:00Z", deleted, "f", "f",
        score, "7", down, "f", "f", "t",
    ]


@pytest.fixture(scope="module")
def e621_csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("e621") / "posts.csv"
    import csv as _csv

    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(e621.E621_COLUMNS)
        w.writerow(_e621_row("1001"))
        w.writerow(_e621_row("1002", md5="b" * 32, rating="q"))
        w.writerow(_e621_row("1003", rating="x", deleted="z", down="3"))  # violations
    return str(path)


def test_e621_adapter(spark, e621_csv):
    raw = e621.read_csv(spark, e621_csv)
    snaps = e621.to_snapshots(raw, contributor_id=1, scan_datetime_lit="2022-07-13 00:00:00")
    rows = {r["site_submission_id"]: r for r in snaps.collect()}
    assert len(rows) == 3
    row = rows["1001"]
    extra = json.loads(row["extra_data"])
    assert extra["sources"] == ["https://www.a.net/x", "https://b.org/y"]
    assert extra["rating"] == "s"
    assert extra["down_score"] == -1 and extra["is_note_locked"] is True
    kws = {(k["ordinal"], k["keyword"]) for k in row["keywords"]}
    assert kws == {(None, "tag1"), (None, "tag2")}  # unordered, duplicates kept
    [f] = row["files"]
    assert f["file_url"] == f"https://static1.e621.net/data/aa/aa/{'a'*32}.png"
    assert f["file_size"] == 12345
    assert bytes(f["hashes"][0]["hash_value"]) == bytes.fromhex("a" * 32)
    assert json.loads(f["extra_data"])["duration"] is None  # null kept (json fidelity)

    report = {
        r["rule"]: r["violations"]
        for r in validation_report(raw, e621.validation_rules()).collect()
    }
    assert report["rating_not_eqs"] == 1
    assert report["is_deleted_not_tf"] == 1
    assert report["down_score_positive"] == 1
    assert report["created_at_missing"] == 0

    domains = [r["domain"] for r in e621.investigate_domains(raw).collect()]
    assert domains[0] == "a.net"  # www. stripped, top by count


@pytest.fixture(scope="module")
def fuzzysearch_csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("fuzzy") / "dump.csv"
    sha = base64.b64encode(b"\x11" * 32).decode()
    lines = [
        "site,submission_id,artists,hash,posted_at,updated_at,sha256,deleted,content_url",
        f"furaffinity,123,artist1,-12345,2020-01-01T00:00:00Z,2021-06-01T00:00:00Z,{sha},false,https://cdn/x.png",
        "furaffinity,124,artist2,,,,,false,",  # empty hash → skipped
        "weasyl,125,artist3,99,2020-02-01T00:00:00Z,,,true,",
        "badsite,1 26,a,notint,whenever,,***,maybe,",  # violations
    ]
    path.write_text("\n".join(lines))
    return str(path)


def test_fuzzysearch_adapter(spark, fuzzysearch_csv):
    raw = fuzzysearch.read_csv(spark, fuzzysearch_csv)
    snaps = fuzzysearch.to_snapshots(raw, contributor_id=2)
    rows = {r["site_submission_id"]: r for r in snaps.collect()}
    assert set(rows) == {"123", "125", "1 26"}  # empty-hash row skipped
    row = rows["123"]
    assert row["website_id"] == "fa"
    hashes = {h["algo_id"]: bytes(h["hash_value"]) for h in row["files"][0]["hashes"]}
    assert hashes[fuzzysearch.DHASH_ALGO_ID] == struct.pack(">q", -12345)
    assert hashes[fuzzysearch.SHA256_ALGO_ID] == b"\x11" * 32
    # no updated_at on 125 → falls back to dump-wide earliest updated_at
    assert rows["125"]["scan_datetime"].year == 2021
    assert rows["125"]["is_deleted"] is True

    report = {
        r["rule"]: r["violations"]
        for r in validation_report(raw, fuzzysearch.validation_rules()).collect()
    }
    assert report["site_unknown"] == 1
    assert report["submission_id_charset"] == 1
    assert report["hash_not_int64"] == 1
    assert report["deleted_not_bool"] == 1


def test_foxoblue_adapter(spark, tmp_path):
    path = tmp_path / "users.csv"
    path.write_text(
        "username,updated_at,error\n"
        "alice,2021-01-05T00:00:00Z,NULL\n"
        "bob,NULL,account_disabled\n"
        "carol,2021-02-01T00:00:00Z,unknown_user\n"
    )
    out = foxoblue.to_user_snapshots(foxoblue.read_csv(spark, str(path)), contributor_id=3)
    rows = {r["site_user_id"]: r for r in out.collect()}
    assert set(rows) == {"alice", "bob"}  # unknown_user skipped
    assert rows["alice"]["is_deleted"] is False and rows["alice"]["extra_data"] is None
    assert rows["bob"]["is_deleted"] is True
    assert json.loads(rows["bob"]["extra_data"]) == {"deletion_type": "account_disabled"}
    assert rows["bob"]["scan_datetime"] == rows["alice"]["scan_datetime"]  # earliest fallback


def test_fa_indexer_adapter(spark, tmp_path):
    d = tmp_path / "dump" / "sub1"
    d.mkdir(parents=True)
    (d / "page1.json").write_text(
        json.dumps(
            {
                "41": {
                    "id": 41, "username": "u_a", "title": "T",
                    "description": "desc\x00with nul", "date": "2019-03-01T12:00:00Z",
                    "rating": "general", "keywords": ["k2", "k1"], "filename": "https://f/x.png",
                },
                "42": None,
            }
        )
    )
    (d / "page2.json").write_text(
        json.dumps(
            {
                "43": {
                    "id": 43, "username": "u_a", "title": "T2", "description": "d2",
                    "date": "2019-03-02T12:00:00Z", "rating": "adult",
                    "keywords": [], "filename": "https://f/y.png",
                }
            }
        )
    )
    parsed = fa_indexer.read_json_dir(spark, str(tmp_path / "dump"))
    snaps = fa_indexer.to_snapshots(parsed, 1, "2019-06-01 00:00:00")
    rows = {r["site_submission_id"]: r for r in snaps.collect()}
    assert set(rows) == {"41", "43"}  # null submission skipped
    assert rows["41"]["description"] == "descwith nul"  # NUL scrubbed
    assert [(k["ordinal"], k["keyword"]) for k in rows["41"]["keywords"]] == [
        (0, "k2"),
        (1, "k1"),
    ]  # ordered keywords keep position
    users = fa_indexer.uploader_user_snapshots(parsed, 1, "2019-06-01 00:00:00")
    assert users.count() == 1  # seen-usernames dedup


@pytest.mark.slow
def test_findfurrypicbot_adapter(spark, tmp_path):
    db_path = str(tmp_path / "ffpb.sqlite")
    con = sqlite3.connect(db_path)
    con.execute("CREATE TABLE posts (id INTEGER, a_hash BLOB, p_hash BLOB, d_hash BLOB, w_hash BLOB)")
    con.execute(
        "INSERT INTO posts VALUES (7, ?, ?, ?, ?)",
        (b"\x0a" * 8, b"\x0b" * 8, b"\x0c" * 8, b"\x0d" * 8),
    )
    con.commit(); con.close()
    raw = findfurrypicbot.read_sqlite(spark, db_path)
    snaps = findfurrypicbot.to_snapshots(raw, 1, "2020-01-01 00:00:00")
    [row] = snaps.collect()
    hashes = {h["algo_id"]: bytes(h["hash_value"]) for h in row["files"][0]["hashes"]}
    assert hashes == {4: b"\x0a" * 8, 3: b"\x0c" * 8, 5: b"\x0b" * 8, 6: b"\x0d" * 8}


@pytest.mark.slow
def test_faexport_api_formats(spark):
    sub_payload = json.dumps(
        {
            "link": "https://www.furaffinity.net/view/555/", "profile_name": "artist",
            "name": "Artist", "title": "Pic", "description": "d",
            "posted_at": "2023-01-01T00:00:00Z", "rating": "General",
            "category": "Art", "theme": "x", "species": "wolf", "gender": "m",
            "favorites": 3, "comments": 1, "views": 9,
            "download": "https://d/full.png", "thumbnail": "https://d/t.jpg",
            "full": "https://d/f.jpg", "resolution": "800x600",
            "avatar": "https://d/a.jpg", "keywords": ["a", "b"],
        }
    )
    err_payload = json.dumps({"error": "Submission not found"})
    payloads = spark.createDataFrame([(sub_payload,), (err_payload,)], "payload string")
    parsed = faexport_api.parse_submission_payloads(payloads)
    snaps = faexport_api.submission_snapshots(parsed, 1, "2023-02-01 00:00:00")
    [row] = snaps.collect()
    assert row["site_submission_id"] == "555"  # id from url, trailing slash stripped
    assert json.loads(row["files"][0]["extra_data"])["image_width"] == "800"
    users = faexport_api.submission_uploader_users(parsed, 1, "2023-02-01 00:00:00")
    assert users.count() == 1

    user_payload = json.dumps(
        {
            "profile": "https://www.furaffinity.net/user/someone/", "name": "Someone",
            "account_type": "Member", "avatar": "https://d/a.jpg", "user_title": "t",
            "registered_at": "2010-05-01T00:00:00Z",
            "watchers": {"count": 2, "recent": [
                {"profile_name": "w1", "name": "W1"}, {"profile_name": "w2", "name": "W2"}]},
            "watching": {"count": 1, "recent": [{"profile_name": "w3", "name": "W3"}]},
        }
    )
    disabled = json.dumps(
        {"error": "User has disabled their account", "url": "https://fa/user/gone/"}
    )
    up = faexport_api.parse_user_payloads(
        spark.createDataFrame([(user_payload,), (disabled,)], "payload string")
    )
    users = faexport_api.user_snapshots(up, 1, "2023-02-01 00:00:00")
    rows = {r["site_user_id"]: r for r in users.collect()}
    # 1 main + 3 watcher stubs + 1 tombstone
    assert set(rows) == {"someone", "w1", "w2", "w3", "gone"}
    assert rows["gone"]["is_deleted"] is True
    extra = json.loads(rows["someone"]["extra_data"])
    assert extra["watchers_recent"] == [
        {"site_user_id": "w1", "display_name": "W1"},
        {"site_user_id": "w2", "display_name": "W2"},
    ]


@pytest.mark.slow
def test_explode_to_store_roundtrip(spark, e621_csv):
    raw = e621.read_csv(spark, e621_csv)
    nested = e621.to_snapshots(raw, 1, "2022-07-13 00:00:00")
    store = explode_to_store(nested)
    assert store["submission_snapshots"].count() == 3
    assert store["submission_snapshot_keywords"].count() == 9  # 3 tags/row, dups kept
    assert store["submission_snapshot_files"].count() == 3
    assert store["submission_snapshot_file_hashes"].count() == 3
    # parent/child id consistency: every child joins back to a parent
    snap_ids = {r["submission_snapshot_id"] for r in store["submission_snapshots"].collect()}
    kw_parents = {r["submission_snapshot_id"] for r in store["submission_snapshot_keywords"].collect()}
    assert kw_parents <= snap_ids
    file_ids = {r["file_id"] for r in store["submission_snapshot_files"].collect()}
    hash_parents = {r["file_id"] for r in store["submission_snapshot_file_hashes"].collect()}
    assert hash_parents <= file_ids
    assert store["submission_snapshots"].filter("keywords_recorded").count() == 3


def test_explode_to_store_leaves_no_cache_entries(spark, e621_csv, tmp_path):
    """explode_to_store runs once per streaming micro-batch
    (streaming/ingest_stream.py), and CacheManager entries are never
    released on their own, so it must cache nothing. Its ids are pinned
    by one checkpoint instead: separate writes of the parent and child
    tables still agree on them."""
    spark.catalog.clearCache()
    nested = e621.to_snapshots(e621.read_csv(spark, e621_csv), 1, "2022-07-13 00:00:00")
    for name, df in explode_to_store(nested).items():
        df.write.parquet(str(tmp_path / name))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def ids(name, col):
        return {r[col] for r in spark.read.parquet(str(tmp_path / name)).select(col).collect()}

    snap_ids = ids("submission_snapshots", "submission_snapshot_id")
    assert len(snap_ids) == 3
    assert ids("submission_snapshot_keywords", "submission_snapshot_id") <= snap_ids
    assert ids("submission_snapshot_files", "submission_snapshot_id") <= snap_ids
    assert ids("submission_snapshot_file_hashes", "file_id") <= ids(
        "submission_snapshot_files", "file_id"
    )


def _fa_dump(root):
    """An fa JSON dump whose snapshots carry ordered, empty and
    unrecorded (null) keyword arrays, and files with empty hash arrays."""
    subs = {
        "41": {"keywords": ["k2", "k1", "k3"]},
        "42": {"keywords": []},
        "43": {},  # no keywords field: not recorded
        "44": {"keywords": ["solo"]},
    }
    for page, (sid, extra) in enumerate(subs.items()):
        d = root / f"sub{page % 2}"
        d.mkdir(parents=True, exist_ok=True)
        sub = {
            "id": int(sid), "username": "u", "title": f"T{sid}", "description": "d",
            "date": "2019-03-01T12:00:00Z", "rating": "general",
            "filename": f"https://f/{sid}.png", **extra,
        }
        (d / f"page{page}.json").write_text(json.dumps({sid: sub}))
    return str(root)


def _nested_mix(spark, e621_csv, fa_dir, partitions):
    """The e621 CSV, the fa dump and hand-built snapshots with no files,
    a file with a null hash array and one with two hashes, spread over
    ``partitions`` partitions."""
    from faexport_db_spark.ingest.base import FILE_ARRAY, KEYWORD_ARRAY

    e = e621.to_snapshots(e621.read_csv(spark, e621_csv), 1, "2022-07-13 00:00:00")
    fa = fa_indexer.to_snapshots(fa_indexer.read_json_dir(spark, fa_dir), 1, "2019-06-01 00:00:00")
    rows = spark.createDataFrame(
        [
            ("x", "1", None, None, None, None, False, None, None, None, None, [], []),
            (
                "x", "2", None, None, None, None, False, None, None, None, None, None,
                [("a", "u", 1, None, None), ("b", "v", 2, None, [(5, b"\x01"), (6, b"\x02")])],
            ),
        ],
        "website_id string, site_submission_id string, scan_datetime timestamp, "
        "archive_contributor_id bigint, ingest_datetime timestamp, "
        "uploader_site_user_id string, is_deleted boolean, title string, "
        "description string, datetime_posted timestamp, extra_data string, "
        f"keywords {KEYWORD_ARRAY}, files {FILE_ARRAY}",
    )
    return e.unionByName(fa).unionByName(rows).repartition(partitions)


def _snapshot_trees(snaps, kws, files, hashes):
    """Per (website, submission): keywords in ordinal order (None when
    not recorded) and sorted (file fields, sorted hashes), rebuilt
    through the minted ids alone."""
    by_id = {
        r["submission_snapshot_id"]: (r["website_id"], r["site_submission_id"]) for r in snaps
    }
    trees = {
        (r["website_id"], r["site_submission_id"]): ([] if r["keywords_recorded"] else None, [])
        for r in snaps
    }
    for r in sorted(kws, key=lambda r: (r["ordinal"] is None, r["ordinal"] or 0, r["keyword"])):
        trees[by_id[r["submission_snapshot_id"]]][0].append((r["ordinal"], r["keyword"]))
    file_hashes = {}
    for r in hashes:
        file_hashes.setdefault(r["file_id"], []).append((r["algo_id"], bytes(r["hash_value"])))
    for r in files:
        hashes_of_file = sorted(file_hashes.get(r["file_id"], []))
        trees[by_id[r["submission_snapshot_id"]]][1].append(
            (r["site_file_id"], r["file_url"], r["file_size"], hashes_of_file)
        )
    return {key: (k, sorted(f)) for key, (k, f) in trees.items()}


def _nested_trees(rows):
    def kw_order(k):
        return (k["ordinal"] is None, k["ordinal"] or 0, k["keyword"])

    return {
        (r["website_id"], r["site_submission_id"]): (
            None
            if r["keywords"] is None
            else [(k["ordinal"], k["keyword"]) for k in sorted(r["keywords"], key=kw_order)],
            sorted(
                (
                    f["site_file_id"], f["file_url"], f["file_size"],
                    sorted((h["algo_id"], bytes(h["hash_value"])) for h in f["hashes"] or []),
                )
                for f in r["files"] or []
            ),
        )
        for r in rows
    }


def _assert_store_rebuilds(nested, tables):
    """Every table's ids are dense, and the snapshots rebuilt through
    them equal ``nested``: a child linked to the wrong parent fails."""
    id_cols = {
        "submission_snapshots": "submission_snapshot_id",
        "submission_snapshot_keywords": "keyword_id",
        "submission_snapshot_files": "file_id",
        "submission_snapshot_file_hashes": "hash_id",
    }
    rows = {name: tables[name].collect() for name in id_cols}
    for name, col in id_cols.items():
        assert sorted(r[col] for r in rows[name]) == list(range(len(rows[name]))), name
    assert _snapshot_trees(*rows.values()) == _nested_trees(nested.collect())


def test_explode_to_store_ids_link_the_right_rows(spark, e621_csv, tmp_path):
    """Across several partitions, the four tables written in separate
    jobs and read back rebuild every snapshot's keywords (by ordinal),
    files and file hashes exactly, and each table's ids are 0..n-1."""
    nested = _nested_mix(spark, e621_csv, _fa_dump(tmp_path / "fa"), partitions=5)
    for name, df in explode_to_store(nested).items():
        df.write.parquet(str(tmp_path / name))
    back = {
        name: spark.read.parquet(str(tmp_path / name))
        for name in (
            "submission_snapshots",
            "submission_snapshot_keywords",
            "submission_snapshot_files",
            "submission_snapshot_file_hashes",
        )
    }
    assert back["submission_snapshots"].count() == 3 + 4 + 2
    _assert_store_rebuilds(nested, back)


def test_explode_to_store_pins_once(spark, e621_csv):
    """All four tables' ids come from one pin of the nested frame."""
    from block_storage import gained_rdds, stored_rdds

    nested = e621.to_snapshots(e621.read_csv(spark, e621_csv), 1, "2022-07-13 00:00:00")
    before = stored_rdds(spark)
    tables = explode_to_store(nested)
    assert len(gained_rdds(spark, before, at_most=1)) == 1
    assert tables["submission_snapshot_file_hashes"].count() == 3


@pytest.mark.slow
def test_with_dense_ids_dense_at_high_partition_counts(spark, e621_csv, tmp_path):
    """Ids stay bounded by the row count no matter the partition count —
    the property the streaming batch-id stride relies on. Raw
    monotonically_increasing_id at 200 partitions would mint ids
    >= 199*2^33 > 2^40 and collide with the next batch's stride. The
    child tables' ids are as dense, and still link the right rows."""
    from faexport_db_spark.ingest.base import with_dense_ids

    n = 1000
    df = spark.range(n).repartition(200)
    out = with_dense_ids(df, "sid")
    ids = sorted(r["sid"] for r in out.select("sid").collect())
    assert ids == list(range(n))

    nested = _nested_mix(spark, e621_csv, _fa_dump(tmp_path / "fa"), partitions=200)
    _assert_store_rebuilds(nested, explode_to_store(nested))


@pytest.mark.slow
def test_faexport_user_full_extra_and_featured(spark):
    """The faexport_user format's full extra_data field set plus the
    featured/profile-id submission stubs (faexport.py:88-152)."""
    payload = json.dumps(
        {
            "profile": "https://www.furaffinity.net/user/someone/", "name": "Someone",
            "account_type": "Member", "avatar": "https://d/a.jpg", "user_title": "t",
            "registered_at": "2010-05-01T00:00:00Z",
            "guest_access": True, "current_mood": "happy",
            "artist_profile": "<p>hi</p>", "pageviews": 100, "submissions": 12,
            "comments_received": 5, "comments_given": 7, "journals": 2, "favorites": 33,
            "featured_submission": {"id": "777", "title": "Feat", "thumbnail": "https://d/feat.jpg"},
            "profile_id": {"id": "888", "title": "PID", "thumbnail": "https://d/pid.jpg"},
            "artist_information": {"Species": "wolf"},
            "contact_information": [{"title": "Twitter", "name": "someone", "link": "https://t/x"}],
            "watchers": {"count": 1, "recent": [{"profile_name": "w1", "name": "W1"}]},
            "watching": {"count": 0, "recent": []},
        }
    )
    up = faexport_api.parse_user_payloads(
        spark.createDataFrame([(payload,)], "payload string")
    )
    users = faexport_api.user_snapshots(up, 1, "2023-02-01 00:00:00")
    main = [r for r in users.collect() if r["site_user_id"] == "someone"][0]
    extra = json.loads(main["extra_data"])
    assert extra["profile_html"] == "<p>hi</p>"
    assert extra["view_count"] == 100
    assert extra["comments_received_count"] == 5
    assert extra["featured_submission_id"] == "777"
    assert extra["profile_id_submission_id"] == "888"
    assert extra["artist_information"] == {"Species": "wolf"}
    assert extra["contact_information"] == [
        {"title": "Twitter", "name": "someone", "link": "https://t/x"}
    ]

    feats = faexport_api.user_featured_submissions(up, 1, "2023-02-01 00:00:00")
    rows = {r["site_submission_id"]: r for r in feats.collect()}
    assert set(rows) == {"777", "888"}
    assert rows["777"]["uploader_site_user_id"] == "someone"
    assert rows["777"]["title"] == "Feat"
    assert rows["777"]["keywords"] is None  # keywords NOT recorded
    assert json.loads(rows["777"]["files"][0]["extra_data"])["thumbnail_url"] == "https://d/feat.jpg"
