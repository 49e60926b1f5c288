"""Property-based tests (SURVEY.md §5 plan item 3).

Split by cost: the pure-Python fold kernels get hundreds of hypothesis
examples (no Spark); the Spark-level invariants (merge permutation
insensitivity, maintenance idempotence) run a handful of examples.
"""

from __future__ import annotations

import pytest

import json
from datetime import datetime, timedelta

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from golden_folds import (
    MERGED_FILES_COLUMNS,
    _fold_batch,
    _fold_json_history,
    golden_merged_files,
)

# --- pure kernels ---------------------------------------------------------

json_values = st.recursive(
    st.none() | st.booleans() | st.integers(-9999, 9999) | st.text(max_size=8),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.text(max_size=4), children, max_size=3),
    max_leaves=6,
)
json_docs = st.dictionaries(st.sampled_from("abcdef"), json_values, max_size=4)


@given(st.lists(json_docs, max_size=6))
@settings(max_examples=200, deadline=None)
def test_json_fold_is_per_key_last_wins(history):
    """M5 invariant: every output key's value comes from the LAST doc
    in history containing that key (db.py:10-17 overlay-wins fold)."""
    out = json.loads(_fold_json_history([json.dumps(d) for d in history], True))
    expected = {}
    for doc in history:
        expected.update(doc)
    assert out == expected


def test_expression_fold_matches_python_golden_fold(spark):
    """The production expression-form M5 fold (variant first-wins map
    merge) must render byte-identically to the Python golden fold on
    hypothesis-shaped histories: ints / bools / nulls / text (incl.
    unicode + escapes) / nested lists + dicts, junk docs, None entries.
    One batched DataFrame keeps this a single Spark job."""
    from pyspark.sql import functions as F

    from faexport_db_spark.operators.folds import merge_extra_data_history_expr

    # Deterministic corpus drawn from the same shapes the hypothesis
    # generators cover (find_all would be slow; these are the edges).
    histories = [
        [],
        [None],
        ['{"b":1,"a":2}', '{"a":9}'],
        ['{"a":{"z":1,"y":2}}', '{"b":[1,{"d":2,"c":3}]}'],
        [None, "nope", '"scalar"', "[1]", '{"k":true}'],
        ['{"a":null}', '{"b":false}', None],
        ['{"u":"héllo ✓"}', '{"s":"line\\nbreak\\t\\"q\\""}'],
        ['{"":1,"x":""}'],
        ['{"big":12345678901234,"neg":-9999}'],
        ['{"a":1}'] * 6,
        ['{"a":{"b":{"c":[null,true,"x"]}}}', '{"a":{}}'],
        [json.dumps({"c": "\x1f\x1e"}), json.dumps({"m": {"x": "\x01"}})],
        [json.dumps({"e": "\U0001f600", "bs": "a\\u001f"}, ensure_ascii=False)],
    ]
    df = spark.createDataFrame([(h,) for h in histories], "h: array<string>")
    got = [r[0] for r in df.select(merge_extra_data_history_expr(F.col("h"))).collect()]
    for h, g in zip(histories, got):
        assert g == _fold_json_history(h, True), (h, g)


@given(st.lists(json_docs | st.none(), max_size=6))
@settings(max_examples=100, deadline=None)
def test_json_fold_none_entries_are_transparent(history):
    """Null extra_data snapshots neither contribute nor reset keys."""
    folded = _fold_json_history(
        [None if d is None else json.dumps(d) for d in history], True
    )
    dense = _fold_json_history([json.dumps(d) for d in history if d is not None], True)
    assert folded == dense


file_rows = st.lists(
    st.tuples(
        st.sampled_from(["f1", "f2", None]),  # site_file_id
        st.sampled_from(["u1", "u2", None]),  # file_url
        st.sampled_from([1, 2, None]),  # file_size
        st.sampled_from([None, '{"k":1}', '{"k":2}']),  # extra_data
        st.lists(  # hashes (algo_id, b64) — None b64 exercises the
            # null-safe clash compare and null-preserving rendering
            st.tuples(st.sampled_from([1, 2]), st.sampled_from(["aa==", "bb==", None])),
            max_size=2,
            unique_by=lambda h: h[0],
        ),
    ),
    min_size=1,
    max_size=6,
)


def _mk_pdf(rows):
    return pd.DataFrame(
        [
            {
                "website_id": "fa",
                "site_submission_id": "s1",
                "scan_datetime": datetime(2024, 1, 1) + timedelta(days=i),
                "submission_snapshot_id": i,
                "file_id": i,
                "site_file_id": fid,
                "file_url": url,
                "file_size": size,
                "extra_data": extra,
                "hashes_list": [{"algo_id": a, "hash_b64": b} for a, b in hashes],
            }
            for i, (fid, url, size, extra, hashes) in enumerate(rows)
        ]
    )


@given(file_rows)
@settings(max_examples=200, deadline=None)
def test_file_fold_invariants(rows):
    """M7 invariants that hold for EVERY history (models/file.py:50-72):
    one output per site_file_id; url/size, once recorded, stay non-null
    (clash replaces, never erases); every output hash was observed for
    that site_file_id; the newest row's hashes always survive."""
    pdf = _mk_pdf(rows)
    out = _fold_batch(pdf)
    by_key = {}
    for f in out:
        assert f["site_file_id"] not in by_key  # unique per site_file_id
        by_key[f["site_file_id"]] = f

    seen_urls: dict = {}
    seen_hashes: dict = {}
    for fid, url, size, extra, hashes in rows:
        seen_urls.setdefault(fid, set()).add(url)
        seen_hashes.setdefault(fid, set()).update(hashes)
    assert set(by_key) == set(seen_urls)

    for fid, f in by_key.items():
        if any(u is not None for u in seen_urls[fid]):
            # some snapshot recorded a url; the merged file keeps one of them
            assert f["file_url"] in seen_urls[fid]
        out_hashes = {(h["algo_id"], h["hash_b64"]) for h in json.loads(f["hashes"])}
        assert out_hashes <= seen_hashes[fid]

    # the newest row's own hashes are always present (union or reset)
    last = rows[-1]
    last_out = by_key[last[0]]
    last_hashes = {(a, b) for a, b in last[4]}
    got = {(h["algo_id"], h["hash_b64"]) for h in json.loads(last_out["hashes"])}
    assert last_hashes <= got


@given(file_rows)
@settings(max_examples=100, deadline=None)
def test_file_fold_single_row_identity(rows):
    """Folding a single snapshot's files returns them unchanged."""
    pdf = _mk_pdf(rows[:1])
    (f,) = _fold_batch(pdf)
    fid, url, size, extra, hashes = rows[0]
    assert f["site_file_id"] == fid and f["file_url"] == url
    assert {(h["algo_id"], h["hash_b64"]) for h in json.loads(f["hashes"])} == set(hashes)


# --- Spark-level invariants (few, slow examples) --------------------------

user_rows = st.lists(
    st.tuples(
        st.integers(1, 3),  # site_user_id pool
        st.integers(0, 4),  # scan day offset
        st.booleans(),  # is_deleted
        st.sampled_from([None, "A", "B"]),  # display_name
        st.sampled_from([None, '{"x":1}', '{"x":2,"y":3}']),  # extra_data
    ),
    min_size=1,
    max_size=8,
)


@given(user_rows, st.randoms())
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_merged_users_permutation_insensitive(spark, rows, rnd):
    """The merged view is a pure function of the snapshot SET
    (surrogate ids included — they are the documented tie-break for
    equal scan_datetimes, merge.py): permuting physical row order
    changes nothing. Reassigning ids in arrival order CAN legitimately
    change tie-broken fields — hypothesis found that case, matching the
    reference's own storage-order-dependence (models/submission.py:27-29)."""
    from faexport_db_spark.datamodel.schemas import USER_SNAPSHOTS
    from faexport_db_spark.operators.merge import merged_users

    data = [
        (i, "fa", f"u{uid}", datetime(2024, 1, 1 + day), 1,
         datetime(2024, 2, 1), deleted, name, extra)
        for i, (uid, day, deleted, name, extra) in enumerate(rows)
    ]

    def build(seq):
        df = spark.createDataFrame(seq, USER_SNAPSHOTS)
        return {
            r["site_user_id"]: (
                r["snapshot_count"], r["first_scanned"], r["latest_update"],
                r["is_deleted"], r["display_name"], r["extra_data"],
            )
            for r in merged_users(df).collect()
        }

    shuffled = list(data)
    rnd.shuffle(shuffled)
    assert build(data) == build(shuffled)


@given(user_rows)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_reingest_plus_dedup_equals_single_ingest(spark, rows):
    """SURVEY §2.10 delivery contract: append-again + W4 dedup ≡ one
    ingest. Doubled snapshot rows (fresh ids, same dedup key) collapse
    to the single-ingest result."""
    from faexport_db_spark.datamodel.schemas import USER_SNAPSHOTS
    from faexport_db_spark.maintenance.dedup import USER_DEDUP_KEYS, dedup_keep_one

    def mk(offset):
        return [
            (offset + i, "fa", f"u{uid}", datetime(2024, 1, 1 + day), 1,
             datetime(2024, 2, 1), deleted, name, extra)
            for i, (uid, day, deleted, name, extra) in enumerate(rows)
        ]

    once = spark.createDataFrame(mk(0), USER_SNAPSHOTS)
    twice = once.unionByName(spark.createDataFrame(mk(1000), USER_SNAPSHOTS))
    key_cols = [c for c in USER_SNAPSHOTS.fieldNames() if c != "user_snapshot_id"]
    deduped_once = dedup_keep_one(once, USER_DEDUP_KEYS, "user_snapshot_id", keep="lowest")
    deduped_twice = dedup_keep_one(twice, USER_DEDUP_KEYS, "user_snapshot_id", keep="lowest")
    assert sorted(map(tuple, deduped_once.select(*key_cols).collect())) == sorted(
        map(tuple, deduped_twice.select(*key_cols).collect())
    )


@given(file_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_merged_files_expr_matches_python_fold(spark, rows):
    """The expression-form M7 fold (aggregate over a sorted history) is
    byte-identical to the Python golden fold on arbitrary file
    histories — clash resets, hash unions, extra overlays, null keys
    and duplicate-algo hash lists included."""
    from faexport_db_spark.operators.folds import merged_files

    base = datetime(2024, 1, 1)
    snaps = spark.createDataFrame(
        [(i, "fa", "s1", base + timedelta(days=i)) for i in range(len(rows))],
        "submission_snapshot_id bigint, website_id string, "
        "site_submission_id string, scan_datetime timestamp",
    )
    files = spark.createDataFrame(
        [
            (i, i, fid, url, size, extra)
            for i, (fid, url, size, extra, _h) in enumerate(rows)
        ],
        "file_id bigint, submission_snapshot_id bigint, site_file_id string, "
        "file_url string, file_size bigint, extra_data string",
    )
    hash_rows = [
        (i, a, b)
        for i, (_f, _u, _s, _e, hashes) in enumerate(rows)
        for a, b in hashes
    ]
    hashes = spark.createDataFrame(
        hash_rows or [(None, None, None)],
        "file_id bigint, algo_id bigint, hash_b64 string",
    ).filter("file_id is not null")
    # merged_files expects raw hash bytes; feed b64 through unbase64
    from pyspark.sql import functions as F

    hashes = hashes.select(
        "file_id", "algo_id", F.unbase64("hash_b64").alias("hash_value")
    )

    assert _rows(merged_files(snaps, files, hashes).collect()) == _rows(
        golden_merged_files(snaps, files, hashes)
    )


def _rows(records):
    """Rows (Spark ``Row`` or golden dict) as sorted 7-column tuples."""
    return sorted(
        (tuple(r[c] for c in MERGED_FILES_COLUMNS) for r in records),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_merged_files_matches_golden_fold(spark, sf_small):
    """Fast M7 gate: ``merged_files`` equals the Python golden fold on
    all 7 output columns, byte for byte in the ``extra_data`` and
    ``hashes`` renderings, on ``m7_parts`` plus a hand-built history
    with a url clash reset, a size clash reset, a NULL hash_b64 and
    nested / unicode extra_data."""
    from pyspark.sql import functions as F

    from faexport_db_spark.operators.folds import merged_files
    from faexport_db_spark.queries.merge_queries import m7_parts

    base = datetime(2024, 1, 1)
    snaps = spark.createDataFrame(
        [(i, "fa", "s1", base + timedelta(days=i)) for i in range(5)],
        "submission_snapshot_id bigint, website_id string, "
        "site_submission_id string, scan_datetime timestamp",
    )
    files = spark.createDataFrame(
        [
            (0, 0, "f1", "u1", 10, '{"n":{"b":[1,{"z":2,"y":null}]},"k":1}'),
            (1, 1, "f1", "u2", 10, '{"u":"héllo ✓ \\u001f"}'),  # url clash
            (2, 2, "f1", "u2", 20, '{"k":2}'),  # size clash
            (3, 3, "f1", None, None, '{"k":3,"e":"\U0001f600"}'),
            (4, 4, "f2", "v1", 5, None),
            (5, 0, "f2", "v1", 5, '{"x":1}'),
        ],
        "file_id bigint, submission_snapshot_id bigint, site_file_id string, "
        "file_url string, file_size bigint, extra_data string",
    )
    hashes = spark.createDataFrame(
        [(0, 1, "aa=="), (0, 2, "bb=="), (1, 1, "cc=="), (3, 2, None), (4, 1, None),
         (5, 1, "dd==")],
        "file_id bigint, algo_id bigint, hash_b64 string",
    ).select("file_id", "algo_id", F.unbase64("hash_b64").alias("hash_value"))

    got = _rows(merged_files(snaps, files, hashes).collect())
    want = _rows(golden_merged_files(snaps, files, hashes))
    assert got == want
    by_file = {r[2]: r for r in got}
    assert by_file["f1"][3:5] == ("u2", 20)  # the size clash reset last
    assert json.loads(by_file["f1"][6]) == [
        {"algo_id": 2, "hash_b64": None}
    ]  # the size clash dropped algo 1; snapshot 3 added a NULL hash
    # a NULL hash_b64 against a stored one is a clash: full reset
    assert by_file["f2"][5:] == (None, '[{"algo_id":1,"hash_b64":null}]')

    parts = m7_parts(spark, sf_small)
    assert _rows(merged_files(*parts).collect()) == _rows(golden_merged_files(*parts))


def test_passage_dedup_conservation_and_uniqueness(spark):
    """Invariants on any corpus: (1) per-doc kept+removed == n_tiles,
    (2) global kept tile count == distinct tile-hash count (exactly one
    survivor per distinct tile), (3) a corpus with no repeated tile
    removes nothing and reproduces every text."""
    from pyspark.sql import functions as F

    from faexport_db_spark.training.text import passage_dedup

    words = ["w%d" % i for i in range(60)]
    rows = []
    for d in range(30):
        # deterministic pseudo-random distinct texts + some with shared spans
        toks = [words[(d * 7 + k * 11) % 60] for k in range(23)]
        if d % 5 == 0:
            toks[0:5] = ["s1", "s2", "s3", "s4", "s5"]  # shared leading tile
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = passage_dedup(docs, tile_tokens=5)
    got = out.collect()
    assert len(got) == 30
    total_tiles = sum(r["n_tiles"] for r in got)
    removed = sum(r["n_tiles_removed"] for r in got)
    distinct_tiles = (
        docs.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.ceil(F.size(F.split(F.trim("text"), r"\s+")) / 5).cast("int") - 1,
                            F.lit(0),
                        ),
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.split(F.trim("text"), r"\s+"), i * 5 + 1, 5)
                    ),
                )
            ).alias("t")
        )
        .select("t")
        .distinct()
        .count()
    )
    assert total_tiles - removed == distinct_tiles
    # unique corpus: nothing removed, texts reproduced
    uniq = spark.createDataFrame(
        [(d, " ".join(words[(d * 13 + k) % 60] + str(d) for k in range(12)))
         for d in range(10)],
        "doc_id bigint, text string",
    )
    out2 = {r["doc_id"]: r for r in passage_dedup(uniq, tile_tokens=5).collect()}
    src = {r["doc_id"]: r["text"] for r in uniq.collect()}
    assert all(out2[d]["n_tiles_removed"] == 0 for d in out2)
    assert all(out2[d]["clean_text"] == src[d] for d in out2)


@pytest.mark.slow
def test_format_strategies_agree_on_random_mutation_sequences(spark, tmp_path):
    """Model-based equivalence: the same deterministic pseudo-random
    sequence of append / delete_where / upsert_keys mutations applied
    through BOTH storage strategies must yield identical tables at
    every step. Catches any semantic drift between the rewrite-based
    parquet implementation and the manifest commit protocol that the
    hand-written cases miss."""
    import random

    from pyspark.sql import functions as F

    from faexport_db_spark.datamodel.table_format import (
        ManifestParquetFormat,
        ParquetFormat,
    )

    rng = random.Random(20260814)
    fmts = {"pq": ParquetFormat(), "mf": ManifestParquetFormat()}
    paths = {k: str(tmp_path / k) for k in fmts}

    def mkrows(n):
        return [
            (rng.choice(["a", "b", "c", None]), rng.randrange(40), f"v{rng.randrange(1000)}")
            for _ in range(n)
        ]

    def table(k):
        try:
            return {
                (r["part"], r["key"], r["val"])
                for r in fmts[k].read(spark, paths[k]).collect()
            }
        except Exception:
            return set()

    schema = "part string, key int, val string"
    # seed both with the same first batch (upsert creates the table)
    first = spark.createDataFrame(mkrows(8), schema)
    for k in fmts:
        fmts[k].upsert_keys(first, paths[k], ["part", "key"], ["part"])

    for step in range(12):
        op = rng.choice(["append", "delete", "upsert", "upsert_purge"])
        rows = mkrows(rng.randrange(1, 6))
        threshold = rng.randrange(40)
        for k in fmts:
            if op == "append":
                fmts[k].append(
                    spark.createDataFrame(rows, schema), paths[k], ["part"]
                )
            elif op == "delete":
                fmts[k].delete_where(spark, paths[k], F.col("key") < threshold)
            elif op == "upsert":
                fmts[k].upsert_keys(
                    spark.createDataFrame(rows, schema),
                    paths[k],
                    ["part", "key"],
                    ["part"],
                )
            else:  # purge: touched keys with no recomputed rows
                keys = spark.createDataFrame(
                    [(p, key) for p, key, _ in rows], "part string, key int"
                )
                fmts[k].upsert_keys(
                    spark.createDataFrame([], schema),
                    paths[k],
                    ["part", "key"],
                    ["part"],
                    keys=keys,
                )
        assert table("pq") == table("mf"), f"diverged at step {step} after {op}"


# --- r05 join operators vs independent references --------------------------

_join_rows = st.lists(
    st.tuples(
        st.integers(0, 2),                 # key
        st.integers(0, 50),                # ts offset (seconds)
        st.integers(-99, 99),              # payload
    ),
    min_size=0,
    max_size=12,
)


def _mk_ts(off):
    return datetime(2024, 1, 1) + timedelta(seconds=off)


@given(left=_join_rows, right=_join_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join ≡ pandas merge_asof (backward, inclusive) per key —
    an independent third implementation next to the DuckDB ASOF oracle.
    Right rows are deduped per (key, ts) as the operator contract
    requires; left rows get unique ids so multisets compare exactly."""
    from faexport_db_spark.operators.asof import asof_join

    rdedup = {}
    for k, off, v in right:
        rdedup[(k, off)] = max(v, rdedup.get((k, off), -(10**9)))
    l_pd = pd.DataFrame(
        [
            {"k": k, "ts": _mk_ts(off), "lid": i, "lv": float(v)}
            for i, (k, off, v) in enumerate(left)
        ]
    )
    r_pd = pd.DataFrame(
        [
            {"k": k, "ts": _mk_ts(off), "rv": float(v)}
            for (k, off), v in sorted(rdedup.items())
        ]
    )

    ldf = spark.createDataFrame(l_pd) if len(l_pd) else spark.createDataFrame(
        [], "k long, ts timestamp, lid long, lv double"
    )
    rdf = spark.createDataFrame(r_pd) if len(r_pd) else spark.createDataFrame(
        [], "k long, ts timestamp, rv double"
    )
    got = {
        r["lid"]: (r["rv"], r["asof_ts"])
        for r in asof_join(ldf, rdf, on="k").collect()
    }

    if len(l_pd):
        if len(r_pd):
            exp_df = pd.merge_asof(
                l_pd.sort_values("ts", kind="stable"),
                r_pd.sort_values("ts", kind="stable").rename(
                    columns={"ts": "asof_ts"}
                ),
                left_on="ts",
                right_on="asof_ts",
                by="k",
                direction="backward",
            )
        else:
            exp_df = l_pd.assign(rv=float("nan"), asof_ts=pd.NaT)
        expected = {
            int(r.lid): (
                None if pd.isna(r.rv) else r.rv,
                None if pd.isna(r.asof_ts) else r.asof_ts.to_pydatetime(),
            )
            for r in exp_df.itertuples()
        }
    else:
        expected = {}
    assert got == expected


@given(left=_join_rows, right=_join_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_interval_join_matches_naive_theta_join(spark, left, right):
    """interval_join ≡ the naive theta join it replaces, for every
    bucket width — bin-edge alignment, degenerate intervals, and
    inverted intervals all land on hypothesis-generated data."""
    from faexport_db_spark.operators.rangejoin import interval_join

    l_rows = [
        (k, _mk_ts(off), i) for i, (k, off, _v) in enumerate(left)
    ]
    r_rows = [
        (k, _mk_ts(off), _mk_ts(off + span), 1000 + i)
        for i, (k, off, span) in enumerate(right)
    ]
    expected = {
        (lid, rid)
        for (lk, lts, lid) in l_rows
        for (rk, ws, we, rid) in r_rows
        if lk == rk and ws <= lts <= we
    }
    ldf = spark.createDataFrame(
        l_rows or [], "k long, ts timestamp, lid long"
    )
    rdf = spark.createDataFrame(
        r_rows or [], "k long, ws timestamp, we timestamp, rid long"
    )
    for width in (3, 17):
        got = {
            (r["lid"], r["rid"])
            for r in interval_join(
                ldf, rdf, on="k", left_ts="ts",
                right_start="ws", right_end="we", bucket_width=width,
            ).collect()
        }
        assert got == expected, width


def test_line_dedup_idempotent_and_conserving(spark):
    """Invariants on any corpus: (1) per-doc kept+removed == n_lines,
    (2) drop-all really drops ALL copies (no surviving line occurs
    twice in the cleaned corpus under the same normalization),
    (3) a second pass over the cleaned corpus removes nothing
    (idempotence — after drop-all every surviving line is unique)."""
    from pyspark.sql import functions as F

    from faexport_db_spark.training.text import line_dedup

    # per-doc-unique base tokens (no accidental cross-doc lines), a
    # banner planted in every 4th doc, and one extra shared line in
    # docs 1/2 — so drop-all sees repeats at two frequencies while
    # most lines survive.
    # letter-only tokens: the CCNet normalization strips digits, so
    # digit-bearing stems would collapse every line to one digest
    letters = "abcdefghijklmnopqrstuvwxyz"

    def enc(n):
        return "".join(letters[int(c)] for c in str(n))

    rows = []
    for d in range(24):
        toks = ["d%sw%s" % (enc(d), enc(k)) for k in range(20)]
        if d % 4 == 0:
            toks[5:10] = ["b1", "b2", "b3", "b4", "b5"]  # planted banner
        if d in (1, 2):
            toks[10:15] = ["s1", "s2", "s3", "s4", "s5"]  # shared pair
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = line_dedup(docs, line_tokens=5)
    got = out.collect()
    assert len(got) == 24
    assert all(
        (r["n_lines_removed"] >= 0) and (r["n_lines_removed"] <= r["n_lines"])
        for r in got
    )
    # exactly the planted repeats go: 6 banner lines + the shared pair
    assert sum(r["n_lines_removed"] for r in got) == 6 + 2
    cleaned_rows = [(r["doc_id"], r["clean_text"]) for r in got if r["clean_text"]]
    assert len(cleaned_rows) >= 12  # the corpus must NOT be all-duplicate
    cleaned = spark.createDataFrame(cleaned_rows, "doc_id bigint, text string")
    second = line_dedup(cleaned, line_tokens=5).collect()
    assert sum(r["n_lines_removed"] for r in second) == 0
    assert {r["doc_id"]: r["clean_text"] for r in second} == {
        r["doc_id"]: r["clean_text"] for r in got if r["clean_text"]
    }


def test_scd2_collapse_partitions_history(spark):
    """Invariants: n_snapshots sums to the input row count; intervals
    of one entity never overlap; re-expanding intervals by snapshot
    count reproduces the per-(key,value) row multiset."""
    import itertools

    from faexport_db_spark.operators.merge import scd2_collapse

    vals = ["A", "B", "C"]
    rows = [
        (k, day, day * 10 + k, vals[(k * day) % 3])
        for k, day in itertools.product(range(1, 5), range(1, 9))
    ]
    snaps = spark.createDataFrame(rows, "k bigint, day int, sid bigint, v string")
    out = scd2_collapse(snaps, ["k"], ["day", "sid"], "v").collect()
    assert sum(r["n_snapshots"] for r in out) == len(rows)
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["k"], []).append((r["valid_from"], r["valid_to"], r["v"]))
    for k, ivals in by_key.items():
        ivals.sort()
        for (f1, t1, _), (f2, _, _) in zip(ivals, ivals[1:]):
            assert t1 < f2 or (t1 <= f2)  # ordered
        for f, t, _ in ivals:
            assert f <= t


# --- round-6 operators ------------------------------------------------------


@given(
    st.lists(st.text(alphabet="abcXYZ 0", min_size=0, max_size=50), min_size=1, max_size=5),
    st.integers(2, 12),
    st.integers(1, 12),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_documents_matches_python_reference(spark, texts, width, stride):
    """Chunking invariant under random geometry: Spark output equals
    the obvious Python reference (full coverage, stride-aligned
    starts, last chunk short)."""
    from faexport_db_spark.training.text import chunk_documents

    stride = min(stride, width)
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in chunk_documents(docs, width=width, stride=stride).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        n_chunks = 1 if len(t) <= width else -(-(len(t) - width) // stride) + 1
        for c in range(n_chunks):
            want[(i, c)] = t[c * stride : c * stride + width]
    assert got == want


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 99)), min_size=0, max_size=20),
    st.lists(st.tuples(st.integers(0, 3), st.text(max_size=3)), min_size=0, max_size=8),
    st.integers(2, 6),
    st.sampled_from(["inner", "left"]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_join_equals_plain_join_property(spark, lrows, rrows, n_salt, how):
    """Salting is layout-only for ANY frames (skewed keys, duplicate
    right matches, unmatched rows), any salt width, both join types."""
    from faexport_db_spark.operators.partitioning import salted_join

    left = spark.createDataFrame(lrows or [(99, 0)], "k bigint, v bigint")
    right = spark.createDataFrame(rrows or [(98, "z")], "k bigint, w string")
    salted = salted_join(left, right, "k", n_salt=n_salt, how=how)
    plain = left.join(right, "k", how)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def _ref_substring_spans(docs: list[tuple[int, str | None]], k: int) -> set:
    """Brute-force reference for duplicate_substring_spans: count every
    k-gram over the corpus, mark positions whose gram repeats, merge
    consecutive positions into maximal runs."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs if t is not None and t.split()}
    grams: Counter = Counter()
    for ts in toks.values():
        for i in range(len(ts) - k + 1):
            grams[tuple(ts[i : i + k])] += 1
    spans = set()
    for d, ts in toks.items():
        dup = [
            i for i in range(len(ts) - k + 1) if grams[tuple(ts[i : i + k])] > 1
        ]
        runs: list[list[int]] = []
        for i in dup:
            if runs and i == runs[-1][1] + 1:
                runs[-1][1] = i
            else:
                runs.append([i, i])
        for s, e in runs:
            n = e - s + k
            spans.add((d, s, n, " ".join(ts[s : s + n])))
    return spans


def test_substring_spans_match_python_reference(spark):
    """Deterministic high-collision corpora (3-token vocab, doc length
    straddling the gram width) — island merging, maximality, offsets
    and span text all agree with the brute-force reference, including
    corpora with NULLs, empties, and sub-width docs."""
    import random

    from faexport_db_spark.training.text import duplicate_substring_spans

    rnd = random.Random(7)
    vocab = ["x", "y", "z"]
    for trial in range(8):
        docs: list[tuple[int, str | None]] = []
        for d in range(12):
            roll = rnd.random()
            if roll < 0.08:
                docs.append((d, None))
            elif roll < 0.16:
                docs.append((d, ""))
            else:
                n = rnd.randint(1, 12)
                docs.append((d, " ".join(rnd.choice(vocab) for _ in range(n))))
        k = rnd.choice([3, 4, 5])
        got = {
            (r["doc_id"], r["span_start"], r["n_tokens"], r["span_text"])
            for r in duplicate_substring_spans(
                spark.createDataFrame(docs, "doc_id bigint, text string"),
                min_tokens=k,
            ).collect()
        }
        want = _ref_substring_spans(docs, k)
        assert got == want, f"trial {trial} k={k}: {got ^ want}"


def _ref_bpe(corpus_words: list[str], n_merges: int) -> list[tuple]:
    """Brute-force BPE reference: frequency-weighted pair counts,
    lexicographic tie-break, greedy left-to-right merge."""
    from collections import Counter

    freq = Counter(corpus_words)
    seqs = {w: list(w) for w in freq}
    merges = []
    for it in range(n_merges):
        pc: Counter = Counter()
        for w, f in freq.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        top = max(pc.values())
        lhs, rhs = min(k for k, v in pc.items() if v == top)
        merges.append((it, lhs, rhs, lhs + rhs, top))
        for w, s in seqs.items():
            out: list[str] = []
            for sym in s:
                if out and out[-1] == lhs and sym == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(sym)
            seqs[w] = out
    return merges


def test_bpe_merges_match_python_reference(spark):
    """Random tiny-alphabet corpora (maximal pair collisions and
    aaaa-style overlap chains): the trainer's merge table equals the
    brute-force reference in order, counts and tie-breaks."""
    import random

    from faexport_db_spark.training.text import bpe_merges

    rnd = random.Random(11)
    for trial in range(5):
        words = [
            "".join(rnd.choice("ab") for _ in range(rnd.randint(1, 5)))
            for _ in range(rnd.randint(4, 20))
        ]
        docs = [(0, " ".join(words))]
        got = [
            tuple(r)
            for r in bpe_merges(
                spark.createDataFrame(docs, "doc_id bigint, text string"),
                n_merges=3,
            ).collect()
        ]
        want = _ref_bpe(words, 3)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_substring_removal_matches_python_reference(spark):
    """Removal form: tokens cut are exactly those covered by NON-keeper
    duplicated-gram occurrences (keeper = lowest (doc_id, pos) per
    gram), on high-collision random corpora with NULL/empty/short
    docs mixed in."""
    import random
    from collections import defaultdict

    from faexport_db_spark.training.text import substring_dedup

    rnd = random.Random(23)
    for trial in range(6):
        docs: list[tuple[int, str | None]] = []
        for d in range(10):
            roll = rnd.random()
            if roll < 0.1:
                docs.append((d, None))
            else:
                n = rnd.randint(1, 12)
                docs.append(
                    (d, " ".join(rnd.choice("xyz") for _ in range(n)))
                )
        k = rnd.choice([3, 4])

        occ = defaultdict(list)
        toks = {d: t.split() for d, t in docs if t is not None}
        for d in sorted(toks):
            ts = toks[d]
            for i in range(len(ts) - k + 1):
                occ[tuple(ts[i : i + k])].append((d, i))
        cut = defaultdict(set)
        for places in occ.values():
            if len(places) > 1:
                for d, i in places[1:]:  # places sorted by (d, i) already
                    cut[d].update(range(i, i + k))
        want = {}
        for d, t in docs:
            if t is None:
                continue
            ts = toks[d]
            kept = [w for i, w in enumerate(ts) if i not in cut[d]]
            want[d] = (" ".join(kept), len(ts), len(ts) - len(kept))

        got = {
            r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_tokens_removed"])
            for r in substring_dedup(
                spark.createDataFrame(docs, "doc_id bigint, text string"),
                min_tokens=k,
            ).collect()
        }
        assert got == want, f"trial {trial} k={k}"


def test_media_near_dup_matches_python_reference(spark):
    """Random payloads with random single/multi-chunk edits: surviving
    pairs and their match fractions equal the brute-force chunk
    comparison (no stop-chunk cap in play)."""
    import random
    from itertools import combinations

    from faexport_db_spark.training.multimodal import media_near_dup_pairs

    rnd = random.Random(31)
    CHUNK = 32
    for trial in range(4):
        payloads = {}
        base = bytes(rnd.getrandbits(8) for _ in range(CHUNK * rnd.randint(3, 6)))
        payloads[1] = base
        # edited copy: flip 1-2 whole chunks
        b = bytearray(base)
        for c in rnd.sample(range(len(base) // CHUNK), rnd.randint(1, 2)):
            for j in range(c * CHUNK, (c + 1) * CHUNK):
                b[j] ^= 0xFF
        payloads[2] = bytes(b)
        payloads[3] = bytes(rnd.getrandbits(8) for _ in range(len(base)))
        payloads[4] = base  # exact copy

        def chunks(p):
            return [p[i : i + CHUNK] for i in range(0, len(p), CHUNK)]

        want = {}
        for a, c in combinations(sorted(payloads), 2):
            ca, cb = chunks(payloads[a]), chunks(payloads[c])
            n = sum(1 for x, y in zip(ca, cb) if x == y)
            frac = n / min(len(ca), len(cb))
            if n > 0 and frac >= 0.5:
                want[(a, c)] = (n, round(frac, 6))

        rows = spark.createDataFrame(
            list(payloads.items()), "media_id bigint, media_bytes binary"
        )
        got = {
            (r["id_a"], r["id_b"]): (r["n_match"], r["match_frac"])
            for r in media_near_dup_pairs(
                rows, threshold=0.5, chunk_bytes=CHUNK
            ).collect()
        }
        assert got == want, f"trial {trial}"


# --- KMV sketch vs pure-Python model --------------------------------------

import hashlib


def _kmv_model(values, k):
    """Reference bottom-k of distinct 60-bit md5 hashes."""
    hashes = {int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) for v in values}
    return sorted(hashes)[:k]


@given(
    st.lists(st.text(min_size=0, max_size=6), min_size=0, max_size=300),
    st.integers(2, 32),
    st.integers(1, 6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_kmv_sketch_matches_python_model(spark, values, k, nparts):
    """The distributed bottom-k equals the single-machine reference
    for arbitrary duplicate-heavy inputs and partition counts; union
    over an arbitrary split equals the whole-corpus sketch."""
    from pyspark.sql import functions as F

    from faexport_db_spark.training.pipeline import kmv_sketch, kmv_union

    df = spark.createDataFrame([(v,) for v in values] or [(None,)], "text string")
    df = df.filter(F.col("text").isNotNull()).repartition(nparts)
    got = [r["hval"] for r in kmv_sketch(df, "text", k=k).collect()]
    assert got == _kmv_model([v for v in values], k)
    half_a = df.filter(F.length("text") % 2 == 0)
    half_b = df.filter(F.length("text") % 2 == 1)
    u = kmv_union(
        kmv_sketch(half_a, "text", k=k), kmv_sketch(half_b, "text", k=k), k=k
    )
    assert [r["hval"] for r in u.collect()] == got


# --- quantized k-means vs pure-Python model -------------------------------


def _kmeans_model(rows, k, iters, scale=10_000, shift=20_000):
    """Reference implementation of kmeans_quantized's exact-integer
    contract (float32 widening, floor quantization, argmin with
    lowest-cid ties, floor-mean update, empty keeps centroid)."""
    import math

    import numpy as np

    q = {
        vid: [int(math.floor(float(np.float32(x)) * scale)) + shift for x in vec]
        for vid, vec in rows
    }
    cents = [list(q[vid]) for vid in sorted(q)[:k]]

    def dist(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def assign():
        return {
            vid: min(range(k), key=lambda c: (dist(q[vid], cents[c]), c)) for vid in q
        }

    for _ in range(iters):
        a = assign()
        for c in range(k):
            members = [q[v] for v, cid in a.items() if cid == c]
            if members:
                cents[c] = [
                    sum(m[j] for m in members) // len(members)
                    for j in range(len(cents[c]))
                ]
    a = assign()
    return {vid: (a[vid], dist(q[vid], cents[a[vid]])) for vid in q}, cents


@given(
    st.integers(2, 4),   # dims
    st.integers(1, 4),   # k
    st.integers(0, 2),   # iters
    st.lists(st.floats(-2, 2, allow_nan=False, width=32), min_size=4 * 12, max_size=4 * 12),
    st.integers(2, 5),   # partitions
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_kmeans_quantized_matches_python_model(spark, dims, k, iters, flat, nparts):
    from faexport_db_spark.training.similarity import kmeans_quantized

    n = max(k, 8)
    rows = [(i, flat[i * dims : (i + 1) * dims]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).repartition(nparts)
    out, cents = kmeans_quantized(df, k=k, iters=iters)
    got = {r["vec_id"]: (r["cid"], r["dist"]) for r in out.collect()}
    want, want_cents = _kmeans_model(rows, k, iters)
    assert got == want
    assert cents == want_cents


# --- dyadic quantile sketch vs pure-Python model --------------------------


def _qsketch_model(values):
    """Reference register table: bucket = bit_length(v) for v > 0,
    0 for v <= 0."""
    from collections import Counter

    c = Counter((v.bit_length() if v > 0 else 0) for v in values)
    return dict(c)


@given(
    st.lists(st.integers(0, 2**40), min_size=1, max_size=300),
    st.integers(1, 6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_qsketch_matches_python_model_and_brackets_hold(spark, values, nparts):
    """Registers equal the single-machine bit-length histogram for any
    input and partitioning; every requested bracket contains the true
    percentile_disc value; shard-merge by SUM equals the whole-corpus
    sketch."""
    import math

    from pyspark.sql import functions as F

    from faexport_db_spark.training.pipeline import (
        qsketch_quantile_brackets,
        qsketch_register_table,
    )

    df = spark.createDataFrame([(v,) for v in values], "v long").repartition(nparts)
    regs = qsketch_register_table(df, "v")
    got = {r["bucket"]: r["cnt"] for r in regs.collect()}
    assert got == _qsketch_model(values)

    qs = [1, 50, 99]
    rows = {r["q_pct"]: r for r in qsketch_quantile_brackets(regs, qs).collect()}
    svals = sorted(values)
    for q in qs:
        rank = max(1, math.ceil(q * len(values) / 100))
        true = svals[rank - 1]
        b = rows[q]
        assert b["lo"] <= true <= b["hi"], (q, true, dict(b.asDict()))

    half_a = df.filter(F.col("v") % 2 == 0)
    half_b = df.filter(F.col("v") % 2 == 1)
    merged = {
        r["bucket"]: r["cnt"]
        for r in qsketch_register_table(half_a, "v")
        .unionAll(qsketch_register_table(half_b, "v"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == got
