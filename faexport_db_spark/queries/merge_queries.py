"""M1-M8 merge-family queries over the driver fixture tables.

The faexport-shaped golden semantics live in ``operators/merge.py`` and
are pinned by unit tests; these registry entries demonstrate the same
operator shapes on the driver's ``events``/``documents``/``customer``
tables so the DuckDB oracle can check them (FIXTURES.md §B mapping:
entity = ``user_id``, recency = ``ts``, ``props`` plays extra_data).

Spark/DuckDB equivalence notes (verified):
- Spark ``max_by(v, ts)`` returns NULL when v is null at the max ts;
  DuckDB ``arg_max`` skips null v. We therefore always mask the order
  key (``max_by(v, CASE WHEN pred THEN ts END)``) and mirror with
  ``arg_max(...) FILTER (WHERE pred)``.
- Double sums are order-sensitive in the last ulp: every summed double
  is rounded to 2 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.folds import merged_files
from faexport_db_spark.operators.merge import (
    latest_value,
    newest_matching,
    newest_non_null,
    snapshot_order,
)
from faexport_db_spark.queries.registry import register

ISO = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from faexport_db_spark.operators.partitioning import fan_out

    # The fixture table is one parquet file → one scan task; fan_out
    # spreads the map side across cores (no-op on many-split inputs).
    # Every consumer's first shuffle clusters on user_id (or a superset
    # like (user_id, props_key)), so hash-partitioning by it here makes
    # this the ONLY exchange in those plans and skips round-robin's
    # sort-before-repartition (measured 1.22 s → 0.37 s on the flagship).
    return fan_out(load_table(spark, sf_dir, "events"), by=["user_id"])


@register(
    "merged_entity",
    oracle="""
    SELECT m.user_id, m.snapshot_count, m.first_scanned, m.latest_update,
           m.latest_event_type, m.last_purchase_value, m.latest_k,
           m.total_value, c.c_name, c.c_mktsegment
    FROM (
      SELECT user_id,
             count(*) AS snapshot_count,
             min(ts) AS first_scanned,
             max(ts) AS latest_update,
             arg_max(event_type, ts) AS latest_event_type,
             arg_max(value, ts) FILTER (WHERE event_type = 'purchase') AS last_purchase_value,
             arg_max(CAST(json_extract_string(props, '$.k') AS BIGINT), ts) AS latest_k,
             round(CAST(sum(value) AS DOUBLE), 2) AS total_value
      FROM events GROUP BY user_id
    ) m LEFT JOIN customer c ON m.user_id = c.c_custkey
    """,
)
def merged_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: merge-to-current-entity rollup over the events stream
    (the driver-table restatement of GET /api/view/submissions — SURVEY
    §3.1, §7.1), then a broadcast dim join (J1 shape).

    Single shuffle on the high-cardinality entity key with map-side
    partial aggregation; the dim join is broadcast so no second
    shuffle. This is the plan the reference needs 4 SQL round-trips +
    Python merge loops to produce.
    """
    events = _events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    order = snapshot_order("ts", "event_id")
    merged = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("snapshot_count"),
        F.min("ts").alias("first_scanned"),
        F.max("ts").alias("latest_update"),
        latest_value("event_type", order).alias("latest_event_type"),
        newest_matching("value", F.col("event_type") == "purchase", order).alias(
            "last_purchase_value"
        ),
        newest_non_null(
            F.get_json_object("props", "$.k").cast("bigint"), order
        ).alias("latest_k"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return merged.join(
        F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
        merged.user_id == F.col("c_custkey"),
        "left",
    ).drop("c_custkey")


@register(
    "m1_snapshot_order",
    oracle="""
    SELECT user_id, event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS BIGINT)
             AS recency_rank
    FROM events
    """,
)
def m1_snapshot_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 sorted_snapshots: recency ranking within each entity.

    Reference: models/submission.py:27-29 (sort desc by scan_datetime).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return _events(spark, sf_dir).select(
        "user_id", "event_id", F.row_number().over(w).cast("bigint").alias("recency_rank")
    )


@register(
    "m2_latest_value",
    oracle="""
    SELECT user_id, arg_max(event_type, ts) AS latest_event_type,
           arg_max(value, ts) AS latest_value
    FROM events GROUP BY user_id
    """,
)
def m2_latest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 latest-snapshot value (is_deleted shape).

    Reference: models/submission.py:31-33. ``event_type``/``value`` are
    never null in the fixture, so max_by == arg_max here.
    """
    order = snapshot_order("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            latest_value("event_type", order).alias("latest_event_type"),
            latest_value("value", order).alias("latest_value"),
        )
    )


@register(
    "m3_scan_bounds",
    oracle="""
    SELECT user_id, min(ts) AS first_scanned, max(ts) AS latest_update,
           CAST(count(*) AS BIGINT) AS snapshot_count
    FROM events GROUP BY user_id
    """,
)
def m3_scan_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 first/last scan datetime + A6 snapshot_count.

    Reference: models/submission.py:35-41,111.
    """
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_scanned"),
            F.max("ts").alias("latest_update"),
            F.count(F.lit(1)).alias("snapshot_count"),
        )
    )


@register(
    "m4_newest_non_null",
    oracle="""
    SELECT user_id,
           arg_max(value, ts) FILTER (WHERE event_type = 'purchase') AS last_purchase_value,
           arg_max(value, ts) FILTER (WHERE event_type = 'error') AS last_error_value
    FROM events GROUP BY user_id
    """,
)
def m4_newest_non_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 newest-non-null coalesce: the value walk skips rows where the
    field is absent (here: events of other types).

    Reference: models/submission.py:43-69.
    """
    order = snapshot_order("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            newest_matching("value", F.col("event_type") == "purchase", order).alias(
                "last_purchase_value"
            ),
            newest_matching("value", F.col("event_type") == "error", order).alias(
                "last_error_value"
            ),
        )
    )


@register(
    "m5_extra_data_merge",
    oracle="""
    SELECT user_id, k.key AS props_key,
           arg_max(json_extract_string(props, '$.' || k.key), ts) AS latest_value
    FROM events, unnest(json_keys(props)) AS k(key)
    GROUP BY user_id, k.key
    """,
)
def m5_extra_data_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 layered JSON merge, key-wise: folding dicts oldest→newest with
    overlay-wins is equivalent per top-level key to "newest value for
    that key" — which IS SQL-expressible, so the oracle can check it.
    (The nested-fidelity fold is ``merge_extra_data_history_expr`` in
    ``operators/folds.py``; tests compare it byte for byte with the
    Python golden ``_fold_json_history`` in ``tests/golden_folds.py``.)
    Reference: models/submission.py:71-77, db.py:10-17.
    """
    order = snapshot_order("ts", "event_id")
    exploded = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.explode(F.from_json("props", "map<string,string>")).alias(
                "props_key", "props_value"
            ),
        )
    )
    return exploded.groupBy("user_id", "props_key").agg(
        newest_non_null("props_value", order).alias("latest_value")
    )


@register(
    "m6_newest_recorded_list",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(string_split(
             arg_max(text, doc_id) FILTER (WHERE source = 'src0'), ' ')), ' ')
             AS sorted_tokens
    FROM documents GROUP BY lang
    """,
)
def m6_newest_recorded_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 newest-recorded keyword list: take the list from the newest
    snapshot where it was recorded, then sort it.

    Reference: models/submission.py:79-87 (sort key (ordinal, keyword)).
    Demonstrated on documents: newest src0 doc's tokens per lang.
    """
    order = snapshot_order("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(
            F.array_sort(
                newest_matching(F.split("text", " "), F.col("source") == "src0", order)
            ),
            " ",
        ).alias("sorted_tokens")
    )


def m7_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The (snapshots, files, hashes) trio driving M7: events recast as
    file rows — entity=user, site_file_id=event_type, url/size derived
    from value so url changes across the stream force clash resets.

    Since r10 the registered ``m7_file_clash_merge`` no longer goes
    through this trio — all three branches derive from the same events
    row, so the query builds ``merged_files``'s keyed frame directly
    (one projection, no joins; see its docstring). This constructor
    remains the generic-operator fixture: the plan tests drive
    ``merged_files`` through it, and it documents the recast mapping.

    Only the ``files`` branch is fanned out: it is the probe/fold side
    that carries every row through the entity exchange, while ``snaps``
    and ``hashes`` feed a broadcast join / pre-aggregation whose own
    exchange re-distributes anyway — fanning those out too added one
    round-robin exchange per branch for nothing (measured: 1.53 s →
    1.24 s at sf0.1)."""
    from faexport_db_spark.operators.partitioning import fan_out

    raw = load_table(spark, sf_dir, "events")
    ev = fan_out(raw, by=["event_id"])
    snaps = raw.select(
        F.lit("events").alias("website_id"),
        F.col("user_id").cast("string").alias("site_submission_id"),
        F.col("event_id").alias("submission_snapshot_id"),
        F.col("ts").alias("scan_datetime"),
    )
    files = ev.select(
        F.col("event_id").alias("file_id"),
        F.col("event_id").alias("submission_snapshot_id"),
        F.col("event_type").alias("site_file_id"),
        F.concat(F.lit("u"), F.floor(F.col("value") / 20).cast("string")).alias("file_url"),
        (F.get_json_object("props", "$.k").cast("bigint") % 5).alias("file_size"),
        F.col("props").alias("extra_data"),
    )
    hashes = raw.select(
        F.col("event_id").alias("file_id"),
        F.lit(1).cast("bigint").alias("algo_id"),
        F.unhex(F.md5(F.col("event_type"))).alias("hash_value"),
    )
    return snaps, files, hashes


@register("m7_file_clash_merge")  # stateful ordered fold — no SQL oracle (rows-only)
def m7_file_clash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 clash-reset file merge over the ``m7_parts`` recast.

    Reference semantics: models/file.py:50-72, models/submission.py:89-104;
    golden unit tests pin the exact fold. Not SQL-expressible (a clash
    discards accumulated hash state), so the driver records rows-only.

    All three ``m7_parts`` branches derive from the SAME events row
    (snapshot id = file id = event_id, one hash row per event), so the
    generic ``merged_files`` prelude — a hash groupBy + two joins over
    three scans of the table — collapses to ONE projection of one scan
    (guide §8 problem knowledge / §2.4 remove shuffles outright):
    the nested hash list is ``array(struct(...))`` of the row's own
    derived hash (≡ the groupBy's single-element ``collect_list``) and
    the snapshot keys ride the row itself (≡ the 1:1 snapshot join).
    ``fan_out`` hash-partitions by the fold's grouping key, so its
    exchange IS the groupBy's — the whole query is one exchange, no
    joins. Output identical: the golden fold (``merged_files_keyed``)
    is unchanged, and ``m7_clash_fold_checked`` oracle-checks the
    result through DuckDB.
    """
    from faexport_db_spark.operators.folds import merged_files_keyed
    from faexport_db_spark.operators.partitioning import fan_out

    raw = load_table(spark, sf_dir, "events")
    ev = fan_out(
        raw, by=[F.col("user_id").cast("string"), F.col("event_type")]
    )
    keyed = ev.select(
        F.lit("events").alias("website_id"),
        F.col("user_id").cast("string").alias("site_submission_id"),
        F.col("event_type").alias("site_file_id"),
        F.col("ts").alias("scan_datetime"),
        F.col("event_id").alias("submission_snapshot_id"),
        F.col("event_id").alias("file_id"),
        F.concat(F.lit("u"), F.floor(F.col("value") / 20).cast("string")).alias(
            "file_url"
        ),
        (F.get_json_object("props", "$.k").cast("bigint") % 5).alias("file_size"),
        F.col("props").alias("extra_data"),
        F.array(
            F.struct(
                F.lit(1).cast("bigint").alias("algo_id"),
                F.base64(F.unhex(F.md5(F.col("event_type")))).alias("hash_b64"),
            )
        ).alias("hashes_list"),
    )
    return merged_files_keyed(keyed)


@register(
    "m7_clash_fold_checked",
    oracle="""
    WITH rows AS (
      SELECT CAST(user_id AS VARCHAR) AS site_submission_id,
             event_type AS site_file_id,
             'u' || CAST(CAST(floor(value/20) AS BIGINT) AS VARCHAR) AS file_url,
             CAST(json_extract_string(props,'$.k') AS BIGINT) % 5 AS file_size,
             event_id, ts
      FROM events
    ),
    grouped AS (
      SELECT site_submission_id, site_file_id,
             list(struct_pack(url := file_url, size := file_size)
                  ORDER BY ts, event_id) AS hist
      FROM rows GROUP BY site_submission_id, site_file_id
    )
    SELECT 'events' AS website_id, site_submission_id, site_file_id,
           folded.url AS file_url, folded.size AS file_size
    FROM (
      SELECT site_submission_id, site_file_id,
             list_reduce(hist, (acc, x) -> CASE WHEN
                 (x.url IS NOT NULL AND acc.url IS NOT NULL AND acc.url <> x.url)
                 OR (x.size IS NOT NULL AND acc.size IS NOT NULL AND acc.size <> x.size)
               THEN x ELSE acc END) AS folded
      FROM grouped
    )
    """,
)
def m7_clash_fold_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7's clash-reset CORE, oracle-checked through the real fold.

    Same pipeline as ``m7_file_clash_merge`` (the actual
    ``merged_files_keyed`` expression fold), projected to the columns DuckDB
    can reproduce: a ``list_reduce`` lambda replays the reset rule —
    conflicting non-null url/size replaces the accumulated state, which
    is otherwise immutable. The state for one file key only ever
    changes on that key's own rows, so folding the per-(entity, file)
    subsequence equals folding the full entity stream; the JSON-merge
    and hash-union outputs stay under the rows-only entry + golden
    tests (canonical-JSON key order isn't SQL-reproducible).
    """
    return m7_file_clash_merge(spark, sf_dir).select(
        "website_id", "site_submission_id", "site_file_id", "file_url", "file_size"
    )


@register(
    "m8_entity_web_json",
    oracle="""
    SELECT user_id,
           '{"user_id":' || user_id || ',"snapshot_count":' || count(*) ||
           ',"first_scanned":"' || strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') ||
           '","latest_update":"' || strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') || '"}'
             AS web_json
    FROM events GROUP BY user_id
    """,
)
def m8_entity_web_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 entity → nested JSON serialization with ISO datetime coercion.

    Reference: models/submission.py:106-125, db.py:40-50. Built by
    string concat on both sides so formatting is bit-identical.
    """
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.concat(
                F.lit('{"user_id":'),
                F.col("user_id").cast("string"),
                F.lit(',"snapshot_count":'),
                F.count(F.lit(1)).cast("string"),
                F.lit(',"first_scanned":"'),
                F.date_format(F.min("ts"), ISO),
                F.lit('","latest_update":"'),
                F.date_format(F.max("ts"), ISO),
                F.lit('"}'),
            ).alias("web_json")
        )
    )


@register(
    "m9_scd2_history",
    oracle="""
    WITH w AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey)
           - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                ORDER BY o_orderdate, o_orderkey) AS island
      FROM orders
    )
    SELECT o_custkey, o_orderstatus,
           min(o_orderdate) AS valid_from,
           max(o_orderdate) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_snapshots
    FROM w GROUP BY o_custkey, o_orderstatus, island
    """,
)
def m9_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — snapshot stream -> SCD2 validity intervals
    (gaps-and-islands): per customer, consecutive orders with the same
    status collapse into one interval; a status change opens a new
    one. The merge-engine shape for "what did this entity look like
    over time" history tables, complementing M1-M8's latest-state
    merges. Both windows share one entity-keyed exchange."""
    from faexport_db_spark.operators.merge import scd2_collapse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    return scd2_collapse(
        orders,
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        value_col="o_orderstatus",
    ).drop("o_orderkey")


@register(
    "m10_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_custkey, o_orderkey AS seq, o_totalprice,
             CASE WHEN o_orderkey % 11 = 7 THEN 'D' ELSE 'U' END AS op
      FROM orders
    ),
    latest AS (
      SELECT o_custkey, seq, o_totalprice, op,
             row_number() OVER (PARTITION BY o_custkey ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT o_custkey, seq, o_totalprice
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def m10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 — CDC changelog materialization (operators/merge.py::
    cdc_apply): a deterministic upsert/delete log derived from orders
    (every 11th-congruent order is a tombstone) compacts to the
    current per-customer state — latest sequence wins, keys whose
    winner is a tombstone vanish, earlier deletes are revived by later
    upserts. The snapshot-vs-changelog duality the reference's
    append-then-dedup ingest contract (SURVEY §2.10) implies, made
    explicit; one key-hash exchange."""
    from faexport_db_spark.operators.merge import cdc_apply

    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("seq"),
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 7, "D").otherwise("U").alias("op"),
    )
    return cdc_apply(log, ["o_custkey"], "seq")


@register(
    "m11_bitemporal_asof",
    oracle="""
    WITH cut AS (
      SELECT CAST(max(event_id) * 7 // 10 AS BIGINT) AS t_max FROM events
    ),
    visible AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type, e.value
      FROM events e, cut
      WHERE e.ts <= TIMESTAMP '2024-01-15 00:00:00' AND e.event_id <= cut.t_max
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rk
      FROM visible
    )
    SELECT user_id,
           max(CASE WHEN rk = 1 THEN event_type END) AS asof_type,
           max(CASE WHEN rk = 1 THEN value END) AS asof_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
           CAST(count(*) AS BIGINT) AS n_versions
    FROM r GROUP BY user_id
    """,
)
def m11_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 — bitemporal as-of point query over the snapshot stream:
    entity state at VALID time V (event timestamp <= Jan 15) as the
    store KNEW it at TRANSACTION time T (arrival sequence <= the 70th
    percentile of event ids, computed in-engine — no SF-dependent
    constant). The audit/backfill primitive SCD2 (m9) can't answer:
    late-arriving rows with old timestamps are excluded by T even
    though V admits them. One struct-argmax aggregate after two
    pushed filters; the T cutoff broadcasts as a 1-row scalar."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr("CAST(max(event_id) * 7 DIV 10 AS BIGINT)").alias("t_max")
    )
    visible = ev.crossJoin(F.broadcast(cut)).filter(
        (F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp"))
        & (F.col("event_id") <= F.col("t_max"))
    )
    order = F.struct(F.col("ts"), F.col("event_id"))
    return visible.groupBy("user_id").agg(
        F.max_by("event_type", order).alias("asof_type"),
        F.max_by("value", order).alias("asof_value"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("asof_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )


@register(
    "m12_conflict_report",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_snapshots,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           count(DISTINCT o_orderstatus) > 1
             OR count(DISTINCT o_orderpriority) > 1 AS has_conflict
    FROM orders GROUP BY o_custkey
    """,
)
def m12_conflict_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 — merge-conflict audit across an entity's snapshot stream:
    how many distinct values each merged field saw, and whether any
    field ever disagreed — the table that says which entities the
    newest-non-null rule (M4) actually had to arbitrate vs merely
    copy. One multi-distinct aggregate per entity key (Catalyst
    expands it in a single scan), the audit sibling of the merge
    family's latest-state ops."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_snapshots"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_statuses"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        (
            (F.countDistinct("o_orderstatus") > 1)
            | (F.countDistinct("o_orderpriority") > 1)
        ).alias("has_conflict"),
    )
