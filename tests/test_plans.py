"""Plan-quality audits: scale properties asserted on the physical plan.

These catch regressions that would only hurt at cluster scale —
a filter that stops reaching the scan, a dim join that stops
broadcasting, an extra shuffle — while running in milliseconds at
sf0.001 (nothing executes; only the plan is inspected).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.merge import merged_users
from faexport_db_spark.plans import (
    assert_plan,
    formatted_plan,
    join_strategies,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from faexport_db_spark.queries import QUERIES


@pytest.mark.slow
def test_point_filter_pushes_to_scan(spark, sf_small):
    """F1 shape: the compound-key predicate must reach the parquet
    reader (the Spark analog of the reference's covering index,
    schema/indexes.sql:10-11)."""
    ev = load_table(spark, sf_small, "events")
    q = ev.filter((F.col("user_id") == 7) & (F.col("event_type") == "click"))
    assert_plan(q, requires_pushed_filter="user_id")
    assert_plan(q, requires_pushed_filter="event_type")


def test_projection_prunes_read_schema(spark, sf_small):
    """F7: a 2-column projection must read 2 columns, not 16."""
    li = load_table(spark, sf_small, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    assert_plan(q, max_read_columns=2)


def test_fact_dim_join_broadcasts(spark, sf_small):
    """J1 shape: dim side broadcasts; no sort-merge, no shuffle of the
    fact side just to join a tiny dim."""
    q = QUERIES["j1_fact_dim_left_join"](spark, sf_small)
    assert_plan(q, require_join=("BroadcastHashJoin",), forbid_join=("SortMergeJoin",))


def test_hash_search_chain_pushes_predicate_below_joins(spark, sf_small):
    """J3: the search predicate must sit on a scan, not above the
    3-join chain."""
    q = QUERIES["j3_hash_search_chain"](spark, sf_small)
    assert_plan(q, requires_pushed_filter="l_partkey")


def test_merged_users_is_single_shuffle(spark, sf_small):
    """The scalar merge family (M1-M5) is ONE aggregation pass: exactly
    one shuffle on the entity key, and — with the expression-form M5
    fold — zero Python eval operators anywhere in the plan."""
    from tests.fixtures_faexport import user_snapshots as mk

    merged = merged_users(mk(spark))
    assert shuffle_count(merged) == 1
    assert_plan(merged, max_python_evals=0)


@pytest.fixture(scope="module")
def parquet_store(spark, tmp_path_factory):
    """The serve fixture store written the way the archive writes it
    (snapshot tables partitioned by website_id) and read back, so the plans
    have file scans with partition and pushed filters."""
    import tests.fixtures_faexport as fx
    from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT

    base = tmp_path_factory.mktemp("store")
    store = {}
    for name, make in (
        ("submission_snapshots", fx.submission_snapshots),
        ("submission_snapshot_keywords", fx.keywords),
        ("submission_snapshot_files", fx.files),
        ("submission_snapshot_file_hashes", fx.file_hashes),
        ("user_snapshots", fx.user_snapshots),
    ):
        path = str(base / name)
        DEFAULT_FORMAT.append(
            make(spark), path, ["website_id"] if name.endswith("_snapshots") else None
        )
        store[name] = DEFAULT_FORMAT.read(spark, path)
    store["archive_contributors"] = spark.createDataFrame(
        [(1, "scraper-one", "key-1")], "contributor_id bigint, name string, api_key string"
    )
    return store


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _executed_nodes(df) -> list:
    """Every node of ``df``'s executed physical plan, walked by
    ``children()``. An adaptive plan is entered at its current plan and
    a query stage at the plan it wraps."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        out.append(node)
        kind = _kind(node)
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _assert_filters_the_pinned_view(df, build, predicates: tuple[str, ...]) -> None:
    """``df`` is one filter over the pin of a serve view: one RDD scan,
    no in-memory or file scan, no join and no shuffle exchange; each of
    ``predicates`` is in the filter's condition, and the formatted plan
    is short, because it no longer describes the whole-store merge the
    pin was built from. ``build``, that merge, runs no Python."""
    import re

    nodes = _executed_nodes(df)
    kinds = [_kind(node) for node in nodes]
    assert kinds.count("RDDScanExec") == 1, kinds
    for kind in ("InMemoryTableScanExec", "FileSourceScanExec", "ShuffleExchangeExec"):
        assert kind not in kinds, kinds
    assert not [k for k in kinds if "Join" in k], kinds
    [condition] = [node.condition().toString() for node in nodes if _kind(node) == "FilterExec"]
    for predicate in predicates:
        assert re.search(predicate, condition), condition
    explained = formatted_plan(df)
    assert len(explained) < 5_000, len(explained)
    assert_plan(build, max_python_evals=0)


def test_view_submission_filters_the_materialized_merged_view(spark, parquet_store):
    """A view is one entity predicate on the pin of the store's merged
    view: the merge aggregates and child joins ran once, so the lookup
    scans no file, shuffles nothing and plans in a few lines."""
    from faexport_db_spark.serve.api import _merged_store, _merged_submission

    view = _merged_submission(parquet_store, "fa", "101")
    _assert_filters_the_pinned_view(
        view,
        _merged_store(parquet_store),
        (r"\(website_id#\d+ = fa\)", r"\(site_submission_id#\d+ = 101\)"),
    )


def test_view_user_filters_the_materialized_user_view(spark, parquet_store):
    """view_user is one entity predicate on the pin of the store's
    merged-user view."""
    from faexport_db_spark.serve.api import _merged_user, _merged_user_store

    view = _merged_user(parquet_store, "fa", "u1")
    _assert_filters_the_pinned_view(
        view,
        _merged_user_store(parquet_store),
        (r"\(website_id#\d+ = fa\)", r"\(site_user_id#\d+ = u1\)"),
    )


def test_submission_history_filters_the_materialized_nested_view(spark, parquet_store):
    """view_submission_snapshots filters the pin of the store's nested
    view; the newest-first order is applied in Python, so the plan
    has no sort and no shuffle."""
    from faexport_db_spark.serve.api import _nested_submission_snapshots, _submission_history

    history = _submission_history(parquet_store, "fa", "101")
    _assert_filters_the_pinned_view(
        history,
        _nested_submission_snapshots(parquet_store),
        (r"\(website_id#\d+ = fa\)", r"\(site_submission_id#\d+ = 101\)"),
    )


def test_search_hash_filters_the_materialized_nested_view(spark, parquet_store):
    """A hash search is one predicate on the file hashes of the nested
    view's pin, with no join to the file or hash tables and no sort."""
    from faexport_db_spark.serve.api import _hash_search, _nested_submission_snapshots

    search = _hash_search(parquet_store, 1, b"\x01\x01")
    _assert_filters_the_pinned_view(
        search,
        _nested_submission_snapshots(parquet_store),
        (r"exists\(files#\d+, .*hash_value = 0x0101\)",),
    )


def test_merged_submissions_plans_no_sort_aggregate(spark, parquet_store):
    """The archive export merges on ObjectHashAggregate: its
    collect_list aggregates carry every max_by with them, so no
    partition is sorted (the scalar-only merges do sort; merge.py)."""
    from faexport_db_spark.serve.api import _merged_store

    plan = _merged_store(parquet_store)._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" in plan and "SortAggregate" not in plan, plan


def test_pushed_filter_check_ignores_inferred_null_checks(spark, sf_small):
    """Catalyst infers IsNotNull(user_id) from a predicate it cannot push;
    that null check alone must not pass ``requires_pushed_filter``."""
    ev = load_table(spark, sf_small, "events")
    q = ev.filter(F.col("user_id") + 1 == 8)
    assert any("IsNotNull(user_id)" in f for f in pushed_filters(q)), pushed_filters(q)
    with pytest.raises(AssertionError, match="no scan pushed a filter on 'user_id'"):
        assert_plan(q, requires_pushed_filter="user_id")


def test_merged_entity_flagship_plan(spark, sf_small):
    """Flagship rollup: dims broadcast, no cartesian anywhere."""
    q = QUERIES["merged_entity"](spark, sf_small)
    strategies = join_strategies(q)
    assert strategies["CartesianProduct"] == 0
    assert strategies["BroadcastNestedLoopJoin"] == 0
    assert strategies["BroadcastHashJoin"] >= 1


@pytest.mark.slow
def test_training_hot_paths_stay_jvm_side(spark, sf_small):
    """Dedup/text operators are expression-only: no Python eval
    operators anywhere in their plans (UDFs are the slow path)."""
    for name in ("t_exact_dedup", "t_simhash_dedup", "t_token_count", "t_lang_id"):
        assert_plan(QUERIES[name](spark, sf_small), max_python_evals=0)


def test_exact_dedup_reads_only_needed_columns(spark, sf_small):
    q = QUERIES["t_exact_dedup"](spark, sf_small)
    schemas = read_schemas(q)
    assert schemas and all(s.count(":") <= 2 for s in schemas), schemas


def test_signature_stages_are_shuffle_free(spark, sf_small):
    """MinHash/SimHash signatures are narrow map-side projections:
    zero exchanges before banding (the higher-order array formulation —
    an explode+groupBy here would shuffle the whole corpus)."""
    from faexport_db_spark.training.dedup import (
        minhash_signatures,
        simhash_signatures,
    )

    docs = load_table(spark, sf_small, "documents")
    assert shuffle_count(minhash_signatures(docs)) == 0
    assert shuffle_count(simhash_signatures(docs)) == 0
    assert_plan(minhash_signatures(docs), max_python_evals=0)


@pytest.mark.slow
def test_lsh_candidates_never_broadcast_the_corpus(spark, sf_small):
    """The near-dup pipelines' only broadcasts are the (small)
    candidate-pair frames in the verify stage — the banded corpus is
    grouped, not self-joined, so no corpus-sized broadcast and no
    nested-loop/cartesian strategy can appear."""
    for name in ("t_minhash_lsh_dedup", "t_simhash_dedup", "t_embed_cosine_dedup_lsh"):
        strategies = join_strategies(QUERIES[name](spark, sf_small))
        assert strategies["BroadcastNestedLoopJoin"] == 0, (name, strategies)
        assert strategies["CartesianProduct"] == 0, (name, strategies)
        assert strategies["SortMergeJoin"] == 0, (name, strategies)


def test_m7_expression_fold_has_no_python(spark, sf_small):
    """The M7 clash-reset fold is pure Catalyst: a single aggregate
    left fold after the (entity, file)-key groupBy, with NO Python eval
    operator in the plan."""
    from faexport_db_spark.queries.merge_queries import m7_parts

    snaps, files, hashes = m7_parts(spark, sf_small)
    from faexport_db_spark.operators.folds import merged_files

    assert_plan(merged_files(snaps, files, hashes), max_python_evals=0)


def test_m7_registered_query_is_one_exchange_no_joins(spark, sf_small):
    """The registered m7_file_clash_merge (r10 shape): all three
    m7_parts branches derive from the same events row, so the plan must
    be ONE projection of ONE scan — no joins, no planner-inserted
    exchange (the keyed fan-out IS the fold groupBy's clustering), and
    zero Python evals (expr fold)."""
    from faexport_db_spark.plans.audit import _physical_plan
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["m7_file_clash_merge"](spark, sf_small)
    plan = _physical_plan(df)
    assert shuffle_count(df) == 0, "fold groupBy must reuse the fan-out exchange"
    for node in ("Join", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, (node, plan)
    # exactly one scan of the events fixture feeds the whole query
    assert plan.count("Scan parquet") == 1, plan


def test_sequence_pack_never_single_partitions(spark, sf_small):
    """The global-offset computation must be a distributed prefix sum:
    a naive ``Window.orderBy(doc_id)`` plans Exchange SinglePartition
    and funnels the corpus through one task — forbidden here. The
    input runs once: the returned plan reads only the materialized
    (id, n_tokens) copy, never the caller's source again."""
    from faexport_db_spark.plans.audit import _physical_plan
    from faexport_db_spark.training.pipeline import sequence_pack

    docs = load_table(spark, sf_small, "documents")
    df = sequence_pack(docs, budget=2048)
    plan = _physical_plan(df)
    assert "SinglePartition" not in plan
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert_plan(df, max_python_evals=0)


def test_remove_orphans_parent_side_has_no_aggregate(spark):
    """A left-semi join already has set semantics: the parent keys go
    straight into the join, no distinct() HashAggregate in front."""
    from faexport_db_spark.maintenance import remove_orphans
    from faexport_db_spark.plans.audit import _physical_plan

    child = spark.range(20).withColumnRenamed("id", "fk")
    parent = spark.range(10).withColumnRenamed("id", "pk")
    plan = _physical_plan(remove_orphans(child, parent, "fk", "pk"))
    assert "LeftSemi" in plan, plan
    assert "HashAggregate" not in plan, plan


def test_cleanup_returns_pinned_tables(spark, tmp_path):
    """Every table ``cleanup_to_fixpoint`` returns reads only its own
    materialized copy: no dedup window, no shuffle and no source scan
    left in the plan, so appending it to the store is a pure write."""
    from faexport_db_spark.maintenance.dedup import cleanup_to_fixpoint
    from faexport_db_spark.plans.audit import _physical_plan
    from tests.fixtures_faexport import dirty_tables

    tables = {}
    for name, df in dirty_tables(spark).items():
        df.write.parquet(str(tmp_path / name))
        tables[name] = spark.read.parquet(str(tmp_path / name))
    for name, df in cleanup_to_fixpoint(tables).items():
        plan = _physical_plan(df)
        assert plan.count("Scan ExistingRDD") == 1, (name, plan)
        for node in ("Window", "Exchange", "Scan parquet", "LocalTableScan"):
            assert node not in plan, (name, node, plan)


def test_stratified_sample_is_pure_map(spark, sf_small):
    """Sampling is a filter over per-row arithmetic — zero shuffles,
    predicate-free scan aside, nothing but a narrow projection."""
    from faexport_db_spark.training.pipeline import stratified_sample

    docs = load_table(spark, sf_small, "documents")
    df = stratified_sample(docs, rates={"en": 0.5}, default_rate=0.1)
    assert_plan(df, max_shuffles=0, max_python_evals=0)


def test_corpus_prep_and_clusters_stay_jvm_side(spark, sf_small):
    """The composite prep pipeline and the clustering rounds are pure
    expression plans: no Python eval, no cartesian/nested-loop joins."""
    from faexport_db_spark.training.pipeline import corpus_prep

    docs = load_table(spark, sf_small, "documents")
    assert_plan(
        corpus_prep(docs),
        max_python_evals=0,
        forbid_join=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    from faexport_db_spark.training.dedup import _large_star, _small_star

    pairs = QUERIES["t_ngram_jaccard_pairs"](spark, sf_small)
    edges = pairs.selectExpr("id_a AS src", "id_b AS dst")
    assert_plan(
        _small_star(_large_star(edges)),
        max_python_evals=0,
        forbid_join=("CartesianProduct",),
    )


def test_embed_code_rows_is_one_arrow_eval_no_shuffle(spark, sf_small):
    """Multi-table LSH coding is a single Arrow-batched matmul pass:
    exactly one Python eval operator (the vectorized coder — see
    similarity._code_rows for why an expression form loses here) and
    zero hash-partition exchanges before the bucket groupBy."""
    from faexport_db_spark.plans.audit import _physical_plan
    from faexport_db_spark.training.similarity import _code_rows

    emb = load_table(spark, sf_small, "embeddings")
    coded = _code_rows(emb, "vec_id", "embedding", 12, 6, 64, 42)
    plan = _physical_plan(coded)
    assert plan.count("ArrowEvalPython") == 1, plan
    # no planner-inserted exchange; the only allowed one is the
    # explicit fan-out spread (hash-keyed since r09, no-op at scale)
    assert shuffle_count(coded) == 0, plan


def test_decontaminate_broadcasts_benchmark_not_corpus(spark, sf_small):
    """The corpus-sized gram explode must meet the benchmark grams in
    a map-side broadcast join — never a sort-merge (which would
    shuffle every corpus gram)."""
    strategies = join_strategies(QUERIES["t_decontaminate"](spark, sf_small))
    assert strategies["SortMergeJoin"] == 0, strategies
    assert strategies["BroadcastNestedLoopJoin"] == 0, strategies
    assert strategies["CartesianProduct"] == 0, strategies


@pytest.mark.slow
def test_pq_topk_df_scans_code_table_once(spark, sf_small):
    """Scale contract of the DataFrame PQ form: ONE scan of the code
    table no matter how many queries, no Python evals, and the query
    panel joined via broadcast (VERDICT r03 item 4)."""
    from faexport_db_spark.plans.audit import _physical_plan, assert_plan
    from faexport_db_spark.training.similarity import (
        pq_encode,
        pq_topk_df,
        pq_train,
    )

    emb = load_table(spark, sf_small, "embeddings")
    books = pq_train(emb, m=8, k=8)
    codes = pq_encode(emb, books).localCheckpoint()  # pin: codes scan, not re-encode
    out = pq_topk_df(codes, emb.filter(F.col("vec_id") < 50), books, k=3)
    assert_plan(
        out,
        max_python_evals=0,
        require_join=("BroadcastNestedLoopJoin",),
        forbid_join=("SortMergeJoin",),
    )
    plan = _physical_plan(out)
    # exactly one scan of the checkpointed code table
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_passage_dedup_never_broadcasts_corpus(spark, sf_small):
    """Passage dedup's shape: tiles explode linearly, the per-hash
    aggregate combines map-side, the join back is an equi-join on the
    hash, the rebuild groups by doc — no Python, no cartesian, and
    nothing corpus-sized broadcast (the per-hash agg output is
    corpus-sized, so it must NOT be a broadcast side)."""
    from faexport_db_spark.plans.audit import assert_plan
    from faexport_db_spark.training.text import passage_dedup

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    out = passage_dedup(docs, tile_tokens=10)
    assert_plan(
        out,
        max_python_evals=0,
        forbid_join=("BroadcastNestedLoopJoin", "CartesianProduct"),
    )


@pytest.mark.slow
def test_ivfpq_codes_are_one_projection_no_self_join(spark, sf_small):
    """The coded corpus (codes + cell id) must be a single map-side
    projection of the corpus — never a corpus-with-corpus join — and
    the probe must reach it through a broadcast equi-join on cid."""
    from faexport_db_spark.plans.audit import assert_plan
    from faexport_db_spark.training.similarity import (
        ivf_centroids,
        ivfpq_topk,
        pq_train,
    )

    emb = load_table(spark, sf_small, "embeddings")
    cents = ivf_centroids(emb, n_centroids=4, iters=1)
    books = pq_train(emb, m=8, k=8, iters=1)
    out = ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=2, nprobe=2,
        centroids=cents, codebooks=books,
    )
    assert_plan(
        out,
        max_python_evals=0,
        require_join=("BroadcastHashJoin",),
        forbid_join=("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"),
    )


def test_dedup_pipeline_shuffle_ceilings(spark, sf_small):
    """Exchange-count regression ceilings for the rewritten dedup
    pipelines (r04 shapes): SimHash = fan-out + signature-group agg +
    chunk-bucket agg + verified-pair dedup (4); passage dedup =
    per-hash agg (whose exchange the join back reuses) + per-doc
    rebuild (2). A new exchange sneaking into these plans is a scale
    regression even when results stay correct."""
    assert shuffle_count(QUERIES["t_simhash_dedup"](spark, sf_small)) <= 4
    assert shuffle_count(QUERIES["t_passage_dedup"](spark, sf_small)) <= 2
    # r07: the verify stage's candidate distinct folded into the
    # membership collect_set — fan-out + band groupBy + member groupBy
    # + per-pair groupBy is the whole pipeline now.
    assert shuffle_count(QUERIES["t_minhash_lsh_dedup"](spark, sf_small)) <= 3
    assert shuffle_count(QUERIES["t_embed_cosine_dedup_lsh"](spark, sf_small)) <= 3


@pytest.mark.slow
def test_semantic_dedup_shuffle_ceilings(spark, sf_small):
    """SemDeDup exchange ceilings: pairs = cell-bucket agg + candidate
    distinct + member groupBy + per-pair groupBy (4); survivors re-derive
    the pair subtree and add the removed-id distinct plus a sort-merge
    anti join (both sides exchange — deliberately NOT broadcast: at
    corpus scale the removed set is corpus-sized). K-means training
    collects only centroid-sized rows and never appears in the final
    plan."""
    assert shuffle_count(QUERIES["t_semantic_dedup_checked"](spark, sf_small)) <= 4
    assert shuffle_count(QUERIES["t_semantic_dedup"](spark, sf_small)) <= 10


def test_lm_perplexity_shuffle_ceilings(spark, sf_small):
    """Bigram-LM scoring exchange ceilings: unigram agg + two-phase
    countDistinct + bigram agg + per-doc score agg (+1 filter rejoin
    for the composed op). The only BNLJ is the broadcast 1-row stats
    frame; count-table joins must never go cartesian. The unigram
    broadcasts are hints, not requirements — at a vocab that can't
    broadcast they degrade to equi-shuffles, which these ceilings
    still admit."""
    for name, ceiling in (("t_lm_perplexity", 6), ("t_lm_ppl_filter", 7)):
        df = QUERIES[name](spark, sf_small)
        assert shuffle_count(df) <= ceiling, name
        strategies = join_strategies(df)
        assert strategies["CartesianProduct"] == 0, (name, strategies)
        assert strategies["BroadcastNestedLoopJoin"] <= 1, (name, strategies)


def test_new_join_and_agg_op_plans(spark, sf_small):
    """Plan-shape pins for the r05 operator additions: the as-of forms
    stay within union + window + right-dedup exchanges; the interval
    join NEVER degenerates to nested-loop/cartesian (the physical shape
    it exists to avoid — at fixture scale the (key, bin) equi-join may
    broadcast, at scale it hash-shuffles, both fine); rollup expands
    grouping sets inside ONE aggregate (+ its expand exchange); pivot
    is a single pinned-column aggregate pass."""
    for name, ceiling in (
        ("j9_asof_attribution", 3),
        ("st_asof_enrich", 3),
        ("a9_rollup_totals", 2),
        ("a10_pivot_event_matrix", 2),
    ):
        assert shuffle_count(QUERIES[name](spark, sf_small)) <= ceiling, name
    for name in ("j9_asof_attribution", "j10_interval_join", "st_asof_enrich"):
        strategies = join_strategies(QUERIES[name](spark, sf_small))
        assert strategies["CartesianProduct"] == 0, (name, strategies)
        assert strategies["BroadcastNestedLoopJoin"] == 0, (name, strategies)


@pytest.mark.slow
def test_bm25_shuffle_ceilings(spark, sf_small):
    """BM25 exchange-count regression ceilings: in-process = postings
    agg + df agg + doclens-stats agg + score agg + top-k window (6,
    with the single BNLJ being the broadcast 1-row stats frame);
    persisted probe = per-(term,doc) collapse + derived-df agg +
    score agg + top-k window (5) — all over the PRUNED buckets only;
    postings tokenization was paid at build time and stats come from
    the sidecar partials as literals, so no stats BNLJ remains. No
    cartesian or sort-merge join anywhere."""
    for name, ceiling, max_bnlj in (
        ("t_bm25_topk", 6, 1),
        ("t_bm25_persisted", 5, 0),
    ):
        df = QUERIES[name](spark, sf_small)
        assert shuffle_count(df) <= ceiling, name
        strategies = join_strategies(df)
        assert strategies["CartesianProduct"] == 0, (name, strategies)
        assert strategies["SortMergeJoin"] == 0, (name, strategies)
        assert strategies["BroadcastNestedLoopJoin"] <= max_bnlj, (name, strategies)


def test_line_dedup_shuffle_ceiling(spark, sf_small):
    """Line dedup = frequency agg on the line digest (whose exchange
    the join back reuses) + per-doc rebuild: same 2-exchange economics
    as passage dedup. More exchanges = scale regression."""
    assert shuffle_count(QUERIES["t_line_dedup"](spark, sf_small)) <= 2


def test_global_shuffle_never_single_partitions(spark, sf_small):
    """Deterministic global shuffle must use the chunked prefix sum,
    never row_number() over a global ORDER BY (Exchange
    SinglePartition = whole corpus through one task)."""
    from faexport_db_spark.plans.audit import _physical_plan
    from faexport_db_spark.training.pipeline import global_shuffle

    docs = load_table(spark, sf_small, "documents").select("doc_id")
    df = global_shuffle(docs, seed=7)
    plan = _physical_plan(df)
    assert "SinglePartition" not in plan
    # the returned plan keeps every input column, so it scans the
    # source once; the build-time jobs read their own narrow copy
    assert plan.count("Scan parquet") == 1, plan
    assert_plan(df, max_python_evals=0)


def test_quality_classifier_zero_exchange(spark, sf_small):
    """Hash-weight path is one pure expression: no exchange at all,
    no Python evals — the whole scorer runs inside the scan stage."""
    from faexport_db_spark.training.text import linear_quality_score

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    df = linear_quality_score(docs)
    assert shuffle_count(df) == 0
    assert_plan(df, max_python_evals=0)


def test_partitioned_sink_scan_prunes_partitions(spark, sf_small):
    """K6: the IN-filter on the partition column must become a
    PartitionFilters entry on the scan (pruned BEFORE IO), not a
    post-scan Filter over all partitions."""
    from faexport_db_spark.plans.audit import formatted_plan
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["k6_partitioned_sink"](spark, sf_small)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_range_search_zero_exchange(spark, sf_small):
    """Radius search is broadcast-join + fold + filter: no window, no
    shuffle — the whole operator runs inside the corpus scan stage."""
    from faexport_db_spark.training.similarity import range_search

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    df = range_search(emb, q, threshold=0.6)
    assert shuffle_count(df) == 0
    assert_plan(df, max_python_evals=0)


def test_semantic_against_index_probe_is_pruned_scan(spark, sf_small, tmp_path):
    """Incremental SemDeDup probe: the batch's assigned cell ids must
    become a PartitionFilters entry on the cid-partitioned index scan
    (pruned BEFORE IO — the property that makes the incremental path
    cheaper than re-running batch dedup), with the batch side
    broadcast, and no corpus-side re-assignment in the plan."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan
    from faexport_db_spark.training.similarity import (
        ivf_build,
        semantic_dedup_against_index,
    )

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "idx")
    ivf_build(emb, idx, n_centroids=8)
    batch = emb.limit(5).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding"
    )
    df = semantic_dedup_against_index(batch, idx)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_unicode_clean_is_map_only(spark, sf_small):
    """unicode_clean: zero exchanges, exactly one Arrow Python eval
    (the NFC pass) — the sanctioned-slow-path shape."""
    from faexport_db_spark.plans.audit import python_eval_count, shuffle_count
    from faexport_db_spark.training.text import unicode_clean

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    df = unicode_clean(docs)
    assert shuffle_count(df) == 0
    assert python_eval_count(df) == 1


def test_grouping_sets_single_expand_single_scan(spark, sf_small):
    """A14 compiles to ONE Expand + hash aggregate over ONE scan — the
    reason GROUPING SETS beats a union-of-aggregates at scale (which
    would scan the fact table once per set)."""
    from faexport_db_spark.plans.audit import formatted_plan
    from faexport_db_spark.queries import QUERIES

    import re

    df = QUERIES["a14_grouping_sets"](spark, sf_small)
    plan = formatted_plan(df)
    assert plan.count("Expand") >= 1
    # one scan NODE (formatted output names each node once in the tree
    # and once in the details section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_pagerank_exchange_ceiling(spark, sf_small):
    """G3: three rank iterations plan within a fixed exchange budget —
    each iteration is one contribution join + one dst aggregate, both
    keyed by node id; nothing global, nothing single-partition."""
    from faexport_db_spark.plans.audit import formatted_plan, shuffle_count
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["g3_pagerank"](spark, sf_small)
    assert shuffle_count(df) <= 18
    assert "Exchange SinglePartition" not in formatted_plan(df)


def test_keyset_pagination_pushes_anchor_and_avoids_global_sort(spark, sf_small):
    """O6: the anchor predicate must reach the parquet scan as a
    pushed filter on the leading sort column, and the page must plan
    as TakeOrderedAndProject — never a total sort or single-partition
    window (the thing that makes O5-style offsets O(pages²))."""
    from faexport_db_spark.plans.audit import formatted_plan, pushed_filters
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["o6_keyset_pagination"](spark, sf_small)
    plan = formatted_plan(df)
    assert any("o_orderdate" in f for f in pushed_filters(df)), pushed_filters(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "Exchange SinglePartition" not in plan


def test_interval_coverage_exchange_ceiling(spark, sf_small):
    """TS6: one entity-keyed window sort feeds both the boundary flag
    and the island id; with the two downstream aggregates the whole
    op stays within 3 exchanges, none single-partition."""
    from faexport_db_spark.plans.audit import formatted_plan, shuffle_count
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["ts6_interval_coverage"](spark, sf_small)
    assert shuffle_count(df) <= 3
    assert "Exchange SinglePartition" not in formatted_plan(df)


def test_bucketed_join_has_no_exchange(spark, sf_small):
    """K8: both sides bucketed+sorted on the join key — the join and
    the downstream aggregate must plan with ZERO Exchange nodes (the
    shuffle was pre-paid at write time; at 100 TB this is the whole
    point of bucketing)."""
    from faexport_db_spark.plans.audit import shuffle_count
    from faexport_db_spark.queries import QUERIES

    df = QUERIES["k8_bucketed_join"](spark, sf_small)
    assert shuffle_count(df) == 0


def test_chunk_overlap_is_map_only(spark, sf_small):
    """Chunking is a generator over stored columns: zero exchanges,
    zero Python evals — it parallelizes with the scan at any scale."""
    q = QUERIES["t_chunk_overlap"](spark, sf_small)
    assert_plan(q, max_shuffles=0, max_python_evals=0)


def test_char_entropy_zero_exchange_single_arrow_eval(spark, sf_small):
    """Entropy histograms stay inside one Arrow batch pass (the
    explode-per-character formulation would shuffle ~corpus bytes)."""
    from faexport_db_spark.plans.audit import python_eval_count

    q = QUERIES["t_char_entropy"](spark, sf_small)
    assert_plan(q, max_shuffles=0)
    assert python_eval_count(q) == 1  # the sanctioned Arrow UDF, nothing more


def test_pmi_collocations_exchange_ceiling(spark, sf_small):
    """Bigrams are built inside the row: two count groupBys + the two
    vocabulary joins — no self-join of the corpus, no window."""
    q = QUERIES["t_pmi_collocations"](spark, sf_small)
    assert_plan(q, max_shuffles=4, max_python_evals=0)


def test_length_buckets_single_shuffle(spark, sf_small):
    q = QUERIES["t_length_buckets"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)


def test_cluster_split_single_shuffle_no_join(spark, sf_small):
    """The default (exact-content) path picks cluster representatives
    with a window over the content hash — ONE exchange, no join back."""
    q = QUERIES["t_cluster_split"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)
    assert join_strategies(q)["SortMergeJoin"] == 0


def test_containment_exchange_ceiling_no_cartesian(spark, sf_small):
    """Containment candidates come from the shared-shingle equi-join,
    never an all-pairs product."""
    q = QUERIES["t_containment"](spark, sf_small)
    assert_plan(q, max_shuffles=4, max_python_evals=0)
    s = join_strategies(q)
    assert s["CartesianProduct"] == 0 and s["BroadcastNestedLoopJoin"] == 0


def test_iqr_outliers_single_shuffle_broadcast_fences(spark, sf_small):
    """The fence frame is group-cardinality-sized and must broadcast —
    re-shuffling the corpus to join 20 fence rows is the 100x failure."""
    q = QUERIES["t_iqr_outliers"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)
    s = join_strategies(q)
    assert s["BroadcastHashJoin"] >= 1 and s["SortMergeJoin"] == 0


def test_mad_broadcasts_medians_two_passes(spark, sf_small):
    """A16: the per-group median frame must broadcast back — the
    corpus re-shuffles once for the deviation pass, never for the
    join."""
    q = QUERIES["a16_mad"](spark, sf_small)
    assert_plan(q, max_shuffles=2, max_python_evals=0)
    s = join_strategies(q)
    assert s["BroadcastHashJoin"] >= 1 and s["SortMergeJoin"] == 0


def test_profile_drift_is_one_table_pass(spark, sf_small):
    """V4: both snapshots' statistics come from ONE conditional
    aggregate — a single scan, no self-join."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    q = QUERIES["v4_profile_drift"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)
    assert len(re.findall(r"\(\d+\) Scan parquet", formatted_plan(q))) == 1


def test_ntile_single_window_sort(spark, sf_small):
    q = QUERIES["w7_ntile_quartiles"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)


def test_corpus_build_is_two_exchanges_end_to_end(spark, sf_small):
    """The capstone build (filter -> dedup -> split -> account) runs
    in exactly the two unavoidable key groupings: the content-hash
    window (whose rep doubles as the split key) and the final
    (split, lang) aggregate. No joins, map-only in between."""
    q = QUERIES["t_corpus_build"](spark, sf_small)
    assert_plan(q, max_shuffles=2, max_python_evals=0)
    s = join_strategies(q)
    assert all(v == 0 for v in s.values()), s


def test_corpus_overlap_exchange_ceiling_no_cartesian(spark, sf_small):
    """Overlap candidates come from the shared-shingle equi-join over
    the DISTINCT (source, shingle) vocabulary — never an all-pairs
    source product, nothing corpus-sized broadcast by construction."""
    q = QUERIES["t_corpus_overlap"](spark, sf_small)
    assert_plan(q, max_shuffles=7, max_python_evals=0)
    s = join_strategies(q)
    assert s["CartesianProduct"] == 0 and s["BroadcastNestedLoopJoin"] == 0


def test_vocab_ids_never_single_partitions(spark, sf_small):
    """The frequency rank must NOT plan the naive global window's
    Exchange SinglePartition — the entire vocabulary through one
    task is the 100x failure the chunked prefix sum exists to avoid.
    The corpus explode+groupBy runs once: the returned plan reads only
    the materialized (token, cnt) table, never the documents again."""
    from faexport_db_spark.plans.audit import _physical_plan, formatted_plan

    q = QUERIES["t_vocab_ids"](spark, sf_small)
    assert "Exchange SinglePartition" not in formatted_plan(q)
    plan = _physical_plan(q)
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert_plan(q, max_python_evals=0)


def test_label_centroids_one_pass_no_explode(spark, sf_small):
    """The elementwise mean must be scalar aggregates over the stored
    array (one exchange of label-sized partials) — not an explode of
    n_rows x dim elements through the shuffle."""
    from faexport_db_spark.plans.audit import formatted_plan

    q = QUERIES["t_label_centroids"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)
    assert "Generate explode" not in formatted_plan(q)


def test_ncm_confusion_assignment_is_map_only(spark, sf_small):
    """The centroid argmax must be a literal expression over the
    stored vector (no join against a centroid table, no Python): the
    only exchange is the |labels|^2 confusion groupBy."""
    q = QUERIES["t_ncm_confusion"](spark, sf_small)
    assert_plan(q, max_shuffles=1, max_python_evals=0)
    s = join_strategies(q)
    assert all(v == 0 for v in s.values()), s


def test_fuzzy_join_no_cartesian_bounded_fanout(spark, sf_small):
    """J12's candidates must come from the variant equi-join — the
    levenshtein theta join the oracle uses would plan a nested-loop
    product."""
    q = QUERIES["j12_fuzzy_join"](spark, sf_small)
    s = join_strategies(q)
    assert s["CartesianProduct"] == 0 and s["BroadcastNestedLoopJoin"] == 0
    assert_plan(q, max_python_evals=0)


def test_round6_aggregate_ops_single_shuffle(spark, sf_small):
    for name in ("t_bytes_per_token", "ts7_seasonal_baseline"):
        assert_plan(QUERIES[name](spark, sf_small), max_shuffles=1, max_python_evals=0)


def test_dedup_sweep_one_pair_pass(spark, sf_small):
    """All three thresholds must come from ONE inverted-index pass —
    re-running the shingle join per threshold would triple the
    dominant shuffle."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    q = QUERIES["t_dedup_sweep"](spark, sf_small)
    assert_plan(q, max_shuffles=4, max_python_evals=0)
    # the scan/shuffle budget equals the single-threshold jaccard op's
    # candidate shape — thresholds add NO scans and NO shuffles
    assert len(re.findall(r"\(\d+\) Scan parquet", formatted_plan(q))) <= 4


def test_stream_join_batch_form_is_hash_join_on_user(spark, sf_small):
    """The interval condition must ride as a post-join filter on a
    user-keyed HASH join — a BroadcastNestedLoop over the time range
    would be the 100x failure (and is what a naive lone range
    predicate plans)."""
    q = QUERIES["st_stream_join"](spark, sf_small)
    s = join_strategies(q)
    assert s["BroadcastNestedLoopJoin"] == 0 and s["CartesianProduct"] == 0
    assert s["BroadcastHashJoin"] + s["SortMergeJoin"] + s["ShuffledHashJoin"] >= 1
    assert_plan(q, max_python_evals=0)


def test_substring_dedup_plan_shape(spark, sf_small):
    """Substring-span detector ceilings: the positions frame is
    lazy-checkpointed so the corpus is tokenized/hashed ONCE for both
    the gram-frequency aggregate and the dup-mark join (2 scans of the
    planted union pre-execution, not 6); exchanges = gram groupBy +
    doc window (+ joins if stats stop broadcasting at scale — ceiling
    leaves room for the sort-merge form). Never a cartesian product."""
    from faexport_db_spark.plans import join_strategies
    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_substring_dedup"](spark, sf_small)
    assert shuffle_count(df) <= 8
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", formatted_plan(df))) <= 2
    js = join_strategies(df)
    assert js["CartesianProduct"] == 0 and js["BroadcastNestedLoopJoin"] == 0


def test_stamp_bounds_plan_shape(spark, sf_small):
    """The bounded stamp differential is one limited scan folded into
    a single global aggregate — 1 scan, 1 exchange, limit present."""
    df = QUERIES["c12_stamp_bounds_checked"](spark, sf_small)
    assert shuffle_count(df) <= 1
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Limit" in plan


def test_html_extract_is_map_only(spark, sf_small):
    """The HTML extraction chain is a pure narrow projection: one scan,
    zero exchanges, zero Python evals — it must run at parquet-scan
    speed at 100 TB."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_html_extract"](spark, sf_small)
    assert shuffle_count(df) == 0
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_decontaminate_broadcasts_benchmark_never_corpus(spark, sf_small):
    """Fuzzy decontamination: candidates come from a BROADCAST join
    (the small benchmark band rows are the broadcast side — the
    corpus-sized band frame must never broadcast), the stop-bucket
    guard works the matched slice (candidate-scale), and no cartesian
    anywhere. SortMergeJoin on the corpus side would mean the corpus
    shuffled for candidates — forbidden."""
    from faexport_db_spark.plans.audit import formatted_plan
    from faexport_db_spark.training.dedup import fuzzy_contamination_pairs

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    out = fuzzy_contamination_pairs(docs, bench)
    js = join_strategies(out)
    assert js["CartesianProduct"] == 0 and js["BroadcastNestedLoopJoin"] == 0
    assert js["BroadcastHashJoin"] >= 2  # band candidates + verify membership
    plan = formatted_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # Candidate generation must not sort-merge the corpus band frame:
    # the only acceptable SMJ is none (bench bands broadcast).
    assert js.get("SortMergeJoin", 0) == 0


def test_media_driver_ops_plan_shape(spark, sf_small):
    """Registered media ops: exact dedup is one digest groupBy over the
    planted union (2 scans, ≤2 exchanges incl. AQE coalesce, no joins);
    the near-dup checked op keeps blobs out of joins (signature frames
    only) with no cartesian and no Python."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    exact = QUERIES["t_media_exact_dedup"](spark, sf_small)
    assert shuffle_count(exact) <= 2
    plan = formatted_plan(exact)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2
    js = join_strategies(exact)
    assert sum(js.values()) == 0

    near = QUERIES["t_media_near_dup_checked"](spark, sf_small)
    njs = join_strategies(near)
    assert njs["CartesianProduct"] == 0 and njs["BroadcastNestedLoopJoin"] == 0
    nplan = formatted_plan(near)
    assert "BatchEvalPython" not in nplan and "ArrowEvalPython" not in nplan


def test_winnowing_is_map_only(spark, sf_small):
    """Winnowing fingerprinting is one narrow projection: 1 scan, 0
    exchanges, no Python — fingerprint selection must run at parquet
    scan speed; only the selected set ever feeds a downstream join."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_winnowing"](spark, sf_small)
    assert shuffle_count(df) == 0
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_ops_plan_shape(spark, sf_small):
    """CDC chunking is one narrow projection (1 scan, 0 exchanges, no
    Python); the CDC near-dup candidate join moves only skinny
    (id, chunk_md5) frames — no cartesian, no Python, and the chunk
    signature subtree is lazy-checkpointed so payload bytes are
    hashed once."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    ch = QUERIES["t_cdc_chunking"](spark, sf_small)
    assert shuffle_count(ch) == 0
    plan = formatted_plan(ch)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    nd = QUERIES["t_media_cdc_near_dup_checked"](spark, sf_small)
    js = join_strategies(nd)
    assert js["CartesianProduct"] == 0 and js["BroadcastNestedLoopJoin"] == 0
    nplan = formatted_plan(nd)
    assert "BatchEvalPython" not in nplan and "ArrowEvalPython" not in nplan


def test_winnowing_pairs_bucket_join_no_cartesian(spark, sf_small):
    """Winnowing candidate pairs: one fingerprint scan feeds the
    bucket groupBy + within-bucket expansion — no self-join of the
    corpus, no cartesian, no Python."""
    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_winnowing_pairs"](spark, sf_small)
    js = join_strategies(df)
    assert js["CartesianProduct"] == 0 and js["BroadcastNestedLoopJoin"] == 0
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_media_pipeline_no_cartesian_no_python(spark, sf_small):
    """Capstone plan: stage filtering is key anti-joins (drop sets can
    be corpus-sized — never broadcast corpus-sized frames into them is
    the library's rule; the only nested-loop is the 1-row total
    crossJoin), chunk joins stay skinny, zero Python evals."""
    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_media_pipeline"](spark, sf_small)
    js = join_strategies(df)
    assert js["CartesianProduct"] == 0
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_links_is_map_only(spark, sf_small):
    """Link extraction is one narrow projection — 1 scan, 0 exchanges,
    no Python."""
    import re

    from faexport_db_spark.plans.audit import formatted_plan

    df = QUERIES["t_html_links"](spark, sf_small)
    assert shuffle_count(df) == 0
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_decontaminate_probe_is_shuffle_free(spark, sf_small):
    """The Bloom probe must be a pure map-side expression over the
    corpus: the returned plan carries only the one-row bitmap
    broadcast (nested-loop on a 1-row side), never a shuffle of the
    corpus and never an explode-groupBy of its grams."""
    q = QUERIES["t_bloom_decontaminate"](spark, sf_small)
    assert shuffle_count(q) == 0, q._jdf.queryExecution().toString()
    assert_plan(q, forbid_join=("SortMergeJoin", "ShuffledHashJoin"))


def test_dsir_ratio_joins_broadcast(spark, sf_small):
    """DSIR's bucket→log-ratio table (≤4096 rows) must broadcast into
    the corpus-gram scan; the corpus side shuffles only for the
    bounded bucket-count aggregations and the per-doc re-aggregation."""
    q = QUERIES["t_dsir_weights"](spark, sf_small)
    strategies = join_strategies(q)
    # The bucket→log-ratio table must broadcast into the gram scan;
    # sort-merge appears only for the doc-scale large-large joins
    # (bucket full-outer, zero-gram-doc left join) where it belongs.
    assert strategies["BroadcastHashJoin"] >= 1, strategies
    assert strategies["SortMergeJoin"] <= 2, strategies
    assert shuffle_count(q) <= 6, q._jdf.queryExecution().toString()


def test_hll_registers_single_exchange(spark, sf_small):
    """The register table is ONE map-side-combining groupBy bounded by
    2^p rows — exactly one shuffle."""
    q = QUERIES["t_hll_registers"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()


def test_temperature_mix_bounded_exchanges(spark, sf_small):
    """Stratum counts + one-row normalizer: nothing wider than the
    stratum table ever moves; the normalizer rides a broadcast."""
    q = QUERIES["t_temperature_mix"](spark, sf_small)
    assert shuffle_count(q) <= 3, q._jdf.queryExecution().toString()
    assert_plan(q, forbid_join=("SortMergeJoin",))


def test_bpe_encode_is_map_only(spark, sf_small):
    """Encoding with a learned merge table is a pure projection: the
    merge list folds into the plan as literals, so the corpus encode
    carries zero shuffles and zero joins."""
    q = QUERIES["t_bpe_encode"](spark, sf_small)
    assert shuffle_count(q) == 0, q._jdf.queryExecution().toString()


def test_dsir_select_is_bounded_topk(spark, sf_small):
    """The selection step must be a TakeOrderedAndProject (k per
    partition), never a corpus-wide global sort; the rank window runs
    over the k survivors only."""
    q = QUERIES["t_dsir_select"](spark, sf_small)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_kneser_ney_broadcasts_count_tables(spark, sf_small):
    """The fertility/continuation/unigram tables (vocab-sized)
    broadcast onto the bigram table; nothing corpus-sized re-shuffles
    beyond the bounded count aggregations."""
    q = QUERIES["t_kneser_ney"](spark, sf_small)
    strategies = join_strategies(q)
    assert strategies["BroadcastHashJoin"] >= 3, strategies
    assert strategies["SortMergeJoin"] == 0, strategies
    assert strategies["ShuffledHashJoin"] == 0, strategies


def test_oov_vocab_broadcasts(spark, sf_small):
    """The in-vocabulary set (distribution head) broadcasts; the OOV
    tail never travels."""
    q = QUERIES["t_oov_rate"](spark, sf_small)
    strategies = join_strategies(q)
    assert strategies["BroadcastHashJoin"] >= 1, strategies
    assert strategies["SortMergeJoin"] == 0, strategies


def test_hll_grouped_single_exchange(spark, sf_small):
    """Per-group registers remain ONE map-side-combining groupBy."""
    q = QUERIES["t_hll_grouped"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()


def test_link_domains_bounded_exchanges(spark, sf_small):
    """Extraction and domain parsing are map-side; the shuffles are
    the two-phase distinct-source aggregation (partial by (domain,
    doc), final by domain) — both keyed on the bounded domain space."""
    q = QUERIES["t_link_domains"](spark, sf_small)
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()


def test_temperature_sample_broadcasts_thresholds(spark, sf_small):
    """The stratum-threshold table (stratum-bounded) broadcasts onto a
    map-side corpus filter; the only shuffle is the count aggregation."""
    q = QUERIES["t_temperature_sampled"](spark, sf_small)
    strategies = join_strategies(q)
    assert strategies["BroadcastHashJoin"] >= 1, strategies
    assert strategies["SortMergeJoin"] == 0, strategies
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()


def test_cms_registers_single_exchange(spark, sf_small):
    """The counter table is ONE map-side-combining groupBy bounded by
    depth×width rows; the per-row seed fan-out stays map-side."""
    q = QUERIES["t_cms_registers"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()


def test_kmv_sketch_never_shuffles_distinct_keyspace(spark, sf_small):
    """The KMV corpus pass must be map-only up to the bounded
    per-partition bottom-k (MapInPandas directly over the scan — a
    pre-distinct groupBy would shuffle the whole key space, which is
    what the sketch exists to avoid); everything after operates on
    <= k rows/partition."""
    q = QUERIES["t_kmv_sketch"](spark, sf_small)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    # scan -> project -> mapInPandas with NO exchange in between
    before_map = plan.split("MapInPandas")[-1]
    assert "Exchange" not in before_map, plan
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()


def test_kmv_intersect_touches_each_corpus_once_per_sketch(spark, sf_small):
    """Sketch algebra: the two sketch frames are localCheckpoint-
    pinned (each is referenced by the union, the intersect, and the
    membership join — unpinned, every reference would re-expand the
    corpus scan, measured 9 scans), so the estimate's own plan must
    contain NO corpus scan at all: the corpora are read once per
    sketch at pin time and never rejoined."""
    q = QUERIES["t_kmv_intersect"](spark, sf_small)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 0, plan


def test_kmeans_assignment_is_map_only_expression(spark, sf_small):
    """The k-means output frame is the final assignment pass:
    a literal-expression argmin over the embedding scan — ZERO
    shuffles, zero Python evals, no join (the k x dim centroid table
    travels as literals, the ivf-probe pattern). The per-iteration
    update groupBys run at build time and are bounded by k x dim."""
    q = QUERIES["t_kmeans_assign"](spark, sf_small)
    assert_plan(q, max_shuffles=0, max_python_evals=0)
    strategies = join_strategies(q)
    assert all(v == 0 for v in strategies.values()), strategies


def test_embedding_stats_single_bounded_exchange(spark, sf_small):
    """Per-dim moments: one groupBy(pos) exchange bounded by dim rows,
    pure expression."""
    q = QUERIES["t_embedding_stats"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_k_anonymity_window_partitions_by_quasi_tuple(spark, sf_small):
    """The suppression window hash-partitions by the quasi-identifier
    combination — parallel across groups, never SinglePartition."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_k_anonymity"](spark, sf_small)
    plan = _physical_plan(q)
    assert "SinglePartition" not in plan, plan
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()


def test_crawl_frontier_never_single_partitions(spark, sf_small):
    """Frontier scheduling: url-dedup groupBy + per-domain wave window
    (<= 2 exchanges); deliberately NO global sequence, so no
    Exchange SinglePartition anywhere."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_url_frontier"](spark, sf_small)
    assert "SinglePartition" not in _physical_plan(q), _physical_plan(q)
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_contamination_report_broadcasts_benchmark_only(spark, sf_small):
    """The corpus gram explode must meet the benchmark map-side: no
    sort-merge join, no corpus-side pre-distinct shuffle — the only
    exchange is the hit rows grouping by bench id."""
    q = QUERIES["t_contamination_report"](spark, sf_small)
    strategies = join_strategies(q)
    assert strategies["BroadcastHashJoin"] >= 1, strategies
    assert strategies["SortMergeJoin"] == 0, strategies
    # 3 exchanges: bench-gram distinct (small), the two-countDistinct
    # Expand dedup over HIT rows, and the bench_id group — nothing
    # corpus-sized ever shuffles (the corpus explode streams into the
    # broadcast join).
    assert shuffle_count(q) <= 3, q._jdf.queryExecution().toString()


def test_normalized_dedup_single_groupby(spark, sf_small):
    q = QUERIES["t_normalized_dedup"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_group_sample_single_window_shuffle(spark, sf_small):
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_group_sample"](spark, sf_small)
    assert "SinglePartition" not in _physical_plan(q)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()


def test_ewma_window_partitions_per_user(spark, sf_small):
    """TS9: events shuffle once into the (user, day) aggregate; the
    8-lag window runs over the small daily table partitioned per user
    — never SinglePartition."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["ts9_ewma"](spark, sf_small)
    assert "SinglePartition" not in _physical_plan(q)
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_kmeans_arrow_assignment_is_one_arrow_eval_no_shuffle(
    spark, sf_small, monkeypatch
):
    """Above LITERAL_CENTROID_MAX the assignment becomes exactly one
    ArrowEvalPython over the scan — still zero shuffles, no join. A
    gate of 0 puts k=4 above it."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.plans.audit import _physical_plan
    from faexport_db_spark.training import similarity
    from faexport_db_spark.training.similarity import kmeans_quantized

    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    emb = load_table(spark, sf_small, "embeddings")
    out, _ = kmeans_quantized(emb, k=4, iters=0)
    plan = _physical_plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert shuffle_count(out) == 0, out._jdf.queryExecution().toString()


def test_qsketch_registers_single_exchange_mapside(spark, sf_small):
    """The sketch state is one map-side-combining groupBy bounded by
    64 rows per group — a single exchange, no Python, no window."""
    q = QUERIES["t_qsketch_registers"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_qsketch_brackets_window_on_state_not_corpus(spark, sf_small):
    """The bracket walk's single-partition window is legal ONLY
    because it runs on <=64 register rows: the corpus contributes one
    map-side aggregate, everything after operates on sketch state."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_qsketch_brackets"](spark, sf_small)
    # corpus scan feeds exactly one aggregate exchange; remaining
    # exchanges shuffle register/quantile-cardinality rows
    plan = _physical_plan(q)
    assert plan.count("Scan parquet") == 1, plan
    assert_plan(q, max_python_evals=0)


def test_ohlc_bars_one_aggregate_no_window(spark, sf_small):
    """TS10 plans as a single (user, bar)-keyed aggregate exchange —
    min_by/max_by partial-aggregate instead of a per-key sort
    window."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["ts10_ohlc_bars"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()
    assert "Window" not in _physical_plan(q)
    assert_plan(q, max_python_evals=0)


def test_table_fingerprint_single_mapside_aggregate(spark, sf_small):
    """V5 is one nation-keyed aggregate: both folds (bit_xor and the
    mod-prime sum) partial-aggregate map-side; no joins, no Python."""
    q = QUERIES["v5_table_fingerprint"](spark, sf_small)
    assert shuffle_count(q) == 1, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_l_diversity_groupby_join_no_window(spark, sf_small):
    """The release gate is a groupBy + equi-join on the quasi tuple —
    no window, so a hot combination never single-sorts."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_l_diversity"](spark, sf_small)
    assert "Window" not in _physical_plan(q)
    assert "SinglePartition" not in _physical_plan(q)
    assert_plan(q, max_python_evals=0)


def test_rrf_fusion_joins_lists_not_corpora(spark, sf_small):
    """RRF's fusion join runs on two top-k lists; the corpus-sized
    inputs appear exactly twice (embeddings for dense, documents for
    lexical) and both ranking joins broadcast the query side."""
    from faexport_db_spark.plans.audit import _physical_plan, join_strategies

    q = QUERIES["t_rrf_fusion"](spark, sf_small)
    plan = _physical_plan(q)
    strategies = join_strategies(q)
    assert strategies.get("BroadcastNestedLoopJoin", 0) + strategies.get(
        "BroadcastHashJoin", 0
    ) >= 2, strategies
    assert_plan(q, max_python_evals=0)


def test_precedence_pairs_vocab_bounded_self_join(spark, sf_small):
    """X4's self-join is on user_id AFTER the (user, type) min
    aggregate, so per-user fan-out is vocabulary-bounded; two
    aggregate exchanges + one join shuffle at most."""
    q = QUERIES["x4_precedence_pairs"](spark, sf_small)
    assert shuffle_count(q) <= 4, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_vocab_growth_token_keyed_no_single_partition_corpus_pass(spark, sf_small):
    """Heaps curve: the explode feeds a token-keyed aggregate; the
    only single-partition window runs on checkpoint-cardinality rows
    (10), after both corpus aggregates."""
    q = QUERIES["t_vocab_growth"](spark, sf_small)
    assert_plan(q, max_python_evals=0)
    assert shuffle_count(q) <= 6, q._jdf.queryExecution().toString()


def test_cusum_two_exchanges_via_shared_window_partitioning(spark, sf_small):
    """TS11: the per-user mean rides a window over the daily table
    (not a groupBy+join), so the whole cusum is daily-aggregate +
    one user-partitioned window exchange."""
    q = QUERIES["ts11_cusum_flags"](spark, sf_small)
    assert shuffle_count(q) <= 2, q._jdf.queryExecution().toString()
    assert_plan(q, max_python_evals=0)


def test_edge_jaccard_pinned_edges_no_rescans(spark, sf_small):
    """G8: the canonical edge set is pinned once; wedge joins, degree
    joins, and the output spine reuse it — zero parquet re-scans in
    the final plan."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["g8_edge_jaccard"](spark, sf_small)
    assert _physical_plan(q).count("Scan parquet") == 0
    assert shuffle_count(q) <= 6, q._jdf.queryExecution().toString()


def test_frame_sample_single_arrow_pass_no_shuffle(spark, sf_small):
    """The frame flat-map is exactly one Arrow python eval over the
    scan — map-only, no shuffle (the multimodal plumbing contract)."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_frame_sample"](spark, sf_small)
    assert shuffle_count(q) == 0, q._jdf.queryExecution().toString()
    assert _physical_plan(q).count("ArrowEvalPython") + _physical_plan(q).count(
        "MapInPandas"
    ) >= 1


def test_power_iteration_corpus_touched_once(spark, sf_small):
    """The Gram aggregate is the only corpus pass; the iteration runs
    on the pinned dim^2 M frame (0 parquet scans in the final plan)."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["t_power_iteration"](spark, sf_small)
    assert _physical_plan(q).count("Scan parquet") == 0
    assert_plan(q, max_python_evals=0)


def test_bloom_pruned_join_filters_before_exchange(spark, sf_small):
    """J13: the Bloom probe must sit below the join's exchange — the
    fact scan's output is filtered map-side (the bitmap rides as a
    broadcast), and the final aggregate keeps the usual shape."""
    from faexport_db_spark.plans.audit import _physical_plan

    q = QUERIES["j13_bloom_pruned_join"](spark, sf_small)
    plan = _physical_plan(q)
    # bitmap arrives via a broadcast nested-loop (1-row frame), and
    # the real join is still an equi-join
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert_plan(q, max_python_evals=0)
