"""Semantic tests for the training-data operators (beyond the oracle
differential): approximate methods must agree with their exact
counterparts on planted near-duplicates."""

import pytest
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.training.dedup import (
    minhash_dedup_pairs,
    simhash_dedup_pairs,
)
from faexport_db_spark.training.multimodal import decode_media, documents_as_media, extract_features
from faexport_db_spark.training.similarity import brute_force_topk, lsh_bucketed_topk


@pytest.fixture(scope="module")
def planted(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    return docs.unionByName(mutated)


@pytest.mark.slow
def test_minhash_finds_planted_pairs(planted):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(planted, threshold=0.6).collect()
    }
    n_docs = planted.count() // 2
    planted_pairs = {(i, i + 1000000) for i in range(n_docs)}
    found = planted_pairs & pairs
    # LSH is probabilistic per-pair but with 16 bands at jaccard ≈0.99
    # recall should be essentially total
    assert len(found) >= int(0.9 * n_docs)
    # and every emitted pair is verified ≥ threshold (no false accepts)
    assert all(r["jaccard"] >= 0.6 for r in minhash_dedup_pairs(planted).collect())


def test_simhash_exact_consistency(planted):
    """The pigeonhole banding must find EXACTLY the pairs whose true
    signature Hamming distance is within budget — candidates are
    complete (any pair ≤ k shares a clean chunk) and verification
    filters the rest."""
    from faexport_db_spark.training.dedup import simhash_signatures

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dedup_pairs(planted, max_hamming=3).collect()
    }
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(planted).collect()}
    truth = {}
    ids = sorted(sigs)
    n_docs = len(ids) // 2
    for i in range(n_docs):  # planted pairs are the interesting ground truth
        a, b = i, i + 1000000
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        if ham <= 3:
            truth[(a, b)] = ham
    assert truth, "corpus should contain some close planted pairs"
    assert {p: h for p, h in pairs.items() if p in truth} == truth
    missing = set(truth) - set(pairs)
    assert not missing, f"banding missed true-positive pairs: {sorted(missing)[:5]}"


def test_lsh_ann_finds_planted_neighbors(spark, sf_small):
    """LSH's contract is recall on HIGH-similarity items (near-dups),
    not on the weak (~0.3 cosine) neighbors random gaussians have.
    Plant scaled copies (cosine exactly 1, identical sign pattern →
    identical bucket) and require the approximate search to find them;
    also sanity-check against brute force on the same corpus."""
    emb = load_table(spark, sf_small, "embeddings")
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(twins)
    queries = emb.filter(F.col("vec_id") < 5)
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_bucketed_topk(corpus, queries, k=1).collect()
    }
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(corpus, queries, k=1).collect()
    }
    for q in range(5):
        assert approx[q] == q + 1000000  # planted twin found in-bucket
        assert exact[q] == q + 1000000  # and brute force agrees


def test_multimodal_stub_and_plumbing(spark, sf_small):
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image")
    media = documents_as_media(load_table(spark, sf_small, "documents"))
    feats = extract_features(media)
    rows = feats.limit(5).collect()
    assert {c for c in feats.columns} == {"media_id", "n_bytes", "f0", "f1", "f2", "f3"}
    assert all(0.0 <= r["f0"] <= 1.0 and r["n_bytes"] > 0 for r in rows)


def test_embed_cosine_dedup_lsh_recovers_planted_pairs(spark, sf_small):
    from faexport_db_spark.queries.training_queries import _planted_embeddings
    from faexport_db_spark.training.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_lsh,
    )

    corpus = _planted_embeddings(load_table(spark, sf_small, "embeddings"))
    exact = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(corpus).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs_lsh(corpus).collect()}
    n = corpus.count() // 2
    planted = {(i, i + 1000000) for i in range(n)}
    assert planted <= exact  # every scaled twin is an exact near-dup
    assert approx <= exact  # LSH never invents a pair (verify is exact)
    # identical vectors share every bucket: LSH recall on planted = 100%
    assert planted <= approx


@pytest.mark.slow
def test_semantic_dedup_recovers_planted_pairs(spark, sf_small):
    from faexport_db_spark.queries.training_queries import _planted_embeddings
    from faexport_db_spark.training.similarity import (
        cosine_near_dup_pairs,
        semantic_dedup,
        semantic_dedup_pairs,
    )

    corpus = _planted_embeddings(load_table(spark, sf_small, "embeddings"))
    exact = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(corpus).collect()}
    sem = {(r["id_a"], r["id_b"]) for r in semantic_dedup_pairs(corpus).collect()}
    n = corpus.count() // 2
    planted = {(i, i + 1000000) for i in range(n)}
    assert sem <= exact  # clustering never invents a pair (verify is exact)
    # scale-invariant assignment: a scaled copy shares its original's
    # cluster in EVERY trained model, so planted recall is structural
    assert planted <= sem
    survivors = {r["vec_id"] for r in semantic_dedup(corpus).collect()}
    assert survivors.isdisjoint({i + 1000000 for i in range(n)})
    # removal only ever targets the higher id of a pair: an id with no
    # lower-id partner must survive
    lowest = min(r for pair in exact for r in pair)
    assert lowest in survivors


def test_lm_score_backoff_and_short_docs(spark):
    from faexport_db_spark.training.lm import lm_score, lm_train

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    model = lm_train(train)
    evals = spark.createDataFrame(
        [
            (10, "a b"),        # seen bigram: ln(c2(a,b)=3 / c1(a)=3) = 0
            (11, "zz qq"),      # fully OOV: smoothed backoff, finite
            (12, "a"),          # one token: no bigrams → absent
            (13, "   "),        # whitespace only → absent
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in lm_score(evals, model).collect()}
    assert set(rows) == {10, 11}
    assert rows[10]["nll"] == 0.0 and rows[10]["ppl"] == 1.0
    # backoff: 0.4 * (0+1) / (N=7 + V=3) = 0.04 → nll = -ln(0.04)
    import math

    assert abs(rows[11]["nll"] - (-math.log(0.04))) < 1e-6
    assert rows[11]["n_bigrams"] == 1


def test_lm_perplexity_filter_keeps_low_ppl(spark, sf_small):
    from faexport_db_spark.queries.training_queries import _lm_heldout_split
    from faexport_db_spark.training.lm import lm_perplexity_filter, lm_score, lm_train

    from faexport_db_spark.queries.training_queries import _docs

    train, evals = _lm_heldout_split(_docs(spark, sf_small))
    model = lm_train(train)
    scored = {r["doc_id"]: r["ppl"] for r in lm_score(evals, model).collect()}
    kept = {
        r["doc_id"]
        for r in lm_perplexity_filter(evals, model, max_ppl=30.0).collect()
    }
    assert kept == {d for d, p in scored.items() if p <= 30.0}
    assert 0 < len(kept) < len(scored)  # the threshold genuinely splits


def test_pii_scrub_order_and_counts(spark):
    from faexport_db_spark.training.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@host.co and 10.1.2.3 then +44 20 7946 0958 done"),
            (2, "clean words only"),
            (3, "ip 255.255.255.255 twice 1.2.3.4"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["scrubbed"] == "mail <email> and <ip> then <phone> done"
    assert rows[1]["n_redactions"] == 3
    assert rows[2]["scrubbed"] == "clean words only"
    assert rows[2]["n_redactions"] == 0
    assert rows[3]["scrubbed"] == "ip <ip> twice <ip>"
    assert rows[3]["n_redactions"] == 2


@pytest.mark.slow
def test_centroid_assignment_literal_equals_arrow(spark, sf_small, monkeypatch):
    """The size-gated assignment paths are interchangeable: literal
    expression and broadcast-matrix Arrow coder produce identical
    cell ids (and identical nprobe probe lists) on the same corpus
    and centroids — the contract that lets the gate flip at
    LITERAL_CENTROID_MAX without changing any result (VERDICT r05
    #5). A gate of 0 selects the Arrow coder."""
    from faexport_db_spark.training import similarity
    from faexport_db_spark.training.similarity import (
        _cell_probes,
        ivf_centroids,
    )

    corpus = load_table(spark, sf_small, "embeddings")
    cents = ivf_centroids(corpus, n_centroids=32, iters=2)

    def probes(nprobe):
        out = corpus.select(
            "vec_id", _cell_probes(F.col("embedding"), cents, nprobe).alias("p")
        )
        return {r["vec_id"]: list(r["p"]) for r in out.collect()}

    literal = {nprobe: probes(nprobe) for nprobe in (1, 3)}
    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    for nprobe in (1, 3):
        assert probes(nprobe) == literal[nprobe]


def test_semantic_dedup_at_5k_centroids_arrow_path(spark):
    """The SemDeDup docstring's large-cluster-count regime is actually
    executable: 5000 centroids (far past LITERAL_CENTROID_MAX, so the
    Arrow coder is engaged by the gate itself) over a synthetic corpus
    with planted scaled copies — every planted pair is recovered
    (scale-invariant cosine assignment puts a scaled twin in its
    original's cell, structurally)."""
    import numpy as np

    from faexport_db_spark.training.similarity import (
        LITERAL_CENTROID_MAX,
        semantic_dedup_pairs,
    )

    assert 5000 > LITERAL_CENTROID_MAX
    rng = np.random.default_rng(11)
    base = rng.normal(size=(6000, 16)).astype(np.float64)
    rows = [(i, base[i].tolist()) for i in range(len(base))]
    # planted: ids 1_000_000+i are 1.5× scaled copies of i (cosine 1.0)
    planted_n = 20
    rows += [(1_000_000 + i, (base[i] * 1.5).tolist()) for i in range(planted_n)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [base[i].tolist() for i in range(0, 5000)]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            corpus, threshold=0.999, centroids=cents
        ).collect()
    }
    assert {(i, 1_000_000 + i) for i in range(planted_n)} <= pairs


def test_semantic_dedup_max_cluster_guard(spark, sf_small):
    from faexport_db_spark.queries.training_queries import _planted_embeddings
    from faexport_db_spark.training.similarity import semantic_dedup_pairs

    corpus = _planted_embeddings(load_table(spark, sf_small, "embeddings"))
    # a 1-member ceiling drops every cluster: the degenerate-cell guard
    assert semantic_dedup_pairs(corpus, max_cluster=1).count() == 0


def test_ivf_topk_finds_planted_twins(spark, sf_small):
    from faexport_db_spark.training.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_small, "embeddings")
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(twins)
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = {r["query_id"]: r["neighbor_id"] for r in ivf_topk(corpus, queries, k=1, n_centroids=4, nprobe=2, iters=2).collect()}
    exact = {r["query_id"]: r["neighbor_id"] for r in brute_force_topk(corpus, queries, k=1).collect()}
    for qid in range(5):
        # a scaled twin has cosine 1.0 and lands in the SAME cell as its
        # original (cosine assignment is scale-invariant) → always found
        assert ivf[qid] == exact[qid] == qid + 1000000


def test_ivf_persisted_prunes_partitions_and_matches_inline(spark, sf_small, tmp_path):
    """The persisted IVF layout (cid-partitioned parquet) IS the scale
    story: probing must PRUNE the scan to the probed cid= directories
    (never listing the rest of the corpus) and return exactly what the
    inline assignment returns for the same centroids."""
    from faexport_db_spark.training.similarity import (
        ivf_build,
        ivf_topk,
        ivf_topk_persisted,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    centroids = ivf_build(emb, path, n_centroids=8, iters=2)

    persisted = ivf_topk_persisted(spark, path, queries, k=3, nprobe=2)
    inline = ivf_topk(emb, queries, k=3, nprobe=2, centroids=centroids)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inline.collect())
    )

    # partition pruning: only the probed cid= directories are scanned
    # (input_file_name reflects the files the executed scan actually
    # read, post-pruning — inputFiles() is the pre-pruning relation)
    pruned = spark.read.parquet(path).filter(F.col("cid").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan
    files = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    assert files and all("cid=0" in f or "cid=1" in f for f in files), files


def test_sequence_pack_matches_naive_global_window(spark, sf_small):
    """The distributed prefix sum must equal the single-window
    formulation row-for-row (same start offsets ⇒ same pack layout)."""
    from pyspark.sql.window import Window

    from faexport_db_spark.training.pipeline import _bpe_count, sequence_pack

    docs = load_table(spark, sf_small, "documents")
    got = {r["doc_id"]: (r["pack_id"], r["pack_pos"], r["n_tokens"])
           for r in sequence_pack(docs, budget=512).collect()}
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = (
        docs.select("doc_id", _bpe_count("text").alias("n_tokens"))
        .withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .select("doc_id", "n_tokens",
                F.expr("start div 512").alias("pack_id"),
                (F.col("start") % 512).alias("pack_pos"))
    )
    want = {r["doc_id"]: (r["pack_id"], r["pack_pos"], r["n_tokens"]) for r in naive.collect()}
    assert got == want
    # every doc starts inside its pack's budget window
    assert all(0 <= pos < 512 for (_pid, pos, _n) in got.values())


def test_stratified_sample_deterministic_and_salted(spark, sf_small):
    from faexport_db_spark.training.pipeline import stratified_sample

    docs = load_table(spark, sf_small, "documents")
    rates = {"en": 0.5, "de": 1.0, "zh": 0.25}
    a = {r["doc_id"] for r in stratified_sample(docs, rates, 0.1).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs, rates, 0.1).collect()}
    assert a == b  # reruns reproduce exactly (no rand(), no partition dependence)
    c = {r["doc_id"] for r in stratified_sample(docs, rates, 0.1, salt="v2").collect()}
    assert a != c  # a new salt draws an independent sample
    # de is kept at 100%: every de doc must survive
    n_de = docs.filter(F.col("lang") == "de").count()
    kept_de = stratified_sample(docs, rates, 0.1).filter(F.col("lang") == "de").count()
    assert kept_de == n_de


def test_exact_cosine_baseline_guard(spark, sf_small):
    """The O(n²) baseline refuses corpora past max_rows, and names the
    scale path in the error."""
    from faexport_db_spark.training.similarity import cosine_near_dup_pairs

    emb = load_table(spark, sf_small, "embeddings")
    with pytest.raises(ValueError, match="cosine_near_dup_pairs_lsh"):
        cosine_near_dup_pairs(emb, max_rows=1)


def test_dedup_clusters_transitive_chain(spark):
    """A 4-hop chain collapses to one cluster labeled by its min id;
    a disjoint pair keeps its own representative."""
    from faexport_db_spark.training.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_minhash_incremental_index_probe(spark, sf_small, tmp_path):
    """Build the band index over the corpus once; probing it with a
    mutated batch finds every planted (corpus, batch) pair the batch
    self-join formulation finds — without re-signing the corpus. The
    probe plan never shuffles the index side (batch broadcasts)."""
    from faexport_db_spark.plans.audit import join_strategies
    from faexport_db_spark.training.dedup import (
        minhash_build_index,
        minhash_dedup_against_index,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    idx = str(tmp_path / "mh_index")
    minhash_build_index(docs, idx)
    batch = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    out = minhash_dedup_against_index(batch, docs, idx)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # the planted axis from the self-join formulation, restricted to
    # (corpus, batch) pairs — must be recovered exactly
    full = minhash_dedup_pairs(docs.unionByName(batch), threshold=0.6)
    want = {
        (r["id_a"], r["id_b"])
        for r in full.filter(
            (F.col("id_a") < 1000000) & (F.col("id_b") >= 1000000)
        ).collect()
    }
    assert want and got == want
    strategies = join_strategies(out)
    assert strategies["SortMergeJoin"] == 0 and strategies["BroadcastHashJoin"] >= 1


def test_embed_incremental_index_probe(spark, sf_small, tmp_path):
    """The persisted-code-table probe recovers exactly the (corpus,
    batch) pairs the self-join LSH formulation finds, without re-coding
    the corpus; the index side never sort-merge-joins."""
    from faexport_db_spark.plans.audit import join_strategies
    from faexport_db_spark.training.similarity import (
        cosine_near_dup_pairs_lsh,
        embed_dedup_against_index,
        embed_lsh_build_index,
    )

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "elsh_index")
    embed_lsh_build_index(emb, idx)
    two = F.lit(2.0).cast("float")
    batch = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * two).cast("float")).alias("embedding"),
    )
    out = embed_dedup_against_index(batch, emb, idx, threshold=0.95)
    got = {(r["id_a"], r["id_b"], r["cosine"]) for r in out.collect()}
    full = cosine_near_dup_pairs_lsh(emb.unionByName(batch), threshold=0.95)
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in full.filter(
            (F.col("id_a") < 1000000) & (F.col("id_b") >= 1000000)
        ).collect()
    }
    assert want and got == want
    strategies = join_strategies(out)
    assert strategies["SortMergeJoin"] == 0 and strategies["BroadcastHashJoin"] >= 1


def test_index_probe_rejects_mismatched_signing_params(spark, sf_small, tmp_path):
    """ADVICE r02: a probe signed with different parameters than the
    index would silently return ~zero pairs — it must raise instead."""
    import pytest

    from faexport_db_spark.training.dedup import (
        minhash_build_index,
        minhash_dedup_against_index,
    )
    from faexport_db_spark.training.similarity import (
        embed_dedup_against_index,
        embed_lsh_build_index,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    mh_idx = str(tmp_path / "mh_index")
    minhash_build_index(docs, mh_idx, num_perm=64, bands=16)
    with pytest.raises(ValueError, match="signing parameters"):
        minhash_dedup_against_index(docs, docs, mh_idx, num_perm=32, bands=8)

    emb = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    e_idx = str(tmp_path / "elsh_index")
    embed_lsh_build_index(emb, e_idx, nbits=8, seed=42)
    with pytest.raises(ValueError, match="signing parameters"):
        embed_dedup_against_index(emb, emb, e_idx, nbits=8, seed=7)


def test_dedup_clusters_raises_when_unconverged(spark):
    """Hitting the iteration cap with labels still moving must fail
    loudly — unconverged labels are wrong labels."""
    from golden_components import golden_components

    from faexport_db_spark.training.dedup import dedup_clusters

    edges = [(i, i + 1) for i in range(1, 8)]
    chain = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=2)
    got = {(r["doc_id"], r["cluster_rep"]) for r in dedup_clusters(chain).collect()}
    assert got == golden_components(edges)


def test_simhash_pair_survives_dropped_first_shared_chunk(spark):
    """A pair whose FIRST shared chunk sits in an over-dense (dropped)
    bucket must still be emitted through a later surviving shared
    chunk when the stop-bucket guard is on (regression: the pure
    first-shared-chunk filter silently lost such pairs)."""
    import random

    from pyspark.sql import functions as F

    from faexport_db_spark.training.dedup import (
        SIMHASH_BITS,
        simhash_dedup_pairs,
        simhash_signatures,
    )

    max_hamming = 14  # 15 chunks x 4 bits: collisions are easy to find
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1

    rng = random.Random(13)
    words = [f"tok{i}" for i in range(500)]
    base = " ".join(rng.choice(words) for _ in range(60))
    near = base.rsplit(" ", 1)[0] + " zzz"  # one word swapped

    pool = [(100 + i, " ".join(rng.choice(words) for _ in range(60))) for i in range(120)]
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(
            spark.createDataFrame([(1, base), (2, near)] + pool, "doc_id long, text string")
        ).collect()
    }
    chunk = lambda s, c: (s >> (c * width)) & mask  # noqa: E731
    ham = bin(sigs[1] ^ sigs[2]).count("1")
    assert ham <= max_hamming
    shared = [c for c in range(chunks) if chunk(sigs[1], c) == chunk(sigs[2], c)]
    assert len(shared) >= 2  # near-identical docs share most chunks
    c0 = shared[0]
    v0 = chunk(sigs[1], c0)
    # fillers landing in the pair's first shared bucket (chunk c0, value v0)
    fillers = [doc_id for doc_id, s in sigs.items() if doc_id > 2 and chunk(s, c0) == v0][:3]
    assert len(fillers) >= 2, "pool too small to collide — enlarge it"
    corpus = spark.createDataFrame(
        [(1, base), (2, near)] + [(f, dict(pool)[f]) for f in fillers],
        "doc_id long, text string",
    )
    # bucket (c0, v0) holds 2 + len(fillers) > max_bucket -> dropped
    out = simhash_dedup_pairs(corpus, max_hamming=max_hamming, max_bucket=1 + len(fillers))
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in found


def test_mix_corpus_hits_target_proportions(spark, sf_small):
    from pyspark.sql import functions as F

    from faexport_db_spark.training.pipeline import mix_corpus, mixture_rates

    docs = load_table(spark, sf_small, "documents")
    weights = {"en": 0.5, "de": 0.25, "zh": 0.25}
    rates = mixture_rates(docs, weights)
    # the binding stratum samples at 1.0; all rates in (0, 1]
    assert max(rates.values()) == 1.0
    assert all(0 < r <= 1.0 for r in rates.values())
    out = mix_corpus(docs, weights)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(weights)  # unlisted languages dropped
    total = sum(got.values())
    for lang, w in weights.items():
        # hash-sampling noise: within 15% relative of the target share
        assert abs(got[lang] / total - w) <= 0.15 * w + 2 / total, (lang, got)


def test_nonbinding_stop_bucket_guard_changes_nothing(spark, sf_small):
    """With a cap larger than every bucket, the guard path must return
    EXACTLY the guard-off pairs for all three LSH pipelines — pins the
    first-surviving-chunk machinery (SimHash) and the guard plumbing
    (MinHash, embedding) against silent divergence."""
    from faexport_db_spark.queries.training_queries import (
        _mutated_corpus,
        _planted_embeddings,
    )
    from faexport_db_spark.training.dedup import (
        minhash_dedup_pairs,
        simhash_dedup_pairs,
    )
    from faexport_db_spark.training.similarity import cosine_near_dup_pairs_lsh

    docs = _mutated_corpus(load_table(spark, sf_small, "documents").select("doc_id", "text"))
    emb = _planted_embeddings(load_table(spark, sf_small, "embeddings"))
    big = 10**9

    def pairs(df):
        return {tuple(r) for r in df.collect()}

    assert pairs(simhash_dedup_pairs(docs, max_bucket=big)) == pairs(
        simhash_dedup_pairs(docs, max_bucket=None)
    )
    assert pairs(minhash_dedup_pairs(docs, max_bucket=big)) == pairs(
        minhash_dedup_pairs(docs, max_bucket=None)
    )
    assert pairs(cosine_near_dup_pairs_lsh(emb, max_bucket=big)) == pairs(
        cosine_near_dup_pairs_lsh(emb, max_bucket=None)
    )


@pytest.mark.slow
def test_pq_topk_df_matches_panel_form(spark, sf_small):
    """The scale form (queries as a DataFrame, one code scan) must
    produce exactly the panel form's output — same ADC distances,
    ranks and tie-breaks."""
    from faexport_db_spark.training.similarity import (
        pq_encode,
        pq_topk,
        pq_topk_df,
        pq_train,
    )

    emb = load_table(spark, sf_small, "embeddings")
    books = pq_train(emb, m=8, k=8)
    codes = pq_encode(emb, books).localCheckpoint()
    panel = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    a = sorted(
        map(tuple, pq_topk(codes, panel, books, k=3).collect())
    )
    b = sorted(
        map(tuple, pq_topk_df(codes, emb.filter(F.col("vec_id") < 4), books, k=3).collect())
    )
    assert a == b


def test_pq_train_rejects_undersized_corpus(spark, sf_small):
    from faexport_db_spark.training.similarity import pq_train

    emb = load_table(spark, sf_small, "embeddings").limit(3)
    with pytest.raises(ValueError, match="corpus has only 3 vectors"):
        pq_train(emb, m=8, k=8)


@pytest.mark.slow
def test_ivfpq_finds_identical_twin_within_probed_cell(spark, sf_small):
    from faexport_db_spark.training.similarity import ivfpq_topk

    emb = load_table(spark, sf_small, "embeddings")
    copies = emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    from faexport_db_spark.training.similarity import ivf_centroids, pq_train

    cents = ivf_centroids(corpus, n_centroids=8)
    books = pq_train(corpus, m=8, k=8)
    queries = emb.filter(F.col("vec_id") < 3)
    best = {
        r["query_id"]: r["adc_dist"]
        for r in ivfpq_topk(
            corpus, queries, k=1, nprobe=2, centroids=cents, codebooks=books
        ).collect()
    }
    # The identical copy lands in the query's own nearest (probed)
    # cell and its ADC distance is the global minimum any corpus
    # vector can achieve, so the winner must tie it exactly.
    copy_best = {
        r["query_id"]: r["adc_dist"]
        for r in ivfpq_topk(
            corpus.filter(F.col("vec_id") >= 1000000),
            queries,
            k=1,
            nprobe=2,
            centroids=cents,
            codebooks=books,
        ).collect()
    }
    assert set(best) == {0, 1, 2}
    assert best == copy_best


def test_passage_dedup_cuts_repeats_keeps_first(spark):
    from faexport_db_spark.training.text import passage_dedup

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta gamma delta eps"),
            (2, f"{shared} zeta eta theta iota kappa"),  # repeats doc 1's tile
            (3, "unique words only in this doc here"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in passage_dedup(docs, tile_tokens=5).collect()}
    assert out[1]["clean_text"].startswith(shared)  # first occurrence kept
    assert out[1]["n_tiles_removed"] == 0
    assert not out[2]["clean_text"].startswith(shared)  # repeat cut
    assert out[2]["n_tiles_removed"] == 1
    assert out[2]["clean_text"] == "zeta eta theta iota kappa"
    assert out[3]["n_tiles_removed"] == 0
    # a doc that is ENTIRELY a repeat comes back present but empty
    dup_doc = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id bigint, text string"
    )
    out2 = {r["doc_id"]: r for r in passage_dedup(dup_doc, tile_tokens=5).collect()}
    assert out2[1]["clean_text"] == shared
    assert out2[2]["clean_text"] == "" and out2[2]["n_tiles_removed"] == 1


def test_passage_incremental_batches_dedup_against_each_other(spark, tmp_path):
    """Batch N+1 must dedup against both the corpus AND batch N's
    survivors, which the passage step adds to the index, and a
    parameter-mismatched probe fails loud."""
    from faexport_db_spark.streaming.dedup_stream import (
        passage_dedup_batch_against_store,
    )
    from faexport_db_spark.training.indexmeta import check_index_meta
    from faexport_db_spark.training.text import (
        build_passage_index,
        passage_dedup_against_index,
    )

    path = str(tmp_path / "tiles")
    corpus = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5 d1 d2 d3 d4 d5")], "doc_id bigint, text string"
    )
    build_passage_index(corpus, path, tile_tokens=5)
    # batch 1: one corpus-dup tile + one novel tile
    b1 = spark.createDataFrame(
        [(10, "c1 c2 c3 c4 c5 n1 n2 n3 n4 n5")], "doc_id bigint, text string"
    )
    out1 = {r["doc_id"]: r for r in
            passage_dedup_against_index(b1, path, tile_tokens=5)[0].collect()}
    assert out1[10]["clean_text"] == "n1 n2 n3 n4 n5"
    assert out1[10]["n_tiles_removed"] == 1
    stored = passage_dedup_batch_against_store(
        b1, str(tmp_path / "store"), path, tile_tokens=5
    )
    assert [r["text"] for r in stored.collect()] == ["n1 n2 n3 n4 n5"]
    # batch 2 repeats batch 1's novel tile → cut via the grown index
    b2 = spark.createDataFrame(
        [(20, "n1 n2 n3 n4 n5 x1 x2 x3 x4 x5")], "doc_id bigint, text string"
    )
    out2 = {r["doc_id"]: r for r in
            passage_dedup_against_index(b2, path, tile_tokens=5)[0].collect()}
    assert out2[20]["clean_text"] == "x1 x2 x3 x4 x5"
    assert out2[20]["n_tiles_removed"] == 1
    # sidecar guards the tiling width
    with pytest.raises(ValueError):
        check_index_meta(spark, path, "passage_tiles", {"tile_tokens": 7})


@pytest.mark.slow
def test_ivfpq_persisted_matches_inline_and_prunes(spark, sf_small, tmp_path):
    """The persisted IVFADC layout must return exactly what the inline
    composition returns for the same models, and probing must prune
    the code-table scan to the probed cid= directories."""
    from faexport_db_spark.training.similarity import (
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_persisted,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq")
    cents, books = ivfpq_build(emb, path, n_centroids=8, m=8, codebook_k=8, iters=2)

    persisted = ivfpq_topk_persisted(spark, path, queries, k=3, nprobe=2)
    inline = ivfpq_topk(
        emb, queries, k=3, nprobe=2, centroids=cents, codebooks=books
    )
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inline.collect())
    )
    # partition pruning: only the probed cid= directories are read
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan, plan


def test_simhash_max_group_caps_identical_signature_clusters(spark):
    """ADVICE r04 (medium): an identical-doc mega-cluster must not
    emit C(n,2) intra pairs. Above ``max_group`` the group degrades to
    star edges (group-min id -> each member, hamming 0) — linear, and
    equivalent for connected-components clustering; below the cap the
    emission stays exact all-pairs."""
    from faexport_db_spark.training.dedup import (
        dedup_clusters,
        simhash_dedup_pairs,
    )

    n = 8
    text = "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, n + 1)] + [(99, "zz1 zz2 zz3 zz4 zz5")],
        "doc_id bigint, text string",
    )

    exact = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup_pairs(docs, max_group=None).collect()
    }
    assert {(a, b) for a, b, _ in exact} == {
        (a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)
    }

    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup_pairs(docs, max_group=5).collect()
    }
    # star edges only: 1 -> {2..8}, every edge hamming 0
    assert capped == {(1, b, 0) for b in range(2, n + 1)}

    # a cap comfortably above every group size changes nothing
    assert exact == {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup_pairs(docs, max_group=10**9).collect()
    }

    # the degraded edge set still collapses the cluster to one keeper
    clusters = dedup_clusters(simhash_dedup_pairs(docs, max_group=5))
    roots = {r[0]: r[1] for r in clusters.collect()}
    assert len({roots[i] for i in range(1, n + 1)}) == 1


@pytest.mark.slow
def test_ann_model_sidecars_go_through_hadoop_fs(spark, sf_small, tmp_path):
    """VERDICT r04 #4 / ADVICE r04: ivf_build / ivfpq_build must write
    their model sidecars through the index's own Hadoop filesystem —
    build and probe through an explicit ``file:///`` URI (the Hadoop
    code path, not Python ``open``) and require the sidecar to land
    next to the data."""
    import os

    from faexport_db_spark.training.similarity import (
        ivf_build,
        ivf_topk_persisted,
        ivfpq_build,
        ivfpq_topk_persisted,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)

    ivf_uri = f"file://{tmp_path}/ivf_idx"
    ivf_build(emb, ivf_uri, n_centroids=4, iters=2)
    assert os.path.exists(tmp_path / "ivf_idx" / "_centroids.json")
    out = ivf_topk_persisted(spark, ivf_uri, queries, k=2, nprobe=2)
    assert out.count() == queries.count() * 2

    pq_uri = f"file://{tmp_path}/ivfpq_idx"
    ivfpq_build(emb, pq_uri, n_centroids=4, m=8, iters=2)
    assert os.path.exists(tmp_path / "ivfpq_idx" / "_ivfpq_model.json")
    out2 = ivfpq_topk_persisted(spark, pq_uri, queries, k=2, nprobe=2)
    assert out2.count() == queries.count() * 2

    # residual build: the sidecar flag makes the persisted probe use
    # residual ADC tables with no caller coordination, and the result
    # matches the in-process residual probe exactly
    from faexport_db_spark.training.similarity import ivfpq_topk

    res_uri = f"file://{tmp_path}/ivfpq_res_idx"
    cents, books = ivfpq_build(
        emb, res_uri, n_centroids=4, m=8, iters=2, residual=True
    )
    import json as _json

    model = _json.loads((tmp_path / "ivfpq_res_idx" / "_ivfpq_model.json").read_text())
    assert model["residual"] is True
    got = {
        tuple(r)
        for r in ivfpq_topk_persisted(
            spark, res_uri, queries, k=2, nprobe=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in ivfpq_topk(
            emb, queries, k=2, nprobe=2, centroids=cents, codebooks=books,
            residual=True,
        ).collect()
    }
    assert got == want

    # a foreign/unbuilt index fails loud, not with a stray local read
    import pytest

    with pytest.raises(FileNotFoundError, match="model sidecar"):
        ivf_topk_persisted(spark, f"file://{tmp_path}/nope", queries)


def test_star_clusters_match_union_find_golden(spark, sf_small):
    """dedup_clusters (Kiveris et al. large-star/small-star) produces
    the union-find golden's (doc_id, cluster_rep) labeling on a real
    near-dup pair set and on a seeded random graph."""
    import random

    from golden_components import golden_components

    from faexport_db_spark.queries.training_queries import _mutated_corpus
    from faexport_db_spark.training.dedup import dedup_clusters, simhash_dedup_pairs

    def labels(df):
        return {(r["doc_id"], r["cluster_rep"]) for r in df.collect()}

    docs = _mutated_corpus(
        load_table(spark, sf_small, "documents").select("doc_id", "text")
    )
    pairs = simhash_dedup_pairs(docs, max_hamming=3).localCheckpoint()
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert edges
    assert labels(dedup_clusters(pairs)) == golden_components(edges)

    rng = random.Random(7)
    rand_edges = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(400)
    ]
    rand_edges = [(a, b) for a, b in rand_edges if a != b]
    rand = spark.createDataFrame(rand_edges, "id_a bigint, id_b bigint")
    assert labels(dedup_clusters(rand)) == golden_components(rand_edges)


def test_star_clusters_converge_on_deep_chains(spark):
    """A 200-node path graph — diameter 199 — converges in O(log n)
    star rounds, well inside a 12-round budget, to the golden's
    labeling."""
    from golden_components import golden_components

    from faexport_db_spark.training.dedup import dedup_clusters

    edges = [(i, i + 1) for i in range(1, 200)]
    chain = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    out = {
        (r["doc_id"], r["cluster_rep"])
        for r in dedup_clusters(chain, max_iters=12).collect()
    }
    assert out == golden_components(edges) == {(i, 1) for i in range(1, 201)}


def test_dedup_clusters_releases_superseded_rounds(spark):
    """On a 200-node chain, block storage gains at most one round's pin
    plus the pin the result reads: every superseded round is
    released."""
    from block_storage import gained_rdds, stored_rdds

    from faexport_db_spark.training.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "id_a bigint, id_b bigint"
    )
    before = stored_rdds(spark)
    out = dedup_clusters(chain)
    assert {r["cluster_rep"] for r in out.collect()} == {1}
    gained = gained_rdds(spark, before, at_most=2)
    assert len(gained) <= 2, gained


def test_bm25_retrieval_properties(spark, sf_small, tmp_path):
    """BM25 sanity: the query's own source doc ranks first (its terms
    all hit with corpus-max tf share), the persisted probe equals the
    in-process scoring row-for-row, its scan partition-prunes to the
    query terms' tb= buckets, and the stop-term guard only ever drops
    near-ubiquitous terms."""
    from faexport_db_spark.queries.training_queries import _bm25_queries
    from faexport_db_spark.training.retrieval import (
        bm25_build_index,
        bm25_topk,
        bm25_topk_persisted,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    queries = _bm25_queries(docs)
    out = bm25_topk(docs, queries, k=3)
    rows = {tuple(r) for r in out.collect()}
    top1 = {r[1] for r in rows if r[3] == 1}
    assert top1 == {r["query_id"] for r in queries.collect()} or len(top1) == 5

    idx = str(tmp_path / "bm25")
    bm25_build_index(docs, idx)
    persisted = bm25_topk_persisted(spark, idx, queries, k=3)
    assert {tuple(r) for r in persisted.collect()} == rows

    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [tb" in plan.replace("#", " #").replace(
        "tb#", "tb #"
    ) or "tb" in plan.split("PartitionFilters")[1][:120]

    # stop-term guard: with a ratio ABOVE every term's df share the
    # output is unchanged; with a tiny ratio scores shrink, rows drop,
    # but nothing errors
    same = bm25_topk(docs, queries, k=3, max_df_ratio=1.0)
    assert {tuple(r) for r in same.collect()} == rows
    guarded = bm25_topk(docs, queries, k=3, max_df_ratio=0.01)
    assert guarded.count() <= out.count() + 5 * 5


def test_quality_rules_boundaries(spark):
    """Each quality rule flips at its documented boundary; kept is the
    conjunction; the op is a zero-exchange projection."""
    from faexport_db_spark.training.text import quality_rules

    docs = spark.createDataFrame(
        [
            (1, "the quick brown foxes jumped over lazy dogs near riverbanks today"),  # clean
            (2, "the cat"),                              # too few tokens
            (3, "the " + "zz " * 19),                    # repetition: 'zz' share 0.95
            (4, "the ?? !! ## $$ %% ^^ && ** (( ))"),    # symbol-heavy
            (5, "qq ww ee rr tt yy uu ii oo pp"),        # no stopwords
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality_rules(
            docs, min_tokens=5, min_distinct_stop=1, max_top_share=0.5
        ).collect()
    }
    assert out[1]["kept"] is True
    assert out[2]["tokens_ok"] is False and out[2]["kept"] is False
    assert out[3]["repetition_ok"] is False and out[3]["kept"] is False
    assert out[4]["symbols_ok"] is False and out[4]["kept"] is False
    assert out[5]["stopwords_ok"] is False and out[5]["kept"] is False


def test_bm25_incremental_append_matches_full_rebuild(spark, sf_small, tmp_path):
    """Appending a batch to a persisted BM25 index must yield the
    exact probe results of a full rebuild over the union: derived-df
    never goes stale, stats partials sum additively, and a RETRIED
    append (same commit name) changes nothing — the probe's
    per-(term, doc) collapse plus partial overwrite make the append
    idempotent."""
    from faexport_db_spark.queries.training_queries import _bm25_queries
    from faexport_db_spark.training.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_topk_persisted,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    queries = _bm25_queries(docs)

    full_idx = str(tmp_path / "full")
    bm25_build_index(docs, full_idx)
    want = {
        tuple(r) for r in bm25_topk_persisted(spark, full_idx, queries, k=3).collect()
    }

    inc_idx = str(tmp_path / "inc")
    bm25_build_index(first, inc_idx)
    bm25_append_index(second, inc_idx, commit_name="b1")
    got = {
        tuple(r) for r in bm25_topk_persisted(spark, inc_idx, queries, k=3).collect()
    }
    assert got == want

    # redelivered batch: same commit name, duplicate postings rows
    bm25_append_index(second, inc_idx, commit_name="b1")
    again = {
        tuple(r) for r in bm25_topk_persisted(spark, inc_idx, queries, k=3).collect()
    }
    assert again == want


def test_bm25_compact_preserves_topk_and_folds_stats(spark, sf_small, tmp_path):
    """N appends → bm25_compact → IDENTICAL top-k, fewer postings
    files, and the N+1 stats partials folded into one. The fold's
    crash window (merged partial written, olds not yet deleted) must
    not double-count: _read_stats excludes replaced partials still on
    disk (VERDICT r05 #7)."""
    import json

    from faexport_db_spark.operators.hadoop_fs import HadoopFs
    from faexport_db_spark.queries.training_queries import _bm25_queries
    from faexport_db_spark.training.retrieval import (
        _read_stats,
        bm25_append_index,
        bm25_build_index,
        bm25_compact,
        bm25_topk_persisted,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    bm25_build_index(docs.filter(F.col("doc_id") % 4 == 0), idx)
    for m in range(1, 4):
        bm25_append_index(
            docs.filter(F.col("doc_id") % 4 == m), idx, commit_name=f"a{m}"
        )

    def _files(p):
        import glob

        return [f for f in glob.glob(f"{p}/tb=*/*.parquet")]

    queries = _bm25_queries(docs)
    before = {tuple(r) for r in bm25_topk_persisted(spark, idx, queries, k=3).collect()}
    files_before = len(_files(idx))
    stats_before = _read_stats(spark, idx)

    out = bm25_compact(spark, idx)
    after = {tuple(r) for r in bm25_topk_persisted(spark, idx, queries, k=3).collect()}
    assert after == before
    assert len(_files(idx)) < files_before
    assert _read_stats(spark, idx) == stats_before
    fs = HadoopFs(spark, idx)
    sdir = f"{idx}/_bm25_stats"
    names = [n for n in fs.list_names(sdir) if n.endswith(".json")]
    assert len(names) == 1 and out["stats_partials_before"] == 4

    # crash window: a second fold writes its merged partial but dies
    # before deleting the olds — simulate by appending then writing a
    # merged partial manually without deleting
    bm25_append_index(docs.limit(0).unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).limit(5)
    ), idx, commit_name="late")
    live_names = sorted(n for n in fs.list_names(sdir) if n.endswith(".json"))
    n_docs, avgdl = _read_stats(spark, idx)
    merged = {
        "n_docs": n_docs,
        "total_dl": n_docs * avgdl,
        "replaces": live_names,
    }
    fs.write_text(f"{sdir}/compacted-crashed.json", json.dumps(merged))
    got = _read_stats(spark, idx)
    assert abs(got[0] - n_docs) < 1e-9 and abs(got[1] - avgdl) < 1e-9
    # and the next compact sweeps the replaced leftovers
    bm25_compact(spark, idx)
    assert _read_stats(spark, idx)[0] == n_docs
    names2 = [n for n in fs.list_names(sdir) if n.endswith(".json")]
    assert len(names2) == 1


@pytest.mark.slow
def test_streaming_bm25_index_maintenance(spark, sf_small, tmp_path):
    """foreachBatch BM25 maintenance: batch 1 bootstraps the index,
    batch 2 appends; the final probe equals a batch build over
    everything."""
    from faexport_db_spark.queries.training_queries import _bm25_queries
    from faexport_db_spark.training.retrieval import (
        bm25_build_index,
        bm25_index_batch,
        bm25_topk_persisted,
    )
    from faexport_db_spark.streaming.microbatch import start_batch_stream
    from streams import drain

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    half = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    src = tmp_path / "src"
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    for i, batch in enumerate(half, 1):
        batch.write.mode("overwrite").parquet(str(src / f"b{i}"))
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(src / f"b{i}")
        )
        q = start_batch_stream(
            stream, bm25_index_batch, f"{ckpt}/b{i}", idx,
            trigger={"availableNow": True},
        )
        drain(q)

    queries = _bm25_queries(docs)
    ref_idx = str(tmp_path / "ref")
    bm25_build_index(docs, ref_idx)
    want = {
        tuple(r) for r in bm25_topk_persisted(spark, ref_idx, queries, k=3).collect()
    }
    got = {
        tuple(r) for r in bm25_topk_persisted(spark, idx, queries, k=3).collect()
    }
    assert got == want


def test_line_dedup_drops_all_occurrences_of_frequent_lines(spark):
    """RefinedWeb semantics: a repeated line vanishes EVERYWHERE —
    including its first occurrence — unlike passage_dedup's
    keep-first; unique lines survive verbatim."""
    from faexport_db_spark.training.text import line_dedup

    banner = "accept cookies to continue here"
    docs = spark.createDataFrame(
        [
            (1, f"{banner} alpha beta gamma delta eps"),
            (2, f"{banner} zeta eta theta iota kappa"),
            (3, "unique words only in this doc here fine words ok"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, line_tokens=5).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma delta eps"
    assert out[1]["n_lines_removed"] == 1  # first occurrence cut too
    assert out[2]["clean_text"] == "zeta eta theta iota kappa"
    assert out[3]["n_lines_removed"] == 0
    assert out[3]["clean_text"] == docs.filter("doc_id=3").first()["text"]


def test_line_dedup_normalization_collapses_variants(spark):
    """CCNet-normalized hashing: case/punctuation variants of the
    same line count as one line; raw mode keeps them distinct."""
    from faexport_db_spark.training.text import line_dedup

    docs = spark.createDataFrame(
        [(1, "Accept ALL Cookies!! now ok"), (2, "accept all cookies now ok")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, line_tokens=5).collect()}
    assert out[1]["n_lines_removed"] == 1 and out[2]["n_lines_removed"] == 1
    assert out[1]["clean_text"] == "" and out[2]["clean_text"] == ""
    raw = {
        r["doc_id"]: r
        for r in line_dedup(docs, line_tokens=5, normalize=False).collect()
    }
    assert raw[1]["n_lines_removed"] == 0 and raw[2]["n_lines_removed"] == 0


def test_line_dedup_max_removed_frac_drops_chrome_docs(spark):
    """Docs that are mostly duplicated chrome are dropped entirely
    under max_removed_frac; lightly-affected docs survive cleaned."""
    from faexport_db_spark.training.text import line_dedup

    chrome = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"{chrome} a b c d e f g h i j k l m n o"),  # 1/4 removed
            (2, chrome),  # 100% removed
            (3, chrome),  # 100% removed
        ],
        "doc_id bigint, text string",
    )
    out = line_dedup(docs, line_tokens=5, max_removed_frac=0.5)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1}
    # without the threshold all three come back (2/3 emptied)
    assert line_dedup(docs, line_tokens=5).count() == 3


def test_linear_quality_score_learned_weights_path(spark):
    """The broadcast-weight-table path scores known docs exactly:
    mean weight -> sigmoid, unknown tokens contribute 0."""
    import math

    from faexport_db_spark.training.text import linear_quality_score

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "junk junk junk junk")],
        "doc_id bigint, text string",
    )
    weights = spark.createDataFrame(
        [("good", 2.0), ("bad", -1.0)], "token string, weight double"
    )
    out = {r["doc_id"]: r for r in linear_quality_score(docs, weights=weights).collect()}
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["score"] - 1 / (1 + math.exp(-(2 + 2 - 1) / 3))) < 1e-6
    assert abs(out[2]["score"] - 0.5) < 1e-9  # all-unknown -> logit 0
    kept = linear_quality_score(docs, weights=weights, threshold=0.6).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_linear_quality_score_zero_token_docs_in_both_paths(spark):
    """A zero-token doc must appear in BOTH paths' output with
    n_tokens=0 and score 0.5 — the learned-weights path used to drop
    it entirely (explode of an empty array yields no rows; ADVICE
    r05), making the two paths return different row sets for the same
    input."""
    from faexport_db_spark.training.text import linear_quality_score

    docs = spark.createDataFrame(
        [(1, "good words here"), (2, ""), (3, "   "), (4, None)],
        "doc_id bigint, text string",
    )
    weights = spark.createDataFrame(
        [("good", 2.0)], "token string, weight double"
    )
    hashed = {r["doc_id"]: r for r in linear_quality_score(docs).collect()}
    learned = {
        r["doc_id"]: r
        for r in linear_quality_score(docs, weights=weights).collect()
    }
    # the contract under test: ONE ROW PER INPUT DOC on both paths
    assert set(hashed) == set(learned) == {1, 2, 3, 4}
    # whitespace-only text tokenizes to one "" token: n_tokens agrees
    # across paths; the learned path scores it 0.5 (unknown token)
    for d in (2, 3):
        assert hashed[d]["n_tokens"] == learned[d]["n_tokens"] == 1
        assert abs(learned[d]["score"] - 0.5) < 1e-9
    # NULL text: NULL n_tokens and NULL score on BOTH paths
    for out in (hashed, learned):
        assert out[4]["n_tokens"] is None and out[4]["score"] is None


def test_bm25_bootstrap_stats_name_is_idempotent(spark, tmp_path):
    """The streaming bootstrap writes its stats partial DIRECTLY under
    the batch's idempotent name (no build-then-rename crash window):
    a redelivered batch 0 that takes the append path overwrites the
    same partial, so corpus stats are never double-counted (ADVICE
    r05)."""
    from faexport_db_spark.operators.hadoop_fs import HadoopFs
    from faexport_db_spark.training.retrieval import (
        _read_stats,
        bm25_append_index,
        bm25_build_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta eta")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "idx")
    bm25_build_index(docs, idx, stats_name="sid-0")
    fs = HadoopFs(spark, idx)
    names = set(fs.list_names(f"{idx}/_bm25_stats"))
    assert "sid-0.json" in names and "base.json" not in names
    n_docs, avgdl = _read_stats(spark, idx)
    assert n_docs == 2
    # redelivery of batch 0 lands on the append path (meta exists) with
    # the SAME commit name -> overwrite, not a second partial
    bm25_append_index(docs, idx, commit_name="sid-0")
    n_docs2, avgdl2 = _read_stats(spark, idx)
    assert (n_docs2, avgdl2) == (n_docs, avgdl)


def test_group_cap_matches_single_window_and_is_deterministic(spark, sf_small):
    """Two-phase bucketed cap == the naive one-window top-cap, and
    reruns pick identical rows (hash rank, not rand)."""
    from pyspark.sql.window import Window as W

    from faexport_db_spark.training.pipeline import _rank_key, group_cap

    docs = load_table(spark, sf_small, "documents").select("doc_id", "source")
    capped = group_cap(docs, ["source"], cap=7, id_col="doc_id", seed=9)
    w = W.partitionBy("source").orderBy(_rank_key("doc_id", 9), "doc_id")
    naive = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .drop("rn")
    )
    mine = {(r["source"], r["doc_id"]) for r in capped.collect()}
    ref = {(r["source"], r["doc_id"]) for r in naive.collect()}
    assert mine == ref
    again = {
        (r["source"], r["doc_id"])
        for r in group_cap(docs, ["source"], cap=7, id_col="doc_id", seed=9).collect()
    }
    assert again == mine
    assert capped.groupBy("source").count().agg(F.max("count")).first()[0] <= 7


def test_global_shuffle_is_total_permutation(spark, sf_small):
    """Positions are exactly 0..n-1 with no collisions, and follow
    the md5 rank order."""
    from faexport_db_spark.training.pipeline import global_shuffle

    docs = load_table(spark, sf_small, "documents").select("doc_id")
    out = global_shuffle(docs, seed=3)
    n = docs.count()
    rows = out.collect()
    assert sorted(r["pos"] for r in rows) == list(range(n))
    # different seed -> different permutation (overwhelmingly)
    other = {r["doc_id"]: r["pos"] for r in global_shuffle(docs, seed=4).collect()}
    mine = {r["doc_id"]: r["pos"] for r in rows}
    assert mine != other


def test_heavy_hitters_threshold_exact(spark):
    from faexport_db_spark.training.text import heavy_hitter_tokens

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "a a a b c")], "doc_id bigint, text string"
    )
    out = {r["token"]: r for r in heavy_hitter_tokens(docs, 0.15).collect()}
    # a: 7/10, b: 2/10, c: 1/10 -> only a and b clear 15%
    assert set(out) == {"a", "b"}
    assert out["a"]["cnt"] == 7 and abs(out["a"]["frac"] - 0.7) < 1e-9


def test_compression_ratio_signal_golden(spark):
    """Known orderings: repetitive text compresses below prose, prose
    below high-entropy noise; ratios are in (0, ~1.2]; empty text is
    finite."""
    import random

    from faexport_db_spark.training.text import compression_ratio

    rng = random.Random(7)
    noise = " ".join(
        "".join(chr(rng.randrange(33, 127)) for _ in range(8)) for _ in range(60)
    )
    prose = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and thinks about dinner "
        "plans for the long cold evening ahead of everyone here"
    )
    docs = spark.createDataFrame(
        [(1, "spam " * 100), (2, prose), (3, noise), (4, "")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert out[1]["ratio"] < out[2]["ratio"] < out[3]["ratio"]
    assert 0 < out[1]["ratio"] < 0.1          # pure repetition
    assert out[3]["ratio"] > 0.7              # near-incompressible
    assert out[4]["n_bytes"] == 0 and out[4]["ratio"] > 0  # finite, not inf


def test_compression_ratio_plan_is_map_only(spark, sf_small):
    from faexport_db_spark.plans.audit import shuffle_count
    from faexport_db_spark.training.text import compression_ratio

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    df = compression_ratio(docs)
    assert shuffle_count(df) == 0


# ---- round 6 session ops: chunking / PMI / entropy / buckets / split ----


def test_chunk_overlap_reconstructs_text(spark):
    from faexport_db_spark.training.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 12), (2, "short"), (3, "x" * 400), (4, "y" * 401)],
        ["doc_id", "text"],
    )
    rows = chunk_documents(docs, width=400, stride=300).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r["chunk_text"]
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, chunks in by_doc.items():
        idxs = sorted(chunks)
        assert idxs == list(range(len(idxs)))  # dense 0-based
        # stride-prefix concatenation reconstructs the document exactly
        rebuilt = "".join(chunks[i][:300] for i in idxs[:-1]) + chunks[idxs[-1]]
        assert rebuilt == originals[did]
        # consecutive chunks overlap by width - stride characters
        for i in idxs[:-1]:
            assert chunks[i][300:] == chunks[i + 1][: len(chunks[i][300:])]
    assert len(by_doc[2]) == 1 and by_doc[2][0] == "short"
    assert len(by_doc[3]) == 1  # exactly width -> single chunk
    assert len(by_doc[4]) == 2  # width+1 -> second (overlapping) chunk


def test_chunk_overlap_rejects_bad_geometry(spark):
    from faexport_db_spark.training.text import chunk_documents

    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(docs, width=100, stride=200)
    with pytest.raises(ValueError):
        chunk_documents(docs, width=100, stride=0)


def test_pmi_bigrams_golden(spark):
    import math

    from faexport_db_spark.training.text import pmi_bigrams

    # corpus: "new york" always together; "the cat" vs "the dog" split
    docs = spark.createDataFrame(
        [(1, "new york new york"), (2, "the cat the dog"), (3, "new york the cat")],
        ["doc_id", "text"],
    )
    rows = {(r["w1"], r["w2"]): r for r in pmi_bigrams(docs, min_count=2).collect()}
    # unigrams: new=3 york=3 the=3 cat=2 dog=1  (nu=12); bigrams nb=9
    # c(new,york)=3  pmi = ln(3*12*12 / (9*3*3)) = ln(16/3)
    assert ("new", "york") in rows
    assert rows[("new", "york")]["pair_count"] == 3
    assert rows[("new", "york")]["pmi"] == pytest.approx(
        round(math.log(3 * 12 * 12 / (9 * 3 * 3)), 4)
    )
    # hapax bigrams pruned by min_count
    assert ("the", "dog") not in rows
    # collocation scores above a chance pairing of equally-frequent words
    assert ("york", "the") not in rows or rows[("york", "the")]["pmi"] < rows[
        ("new", "york")
    ]["pmi"]


def test_char_entropy_golden(spark):
    from faexport_db_spark.training.text import char_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "aab")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert rows[1]["char_entropy"] == 0.0
    assert rows[2]["char_entropy"] == 1.0
    assert rows[3]["char_entropy"] == 2.0
    # H(2/3, 1/3) = ln3/ln2 - 2/3  ≈ 0.9183
    assert rows[4]["char_entropy"] == pytest.approx(0.9183, abs=1e-4)
    assert rows[1]["n_chars_counted"] == 4


def test_length_buckets_exact_edges(spark):
    from faexport_db_spark.training.text import length_buckets

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 1)),
            (2, " ".join(["w"] * 64)),
            (3, " ".join(["w"] * 65)),
            (4, " ".join(["w"] * 128)),
        ],
        ["doc_id", "text"],
    )
    rows = {r["bucket_cap"]: r for r in length_buckets(docs, bucket=64).collect()}
    assert set(rows) == {64, 128}
    assert rows[64]["n_docs"] == 2 and rows[64]["sum_tokens"] == 65
    assert rows[64]["padded_tokens"] == 128
    assert rows[64]["waste_pct"] == pytest.approx(round(1 - 65 / 128, 4))
    assert rows[128]["n_docs"] == 2 and rows[128]["sum_tokens"] == 193
    assert rows[128]["waste_pct"] == pytest.approx(round(1 - 193 / 256, 4))


def test_cluster_split_members_share_split(spark):
    from faexport_db_spark.training.pipeline import cluster_split

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(100)], ["doc_id", "text"]
    )
    rows = cluster_split(docs, val_frac=0.3, test_frac=0.3).collect()
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_hash.values())  # no cluster straddles
    assert len(rows) == 100  # every doc assigned
    splits = {r["split"] for r in rows}
    assert splits <= {"train", "val", "test"} and len(splits) >= 2
    # rep is the min doc_id of the cluster
    reps = {r["content_hash"]: r["rep_id"] for r in rows}
    for r in rows:
        assert r["rep_id"] == reps[r["content_hash"]] <= r["doc_id"]


def test_cluster_split_explicit_clusters_and_unlabeled_fallback(spark):
    from faexport_db_spark.training.pipeline import cluster_split

    docs = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(10)], ["doc_id", "text"]
    )
    # docs 0-4 form one near-dup component; 5-6 another; 7-9 unlabeled
    clusters = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(i, 5) for i in (5, 6)],
        ["doc_id", "cluster_id"],
    )
    rows = {r["doc_id"]: r for r in cluster_split(docs, clusters=clusters).collect()}
    assert len(rows) == 10
    assert len({rows[i]["split"] for i in range(5)}) == 1
    assert len({rows[i]["split"] for i in (5, 6)}) == 1
    for i in (7, 8, 9):  # unlabeled docs are their own singleton cluster
        assert rows[i]["cluster_id"] == i and rows[i]["rep_id"] == i
    with pytest.raises(ValueError):
        cluster_split(docs, val_frac=0.6, test_frac=0.5)


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    from faexport_db_spark.training.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(40, 60))  # wholly contained
    docs = spark.createDataFrame(
        [(1, long_text), (2, quote), (3, "completely different content here")],
        ["doc_id", "text"],
    )
    rows = {(r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(docs, threshold=0.6).collect()}
    assert rows.get((1, 2)) == 1.0  # every quote bigram is in the long doc
    assert (1, 3) not in rows and (2, 3) not in rows
    # symmetric jaccard on the same pair is tiny — the gap this op exists for
    inter, union = 19, 199 + 19 - 19  # bigram counts (distinct)
    assert inter / union < 0.15


def test_iqr_outliers_per_group_fences(spark):
    from faexport_db_spark.training.text import iqr_outliers

    rows = []
    for i in range(20):  # group A: ~100 tokens each, one 5-token stub
        rows.append((i, "A", " ".join(["w"] * (100 + i % 3))))
    rows.append((98, "A", "w w w w w"))
    for i in range(30, 50):  # group B: ~10 tokens each (stub-sized is NORMAL here)
        rows.append((i, "B", " ".join(["w"] * (10 + i % 2))))
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in iqr_outliers(docs).collect()}
    assert out[98]["is_outlier"] is True  # stub vs group A's fences
    assert all(not out[i]["is_outlier"] for i in range(30, 50))  # normal in B
    assert all(not out[i]["is_outlier"] for i in range(20))
    # fences are group-local: B's hi fence sits far below A's median
    assert out[30]["hi_fence"] < 100 < out[0]["hi_fence"]


def test_kcore_peels_cascade(spark):
    from faexport_db_spark.operators.graph import canonical_edges, kcore

    # a 4-clique with a pendant chain: chain peels away over rounds,
    # clique survives with degree 3 intact
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = canonical_edges(spark.createDataFrame(edges, ["src", "dst"]))
    out = {r["node"]: r["degree"] for r in kcore(df, k=3, rounds=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}  # 5 and 6 peeled; 4 loses its pendant


def test_kcore_rounds_bound_the_peel(spark):
    from faexport_db_spark.operators.graph import canonical_edges, kcore

    # a long chain needs one round per link to fully unravel at k=2
    chain = [(i, i + 1) for i in range(8)]
    df = canonical_edges(spark.createDataFrame(chain, ["src", "dst"]))
    one = set(r["node"] for r in kcore(df, k=2, rounds=1).collect())
    three = set(r["node"] for r in kcore(df, k=2, rounds=3).collect())
    assert three < one  # more rounds peel strictly deeper here


def test_corpus_overlap_identical_and_disjoint_sources(spark):
    from faexport_db_spark.training.dedup import corpus_overlap

    rows = (
        [(i, "A", f"alpha beta gamma delta {i % 2}") for i in range(4)]
        + [(10 + i, "B", f"alpha beta gamma delta {i % 2}") for i in range(4)]
        + [(20 + i, "C", f"omega psi chi phi {i}") for i in range(4)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r["src_a"], r["src_b"]): r for r in corpus_overlap(docs).collect()}
    assert out[("A", "B")]["jaccard"] == 1.0  # same shingle sets
    assert ("A", "C") not in out  # disjoint vocabularies never pair
    assert ("B", "A") not in out  # canonical ordering only


def test_corpus_overlap_sampled_estimate_close(spark, sf_small):
    """The mod-p sampled estimate lands near the exact Jaccard (same
    plan, 1/16 vocabulary) — the 100 TB path."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.training.dedup import corpus_overlap

    docs = load_table(spark, sf_small, "documents")
    exact = {(r["src_a"], r["src_b"]): r["jaccard"]
             for r in corpus_overlap(docs).collect()}
    approx = {(r["src_a"], r["src_b"]): r["jaccard"]
              for r in corpus_overlap(docs, keep_prefix="0").collect()}
    common = set(exact) & set(approx)
    assert len(common) >= 10
    diffs = [abs(exact[p] - approx[p]) for p in common]
    assert sum(diffs) / len(diffs) < 0.1


def test_null_and_empty_text_parity_semantics(spark):
    """NULL text must flow through the round-6 text ops the way SQL
    engines treat it (NULL stats, never -1 from Spark's size(NULL) or
    a phantom zero bucket); empty text is DATA (entropy 0.0), NULL is
    absence (entropy NULL)."""
    from faexport_db_spark.training.text import (
        char_entropy,
        iqr_outliers,
        length_buckets,
    )

    docs = spark.createDataFrame(
        [(1, "A", None), (2, "A", ""), (3, "A", "w w w")],
        "doc_id bigint, source string, text string",
    )
    ent = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert len(ent) == 3  # one row per input doc, NULLs included
    assert ent[1]["char_entropy"] is None and ent[1]["n_chars_counted"] is None
    assert ent[2]["char_entropy"] == 0.0 and ent[2]["n_chars_counted"] == 0
    assert ent[3]["char_entropy"] is not None

    buckets = {r["bucket_cap"]: r for r in length_buckets(docs, bucket=64).collect()}
    assert None in buckets  # NULL doc -> NULL bucket, not bucket 0
    assert buckets[None]["n_docs"] == 1 and buckets[None]["sum_tokens"] is None
    assert 0 not in buckets

    out = {r["doc_id"]: r for r in iqr_outliers(docs).collect()}
    assert out[1]["n_tokens"] is None and out[1]["is_outlier"] is None
    assert out[2]["n_tokens"] == 1  # '' splits to one empty token (family rule)


def test_corpus_build_composition_golden(spark):
    from faexport_db_spark.training.pipeline import corpus_build

    good = "the quick brown fox jumps over a lazy dog while we watch quietly"
    rows = (
        [(i, "en", good + f" variant {i}") for i in range(6)]
        + [(10, "en", good + " variant 0")]      # exact dup of doc 0 -> dropped
        + [(11, "en", "tiny")]                    # fails min_tokens
        + [(12, "en", "spam " * 40)]              # fails repetition screen
    )
    docs = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = corpus_build(
        docs, min_tokens=10, min_distinct_stop=1, max_top_share=0.12
    ).collect()
    assert sum(r["n_docs"] for r in out) == 6  # dup + 2 rejects gone
    assert {r["lang"] for r in out} == {"en"}
    assert all(r["split"] in ("train", "val", "test") for r in out)
    assert sum(r["sum_tokens"] for r in out) == 6 * 15  # 13 + 'variant i'


def test_vocab_ids_total_order_and_density(spark):
    from faexport_db_spark.training.pipeline import vocab_ids

    # skewed counts with ties to exercise the chunk-boundary rule
    words = (["the"] * 50 + ["cat"] * 20 + ["dog"] * 20 + ["sat"] * 5
             + ["on"] * 5 + ["mat"] * 5 + ["a"] * 1)
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::4])) for i in range(4)], ["doc_id", "text"]
    )
    rows = sorted(vocab_ids(docs, n_chunks=4).collect(), key=lambda r: r["token_id"])
    ids = [r["token_id"] for r in rows]
    assert ids == list(range(len(rows)))  # dense 0..n-1, no gaps, no dupes
    # non-increasing counts; lexicographic within a count tie
    for a, b in zip(rows, rows[1:]):
        assert (a["cnt"], b["token"]) >= (b["cnt"], a["token"]) or a["cnt"] > b["cnt"]
        if a["cnt"] == b["cnt"]:
            assert a["token"] < b["token"]
    assert rows[0]["token"] == "the" and rows[0]["token_id"] == 0


def test_duplicate_substring_spans_marks_maximal_cross_doc_runs(spark):
    """Reference third granularity (Lee et al. 2021): a shared 8-token
    run is reported per document at its own offset, maximal (one span
    per island, not one per gram), with exact span text."""
    from faexport_db_spark.training.text import duplicate_substring_spans

    shared = "a b c d e f g h"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{shared} x1 x2 x3"),
            (2, f"y1 y2 {shared} y3"),  # same run at offset 2
            (3, "only unique tokens here u1 u2 u3 u4 u5"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["span_start"]): r
        for r in duplicate_substring_spans(docs, min_tokens=8).collect()
    }
    assert set(out) == {(1, 0), (2, 2)}
    for r in out.values():
        assert r["n_tokens"] == 8 and r["span_text"] == shared


def test_duplicate_substring_spans_merge_and_within_doc(spark):
    """Two consecutive duplicated gram positions merge into ONE
    maximal 9-token span; a within-doc repeat yields two spans."""
    from faexport_db_spark.training.text import duplicate_substring_spans

    nine = "a b c d e f g h i"  # 9 tokens -> gram positions 0 and 1
    docs = spark.createDataFrame(
        [
            (1, f"{nine} u1 u2"),
            (2, f"v1 {nine}"),
            (3, "a b c d e f g h w1 w2 a b c d e f g h"),  # self-repeat
        ],
        "doc_id bigint, text string",
    )
    rows = duplicate_substring_spans(docs, min_tokens=8).collect()
    spans = {(r["doc_id"], r["span_start"], r["n_tokens"]) for r in rows}
    assert (1, 0, 9) in spans and (2, 1, 9) in spans
    assert (3, 0, 8) in spans and (3, 10, 8) in spans
    by_doc3 = sorted(r["span_text"] for r in rows if r["doc_id"] == 3)
    assert by_doc3 == ["a b c d e f g h", "a b c d e f g h"]


def test_duplicate_substring_spans_null_and_short_docs(spark):
    """NULL text and sub-min_tokens docs produce no spans and no crash
    (the size(split(NULL)) = -1 hazard)."""
    from faexport_db_spark.training.text import duplicate_substring_spans

    docs = spark.createDataFrame(
        [(1, None), (2, "short doc"), (3, ""), (4, "a b c d e f g h")],
        "doc_id bigint, text string",
    )
    assert duplicate_substring_spans(docs, min_tokens=8).count() == 0


def test_substring_dedup_first_occurrence_wins(spark):
    """Removal form: the lowest (doc_id, pos) occurrence keeps its
    text, every other occurrence is cut; short docs pass through;
    a wholly-duplicated doc comes back EMPTY, never dropped."""
    from faexport_db_spark.training.text import substring_dedup

    shared = "a b c d e f g h"
    ten = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} x1 x2"),
            (2, f"p q {shared} r"),
            (3, "tiny text"),
            (5, ten),
            (6, ten),  # exact whole-doc duplicate of 5
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, min_tokens=8).collect()}
    assert set(out) == {1, 2, 3, 5, 6}
    assert out[1]["clean_text"] == f"{shared} x1 x2"  # keeper intact
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["clean_text"] == "p q r" and out[2]["n_tokens_removed"] == 8
    assert out[3]["clean_text"] == "tiny text" and out[3]["n_tokens_removed"] == 0
    assert out[5]["clean_text"] == ten and out[5]["n_tokens_removed"] == 0
    assert out[6]["clean_text"] == "" and out[6]["n_tokens_removed"] == 10


def test_substring_dedup_covers_span_tokens_exactly(spark):
    """Removal ≡ detector coverage on the non-keeper side: the tokens
    cut from a doc are exactly the union of its non-keeper duplicate
    spans (here one 9-token island from two overlapping grams)."""
    from faexport_db_spark.training.text import substring_dedup

    nine = "a b c d e f g h i"
    docs = spark.createDataFrame(
        [(1, f"{nine} u1"), (2, f"w1 w2 {nine} w3")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, min_tokens=8).collect()}
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["clean_text"] == "w1 w2 w3" and out[2]["n_tokens_removed"] == 9


def test_bpe_merges_greedy_tiebreak_and_weighting(spark):
    """Trainer invariants: frequency-weighted pair counts (a word seen
    3× contributes 3× its pairs), greedy non-overlapping application
    ('aaaa' + merge(a,a) → two 'aa' symbols, so iteration 2 can learn
    (aa,aa)), and lexicographic tie-breaks."""
    from faexport_db_spark.training.text import bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa xy"), (2, "aaaa xy zw")],
        "doc_id bigint, text string",
    )
    rows = {r["it"]: r for r in bpe_merges(docs, n_merges=2).collect()}
    # 'aaaa' freq 4 -> pair (a,a) count 3*4=12 beats (x,y)=2, (z,w)=1
    assert (rows[0]["lhs"], rows[0]["rhs"], rows[0]["pair_count"]) == ("a", "a", 12)
    # after greedy merge 'aaaa' -> [aa, aa]; (aa,aa) count 4 wins it 2
    assert (rows[1]["lhs"], rows[1]["rhs"], rows[1]["merged"]) == ("aa", "aa", "aaaa")
    assert rows[1]["pair_count"] == 4

    tie = spark.createDataFrame([(1, "ba ab")], "doc_id bigint, text string")
    t = bpe_merges(tie, n_merges=1).collect()[0]
    # (a,b) and (b,a) both count 1 -> lexicographic (a,b) wins
    assert (t["lhs"], t["rhs"]) == ("a", "b")


def test_bpe_merges_null_and_empty_corpus(spark):
    from faexport_db_spark.training.text import bpe_merges

    docs = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id bigint, text string"
    )
    # single-char vocab: no adjacent pairs -> trainer stops early
    assert bpe_merges(docs, n_merges=3).count() == 0


def test_media_near_dup_detects_localized_byte_edits(spark):
    """Codec-free byte-level near-dup: a payload differing from its
    original in ONE chunk matches on the other chunks and survives the
    threshold; unrelated payloads share no chunks; byte-identical
    payloads hit match_frac 1.0."""
    from faexport_db_spark.training.multimodal import media_near_dup_pairs

    base = bytes(range(256)) * 8  # 2048 bytes -> 8 chunks of 256
    edited = base[:1024] + b"\xff" * 256 + base[1280:]  # chunk 4 replaced
    other = bytes(reversed(base))
    rows = spark.createDataFrame(
        [(1, base), (2, edited), (3, other), (4, base)],
        "media_id bigint, media_bytes binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in media_near_dup_pairs(
            rows, threshold=0.8, chunk_bytes=256
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)]["n_match"] == 7
    assert pairs[(1, 2)]["match_frac"] == 0.875
    assert (1, 4) in pairs and pairs[(1, 4)]["match_frac"] == 1.0
    assert not any(3 in k for k in pairs)


def test_media_near_dup_stop_chunk_guard_and_nulls(spark):
    """A degenerate chunk shared by MANY payloads (zero padding) must
    not explode into a quadratic bucket: with max_bucket below the
    padding's frequency, pairs only arise from informative chunks.
    NULL/empty payloads produce no rows and no crash."""
    from faexport_db_spark.training.multimodal import (
        media_chunk_signatures,
        media_near_dup_pairs,
    )

    pad = b"\x00" * 64
    rows = [(i, bytes([i]) * 64 + pad) for i in range(1, 21)]  # shared pad chunk
    rows += [(100, None), (101, b"")]
    media = spark.createDataFrame(rows, "media_id bigint, media_bytes binary")
    assert (
        media_chunk_signatures(media, chunk_bytes=64)
        .filter("media_id >= 100")
        .count()
        == 0
    )
    # pad chunk bucket has 20 members > max_bucket=10 -> dropped; the
    # unique lead chunks match nothing -> zero pairs, not 190
    assert (
        media_near_dup_pairs(media, threshold=0.4, chunk_bytes=64, max_bucket=10)
        .count()
        == 0
    )


def test_media_near_dup_plan_is_jvm_only_and_blob_free_join(spark):
    """The candidate join carries only skinny signature columns (the
    blobs never shuffle) and the whole pipeline has zero Python
    evals; the sig subtree is checkpoint-shared, so payload bytes are
    hashed in one pass."""
    from faexport_db_spark.plans.audit import python_eval_count
    from faexport_db_spark.training.multimodal import (
        documents_as_media,
        media_near_dup_pairs,
    )
    from faexport_db_spark.datamodel.testdata import load_table

    media = documents_as_media(load_table(spark, "/root/testdata/sf0.001", "documents"))
    df = media_near_dup_pairs(media, chunk_bytes=32)
    assert python_eval_count(df) == 0


def test_media_exact_dup_groups(spark):
    from faexport_db_spark.training.multimodal import media_exact_dup

    rows = spark.createDataFrame(
        [(1, b"aaa"), (2, b"bbb"), (3, b"aaa"), (4, b"aaa"), (5, None)],
        "media_id bigint, media_bytes binary",
    )
    out = media_exact_dup(rows).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_copies"] == 3 and r["keeper_id"] == 1 and r["dup_ids"] == [3, 4]


def test_substring_index_incremental_probe_and_append(spark, tmp_path):
    """Incremental third-granularity: a batch doc copying 8+ corpus
    tokens is flagged at its own offset; novel docs pass clean;
    within-batch repeats are caught without the index; batches the
    substring step adds extend detection; a gram-width mismatch fails
    loud."""
    import pytest

    from faexport_db_spark.streaming.dedup_stream import (
        substring_dedup_batch_against_store,
    )
    from faexport_db_spark.training.text import (
        build_substring_index,
        duplicate_substring_spans_against_index,
    )

    shared = "a b c d e f g h"
    corpus = spark.createDataFrame(
        [(1, f"{shared} c1 c2 c3"), (2, "k l m n o p q r s t")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "gram_idx")
    build_substring_index(corpus, idx, min_tokens=8)

    nine = "n1 n2 n3 n4 n5 n6 n7 n8 n9"
    batch = spark.createDataFrame(
        [
            (10, f"u1 u2 {shared} u3"),      # copies corpus substring at pos 2
            (11, "v1 v2 v3 v4 v5 v6 v7 v8 v9"),  # novel
            (12, f"{nine} w1"),              # within-batch pair with 13
            (13, f"x1 {nine}"),
        ],
        "doc_id bigint, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["n_tokens"])
        for r in duplicate_substring_spans_against_index(
            batch, idx, min_tokens=8
        ).collect()
    }
    assert (10, 2, 8) in spans
    assert (12, 0, 9) in spans and (13, 1, 9) in spans
    assert not any(d == 11 for d, _s, _n in spans)

    # the step indexes the batch's stored grams: a LATER batch
    # repeating doc 11's text now hits
    substring_dedup_batch_against_store(
        batch, str(tmp_path / "store"), idx, min_tokens=8
    )
    later = spark.createDataFrame(
        [(20, "y0 v1 v2 v3 v4 v5 v6 v7 v8 v9")], "doc_id bigint, text string"
    )
    spans2 = {
        (r["doc_id"], r["span_start"], r["n_tokens"])
        for r in duplicate_substring_spans_against_index(
            later, idx, min_tokens=8
        ).collect()
    }
    assert (20, 1, 9) in spans2

    with pytest.raises(ValueError):
        duplicate_substring_spans_against_index(later, idx, min_tokens=5)


def test_substring_removal_against_index(spark, tmp_path):
    """Incremental removal: batch tokens covered by corpus-indexed
    grams are cut (the corpus is the keeper), within-batch repeats
    keep their batch-first occurrence, novel text passes; once the
    substring step has added the batch, a later batch dedups against
    the grown index."""
    from faexport_db_spark.streaming.dedup_stream import (
        substring_dedup_batch_against_store,
    )
    from faexport_db_spark.training.text import (
        build_substring_index,
        substring_dedup_against_index,
    )

    shared = "a b c d e f g h"
    corpus = spark.createDataFrame(
        [(1, f"{shared} c1 c2")], "doc_id bigint, text string"
    )
    idx = str(tmp_path / "gidx")
    build_substring_index(corpus, idx, min_tokens=8)

    nine = "m1 m2 m3 m4 m5 m6 m7 m8 m9"
    batch = spark.createDataFrame(
        [
            (10, f"u1 {shared} u2"),   # indexed substring -> cut, fillers stay
            (11, "fresh text only here"),
            (12, f"{nine} w1"),        # batch-first keeper of nine
            (13, f"x1 {nine}"),        # repeat -> cut
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup_against_index(batch, idx, min_tokens=8).collect()
    }
    assert out[10]["clean_text"] == "u1 u2" and out[10]["n_tokens_removed"] == 8
    assert out[11]["clean_text"] == "fresh text only here"
    assert out[12]["n_tokens_removed"] == 0
    assert out[13]["clean_text"] == "x1" and out[13]["n_tokens_removed"] == 9

    # added: doc 12's nine is now indexed -> a later repeat is cut
    substring_dedup_batch_against_store(
        batch, str(tmp_path / "store"), idx, min_tokens=8
    )
    later = spark.createDataFrame(
        [(20, f"z9 {nine}")], "doc_id bigint, text string"
    )
    out2 = substring_dedup_against_index(later, idx, min_tokens=8).collect()[0]
    assert out2["clean_text"] == "z9" and out2["n_tokens_removed"] == 9


def _listing(path) -> list[tuple[str, int]]:
    """(relative name, size) of every file under ``path``, hidden ones
    included."""
    import os

    return sorted(
        (os.path.relpath(os.path.join(root, n), path),
         os.path.getsize(os.path.join(root, n)))
        for root, _dirs, names in os.walk(path)
        for n in names
    )


def test_incremental_dedup_probes_never_write_the_index(spark, tmp_path):
    """The passage, line, substring and substring-span probes are
    read-only: a probe (results collected) leaves its index directory's
    listing, names and sizes, as it found it."""
    from faexport_db_spark.training import text

    corpus = spark.createDataFrame(
        [(1, "c1 c2 c3 c4 c5 d1 d2 d3 d4 d5")], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [(10, "c1 c2 c3 c4 c5 n1 n2 n3 n4 n5"), (11, "z1 z2 z3 z4 z5 z6 z7 z8")],
        "doc_id bigint, text string",
    )
    cases = {
        "passage": (text.build_passage_index, text.passage_dedup_against_index,
                    {"tile_tokens": 5}),
        "line": (text.build_line_index, text.line_dedup_against_index,
                 {"line_tokens": 5}),
        "substring": (text.build_substring_index, text.substring_dedup_against_index,
                      {"min_tokens": 8}),
        "spans": (text.build_substring_index,
                  text.duplicate_substring_spans_against_index, {"min_tokens": 8}),
    }
    for name, (build, probe, kw) in cases.items():
        idx = str(tmp_path / name)
        build(corpus, idx, **kw)
        before = _listing(idx)
        out = probe(batch, idx, **kw)
        for df in out if isinstance(out, tuple) else (out,):
            df.collect()
        assert _listing(idx) == before, name


def test_substring_step_indexes_only_stored_grams(spark, tmp_path):
    """The substring step indexes the grams of the text it stores, not
    of the raw batch: ``u1 a b c d e f g h u2`` stores ``u1 u2``, so its
    raw gram ``u1 a b c d e f g`` never reaches the index and a later
    batch holding it comes back uncut."""
    from faexport_db_spark.streaming.dedup_stream import (
        substring_dedup_batch_against_store,
    )
    from faexport_db_spark.training.text import (
        build_substring_index,
        substring_dedup_against_index,
    )

    idx = str(tmp_path / "gidx")
    build_substring_index(
        spark.createDataFrame([(1, "a b c d e f g h c1 c2")], "doc_id bigint, text string"),
        idx, min_tokens=8,
    )
    stored = substring_dedup_batch_against_store(
        spark.createDataFrame([(10, "u1 a b c d e f g h u2")], "doc_id bigint, text string"),
        str(tmp_path / "store"), idx, min_tokens=8,
    )
    assert [r["text"] for r in stored.collect()] == ["u1 u2"]
    later = spark.createDataFrame(
        [(20, "u1 a b c d e f g zz")], "doc_id bigint, text string"
    )
    out = substring_dedup_against_index(later, idx, min_tokens=8).collect()[0]
    assert out["clean_text"] == "u1 a b c d e f g zz"
    assert out["n_tokens_removed"] == 0


def test_bpe_apply_encodes_with_trained_merges(spark):
    """Encoder half: applying the trainer's merges in order reproduces
    the greedy fold per word — 'aaaa' with merges [(a,a),(aa,aa)]
    becomes ONE symbol; untouched words stay character-length; the
    plan is JVM-only and shuffle-free."""
    from faexport_db_spark.plans import shuffle_count
    from faexport_db_spark.plans.audit import python_eval_count
    from faexport_db_spark.training.text import bpe_apply, bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa xy"), (2, "aaaa xy zw")],
        "doc_id bigint, text string",
    )
    learned = [
        (r["lhs"], r["rhs"]) for r in bpe_merges(docs, n_merges=2).collect()
    ]
    assert learned == [("a", "a"), ("aa", "aa")]
    out = {r["doc_id"]: r for r in bpe_apply(docs, learned).collect()}
    # doc 1: aaaa->1 sym x3, xy->2 chars (no merge learned for it)
    assert out[1]["n_bpe_tokens"] == 3 * 1 + 2
    assert out[2]["n_bpe_tokens"] == 1 + 2 + 2
    assert out[1]["n_ws_tokens"] == 4 and out[2]["n_ws_tokens"] == 3

    df = bpe_apply(docs, learned)
    assert shuffle_count(df) == 0 and python_eval_count(df) == 0


def test_bpe_apply_matches_python_reference(spark):
    """Random corpora: encoded symbol counts equal the brute-force
    train-then-encode reference for the same merge table."""
    import random

    from faexport_db_spark.training.text import bpe_apply, bpe_merges

    rnd = random.Random(17)
    for trial in range(3):
        words = [
            "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 6)))
            for _ in range(rnd.randint(5, 15))
        ]
        docs = spark.createDataFrame(
            [(0, " ".join(words))], "doc_id bigint, text string"
        )
        learned = [
            (r["lhs"], r["rhs"]) for r in bpe_merges(docs, n_merges=3).collect()
        ]

        def encode(w):
            syms = list(w)
            for lhs, rhs in learned:
                out = []
                for s in syms:
                    if out and out[-1] == lhs and s == rhs:
                        out[-1] = lhs + rhs
                    else:
                        out.append(s)
                syms = out
            return len(syms)

        want = sum(encode(w) for w in words)
        got = bpe_apply(docs, learned).collect()[0]["n_bpe_tokens"]
        assert got == want, f"trial {trial}: {got} != {want}"


def test_html_extract_semantics(spark):
    """Edge semantics the oracle-backed driver op can't isolate:
    one-pass entity decode (&amp;lt; yields literal '&lt;', never
    double-decodes to '<'), script bodies containing closing tags of
    OTHER elements are dropped wholesale, NULL html rows filtered,
    multiple script/style blocks all removed."""
    from faexport_db_spark.training.text import html_extract

    rows = [
        (1, "<p>a &amp;lt; b</p>"),
        (2, '<script>x = "</p>";</script><p>kept</p><style>a{}</style>'),
        (3, None),
        (4, "<script>one</script>mid<script>two</script> tail"),
        (5, "  <div>collapse    me</div>  "),
        (6, "&quot;q&quot;&nbsp;&#39;s&#39; &gt;&lt;"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, html string")
    got = {r["doc_id"]: r["extracted"] for r in html_extract(df).collect()}
    assert got == {
        1: "a &lt; b",
        2: "kept",
        4: "mid tail",
        5: "collapse me",
        6: "\"q\" 's' ><",
    }


def test_fuzzy_decontaminate_drops_paraphrased_benchmark_docs(spark):
    """The clean-corpus form: a corpus doc that is a light paraphrase
    of a benchmark doc (first word swapped — breaks every long exact
    n-gram) is dropped; unrelated docs survive; an empty benchmark
    leaves the corpus untouched."""
    from faexport_db_spark.training.dedup import fuzzy_decontaminate

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    corpus = spark.createDataFrame(
        [
            (1, base.replace("the quick", "a quick")),  # paraphrased leak
            (2, "completely unrelated text about spark physical plans and shuffles here"),
            (3, base),  # verbatim leak
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in fuzzy_decontaminate(corpus, bench).collect())
    assert kept == [2]

    empty_bench = spark.createDataFrame([], "doc_id bigint, text string")
    kept_all = sorted(
        r["doc_id"] for r in fuzzy_decontaminate(corpus, empty_bench).collect()
    )
    assert kept_all == [1, 2, 3]


def test_fuzzy_contamination_overlapping_ids(spark):
    """Corpus and benchmark ids are independent spaces: a corpus doc
    sharing a raw id with a benchmark doc must keep ITS OWN text
    through the verify stage. Pre-namespacing, the union by raw id let
    ``F.max`` pick one shingle array for both sides, reporting the
    colliding pair at jaccard 1.0 regardless of the actual texts."""
    from faexport_db_spark.training.dedup import (
        fuzzy_contamination_pairs,
        fuzzy_decontaminate,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    corpus = spark.createDataFrame(
        [
            (1, base.replace("the quick", "a quick")),  # paraphrased leak
            (2, "completely unrelated text about spark physical plans and shuffles here"),
            (100, base.replace("river bank", "creek bed")),  # leak, id collides with bench
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id bigint, text string")
    pairs = {
        (r["corpus_id"], r["bench_id"]): r["jaccard"]
        for r in fuzzy_contamination_pairs(corpus, bench).collect()
    }
    assert set(pairs) == {(1, 100), (100, 100)}
    # The colliding pair's jaccard reflects the two DIFFERENT texts —
    # a paraphrase, strictly below 1.0 — not a self-compare.
    assert pairs[(100, 100)] < 1.0
    kept = sorted(r["doc_id"] for r in fuzzy_decontaminate(corpus, bench).collect())
    assert kept == [2]


def test_fuzzy_contamination_stop_bucket_guard(spark):
    """A degenerate band bucket (every corpus doc identical ⇒ all 16
    bands collide) is skipped when max_bucket is tiny — no pairs — and
    admitted when the guard is lifted."""
    from faexport_db_spark.training.dedup import fuzzy_contamination_pairs

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(8)], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame([(100, text)], "doc_id bigint, text string")
    guarded = fuzzy_contamination_pairs(corpus, bench, max_bucket=4)
    assert guarded.count() == 0
    open_pairs = fuzzy_contamination_pairs(corpus, bench, max_bucket=None)
    assert open_pairs.count() == 8


def test_winnowing_guarantee_shared_runs_share_a_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. §4): with k=3, w=4,
    any two docs sharing a run of ≥ w+k−1 = 6 tokens share at least
    one selected fingerprint HASH. Cases plant a 6-token run at
    different offsets inside otherwise-unique filler (one Spark job,
    repo batch style); a disjoint-text control pair must share
    nothing."""
    import random

    from faexport_db_spark.training.text import winnowing_fingerprints

    rnd = random.Random(11)
    shared_runs = [
        " ".join(f"run{c}_{i}" for i in range(6)) for c in range(5)
    ]

    def filler(tag, n):
        return " ".join(f"{tag}_{rnd.randint(0, 10**9)}_{j}" for j in range(n))

    rows = []
    for c, run in enumerate(shared_runs):
        rows.append((2 * c, f"{filler(f'a{c}', rnd.randint(0, 8))} {run} {filler(f'b{c}', rnd.randint(0, 8))}".strip()))
        rows.append((2 * c + 1, f"{filler(f'c{c}', rnd.randint(0, 8))} {run} {filler(f'd{c}', rnd.randint(0, 8))}".strip()))
    rows.append((100, filler("x", 12)))
    rows.append((101, filler("y", 12)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for c in range(len(shared_runs)):
        assert by_doc[2 * c] & by_doc[2 * c + 1], f"case {c}: no shared fingerprint"
    assert not (by_doc[100] & by_doc[101])


def test_winnowing_density_and_short_docs(spark):
    """Selected density sits near the paper's 2/(w+1) of grams (loose
    bounds — selection is distinct-collapsed), and a doc shorter than
    one window still emits exactly its global rightmost-min."""
    from faexport_db_spark.training.text import winnowing_fingerprints

    long_doc = " ".join(f"tok{i % 37}x{i % 11}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "only four little tokens")],
        "doc_id bigint, text string",
    )
    out = winnowing_fingerprints(docs, k=3, w=4).collect()
    n_long = sum(1 for r in out if r["doc_id"] == 1)
    n_grams = 400 - 2
    assert 0.2 * n_grams < n_long < 0.6 * n_grams
    short = [r for r in out if r["doc_id"] == 2]
    assert len(short) == 1 and 0 <= short[0]["pos"] <= 1


def test_cdc_chunking_matches_python_reference_and_covers_payload(spark):
    """CDC chunk geometry vs a brute-force Python replay of the same
    (window=8, '0'-prefix, min_chunk=16) rule on random byte strings:
    identical boundaries, md5s, full coverage, no overlap. Also pins
    the short-payload (< window) single-chunk case and NULL/empty
    filtering."""
    import hashlib
    import random

    from faexport_db_spark.training.multimodal import cdc_chunk_spans

    rnd = random.Random(23)
    payloads = [
        bytes(rnd.randrange(256) for _ in range(n))
        for n in (0, 3, 8, 44, 200, 700)
    ]
    rows = [(i, p) for i, p in enumerate(payloads)] + [(99, None)]
    media = spark.createDataFrame(rows, "media_id bigint, media_bytes binary")
    got = {}
    for r in cdc_chunk_spans(media).collect():
        got.setdefault(r["media_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"], r["chunk_md5"])
        )

    def ref_chunks(p):
        L = len(p)
        if L == 0:
            return []
        bounds = [0]
        for i in range(8, L + 1):
            if (
                hashlib.md5(p[i - 8 : i]).hexdigest().startswith("0")
                and i - bounds[-1] >= 16
            ):
                bounds.append(i)
        if bounds[-1] != L:
            bounds.append(L)
        return [
            (j, bounds[j], bounds[j + 1] - bounds[j],
             hashlib.md5(p[bounds[j] : bounds[j + 1]]).hexdigest())
            for j in range(len(bounds) - 1)
        ]

    for i, p in enumerate(payloads):
        assert sorted(got.get(i, [])) == ref_chunks(p), f"payload {i}"
    assert 99 not in got


def test_cdc_near_dup_survives_insertion_fixed_width_does_not(spark):
    """The reason CDC exists: after a 3-byte insertion the fixed-width
    scheme shares ~nothing (every aligned chunk shifted) while the
    CDC scheme re-aligns after one chunk and the pair clears a 0.5
    distinct-hash fraction."""
    import random

    from faexport_db_spark.training.multimodal import (
        media_cdc_near_dup_pairs,
        media_near_dup_pairs,
    )

    rnd = random.Random(7)
    base = bytes(rnd.randrange(256) for _ in range(600))
    media = spark.createDataFrame(
        [(1, base), (2, b"XYZ" + base)],
        "media_id bigint, media_bytes binary",
    )
    fixed = media_near_dup_pairs(media, threshold=0.3, chunk_bytes=16).collect()
    assert fixed == []
    cdc = media_cdc_near_dup_pairs(media, threshold=0.5).collect()
    assert len(cdc) == 1 and cdc[0]["match_frac"] >= 0.5


def test_winnowing_pairs_find_planted_shared_run(spark):
    """Pairs surface exactly the planted shared-run pair (guarantee in
    candidate form) and nothing between disjoint docs."""
    from faexport_db_spark.training.text import winnowing_match_pairs

    run = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"uniq1a uniq1b {run} uniq1c"),
        (2, f"uniq2a {run} uniq2b uniq2c"),
        (3, "totally disjoint text with nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["id_a"], r["id_b"]) for r in winnowing_match_pairs(docs).collect()}
    assert (1, 2) in got and not any(3 in p for p in got)


def test_media_pipeline_attributes_each_duplicate_kind_to_its_stage(spark):
    """One payload with one duplicate of each kind: the exact copy
    falls to stage 1, the length-preserving edit to stage 2, the
    insertion to stage 3 — and a novel payload survives everything."""
    import random

    from faexport_db_spark.training.multimodal import media_dedup_pipeline_report

    rnd = random.Random(13)
    base = bytes(rnd.randrange(256) for _ in range(600))
    novel = bytes(rnd.randrange(256) for _ in range(600))
    rows = [
        (1, base),
        (2, base),                       # exact copy
        (3, b"\x00" + base[1:]),        # length-preserving edit (aligned)
        (4, b"XY" + base),              # insertion (alignment shift)
        (5, novel),
    ]
    media = spark.createDataFrame(rows, "media_id bigint, media_bytes binary")
    got = {
        r["stage"]: (r["n_dropped"], r["n_remaining"])
        for r in media_dedup_pipeline_report(media).collect()
    }
    assert got == {1: (1, 4), 2: (1, 3), 3: (1, 2)}


def test_cdc_chunking_rejects_degenerate_parameters(spark):
    import pytest as _pytest

    from faexport_db_spark.training.multimodal import cdc_chunk_spans

    media = spark.createDataFrame([(1, b"x" * 50)], "media_id bigint, media_bytes binary")
    for kwargs in ({"window": 0}, {"min_chunk": 0}, {"boundary_prefix": ""},
                   {"boundary_prefix": "G"}):
        with _pytest.raises(ValueError):
            cdc_chunk_spans(media, **kwargs)


def test_winnowing_index_probe_parity_and_meta_gate(spark, tmp_path):
    """The incremental probe finds exactly the (batch, corpus) pairs
    the self-join form finds on the union, and a probe with mismatched
    k/w is rejected by the sidecar."""
    import pytest as _pytest

    from faexport_db_spark.training.text import (
        build_winnowing_index,
        winnowing_match_against_index,
        winnowing_match_pairs,
    )

    run = "alpha beta gamma delta epsilon zeta"
    corpus = spark.createDataFrame(
        [(1, f"c1x c1y {run} c1z"), (2, "c2 only unrelated words here truly")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(100, f"b1x {run} b1y"), (101, "novel words nothing shared anywhere")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "widx")
    build_winnowing_index(corpus, idx)
    inc = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnowing_match_against_index(batch, idx).collect()
    }
    both = corpus.unionByName(batch)
    self_form = {
        (r["id_b"], r["id_a"], r["n_shared"])
        for r in winnowing_match_pairs(both).collect()
        if r["id_b"] >= 100 and r["id_a"] < 100
    }
    assert inc == self_form and (100, 1) in {(a, b) for a, b, _ in inc}
    with _pytest.raises(ValueError):
        winnowing_match_against_index(batch, idx, k=4)


def test_html_links_ordinals_and_edge_cases(spark):
    """Hrefs extracted in document order with 0-based ordinals;
    anchors without href, NULL html, and link-free docs yield no
    rows; single-quoted hrefs are (documented) out of regex scope."""
    from faexport_db_spark.training.text import html_links

    rows = [
        (1, '<a href="u1">x</a> mid <a rel="next" href="u2">y</a>'),
        (2, '<a name="n">no href</a><p>text</p>'),
        (3, None),
        (4, "<a href='single-quoted'>skip</a>"),
        # Tags that merely START with 'a' are not anchors: none of
        # these may contribute an outlink (the tag-name boundary).
        (5, '<area shape="rect" href="m1"><abbr href="m2">t</abbr><audio href="m3">'),
        (6, '<area href="m4"><a href="real">keep</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, html string")
    got = sorted((r["doc_id"], r["link_no"], r["href"]) for r in html_links(df).collect())
    assert got == [(1, 0, "u1"), (1, 1, "u2"), (6, 0, "real")]


def test_hll_registers_merge_and_estimate(spark):
    """Register tables are mergeable sketch state: the union's
    registers equal the per-half elementwise max, and the merged
    estimate lands within HLL's expected error of the exact count."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import hll_estimate, hll_register_table

    a = spark.range(0, 3000).select((F.col("id") % 900).cast("string").alias("v"))
    b = spark.range(0, 3000).select(((F.col("id") % 700) + 600).cast("string").alias("v"))
    p = 8

    def regs(df):
        return {r["bucket"]: r["register"] for r in hll_register_table(df, "v", p).collect()}

    ra, rb, ru = regs(a), regs(b), regs(a.unionByName(b))
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == ru
    exact = a.unionByName(b).distinct().count()
    est = hll_estimate(ru, p)
    assert abs(est - exact) / exact < 0.25  # 3.8·rsd at m=256
    with _pytest.raises(ValueError):
        hll_register_table(a, "v", p=2)


def test_bloom_decontaminate_no_false_negatives(spark):
    """Bloom semantics: every doc sharing a true 5-gram with the
    benchmark is ALWAYS dropped (no false negatives), regardless of
    filter size; NULL-text and disjoint docs survive; an empty
    benchmark keeps everything; bad parameters raise."""
    import pytest as _pytest

    from faexport_db_spark.training.text import bloom_decontaminate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base),
         (2, "totally different words with no overlap at all here now"),
         (3, "prefix words then " + base + " suffix words"),
         (4, None)],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(9, base)], "doc_id bigint, text string")
    for m_bits in (1 << 10, 1 << 16, 1 << 22):
        kept = {r["doc_id"] for r in bloom_decontaminate(corpus, bench, m_bits=m_bits).collect()}
        assert 1 not in kept and 3 not in kept  # true leaks always dropped
        assert 4 in kept  # NULL text can never be flagged
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert bloom_decontaminate(corpus, empty).count() == 4
    with _pytest.raises(ValueError):
        bloom_decontaminate(corpus, bench, m_bits=100)  # not a multiple of 64
    with _pytest.raises(ValueError):
        bloom_decontaminate(corpus, bench, k=0)


def test_dsir_weights_ranks_target_like_docs(spark):
    """Docs drawn from the target's vocabulary outscore docs from a
    disjoint vocabulary; tokenless docs score 0 with 0 grams."""
    from faexport_db_spark.training.pipeline import dsir_weights

    corpus = spark.createDataFrame(
        [(i, "apple banana cherry date fig grape kiwi lemon mango peach")
         for i in range(10)]
        + [(i, "red blue green yellow purple orange pink brown black white")
           for i in range(10, 20)]
        + [(99, None)],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(100, "red blue green yellow purple orange pink brown black white")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dsir_weights(corpus, target).collect()}
    assert len(rows) == 21
    assert rows[10]["dsir_logw"] > rows[0]["dsir_logw"]
    assert rows[99]["n_grams"] == 0 and rows[99]["dsir_logw"] == 0.0


def test_temperature_mixture_limits(spark):
    """α=1 reproduces the raw mixture (boost 1 everywhere); smaller α
    flattens: the rarest stratum's boost exceeds the commonest's;
    invalid α raises."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import temperature_mixture

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "zh") for i in range(100)],
        "doc_id bigint, lang string",
    )
    at1 = {r["stratum"]: r for r in temperature_mixture(docs, "lang", 1.0).collect()}
    assert all(abs(r["boost"] - 1.0) < 1e-9 for r in at1.values())
    at5 = {r["stratum"]: r for r in temperature_mixture(docs, "lang", 0.5).collect()}
    assert at5["zh"]["boost"] > 1.0 > at5["en"]["boost"]
    assert abs(sum(r["q_temp"] for r in at5.values()) - 1.0) < 1e-5
    with _pytest.raises(ValueError):
        temperature_mixture(docs, "lang", 0.0)


def test_kneser_ney_probability_mass(spark):
    """For every context w1, the observed-bigram KN probabilities sum
    strictly below 1 (the discounted mass is reserved for unseen
    continuations), each probability is positive, and the discount
    bound is enforced."""
    import pytest as _pytest

    from faexport_db_spark.training.lm import lm_kneser_ney, lm_train

    docs = spark.createDataFrame(
        [(1, "a b a b a c b c"), (2, "a b c d d d a b")],
        "doc_id bigint, text string",
    )
    model = lm_train(docs)
    rows = lm_kneser_ney(model).collect()
    assert rows and all(r["p_kn"] > 0 for r in rows)
    by_w1 = {}
    for r in rows:
        by_w1.setdefault(r["w1"], 0.0)
        by_w1[r["w1"]] += r["p_kn"]
    assert all(s < 1.0 + 1e-9 for s in by_w1.values()), by_w1
    with _pytest.raises(ValueError):
        lm_kneser_ney(model, discount=1.5)


def test_oov_rate_edges(spark):
    """Vocab threshold respected; tokenless docs report 0/0/0.0."""
    from faexport_db_spark.training.pipeline import oov_rate

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a rare"), (3, None), (4, "   ")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in oov_rate(docs, min_count=3).collect()}
    assert len(out) == 4
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1  # 'b' is OOV
    assert out[2]["n_oov"] == 1  # 'a' is corpus-frequent, 'rare' is OOV
    assert out[3]["n_tokens"] == 0 and out[3]["oov_rate"] == 0.0
    assert out[4]["n_tokens"] == 0 and out[4]["oov_rate"] == 0.0


def test_cms_merge_and_one_sided_estimate(spark):
    """CMS tables merge by elementwise SUM (shard-merge == direct);
    point estimates never undercount and are exact for keys whose
    counters are collision-free at this width."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import cms_estimate, cms_register_table

    a = spark.range(0, 600).select((F.col("id") % 3).cast("string").alias("v"))
    b = spark.range(0, 400).select((F.col("id") % 5).cast("string").alias("v"))

    def regs(df):
        return {
            (r["seed"], r["slot"]): r["cnt"]
            for r in cms_register_table(df, "v", depth=4, width=2048).collect()
        }

    ra, rb, ru = regs(a), regs(b), regs(a.unionByName(b))
    merged = {k: ra.get(k, 0) + rb.get(k, 0) for k in set(ra) | set(rb)}
    assert merged == ru
    # truth: '0' appears 200 (in a) + 80 (in b) = 280; '3' only in b: 80
    assert cms_estimate(ru, "0") >= 280
    assert cms_estimate(ru, "3") >= 80
    # one-sided: never below truth for every present key
    for v, truth in [("0", 280), ("1", 280), ("2", 280), ("3", 80), ("4", 80)]:
        assert cms_estimate(ru, v) >= truth
    with _pytest.raises(ValueError):
        cms_register_table(a, "v", depth=0)


def test_temperature_sample_realizes_flattened_mixture(spark):
    """The binding (smallest) stratum keeps everything; kept sizes
    track sqrt(n_min·n_s) (the α=0.5 target) within sampling noise;
    invalid α raises."""
    import math

    import pytest as _pytest

    from faexport_db_spark.training.pipeline import temperature_sample

    rows = [(i, "big") for i in range(4000)] + [(i + 100000, "small") for i in range(250)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string")
    kept = temperature_sample(docs, alpha=0.5).groupBy("stratum").count().collect()
    sizes = {r["stratum"]: r["count"] for r in kept}
    assert sizes["small"] == 250  # binding stratum keeps all
    target_big = math.sqrt(250 * 4000)  # = 1000
    assert abs(sizes["big"] - target_big) / target_big < 0.15
    with _pytest.raises(ValueError):
        temperature_sample(docs, alpha=0.0)


def test_temperature_sample_ignores_null_stratum(spark):
    """A NULL stratum must neither appear in the output nor set n_min
    (which would scale every real stratum's keep rate)."""
    from faexport_db_spark.training.pipeline import temperature_sample

    rows = (
        [(i, "big") for i in range(4000)]
        + [(i + 100000, "small") for i in range(250)]
        + [(i + 200000, None) for i in range(10)]  # tiny NULL group
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string")
    sizes = {
        r["stratum"]: r["count"]
        for r in temperature_sample(docs, alpha=0.5).groupBy("stratum").count().collect()
    }
    assert None not in sizes
    # n_min must be 250 (small), NOT 10 (the NULL group): small keeps all.
    assert sizes["small"] == 250


def test_hll_estimate_small_m_constants():
    """p<7 uses Flajolet's exact alpha constants, not the asymptotic
    formula (valid only for m>=128). With every register saturated at
    the same value the raw estimate is alpha*m*2^r exactly, so the
    constant is directly observable."""
    from faexport_db_spark.training.pipeline import hll_estimate

    for p, alpha in [(4, 0.673), (5, 0.697), (6, 0.709)]:
        m = 1 << p
        regs = {b: 5 for b in range(m)}  # no zero buckets -> raw path
        est = hll_estimate(regs, p)
        assert abs(est - alpha * m * 32) < 1e-9
    # m>=128 keeps the asymptotic formula
    m = 1 << 8
    regs = {b: 5 for b in range(m)}
    expected = (0.7213 / (1 + 1.079 / m)) * m * 32
    assert abs(hll_estimate(regs, 8) - expected) < 1e-9


def test_kmv_sketch_properties(spark):
    """KMV invariants: the sketch is the exact bottom-k of distinct
    hashes (so it is independent of partitioning), union is closed
    over the sketch shape, and the estimator lands within the
    ~1/sqrt(k) relative-error band on a corpus 4x the sketch size."""
    from faexport_db_spark.training.pipeline import kmv_estimate, kmv_sketch, kmv_union

    import pytest as _pytest

    n = 1024
    df = spark.createDataFrame([(f"v{i}",) for i in range(n)], "text string")
    k = 256
    sk = kmv_sketch(df, "text", k=k)
    vals = [r["hval"] for r in sk.collect()]
    assert len(vals) == k and vals == sorted(vals)
    # partition independence: same rows, adversarial partitioning
    re = kmv_sketch(df.repartition(17, "text"), "text", k=k)
    assert [r["hval"] for r in re.collect()] == vals
    # estimate accuracy: 1/sqrt(256) ~ 6.25%; allow 3 sigma
    est = kmv_estimate(vals, k=k)
    assert abs(est - n) / n < 0.19
    # not-full sketch is the exact distinct set (estimate == count)
    small = kmv_sketch(df.limit(40), "text", k=k)
    svals = [r["hval"] for r in small.collect()]
    assert kmv_estimate(svals, k=k) == float(len(set(svals)))
    # union == sketch of the concatenation
    a = df.filter(F.col("text") < "v5")
    b = df.filter(F.col("text") >= "v5")
    u = kmv_union(kmv_sketch(a, "text", k=k), kmv_sketch(b, "text", k=k), k=k)
    assert [r["hval"] for r in u.collect()] == vals
    with _pytest.raises(ValueError):
        kmv_sketch(df, "text", k=1)


def test_kmv_intersect_estimate_accuracy(spark):
    """Known ground truth: A = 0..799, B = 400..1199 → |A∩B| = 400,
    J = 1/3. The sketch estimate must land within the k=256 error
    band of both."""
    from faexport_db_spark.training.pipeline import kmv_intersect_estimate, kmv_sketch

    a = spark.createDataFrame([(f"v{i}",) for i in range(800)], "text string")
    b = spark.createDataFrame([(f"v{i}",) for i in range(400, 1200)], "text string")
    row = kmv_intersect_estimate(
        kmv_sketch(a, "text", k=256), kmv_sketch(b, "text", k=256), k=256
    ).collect()[0]
    assert row["k_used"] == 256
    assert abs(row["jaccard_est"] - 1 / 3) < 0.1
    assert abs(row["inter_est"] - 400) / 400 < 0.3


def test_kmeans_quantized_deterministic_and_convergent(spark):
    """The integer trainer is partition-independent (exact arithmetic
    — no float sum order anywhere), assigns every point, and a point
    sitting ON a seed has distance 0 to it after iteration 0."""
    import pytest as _pytest

    from faexport_db_spark.training.similarity import kmeans_quantized

    rows = [
        (i, [float((i % 4) * 10 + d) / 100.0 for d in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out, cents = kmeans_quantized(df, k=4, iters=2)
    got = {r["vec_id"]: (r["cid"], r["dist"]) for r in out.collect()}
    assert len(got) == 64
    re_out, re_cents = kmeans_quantized(
        df.repartition(13, "vec_id"), k=4, iters=2
    )
    assert re_cents == cents
    assert {r["vec_id"]: (r["cid"], r["dist"]) for r in re_out.collect()} == got
    # 4 well-separated point groups -> each converges to its own
    # centroid with distance 0 for every member
    assert all(d == 0 for (_, d) in got.values())
    assert len({c for (c, _) in got.values()}) == 4
    with _pytest.raises(ValueError):
        kmeans_quantized(df, k=0)
    with _pytest.raises(ValueError):
        kmeans_quantized(df.limit(2), k=4)


def test_kmeans_quantized_empty_cluster_keeps_centroid(spark):
    """A seed that attracts no members must survive as-is (the
    ivf_centroids rule) — k larger than the natural cluster count."""
    from faexport_db_spark.training.similarity import kmeans_quantized

    rows = [(i, [0.1] * 4) for i in range(3)] + [(10 + i, [0.2] * 4) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out, cents = kmeans_quantized(df, k=4, iters=2)
    assert len(cents) == 4
    assert out.count() == 6
    # ids 0..3 seed; seeds 1,2 duplicate seed 0's point -> ties send
    # all [0.1] points to cid 0, so centroids 1,2 stay at their seed
    assert cents[1] == [int(0.1 * 10000) + 20000] * 4


def test_embedding_stats_exact_moments(spark):
    """Known vectors -> exact per-dimension mean/std; quantized sums
    make the result partition-order independent."""
    from faexport_db_spark.training.similarity import embedding_stats

    rows = [(1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r["pos"]: r for r in embedding_stats(df).collect()}
    assert got[0]["n"] == 3 and got[0]["mean"] == 1.0
    # population std of (0,1,2) = sqrt(2/3)
    assert abs(got[0]["std"] - (2 / 3) ** 0.5) < 1e-6
    assert got[1]["mean"] == 1.0 and got[1]["std"] == 0.0
    re = {r["pos"]: r for r in embedding_stats(df.repartition(7)).collect()}
    assert re == got


def test_k_anonymity_masks_small_groups(spark):
    """Combinations rarer than k are fully masked; NULL is its own
    combination; invalid args raise."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import k_anonymity

    rows = (
        [(i, "en", "a") for i in range(5)]
        + [(10, "de", "a"), (11, "de", "b")]
        + [(20, None, "a"), (21, None, "a")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, source string")
    got = {r["doc_id"]: r for r in k_anonymity(df, ["lang", "source"], k=2).collect()}
    assert got[0]["released"] and got[0]["lang"] == "en"
    assert not got[10]["released"] and got[10]["lang"] == "*" and got[10]["source"] == "*"
    # the two NULL-lang rows form one combination of size 2 -> released,
    # lang stays NULL-as-string? No: released rows keep the original
    # value, and NULL casts to NULL string.
    assert got[20]["released"] and got[20]["lang"] is None and got[20]["group_n"] == 2
    with _pytest.raises(ValueError):
        k_anonymity(df, [], k=2)
    with _pytest.raises(ValueError):
        k_anonymity(df, ["lang"], k=0)


def test_crawl_frontier_waves(spark):
    """Dedup to distinct URLs, best-ordinal priority, one-per-domain
    waves, non-http hrefs dropped."""
    from faexport_db_spark.training.text import crawl_frontier

    rows = [
        (1, 0, "https://a.com/x"),
        (2, 3, "https://a.com/x"),   # dup URL, worse ordinal
        (1, 1, "https://a.com/y"),
        (1, 2, "https://b.com/z"),
        (1, 4, "/relative"),          # dropped
        (2, 0, "mailto:x@y"),         # dropped
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, link_no bigint, href string")
    got = {r["url"]: r for r in crawl_frontier(df).collect()}
    assert set(got) == {"https://a.com/x", "https://a.com/y", "https://b.com/z"}
    x = got["https://a.com/x"]
    assert x["priority"] == 0 and x["n_refs"] == 2 and x["wave"] == 1
    assert got["https://a.com/y"]["wave"] == 2  # same domain -> next wave
    assert got["https://b.com/z"]["wave"] == 1  # own domain -> wave 1


def test_group_sample_exact_counts(spark):
    """Exactly per_group rows per stratum (all rows when the stratum
    is smaller), deterministic across partitionings, salt changes the
    draw."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import group_sample

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = group_sample(df, per_group=10)
    sizes = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert sizes == {"big": 10, "small": 3}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"] for r in group_sample(df.repartition(13), per_group=10).collect()
    )
    assert a == b
    c = sorted(r["doc_id"] for r in group_sample(df, per_group=10, salt="other").collect())
    assert c != a  # independent draw (astronomically unlikely to match)
    with _pytest.raises(ValueError):
        group_sample(df, per_group=0)


def test_normalized_dedup_catches_reformatted_copies(spark):
    from faexport_db_spark.training.text import normalized_dedup

    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),
        (3, "HELLO WORLD."),
        (4, "goodbye world"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_dups"] for r in normalized_dedup(df).collect()}
    assert got == {1: 3, 4: 1}  # 1,2,3 collapse; NULL dropped


def test_contamination_report_counts(spark):
    """Planted leak: bench doc's 5-gram appears in two corpus docs
    (including itself); a clean bench doc yields no row."""
    from faexport_db_spark.training.text import contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shares 'a b c d e' and 'b c d e f'
            (2, "x a b c d e y"),      # shares 'a b c d e'
            (3, "totally different words here now"),
            (50, "a b c d e f"),       # the bench doc itself
            (100, "unique bench content nothing shares this"),
        ],
        "doc_id bigint, text string",
    )
    bench = corpus.filter(F.col("doc_id").isin(50, 100)).unionByName(
        spark.createDataFrame(
            [(200, "never appears anywhere in that corpus at all")],
            "doc_id bigint, text string",
        )
    )
    got = {r["bench_id"]: r for r in contamination_report(corpus, bench, n=5).collect()}
    # 200 leaks nothing -> no row; 100 matches only itself
    assert set(got) == {50, 100}
    assert got[100]["n_docs"] == 1
    assert got[50]["n_docs"] == 3  # docs 1, 2, 50
    assert got[50]["n_shared_grams"] == 2


def test_hits_hand_computed(spark):
    """Path graph a->b->c, 2 unnormalized iterations: every score is
    a hand-checkable integer; duplicate edges and self-loops ignored;
    iters<1 raises."""
    import pytest as _pytest

    from faexport_db_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 2), (3, 3)], "src bigint, dst bigint"
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, iters=2).collect()}
    # a1: b=1, c=1; h1: a=1, b=1; a2: b=1, c=1; h2: a=1, b=1
    assert got == {1: (1, 0), 2: (1, 1), 3: (0, 1)}
    with _pytest.raises(ValueError):
        hits(edges, iters=0)


def test_kmeans_arrow_path_equals_literal(spark, sf_small, monkeypatch):
    """The large-k Arrow argmin (exact int64 matmul) must produce the
    identical trained model and assignments as the literal-expression
    path — the _cell_probes two-path rule applied to the trainer. A
    gate of 0 selects the Arrow argmin."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.training import similarity
    from faexport_db_spark.training.similarity import kmeans_quantized

    emb = load_table(spark, sf_small, "embeddings")
    out_l, cents_l = kmeans_quantized(emb, k=6, iters=2)
    lit = {r["vec_id"]: (r["cid"], r["dist"]) for r in out_l.collect()}
    monkeypatch.setattr(similarity, "LITERAL_CENTROID_MAX", 0)
    out_a, cents_a = kmeans_quantized(emb, k=6, iters=2)
    assert cents_a == cents_l
    arw = {r["vec_id"]: (r["cid"], r["dist"]) for r in out_a.collect()}
    assert arw == lit


def test_bfs_hops_hand_computed(spark):
    """Path 1-2-3-4-5 plus isolated pair 8-9, seed {1}: hops are the
    path distances, capped at max_hops; the 8-9 component is absent."""
    from faexport_db_spark.operators.graph import bfs_hops, canonical_edges

    edges = canonical_edges(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "src bigint, dst bigint"
        )
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # widening the budget settles node 5; first-touch distances stay put
    got4 = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    assert got4 == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_hops_multi_seed_takes_min(spark):
    """Two seeds at opposite ends of a path: every node settles at the
    distance to its NEAREST seed (the multi-source semantics)."""
    from faexport_db_spark.operators.graph import bfs_hops, canonical_edges

    edges = canonical_edges(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
        )
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_unpin_releases_a_pin_and_refuses_other_frames(spark):
    """``unpin`` frees the blocks of a localCheckpoint and refuses a
    frame derived from one, which holds no blocks of its own."""
    from block_storage import still_stored, stored_rdds

    from faexport_db_spark.operators.pins import pinned_rdd, unpin

    pin = spark.range(10).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="not a localCheckpoint"):
        unpin(pin.filter("id > 3"))
    rdd = pinned_rdd(pin).id()
    assert rdd in stored_rdds(spark)
    unpin(pin)
    assert not still_stored(spark, {rdd})


def test_bfs_hops_releases_superseded_levels(spark):
    """Ten levels on a path: block storage gains at most one level's pin
    plus the returned pin; every superseded level and the symmetrized
    edges are released."""
    from block_storage import gained_rdds, stored_rdds

    from faexport_db_spark.operators.graph import bfs_hops, canonical_edges

    edges = canonical_edges(
        spark.createDataFrame([(i, i + 1) for i in range(15)], "src bigint, dst bigint")
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    before = stored_rdds(spark)
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=10).collect()}
    assert got == {i: i for i in range(11)}
    gained = gained_rdds(spark, before, at_most=2)
    assert len(gained) <= 2, gained


def test_connected_components_query_matches_star_labels(spark):
    """g6's star contraction labels a chain + a triangle + an isolated
    edge with their component minima, even though the chain's diameter
    exceeds a single round."""
    from faexport_db_spark.training.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14),  # chain, min 10
         (20, 21), (21, 22), (22, 20),            # triangle, min 20
         (30, 31)],                               # edge, min 30
        "id_a bigint, id_b bigint",
    )
    got = {r["doc_id"]: r["cluster_rep"] for r in dedup_clusters(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_l_diversity_blocks_homogeneous_group(spark):
    """A group that passes k but is homogeneous in the sensitive value
    stays masked; NULL sensitive counts as a distinct value; bad
    params raise."""
    import pytest as _pytest

    from faexport_db_spark.training.pipeline import l_diversity

    rows = [(i, "en", "web", i % 3) for i in range(6)]          # diverse: released
    rows += [(10 + i, "fr", "web", 7) for i in range(6)]        # homogeneous: masked
    rows += [(20 + i, "de", "web", None if i < 3 else 1) for i in range(6)]  # 2 values w/ NULL
    df = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, sens int"
    )
    out = {r["doc_id"]: r for r in
           l_diversity(df, ["lang", "source"], "sens", k=5, l=2).collect()}
    assert out[0]["released"] and out[0]["lang"] == "en"
    assert not out[10]["released"] and out[10]["lang"] == "*"
    assert out[10]["n_sensitive"] == 1
    # NULL + one real value = 2 "distinct" sensitive values -> released at l=2
    assert out[20]["released"] and out[20]["n_sensitive"] == 2
    with _pytest.raises(ValueError):
        l_diversity(df, [], "sens")
    with _pytest.raises(ValueError):
        l_diversity(df, ["lang"], "sens", k=0)


def test_qsketch_bracket_contains_true_percentile(spark):
    """The factor-2 bracket contract: for every requested percentile,
    the EXACT percentile_disc value lies in [lo, hi] and hi <= 2*lo
    for nonzero buckets; registers merge by SUM (two halves == whole)."""
    from faexport_db_spark.training.pipeline import (
        qsketch_quantile_brackets,
        qsketch_register_table,
    )

    vals = [int(7 * i * i + 1) for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    regs = qsketch_register_table(df, "v")
    got = {r["q_pct"]: r for r in
           qsketch_quantile_brackets(regs, [1, 50, 99]).collect()}
    import math
    svals = sorted(vals)
    for q, row in got.items():
        rank = max(1, math.ceil(q * len(vals) / 100))
        true = svals[rank - 1]
        assert row["lo"] <= true <= row["hi"], (q, true, row)
        if row["bucket"] > 0:
            assert row["hi"] <= 2 * row["lo"] - 1
    # mergeability: sketch(first half) + sketch(second half) == sketch(all)
    h1 = qsketch_register_table(
        spark.createDataFrame([(v,) for v in vals[:100]], "v bigint"), "v")
    h2 = qsketch_register_table(
        spark.createDataFrame([(v,) for v in vals[100:]], "v bigint"), "v")
    from pyspark.sql import functions as F
    merged = {r["bucket"]: r["cnt"] for r in
              h1.unionAll(h2).groupBy("bucket").agg(F.sum("cnt").alias("cnt")).collect()}
    whole = {r["bucket"]: r["cnt"] for r in regs.collect()}
    assert merged == whole
    # zero lands in bucket 0 with bracket [0, 0]
    z = qsketch_register_table(
        spark.createDataFrame([(0,)], "v bigint"), "v")
    zb = qsketch_quantile_brackets(z, [50]).collect()[0]
    assert (zb["bucket"], zb["lo"], zb["hi"]) == (0, 0, 0)


def test_ohlc_bars_picks_first_last_by_ts_then_id(spark):
    """Open/close are min_by/max_by on (ts, event_id): equal
    timestamps fall back to the id order; high/low are plain
    extremes; n counts the bar's rows."""
    import datetime as dt

    from faexport_db_spark.operators.timeseries import ohlc_bars

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)  # Monday
    rows = [
        (1, t0, 1, 10.0),
        (2, t0, 1, 30.0),               # same ts as open: id 1 wins open
        (3, t0 + dt.timedelta(days=1), 1, 5.0),
        (4, t0 + dt.timedelta(days=2), 1, 20.0),
        (5, t0 + dt.timedelta(days=7), 1, 99.0),  # next week's bar
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    bars = {r["bar"].date().isoformat(): r for r in ohlc_bars(df).collect()}
    w1 = bars["2024-01-01"]
    assert (w1["open"], w1["high"], w1["low"], w1["close"], w1["n"]) == (
        10.0, 30.0, 5.0, 20.0, 4)
    assert bars["2024-01-08"]["open"] == 99.0


def test_bin_rows_contiguous_next_fit(spark):
    """Groups pack in key order; a bin closes once its start offset
    crosses the target; group order — not size — decides placement."""
    import pytest as _pytest

    from faexport_db_spark.maintenance.compaction import bin_rows

    rows = [("a",)] * 3 + [("b",)] * 3 + [("c",)] * 1 + [("d",)] * 5
    df = spark.createDataFrame(rows, "k string")
    got = {r["k"]: (r["bin_id"], r["bin_start_row"]) for r in
           bin_rows(df, "k", target_rows=4).collect()}
    # prefix starts: a=0, b=3, c=6, d=7 -> bins 0,0,1,1
    assert got == {"a": (0, 0), "b": (0, 3), "c": (1, 6), "d": (1, 7)}
    with _pytest.raises(ValueError):
        bin_rows(df, "k", target_rows=0)


def test_rrf_fuse_union_and_missing_list_terms(spark):
    """An item on both lists sums both reciprocal terms; an item on
    one list gets only that term; ordering is by fused score then
    item id; bad params raise."""
    import pytest as _pytest

    from faexport_db_spark.training.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2)], "query_id bigint, nid bigint, rank bigint")
    b = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2)], "query_id bigint, did bigint, rank bigint")
    got = {r["item_id"]: (r["rrf_score"], r["fused_rank"]) for r in
           rrf_fuse(a, b, "nid", "did", k=60, topk=5).collect()}
    both = round(1 / 62 + 1 / 61, 9)
    assert got[101] == (both, 1)
    assert got[100] == (round(1 / 61, 9), 2)
    assert got[102] == (round(1 / 62, 9), 3)
    with _pytest.raises(ValueError):
        rrf_fuse(a, b, "nid", "did", k=0)


def test_sentence_stats_blanks_and_runs(spark):
    """Punctuation runs count once, blank segments are excluded, and
    lengths are trimmed; a doc with no terminal punctuation is one
    sentence."""
    from faexport_db_spark.training.text import sentence_stats

    df = spark.createDataFrame(
        [(1, "One. Two!! Three?  "), (2, "no punctuation here"), (3, "!!!")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["n_sentences"], r["sum_len"], r["max_len"])
           for r in sentence_stats(df).collect()}
    assert got[1] == (3, 3 + 3 + 5, 5)
    assert got[2] == (1, 19, 19)
    assert got[3] == (0, 0, 0)


def test_cluster_representatives_keeps_longest(spark):
    """Same normalized content, different casing/length: the LONGEST
    copy wins the election, languages union sorted."""
    from faexport_db_spark.training.text import cluster_representatives

    df = spark.createDataFrame(
        [(1, "hello world", "en", 11),
         (2, "Hello,   WORLD!!", "fr", 16),
         (3, "unrelated", "en", 9)],
        "doc_id bigint, text string, lang string, n_chars bigint",
    )
    rows = {r["rep_id"]: r for r in cluster_representatives(df).collect()}
    assert 2 in rows  # longest variant of the hello-world cluster
    assert rows[2]["n_dups"] == 2 and rows[2]["langs"] == "en,fr"
    assert rows[3]["n_dups"] == 1


def test_table_fingerprint_detects_single_row_change(spark, sf_small):
    """The v5 fingerprint changes when any row changes, and is
    invariant to row order / partitioning."""
    from faexport_db_spark.queries import QUERIES

    base = QUERIES["v5_table_fingerprint"](spark, sf_small)
    sigs = {r["c_nationkey"]: (r["xor_sig"], r["modsum_sig"], r["n_rows"])
            for r in base.collect()}
    # re-evaluate after a repartition upstream: identical (fold is commutative)
    again = {r["c_nationkey"]: (r["xor_sig"], r["modsum_sig"], r["n_rows"])
             for r in QUERIES["v5_table_fingerprint"](spark, sf_small).collect()}
    assert sigs == again and len(sigs) > 1


def test_mmr_rerank_prefers_diversity(spark):
    """Hand-built 2-D case: candidate B is a near-copy of the top
    pick A, so MMR's second pick skips B for the orthogonal C even
    though rel(B) > rel(C); param guards raise."""
    import pytest as _pytest

    from faexport_db_spark.training.similarity import mmr_rerank_quantized

    rows = [
        (0, [1.0, 1.0]),        # query: equally aligned with all three
        (1, [0.9, 0.1]),        # A: wins pick 1 on id tiebreak
        (2, [0.9, 0.1]),        # B: exact copy of A (max penalty)
        (3, [0.1, 0.9]),        # C: same relevance, diverse
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r["sel_rank"]: r["id"] for r in
           mmr_rerank_quantized(df, query_id=0, pool=3, picks=2).collect()}
    assert out == {1: 1, 2: 3}
    # at lambda=1.0 (pure relevance) the near-copy wins instead
    pure = {r["sel_rank"]: r["id"] for r in
            mmr_rerank_quantized(df, query_id=0, pool=3, picks=2,
                                 lam_num=10).collect()}
    assert pure == {1: 1, 2: 2}
    with _pytest.raises(ValueError):
        mmr_rerank_quantized(df, picks=9, pool=3)
    with _pytest.raises(ValueError):
        mmr_rerank_quantized(df, lam_num=11)


def test_vocab_growth_is_monotone_and_ends_at_totals(spark, sf_small):
    """The Heaps curve never decreases and its last checkpoint equals
    the corpus-wide exact totals."""
    from faexport_db_spark.queries import QUERIES

    rows = sorted(
        (r["ckpt"], r["n_tokens"], r["vocab_size"])
        for r in QUERIES["t_vocab_growth"](spark, sf_small).collect()
    )
    for (c0, t0, v0), (c1, t1, v1) in zip(rows, rows[1:]):
        assert t1 >= t0 and v1 >= v0
    from faexport_db_spark.datamodel.testdata import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
    assert rows[-1][1] == toks.count()
    assert rows[-1][2] == toks.distinct().count()


def test_precedence_pairs_order_sensitivity(spark):
    """first(a) < first(b) counts a->b only; simultaneous firsts
    break by type name so exactly one direction counts."""
    import datetime as dt

    from faexport_db_spark.queries import QUERIES  # noqa: F401  (style parity)
    from faexport_db_spark.datamodel.testdata import load_table  # noqa: F401

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "a"), (2, t0 + dt.timedelta(hours=1), 1, "b"),
        (3, t0, 2, "b"), (4, t0, 2, "a"),        # simultaneous: a<b wins
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string")
    from pyspark.sql import functions as F

    firsts = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("first_ts"))
    a = firsts.select("user_id", F.col("event_type").alias("ante"),
                      F.col("first_ts").alias("ts_a"))
    b = firsts.select("user_id", F.col("event_type").alias("conseq"),
                      F.col("first_ts").alias("ts_b"))
    before = (F.col("ts_a") < F.col("ts_b")) | (
        (F.col("ts_a") == F.col("ts_b")) & (F.col("ante") < F.col("conseq")))
    got = {(r["ante"], r["conseq"]): r["n_users"] for r in
           a.join(b, "user_id")
            .filter((F.col("ante") != F.col("conseq")) & before)
            .groupBy("ante", "conseq")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).collect()}
    assert got == {("a", "b"): 2}


def test_edge_jaccard_hand_graph(spark):
    """Square 1-2-3-4-1 with diagonal 1-3: edge (1,3) has common
    neighbors {2,4}; side edges have exactly one."""
    from faexport_db_spark.queries import QUERIES  # noqa: F401
    from faexport_db_spark.operators.graph import canonical_edges, degrees
    from pyspark.sql import functions as F

    edges = canonical_edges(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src bigint, dst bigint"))
    sym = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
           .distinct())
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    s2 = sym.select(F.col("u").alias("b2"), F.col("v").alias("w2"))
    common = (edges.join(s1, "a")
              .join(s2, (F.col("b") == F.col("b2")) & (F.col("w") == F.col("w2")))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    got = {(r["a"], r["b"]): r["n_common"] for r in common.collect()}
    assert got[(1, 3)] == 2
    assert got[(1, 2)] == 1 and got[(3, 4)] == 1


def test_frame_sample_slices_and_digests(spark):
    """4 frames of a 10-byte payload: step 2, slices at offsets
    0/2/4/6; a 2-byte payload yields only 2 frames."""
    import hashlib

    from faexport_db_spark.training.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"abcdefghij"), "video"), (2, bytearray(b"xy"), "video")],
        "media_id bigint, media_bytes binary, media_type string",
    )
    rows = sample_frames(media, n_frames=4).collect()
    got = {(r["media_id"], r["frame_idx"]): bytes(r["frame_bytes"]) for r in rows}
    assert got[(1, 0)] == b"ab" and got[(1, 3)] == b"gh"
    assert got[(2, 0)] == b"x" and got[(2, 1)] == b"y"
    assert (2, 2) not in got
    digest = hashlib.md5(b"ab").hexdigest()
    from pyspark.sql import functions as F

    out = sample_frames(media, n_frames=4).select(
        "media_id", "frame_idx", F.md5("frame_bytes").alias("d")).collect()
    assert {r["d"] for r in out if (r["media_id"], r["frame_idx"]) == (1, 0)} == {digest}


def test_cusum_ramps_on_level_shift(spark):
    """A user whose daily totals jump mid-series: cusum dips then
    recovers; flags fire once the drift exceeds 2 mean-days; a flat
    user never flags."""
    import datetime as dt

    from faexport_db_spark.queries import QUERIES  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    t0 = dt.datetime(2024, 1, 1, 6)
    rows = []
    eid = 0
    # user 1: 6 days at 1.00 then 6 days at 21.00 (mean 11): strong ramp
    for d in range(12):
        eid += 1
        rows.append((eid, t0 + dt.timedelta(days=d), 1,
                     1.0 if d < 6 else 21.0))
    # user 2: flat 5.00
    for d in range(12):
        eid += 1
        rows.append((eid, t0 + dt.timedelta(days=d), 2, 5.0))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.round(F.round(F.sum("value"), 2) * 100, 0).cast("bigint").alias("cents"))
    m = daily.groupBy("user_id").agg(
        F.expr("CAST(sum(cents) AS BIGINT) DIV CAST(count(*) AS BIGINT)").alias("mc"))
    w = Window.partitionBy("user_id").orderBy("day")
    out = (daily.join(m, "user_id")
           .withColumn("cusum", F.sum(F.col("cents") - F.col("mc")).over(w))
           .withColumn("flagged", F.abs("cusum") > 2 * F.col("mc")))
    got = {(r["user_id"], r["day"].isoformat()): (r["cusum"], r["flagged"])
           for r in out.collect()}
    # user 1 mean = 1100 cents; after 3 low days cusum = -3000 < -2200: flagged
    assert got[(1, "2024-01-03")][0] == -3000 and got[(1, "2024-01-03")][1]
    # series ends back at zero drift (sum of deviations over all days)
    assert got[(1, "2024-01-12")][0] == 0
    assert not any(fl for (u, _), (_, fl) in got.items() if u == 2)


def test_dataset_card_totals_cross_check(spark, sf_small):
    """The card's totals equal independently-computed corpus facts."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.queries import QUERIES
    from pyspark.sql import functions as F

    card = QUERIES["t_dataset_card"](spark, sf_small).collect()[0]
    docs = load_table(spark, sf_small, "documents").filter(F.col("text").isNotNull())
    assert card["n_docs"] == docs.count()
    assert card["total_chars"] == docs.agg(F.sum("n_chars")).collect()[0][0]
    assert card["mean_chars"] == card["total_chars"] // card["n_docs"]
    assert 1 <= card["n_unique_norm"] <= card["n_docs"]


def test_bitemporal_asof_excludes_late_arrivals(spark):
    """A row with an OLD valid time but a LATE transaction id is
    invisible at the earlier transaction cutoff — the property plain
    as-of (valid time only) cannot express."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = dt.datetime(2024, 1, 10)
    rows = [
        (1, t, 7, "click", 1.0),                      # early arrival
        (100, t + dt.timedelta(hours=1), 7, "view", 2.0),  # late arrival, old valid ts
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    # transaction cutoff 50 excludes event 100 even though its valid
    # time qualifies
    vis = ev.filter((F.col("ts") <= F.lit("2024-01-15").cast("timestamp"))
                    & (F.col("event_id") <= 50))
    order = F.struct("ts", "event_id")
    got = vis.groupBy("user_id").agg(
        F.max_by("event_type", order).alias("t")).collect()[0]
    assert got["t"] == "click"


def test_domain_mix_cumulative_coverage(spark, sf_small):
    """Ranks are by token share; cumulative tokens are monotone and
    end at 100% of the corpus."""
    from faexport_db_spark.queries import QUERIES

    rows = sorted(
        ((r["rnk"], r["n_tokens"], r["cum_tokens"], r["cum_pct"])
         for r in QUERIES["t_domain_mix_report"](spark, sf_small).collect())
    )
    assert rows[0][0] == 1
    for (r0, n0, c0, _), (r1, n1, c1, _) in zip(rows, rows[1:]):
        assert r1 == r0 + 1 and c1 == c0 + n1 and n1 <= n0
    assert rows[-1][3] == 100


def test_length_filter_sweep_monotone(spark, sf_small):
    """Stricter thresholds keep fewer docs/tokens; threshold 0 would
    keep everything (checked via the loosest bucket bounds)."""
    from faexport_db_spark.queries import QUERIES

    rows = {r["min_chars"]: r for r in
            QUERIES["t_length_filter_sweep"](spark, sf_small).collect()}
    ts = sorted(rows)
    for a, b in zip(ts, ts[1:]):
        assert rows[b]["docs_kept"] <= rows[a]["docs_kept"]
        assert rows[b]["tokens_kept"] <= rows[a]["tokens_kept"]
    assert rows[ts[0]]["docs_kept"] <= rows[ts[0]]["all_docs"]


def test_power_iteration_matches_numpy_direction(spark):
    """The damped integer trajectory points the same way as float
    power iteration on a corpus with one dominant axis; parameter
    guards raise."""
    import numpy as np
    import pytest as _pytest

    from faexport_db_spark.training.similarity import power_iteration_quantized

    rng_rows = []
    # dominant direction e0: vectors hug [1, 0.1, 0] with small wiggles
    for i in range(40):
        rng_rows.append((i, [1.0, 0.1 * ((i % 3) - 1), 0.01 * (i % 2)]))
    df = spark.createDataFrame(rng_rows, "vec_id bigint, embedding array<float>")
    out = {r["pos"]: r["v"] for r in
           power_iteration_quantized(df, iters=2, scale=100, damp=10).collect()}
    assert out[0] > abs(out[1]) and out[0] > abs(out[2])
    with _pytest.raises(ValueError):
        power_iteration_quantized(df, iters=0)


def test_bloom_pruned_join_equals_plain_join(spark):
    """Row-for-row equality with the plain inner join (no false
    negatives) while the probe provably drops non-matching keys; a
    mis-sized bitmap raises."""
    import pytest as _pytest

    from faexport_db_spark.operators.bloomjoin import (
        bloom_pruned_join,
        build_key_bloom,
    )
    from pyspark.sql import functions as F

    fact = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "row_id bigint, fk bigint")
    dim = spark.createDataFrame([(7, "a"), (13, "b")], "pk bigint, tag string")
    got = sorted(
        (r["row_id"], r["tag"]) for r in
        bloom_pruned_join(fact, dim, "fk", "pk").collect())
    want = sorted(
        (r["row_id"], r["tag"]) for r in
        fact.join(dim, fact["fk"] == dim["pk"]).collect())
    assert got == want and len(got) == 40
    # the bitmap really prunes: probing all 100 fk values keeps few
    words = build_key_bloom(dim, "pk", m_bits=1 << 12, k=3)
    assert sum(bin(w & ((1 << 64) - 1)).count("1") for w in words) <= 6
    with _pytest.raises(ValueError):
        build_key_bloom(dim, "pk", m_bits=100)


def test_modularity_numerator_hand_graph(spark):
    """Two triangles joined by nothing: each component's q_num =
    4m*L_c - D_c^2 with m=6, L_c=3, D_c=6 -> 72 - 36 = 36."""
    from faexport_db_spark.operators.graph import canonical_edges, degrees
    from faexport_db_spark.training.dedup import dedup_clusters
    from pyspark.sql import functions as F

    edges = canonical_edges(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "src bigint, dst bigint"))
    comp = dedup_clusters(
        edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    ).select(F.col("doc_id").alias("node"), F.col("cluster_rep").alias("c"))
    m = edges.count()
    ca = comp.select(F.col("node").alias("a"), F.col("c").alias("c_a"))
    cb = comp.select(F.col("node").alias("b"), F.col("c").alias("c_b"))
    lc = (edges.join(ca, "a").join(cb, "b")
          .filter(F.col("c_a") == F.col("c_b"))
          .groupBy(F.col("c_a").alias("component"))
          .agg(F.count(F.lit(1)).alias("L")))
    dc = (comp.join(degrees(edges), "node")
          .groupBy(F.col("c").alias("component"))
          .agg(F.sum("degree").alias("D")))
    got = {r["component"]: 4 * m * r["L"] - r["D"] * r["D"]
           for r in dc.join(lc, "component").collect()}
    assert got == {1: 36, 10: 36}


def test_dedup_funnel_stage_conservation(spark, sf_small):
    """Each stage's docs_out equals the next stage's docs_in, drops
    are non-negative, and stage 1 starts at the non-null doc count."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.queries import QUERIES
    from pyspark.sql import functions as F

    rows = {r["stage"]: r for r in QUERIES["t_dedup_funnel"](spark, sf_small).collect()}
    n_base = (load_table(spark, sf_small, "documents")
              .filter(F.col("text").isNotNull()).count())
    assert rows[1]["docs_in"] == n_base
    for s in (1, 2, 3):
        assert rows[s]["docs_dropped"] == rows[s]["docs_in"] - rows[s]["docs_out"]
        assert rows[s]["docs_dropped"] >= 0
    assert rows[1]["docs_out"] == rows[2]["docs_in"]
    assert rows[2]["docs_out"] == rows[3]["docs_in"]


def test_symmetric_diff_sides_disjoint_and_complete(spark, sf_small):
    """only_a rows divide by 3 but not 2; only_b by 2 but not 3; no
    row appears on both sides."""
    from faexport_db_spark.queries import QUERIES

    rows = QUERIES["u5_symmetric_diff"](spark, sf_small).collect()
    a_keys = {r["o_orderkey"] for r in rows if r["side"] == "only_a"}
    b_keys = {r["o_orderkey"] for r in rows if r["side"] == "only_b"}
    assert all(k % 3 == 0 and k % 2 != 0 for k in a_keys)
    assert all(k % 2 == 0 and k % 3 != 0 for k in b_keys)
    assert not (a_keys & b_keys)


def test_wow_growth_basis_points_hand_case(spark):
    """100 -> 125 cents is +2500 bp; first week NULL; zero baseline
    yields NULL, not infinity."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    t0 = dt.datetime(2024, 1, 1, 8)  # Monday
    rows = [
        (1, t0, 1, 1.00), (2, t0 + dt.timedelta(days=7), 1, 1.25),
        (3, t0, 2, 0.00), (4, t0 + dt.timedelta(days=7), 2, 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double")
    weekly = ev.groupBy("user_id", F.date_trunc("week", "ts").alias("wk")).agg(
        F.round(F.round(F.sum("value"), 2) * 100, 0).cast("bigint").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("wk")
    out = (weekly.withColumn("prev", F.lag("cents").over(w))
           .withColumn("g", F.when(F.col("prev") > 0,
                                   F.expr("(cents - prev) * 10000 DIV prev"))))
    got = {(r["user_id"], r["cents"]): r["g"] for r in out.collect()}
    assert got[(1, 125)] == 2500
    assert got[(1, 100)] is None          # first week
    assert got[(2, 500)] is None          # zero baseline
