"""End-to-end TRAINING-DATA pipeline: raw documents → quality filter →
exact dedup → MinHash near-dup dedup → passage dedup → benchmark
decontamination → sequence packing. Each stage is individually
oracle-checked elsewhere; this test pins that they COMPOSE — the
hand-off schemas line up, counts shrink monotonically where they must,
and the final packs account for every surviving token."""

import pytest
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.training.dedup import exact_dedup, minhash_dedup_pairs
from faexport_db_spark.training.pipeline import sequence_pack
from faexport_db_spark.training.text import (
    decontaminate,
    passage_dedup,
    quality_features,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # plant exact copies + near-dup (first-token-mutated) copies so
    # every dedup stage has real work to do
    exact_copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    near_copies = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    return docs.unionByName(exact_copies).unionByName(near_copies).localCheckpoint()


@pytest.mark.slow
def test_training_pipeline_composes(spark, sf_small, corpus):
    n0 = corpus.count()

    # 1. quality filter (carry text through)
    feats = quality_features(corpus, keep=("text",))
    kept = feats.filter(F.col("quality_score") >= 0.3).select("doc_id", "text")
    n1 = kept.count()
    assert 0 < n1 <= n0

    # 2. exact dedup: the planted exact copies collapse
    reps = exact_dedup(kept).select("doc_id")
    deduped = kept.join(reps, "doc_id", "left_semi").localCheckpoint()
    n2 = deduped.count()
    assert n2 <= n1 - (n1 // 3) + 5  # roughly one third were exact copies

    # 3. near-dup dedup: drop the higher-id side of each MinHash pair
    pairs = minhash_dedup_pairs(deduped, threshold=0.6)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    near_deduped = deduped.join(F.broadcast(drop), "doc_id", "left_anti").localCheckpoint()
    n3 = near_deduped.count()
    assert n3 < n2  # the planted near-copies (or their originals) went

    # 4. passage-level dedup on the survivors
    cleaned = passage_dedup(near_deduped, tile_tokens=10)
    assert cleaned.count() == n3  # docs never vanish, they empty
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint()
    )

    # 5. decontaminate against a "benchmark" drawn from the corpus
    # itself (40 docs) — those docs must be dropped
    bench = load_table(spark, sf_small, "documents").select("doc_id", "text").limit(40)
    final = decontaminate(survivors, bench, n=5).localCheckpoint()
    n5 = final.count()
    assert n5 < survivors.count()

    # 6. pack into fixed-budget sequences: every surviving doc is
    # assigned exactly once, and pack offsets account for every token
    packs = sequence_pack(final, budget=512)
    assert packs.count() == n5
    by_pack = (
        packs.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.min("pack_pos").alias("first_pos"))
        .collect()
    )
    assert by_pack
    # a pack's first doc starts within the pack's budget window and
    # every pack except possibly the last holds > 0 tokens
    assert all(r["tok"] > 0 for r in by_pack)
    assert all(0 <= r["first_pos"] < 512 for r in by_pack)


@pytest.mark.slow
def test_round6_split_chunk_compose_with_dedup(spark, sf_small, corpus):
    """Round-6 composition: near-dup pairs -> connected components ->
    cluster-aware split -> chunking of the train slice. The leakage
    property the split exists for: NO near-dup pair ever straddles two
    splits; and chunk accounting covers every surviving train doc."""
    from faexport_db_spark.training.dedup import dedup_clusters, minhash_dedup_pairs
    from faexport_db_spark.training.pipeline import cluster_split
    from faexport_db_spark.training.text import chunk_documents

    pairs = minhash_dedup_pairs(corpus, threshold=0.6).localCheckpoint()
    clusters = dedup_clusters(pairs).select(
        "doc_id", F.col("cluster_rep").alias("cluster_id")
    )
    split = cluster_split(corpus, clusters=clusters, val_frac=0.3, test_frac=0.3)
    assignment = {r["doc_id"]: r["split"] for r in split.collect()}
    assert len(assignment) == corpus.count()
    straddlers = [
        (r["id_a"], r["id_b"])
        for r in pairs.collect()
        if assignment[r["id_a"]] != assignment[r["id_b"]]
    ]
    assert straddlers == []  # the whole point

    train_ids = [d for d, s in assignment.items() if s == "train"]
    train = corpus.filter(F.col("doc_id").isin(train_ids[:50]))
    chunks = chunk_documents(train, width=200, stride=150)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    lengths = {r["doc_id"]: len(r["text"]) for r in train.collect()}
    assert set(per_doc) == set(lengths)  # every train doc chunked
    for d, n in per_doc.items():
        expected = 1 if lengths[d] <= 200 else -(-(lengths[d] - 200) // 150) + 1
        assert n == expected
