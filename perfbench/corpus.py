"""The ``corpus_dedup`` workload: training-data preparation.

One pass: ``quality_features`` filter → ``exact_dedup`` →
``minhash_dedup_pairs`` (the higher id of each near-duplicate pair is
dropped) → ``sequence_pack`` → parquet write. A plain pass is one lazy
chain that only the write runs, so the stages before MinHash are
recomputed each time MinHash reads its input. A staged pass
checkpoints each stage's output inside its span, so every stage's
Spark work is charged to that stage. No archive layer runs.

Outputs are checked with pyarrow and plain Python against the planted
duplicate sets.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from faexport_db_spark.training.dedup import exact_dedup, minhash_band_rows, minhash_dedup_pairs
from faexport_db_spark.training.pipeline import sequence_pack
from faexport_db_spark.training.text import BPE_ISH_PATTERN, quality_features

QUALITY_MIN = 0.3
NEAR_DUP_THRESHOLD = 0.6
PACK_BUDGET = 2048
# LSH is probabilistic; below this recall a run counts as wrong.
MIN_RECALL = 0.9


def inputs(work: str, seed: int) -> gen.Corpus:
    n = 2000
    return gen.make_corpus(
        os.path.join(work, "corpus"), seed, n_unique=n, n_exact=n // 10, n_near=n // 10,
        n_far=n // 10, n_junk=n // 20,
    )


def read_docs(spark, corpus: gen.Corpus):
    return spark.read.schema("doc_id bigint, text string").json(corpus.path)


def run_pass(
    spark, tracer, corpus: gen.Corpus, out: str, op_id: int, staged: bool, probe: bool = False
) -> dict:
    """One pass into ``out``, plain or staged. With ``probe`` the MinHash
    candidate and verified pair counts are measured too, outside the
    spans."""
    stats = {}
    stage = (lambda df: df.localCheckpoint()) if staged else (lambda df: df)
    with tracer.span("corpus.pass", op_id):
        docs = read_docs(spark, corpus)
        with tracer.span("training.quality"):
            kept = stage(
                quality_features(docs, keep=("text",))
                .filter(F.col("quality_score") >= QUALITY_MIN)
                .select("doc_id", "text")
            )
        with tracer.span("training.exact"):
            reps = exact_dedup(kept).select("doc_id")
            deduped = stage(kept.join(reps, "doc_id", "left_semi"))
        with tracer.span("training.minhash"):
            pairs = minhash_dedup_pairs(deduped, threshold=NEAR_DUP_THRESHOLD)
            drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
            survivors = stage(deduped.join(F.broadcast(drop), "doc_id", "left_anti"))
        with tracer.span("training.pack"):
            sequence_pack(survivors, budget=PACK_BUDGET).write.mode("overwrite").parquet(out)
    if probe:
        stats["verified_pairs"] = pairs.count()
        stats["candidate_pairs"] = candidate_pairs(deduped)
    return stats


def candidate_pairs(docs) -> int:
    """Distinct id pairs that share at least one LSH band bucket — the
    pairs the verify stage has to consider."""
    banded = minhash_band_rows(docs, "text", "doc_id", 64, 16, 3)
    members = banded.groupBy("band_idx", "band_hash").agg(F.collect_set("doc_id").alias("ids"))
    pairs = members.select(F.explode("ids").alias("a"), "ids").select(
        "a", F.explode("ids").alias("b")
    )
    return pairs.filter(F.col("a") < F.col("b")).distinct().count()


def check_pass(corpus: gen.Corpus, out: str) -> tuple[list[str], dict]:
    """(mismatches, quality ratios) of one pass's packed output."""
    errors = []
    table = pq.read_table(out).to_pydict()
    ids = table["doc_id"]
    kept = set(ids)
    if len(kept) != len(ids):
        errors.append(f"{len(ids) - len(kept)} documents packed twice")
    if corpus.exact_dups & kept:
        errors.append(f"{len(corpus.exact_dups & kept)} exact duplicates kept")
    if corpus.junk & kept:
        errors.append(f"{len(corpus.junk & kept)} low-quality documents kept")
    if corpus.far_copies - kept:
        errors.append(f"{len(corpus.far_copies - kept)} far copies (below threshold) dropped")
    uniques_kept = len(corpus.uniques & kept) / len(corpus.uniques)
    recall = len(corpus.near_dups - kept) / len(corpus.near_dups)
    if uniques_kept != 1.0:
        errors.append(f"only {uniques_kept:.4f} of planted unique documents kept")
    if recall < MIN_RECALL:
        errors.append(f"near-duplicate recall {recall:.4f} < {MIN_RECALL}")

    # Packing: docs laid head-to-tail in id order, each in the pack where
    # its first token lands.
    texts = {}
    with open(corpus.path) as fh:
        for line in fh:
            doc = json.loads(line)
            texts[doc["doc_id"]] = doc["text"]
    rows = sorted(zip(ids, table["n_tokens"], table["pack_id"], table["pack_pos"]))
    start = 0
    token = re.compile(BPE_ISH_PATTERN)
    for doc_id, n_tokens, pack_id, pack_pos in rows:
        want = len(token.findall(texts[doc_id]))
        if (n_tokens, pack_id, pack_pos) != (want, start // PACK_BUDGET, start % PACK_BUDGET):
            errors.append(f"doc {doc_id} packed as {(n_tokens, pack_id, pack_pos)}")
            break
        start += want
    return errors, {"near_dup_recall": recall, "unique_kept_ratio": uniques_kept}
