"""Streaming near-duplicate filtering against a growing corpus index.

The production shape for continuous corpus assembly: documents arrive
as a stream; each micro-batch is MinHash-signed (only the batch —
map-side, no shuffle), probed against the persisted band index for
near-duplicates of everything accepted so far, and the survivors are
written to BOTH the document store and the index — so batch N+1
automatically dedups against batch N without any corpus re-signing.

foreachBatch is the right tool (not a stateful operator): the dedup
state is the index itself — durable parquet, shared with batch jobs,
unbounded in size but never held in executor memory. Watermark-bounded
operator state could not hold a corpus-lifetime seen-set; the index
can, because probing it is one broadcast-join scan per batch
(training/dedup.py::minhash_dedup_against_index).

Each function here is one micro-batch step. Stream it with the shared
runner, e.g. ``start_batch_stream(source, dedup_batch_against_store,
checkpoint, store_path, index_path, fmt=fmt)``
(streaming/microbatch.py), or call it directly without a ``batch_id``
for the batch API. A step is the one writer that adds a batch to its
index: the ``*_against_index`` probes in ``training/`` are read-only,
so a batch joins an index outside a stream by a direct step call.

The same batch-against-store shape carries the exact granularities
(line/passage/substring), embedding/semantic vectors, byte-level
media (fixed-width AND insertion-robust CDC entries), and the
index-free decontamination streams (a static benchmark or a prebuilt
Bloom filter, so there is no cross-batch state).

Within-batch self-duplicates are handled by the self-join formulation
on the (small) batch alone — the two halves the incremental API splits
are both applied here.

Delivery: every step commits through ``microbatch``'s one protocol.
Survivors replace the store partition ``batch=<tag>``, index rows are
published last as the index partition of the same name, and a batch
whose index partition exists returns ``None``. A retry after a crash
before that publish probes the same index, recomputes the same
survivors and replaces its store partition, so the store holds each
survivor once and the index covers every stored row. The
decontamination steps have no index; they recompute and replace their
store partition on every delivery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT, TableFormat
from faexport_db_spark.operators.partitioning import fan_out
from faexport_db_spark.operators.pins import unpin
from faexport_db_spark.streaming.microbatch import (
    _read_store_or_none,
    batch_tag,
    commit_batch,
    is_committed,
    overwrite_batch_rows,
)
from faexport_db_spark.training.dedup import (
    minhash_band_rows,
    minhash_dedup_pairs,
    minhash_dedup_against_index,
)
from faexport_db_spark.training.indexmeta import ensure_index_meta, has_index_meta


def dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """One micro-batch step: return the batch rows that are NOT
    near-duplicates of the indexed corpus or of an earlier row in the
    same batch (lowest id wins within a batch), and commit the
    survivors to the store and their band rows to the index
    (``microbatch.commit_batch``). A batch whose index partition
    exists returns ``None``.

    The index probe runs once the store and the index both hold rows;
    until then everything new is self-deduped only.

    ``fmt`` is the store's :class:`TableFormat` strategy (default
    plain parquet) — store reads and survivor writes go through it so
    manifest-format stores stay transactional; the band index is an
    engine-internal artifact with a fixed parquet layout and stays
    raw."""

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, text_col)

    # Validate (or, on the first batch, create) the index parameter
    # sidecar BEFORE anything is written: a mismatched-parameter
    # batch must fail here, not after it has already polluted the
    # index with incompatibly-signed band rows.
    ensure_index_meta(
        spark, index_path, "minhash_bands",
        {"num_perm": num_perm, "bands": bands, "shingle_n": shingle_n,
         "scheme": "tokshingle1"},
    )

    # Sign the batch ONCE — the probe, the self-dedup and the index
    # rows all consume this one frame (signing is the hot loop;
    # pinned eagerly so the three consumers don't recompute it).
    banded = minhash_band_rows(
        batch, text_col, id_col, num_perm, bands, shingle_n
    ).localCheckpoint(eager=True)

    dup_ids = None
    corpus = _read_store_or_none(fmt, spark, store_path)
    if corpus is not None and _indexed(spark, index_path):
        cross = minhash_dedup_against_index(
            batch, corpus, index_path, text_col, id_col,
            num_perm, bands, shingle_n, threshold, banded=banded,
        )
        dup_ids = cross.select(F.col("id_b").alias(id_col)).distinct()
    self_pairs = minhash_dedup_pairs(
        batch, text_col, id_col, num_perm, bands, shingle_n, threshold,
        banded=banded,
    )
    self_dups = self_pairs.select(F.col("id_b").alias(id_col)).distinct()
    dup_ids = self_dups if dup_ids is None else dup_ids.unionByName(self_dups).distinct()

    survivors = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    # Materialize ONCE before the two writes (probe + anti-join would
    # otherwise recompute per write).
    survivors = survivors.localCheckpoint(eager=True)
    commit_batch(
        fmt, survivors, store_path,
        banded.join(F.broadcast(survivors.select(id_col)), id_col, "left_semi"),
        index_path, tag, ["band_idx"],
    )
    unpin(banded)
    return survivors


def _indexed(spark: SparkSession, index_path: str) -> bool:
    """Whether the index holds a committed partition with rows to
    probe (a first batch, or a retry of it, finds none)."""
    return _read_store_or_none(DEFAULT_FORMAT, spark, index_path) is not None


def embed_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 12,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
    threshold: float = 0.95,
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Embedding analog of ``dedup_batch_against_store``: one
    micro-batch of vectors is coded ONCE (Arrow matmul, map-side),
    probed against the persisted multi-table code index for near-dups
    of the accepted corpus, self-deduped within the batch (lowest id
    wins), and the survivors + their code rows are committed — batch
    N+1 dedups against batch N with no corpus re-coding. The first
    batch also writes the index parameter sidecar so every later probe
    validates against it. A batch whose index partition exists
    returns ``None``. ``fmt`` is the store's strategy, as in
    ``dedup_batch_against_store``; the code index stays raw parquet."""
    from faexport_db_spark.training.similarity import (
        _code_rows,
        cosine_near_dup_pairs_lsh,
        embed_dedup_against_index,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, vec_col)

    # Validate/create the sidecar BEFORE any write (see the MinHash
    # variant: a param-mismatched batch must fail before polluting
    # the index with incompatible code rows).
    ensure_index_meta(
        spark, index_path, "embed_lsh_codes",
        {"nbits": nbits, "n_tables": n_tables, "dim": dim, "seed": seed},
    )

    coded = _code_rows(
        batch, id_col, vec_col, nbits, n_tables, dim, seed
    ).localCheckpoint(eager=True)

    dup_ids = None
    corpus = _read_store_or_none(fmt, spark, store_path)
    if corpus is not None and _indexed(spark, index_path):
        cross = embed_dedup_against_index(
            batch, corpus, index_path, threshold, id_col, vec_col,
            nbits, n_tables, dim, seed,
            probes=coded.withColumnRenamed("vid", "new_id"),
        )
        dup_ids = cross.select(F.col("id_b").alias(id_col)).distinct()
    self_pairs = cosine_near_dup_pairs_lsh(
        batch, threshold, id_col, vec_col, nbits, n_tables, dim, seed,
        entries=coded,
    )
    self_dups = self_pairs.select(F.col("id_b").alias(id_col)).distinct()
    dup_ids = (
        self_dups if dup_ids is None
        else dup_ids.unionByName(self_dups).distinct()
    )

    survivors = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    survivors = survivors.localCheckpoint(eager=True)
    commit_batch(
        fmt, survivors, store_path,
        coded.join(
            F.broadcast(survivors.select(F.col(id_col).alias("vid"))), "vid", "left_semi"
        ),
        index_path, tag, ["tbl"],
    )
    unpin(coded)
    return survivors


def semantic_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    iters: int = 3,
    max_cluster: int | None = 10_000,
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Semantic (SemDeDup) analog of ``embed_dedup_batch_against_store``:
    the first non-empty batch trains the k-means model ONCE and seeds
    the cid-partitioned IVF index with its survivors; every later batch
    is assigned against the FROZEN sidecar centroids (so cell
    membership is consistent across the stream's whole life), probed
    against only its own cells' members (pruned scan), self-deduped
    within the batch under the same model, and its survivors committed
    to the store and the index. The frozen model is what makes the
    incremental path equivalent to the batch path for the
    scale-invariant planted-copy guarantee: a scaled copy of any
    indexed vector lands in its original's cell under ANY model, so it
    can never escape the probe. A batch whose index partition exists
    returns ``None``.

    The model is trained while the index holds no rows, so a retry of
    a first batch that crashed before its index publish trains again
    and replaces the centroid sidecar, which no indexed row used yet.
    """
    from faexport_db_spark.training.indexmeta import (
        read_model_sidecar,
        write_model_sidecar,
    )
    from faexport_db_spark.training.similarity import (
        _nearest_centroid,
        ivf_centroids,
        semantic_dedup_against_index,
        semantic_dedup_pairs,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, vec_col).localCheckpoint(eager=True)

    bootstrap = not _indexed(spark, index_path)
    if bootstrap:
        if batch.isEmpty():
            return None  # nothing to train from yet; nothing written
        # seeds are limit(n_centroids) rows — cap by batch size or the
        # centroid-update comprehension would index past the seed list
        n_eff = min(n_centroids, batch.count())
        centroids = ivf_centroids(batch, n_eff, iters, id_col, vec_col)
        dup_ids = None
    else:
        centroids = read_model_sidecar(spark, index_path, "_centroids.json")
        cross = semantic_dedup_against_index(
            batch, index_path, threshold, id_col, vec_col, max_cluster
        )
        dup_ids = cross.select(F.col("id_b").alias(id_col)).distinct()

    self_pairs = semantic_dedup_pairs(
        batch, threshold=threshold, id_col=id_col, vec_col=vec_col,
        centroids=centroids, max_cluster=max_cluster,
    )
    self_dups = self_pairs.select(F.col("id_b").alias(id_col)).distinct()
    dup_ids = (
        self_dups if dup_ids is None
        else dup_ids.unionByName(self_dups).distinct()
    )
    survivors = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    survivors = survivors.localCheckpoint(eager=True)
    if bootstrap:
        write_model_sidecar(spark, index_path, "_centroids.json", centroids)
    cells = fan_out(survivors, by=[id_col]).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _nearest_centroid(F.col(vec_col), centroids).alias("cid"),
    )
    commit_batch(fmt, survivors, store_path, cells, index_path, tag, ["cid"])
    return survivors


def passage_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    tile_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Passage-level analog of ``dedup_batch_against_store``: the
    batch's duplicated passages (vs the indexed corpus AND earlier
    tiles in the same batch) are CUT — documents are cleaned, not
    dropped — and the cleaned non-empty docs are committed to the
    store, then their surviving tile digests to the index, so batch
    N+1 dedups against batch N's passages. A batch whose index
    partition exists returns ``None``.

    The digest index carries no doc ids, so the batch must never probe
    its own digests: they are published last, and only once they are
    does the batch count as committed. ``fmt`` is the store's
    strategy; the digest index stays raw parquet."""
    from faexport_db_spark.training.text import (
        build_passage_index,
        passage_dedup_against_index,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero tiles)
        build_passage_index(
            batch.filter(F.lit(False)), index_path, tile_tokens, text_col, id_col
        )
    cleaned, kept_ths = passage_dedup_against_index(
        batch, index_path, tile_tokens, text_col, id_col
    )
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .localCheckpoint(eager=True)
    )
    commit_batch(fmt, survivors, store_path, kept_ths, index_path, tag)
    return survivors


def substring_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Substring-level analog of ``passage_dedup_batch_against_store``
    — the third granularity's streaming form: every batch token
    covered by a gram the corpus index holds (or by a non-batch-first
    within-batch repeat) is CUT, and the cleaned non-empty docs are
    committed to the store, then their grams to the index, under the
    passage stream's protocol.

    Index exactness: what gets indexed is the grams of the SURVIVOR
    text (not the raw batch) — removal can join previously-separated
    tokens into new grams that genuinely exist in the stored text, and
    a novel gram whose every occurrence was cut by overlapping
    coverage exists in no stored text, so indexing the survivors keeps
    the invariant "index == grams of the stored corpus" exact."""
    from faexport_db_spark.training.text import (
        _novel_grams,
        build_substring_index,
        substring_dedup_against_index,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero grams)
        build_substring_index(
            batch.filter(F.lit(False)), index_path, min_tokens, text_col, id_col
        )
    cleaned = substring_dedup_against_index(
        batch, index_path, min_tokens, text_col, id_col
    )
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .localCheckpoint(eager=True)
    )
    commit_batch(
        fmt, survivors, store_path,
        _novel_grams(survivors, index_path, min_tokens, text_col, id_col),
        index_path, tag,
    )
    return survivors


def media_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    threshold: float = 0.8,
    chunk_bytes: int = 4096,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Byte-level media analog of ``embed_dedup_batch_against_store``:
    one micro-batch of opaque payloads is chunk-signed ONCE (map-side,
    pure Catalyst), probed against the persisted chunk-signature index
    for near-dups of the accepted corpus, self-deduped within the
    batch (lowest id wins; exact copies match at frac 1.0), and the
    survivors + their signature rows are committed — batch N+1 dedups
    against batch N with no corpus re-signing. Same commit protocol,
    parameter-sidecar validation and store-strategy seam as the other
    dedup streams; the signature index stays raw parquet."""
    from faexport_db_spark.training.multimodal import (
        build_media_chunk_index,
        media_chunk_signatures,
        media_near_dup_against_index,
        media_near_dup_pairs,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, bytes_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero rows)
        build_media_chunk_index(
            batch.filter(F.lit(False)), index_path, chunk_bytes, id_col, bytes_col
        )
    sigs = media_chunk_signatures(
        batch, chunk_bytes, id_col, bytes_col
    ).localCheckpoint(eager=True)  # sign the payload bytes exactly once

    cross = media_near_dup_against_index(
        batch, index_path, threshold, chunk_bytes, max_bucket,
        id_col, bytes_col, sigs=sigs,
    )
    dup_ids = cross.select(F.col("id_a").alias(id_col)).distinct()
    self_pairs = media_near_dup_pairs(
        batch, threshold, chunk_bytes, max_bucket, id_col, bytes_col, sigs=sigs
    )
    dup_ids = dup_ids.unionByName(
        self_pairs.select(F.col("id_b").alias(id_col))
    ).distinct()

    survivors = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    survivors = survivors.localCheckpoint(eager=True)
    commit_batch(
        fmt, survivors, store_path,
        sigs.join(F.broadcast(survivors.select(id_col)), id_col, "left_semi")
        .sortWithinPartitions("chunk_hash"),
        index_path, tag,
    )
    unpin(sigs)
    return survivors


def line_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    line_tokens: int = 5,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Line-level analog of ``passage_dedup_batch_against_store``:
    every batch line whose historical+in-batch frequency exceeds
    ``max_freq`` is cut (drop-all — no keeper), cleaned non-empty
    docs are committed to the store, then the batch's line counts to
    the index so batch N+1 sees them. The counts are additive, so a
    count published twice would over-clean every later batch; the
    commit protocol publishes each batch's counts once, under its tag.

    Changelog semantics: docs already emitted are never retroactively
    re-cleaned when later batches push a line over the threshold —
    the same forward-only contract as the MinHash/embed/passage
    streams.
    """
    from faexport_db_spark.training.text import (
        build_line_index,
        line_dedup_against_index,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero counts)
        build_line_index(
            batch.filter(F.lit(False)), index_path, line_tokens, text_col,
            id_col, normalize,
        )
    cleaned, counts = line_dedup_against_index(
        batch, index_path, line_tokens, max_freq, text_col, id_col, normalize
    )
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .localCheckpoint(eager=True)
    )
    commit_batch(fmt, survivors, store_path, counts, index_path, tag)
    return survivors


def media_cdc_dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    index_path: str,
    threshold: float = 0.5,
    window: int = 8,
    boundary_prefix: str = "0",
    min_chunk: int = 16,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame | None:
    """Insertion-robust streaming media dedup: the CDC analog of
    ``media_dedup_batch_against_store`` — each micro-batch is
    CDC-chunked ONCE, probed against the persisted entry index for
    near-dups of the accepted corpus (alignment-free: a re-encoded
    copy with bytes inserted still collides on content-defined chunk
    hashes), self-deduped within the batch (lowest id wins), and the
    survivors + their index entries committed. Same commit protocol,
    parameter-sidecar validation and store-strategy seam as the
    fixed-width stream."""
    from faexport_db_spark.training.multimodal import (
        _cdc_entries,
        build_cdc_chunk_index,
        cdc_chunk_spans,
        media_cdc_near_dup_against_index,
        media_cdc_near_dup_pairs,
    )

    spark = batch.sparkSession
    tag = batch_tag(batch_id, stream_id)
    if is_committed(spark, index_path, tag):
        return None
    batch = batch.select(id_col, bytes_col)
    if not has_index_meta(spark, index_path):
        build_cdc_chunk_index(
            batch.filter(F.lit(False)), index_path,
            window, boundary_prefix, min_chunk, id_col, bytes_col,
        )
    sigs = cdc_chunk_spans(
        batch, window, boundary_prefix, min_chunk, id_col, bytes_col
    ).localCheckpoint(eager=True)  # chunk the payload bytes exactly once

    cross = media_cdc_near_dup_against_index(
        batch, index_path, threshold, window, boundary_prefix, min_chunk,
        max_bucket, id_col, bytes_col, sigs=sigs,
    )
    dup_ids = cross.select(F.col("id_a").alias(id_col)).distinct()
    self_pairs = media_cdc_near_dup_pairs(
        batch, threshold, window, boundary_prefix, min_chunk,
        max_bucket, id_col, bytes_col, sigs=sigs,
    )
    dup_ids = dup_ids.unionByName(
        self_pairs.select(F.col("id_b").alias(id_col))
    ).distinct()

    survivors = batch.join(F.broadcast(dup_ids), id_col, "left_anti")
    survivors = survivors.localCheckpoint(eager=True)
    entries = _cdc_entries(
        batch, window, boundary_prefix, min_chunk, id_col, bytes_col, sigs=sigs
    )
    commit_batch(
        fmt, survivors, store_path,
        entries.join(F.broadcast(survivors.select(id_col)), id_col, "left_semi")
        .sortWithinPartitions("chunk_md5"),
        index_path, tag,
    )
    unpin(sigs)
    return survivors


def fuzzy_decontaminate_batch_against_benchmark(
    batch: DataFrame,
    benchmark: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame:
    """Streaming fuzzy decontamination: each micro-batch of corpus
    docs drops everything within MinHash Jaccard ``threshold`` of the
    STATIC benchmark set and writes the clean survivors as its store
    partition. Unlike the dedup streams there is no growing index — the
    benchmark is fixed, its band rows broadcast per batch (eval sets
    are small; at larger benchmark scale persist them once with
    ``minhash_build_index`` and probe that instead) — so a re-delivered
    batch recomputes the same survivors and replaces its partition.
    Batch and benchmark ids may overlap: ``fuzzy_contamination_pairs``
    namespaces the two sides internally before they meet."""
    from faexport_db_spark.training.dedup import fuzzy_decontaminate

    clean = fuzzy_decontaminate(
        batch.select(id_col, text_col), benchmark.select(id_col, text_col),
        text_col, id_col, num_perm, bands, shingle_n, threshold, max_bucket,
    ).localCheckpoint(eager=True)  # one computation for the write and the caller
    overwrite_batch_rows(fmt, clean, store_path, batch_tag(batch_id, stream_id))
    return clean


def bloom_decontaminate_batch(
    batch: DataFrame,
    bloom_words: list[int],
    store_path: str,
    n: int = 5,
    m_bits: int = 1 << 22,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
    stream_id: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> DataFrame:
    """Streaming Bloom decontamination: each micro-batch probes a
    PREBUILT filter (``build_bloom_filter`` output — built once when
    the stream starts, not per batch) and writes the survivors as its
    store partition. The probe is stateless and map-only, so a
    re-delivered batch recomputes the same survivors and replaces its
    partition; the filter itself is a constant-size long array shipped
    with the closure, the streaming analog of a broadcast tokenizer
    vocab."""
    from faexport_db_spark.training.text import bloom_probe_filter

    clean = bloom_probe_filter(
        batch.select(id_col, text_col), bloom_words, n, m_bits, k, text_col
    ).localCheckpoint(eager=True)  # one computation for the write and the caller
    overwrite_batch_rows(fmt, clean, store_path, batch_tag(batch_id, stream_id))
    return clean
