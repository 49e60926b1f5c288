"""Streaming near-duplicate filtering against a growing corpus index.

The production shape for continuous corpus assembly: documents arrive
as a stream; each micro-batch is MinHash-signed (only the batch —
map-side, no shuffle), probed against the persisted band index for
near-duplicates of everything accepted so far, and the survivors are
appended to BOTH the document store and the index — so batch N+1
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
for the batch API.

The same batch-against-store shape carries the exact granularities
(line/passage/substring), embedding/semantic vectors, byte-level
media (fixed-width AND insertion-robust CDC entries), and the
index-free fuzzy-decontamination stream (static benchmark, the
marker is the only cross-batch state).

Within-batch self-duplicates are handled by the self-join formulation
on the (small) batch alone — the two halves the incremental API splits
are both applied here.

Delivery: at-least-once appends under the stream checkpoint, same
contract as ingest_stream.py; a re-delivered batch's docs are exact
re-appends that the maintenance dedup collapses, and re-appended band
rows are harmless duplicate candidates (the verify stage's per-pair
groupBy collapses them).

ATOMICITY of the two appends (store + index): a per-batch commit
marker under ``<index>/_batch_committed/<stream_id>/<id>``
(``microbatch._batch_marker``) is written only after
BOTH appends succeed, and a batch whose marker exists is skipped
entirely on re-delivery — the common foreachBatch retry therefore
re-appends NOTHING. The two crash windows in between converge on
retry (ADVICE r03): (a) crash after the store append — the fresh
store rows have no index rows yet, so they produce no candidates, the
survivor set recomputes identically, and the retry re-appends them
(exact duplicates, collapsed by maintenance dedup) plus the index
rows that were missing, closing the stored-but-invisible-to-the-index
hole; (b) crash after the index append — the batch's own index rows
match only their own ids (filtered by ``vid != new_id``), so the
survivor set again recomputes identically and the retry completes the
marker. Either way the index ends up covering every stored row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT, TableFormat
from faexport_db_spark.streaming.microbatch import _batch_marker, _read_store_or_none
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
    same batch (lowest id wins within a batch), and append the
    survivors to the store and their band rows to the index.

    First batch (no index yet) skips the probe — everything new is
    self-deduped only. With a ``batch_id``, a batch whose commit
    marker already exists returns ``None`` untouched (re-delivered
    after a full commit — appending again would duplicate rows).

    ``fmt`` is the store's :class:`TableFormat` strategy (default
    plain parquet) — store reads and survivor appends go through it so
    manifest-format stores stay transactional; the band index is an
    engine-internal artifact with a fixed parquet layout and stays
    raw."""

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, text_col)

    # Validate (or, on the first batch, create) the index parameter
    # sidecar BEFORE anything is appended: a mismatched-parameter
    # batch must fail here, not after it has already polluted the
    # index with incompatibly-signed band rows.
    ensure_index_meta(
        spark, index_path, "minhash_bands",
        {"num_perm": num_perm, "bands": bands, "shingle_n": shingle_n,
         "scheme": "tokshingle1"},
    )

    # Sign the batch ONCE — the probe, the self-dedup and the index
    # append all consume this one frame (signing is the hot loop;
    # pinned eagerly so the three consumers don't recompute it).
    banded = minhash_band_rows(
        batch, text_col, id_col, num_perm, bands, shingle_n
    ).localCheckpoint(eager=True)

    dup_ids = None
    corpus = _read_store_or_none(fmt, spark, store_path)
    if corpus is not None:
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
    # Materialize ONCE before the two appends (probe + anti-join would
    # otherwise recompute per sink write).
    survivors = survivors.localCheckpoint(eager=True)
    fmt.append(survivors, store_path)
    (
        banded.join(F.broadcast(survivors.select(id_col)), id_col, "left_semi")
        .write.mode("append")
        .partitionBy("band_idx")
        .parquet(index_path)
    )
    mark()  # both appends durable → re-delivery of this batch is a no-op
    return survivors


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
    wins), and the survivors + their code rows are appended — batch
    N+1 dedups against batch N with no corpus re-coding. The first
    batch also writes the index parameter sidecar so every later probe
    validates against it. ``batch_id`` enables the per-batch commit
    marker (module docstring): an already-committed batch returns
    ``None`` without appending. ``fmt`` is the store's strategy, as in
    ``dedup_batch_against_store``; the code index stays raw parquet."""
    from faexport_db_spark.training.similarity import (
        _code_rows,
        cosine_near_dup_pairs_lsh,
        embed_dedup_against_index,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, vec_col)

    # Validate/create the sidecar BEFORE any append (see the MinHash
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
    if corpus is not None:
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
    fmt.append(survivors, store_path)
    (
        coded.join(F.broadcast(survivors.select(F.col(id_col).alias("vid"))), "vid", "left_semi")
        .write.mode("append")
        .partitionBy("tbl")
        .parquet(index_path)
    )
    mark()  # both appends durable → re-delivery of this batch is a no-op
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
    within the batch under the same model, and its survivors appended
    to both the store (through the ``TableFormat`` seam, store first)
    and the index. The frozen model is what makes the incremental path
    equivalent to the batch path for the scale-invariant planted-copy
    guarantee: a scaled copy of any indexed vector lands in its
    original's cell under ANY model, so it can never escape the probe.
    Commit markers make re-delivery a no-op, as in every stream here.

    Crash-window caveat (ADVICE r06, shared with the embed/minhash
    streams — marker granularity is the whole batch): a crash AFTER
    the store append but BEFORE the index append + marker means the
    redelivered batch re-derives the same survivors (the index lacks
    this batch's vectors, so the probe cannot cut them) and appends
    them to the STORE a second time — duplicate store rows, while the
    index itself stays correct. Deployments that cannot tolerate this
    should write the store under a batch-identity partition (the
    line-count index's layout) so the redelivered append replaces
    rather than accumulates, or dedup the store by ``id_col`` on
    read. Bounding allowed redelivery to the current batch (Spark's
    foreachBatch contract) keeps the window to at most one batch."""
    from faexport_db_spark.operators.hadoop_fs import HadoopFs
    from faexport_db_spark.training.indexmeta import write_model_sidecar
    from faexport_db_spark.training.similarity import (
        _nearest_centroid,
        ivf_centroids,
        semantic_append_index,
        semantic_dedup_against_index,
        semantic_dedup_pairs,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, vec_col).localCheckpoint(eager=True)

    sidecar = f"{index_path.rstrip('/')}/_centroids.json"
    bootstrap = not HadoopFs(spark, index_path).exists(sidecar)
    if bootstrap:
        if batch.isEmpty():
            return None  # nothing to train from yet; no marker, retry free
        # seeds are limit(n_centroids) rows — cap by batch size or the
        # centroid-update comprehension would index past the seed list
        n_eff = min(n_centroids, batch.count())
        centroids = ivf_centroids(batch, n_eff, iters, id_col, vec_col)
        dup_ids = None
    else:
        centroids = _read_centroids(spark, index_path)
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
    survivors = survivors.localCheckpoint(eager=True)  # pin before index mutates
    fmt.append(survivors, store_path)
    if bootstrap:
        (
            survivors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                _nearest_centroid(F.col(vec_col), centroids).alias("cid"),
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(index_path)
        )
        write_model_sidecar(spark, index_path, "_centroids.json", centroids)
    else:
        semantic_append_index(survivors, index_path, id_col, vec_col)
    mark()
    return survivors


def _read_centroids(spark: SparkSession, index_path: str) -> list[list[float]]:
    from faexport_db_spark.training.indexmeta import read_model_sidecar

    return read_model_sidecar(spark, index_path, "_centroids.json")


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
    dropped — and the cleaned non-empty docs are appended to the
    store, THEN their surviving tile digests to the index, so batch
    N+1 dedups against batch N's passages. Same commit-marker protocol
    as the other streams.

    Append ordering is store-FIRST, mirroring the MinHash/embed
    variants (ADVICE r04 high): the tile index carries digests only —
    no doc ids, so no ``vid != new_id`` self-exclusion — and a retry
    after a digest-first crash would find the batch's own tiles
    indexed, re-clean every doc to empty, drop them all on the
    length>0 filter, and mark the batch committed with its text
    silently lost. Store-first converges instead: a retry after the
    store append re-cleans identically (index unchanged), re-appends
    exact duplicates the maintenance dedup collapses, then completes
    the digest append; a retry after BOTH appends re-cleans to empty
    against the batch's own digests, appends nothing — the store
    already holds the survivors — and just completes the marker.

    ``fmt`` is the store's strategy; the digest index stays raw
    parquet."""
    from faexport_db_spark.training.text import (
        build_passage_index,
        passage_dedup_probe,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero tiles)
        build_passage_index(
            batch.filter(F.lit(False)), index_path, tile_tokens, text_col, id_col
        )
    cleaned, kept_ths = passage_dedup_probe(
        batch, index_path, tile_tokens, text_col, id_col
    )
    # Pin BOTH outputs before any mutation: the digest append changes
    # the index the probe reads, so an unpinned kept_ths recomputed
    # after the store append would still be consistent, but one
    # recomputed after its OWN append would not.
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .localCheckpoint(eager=True)
    )
    kept_ths = kept_ths.localCheckpoint(eager=True)
    fmt.append(survivors, store_path)
    kept_ths.write.mode("append").parquet(index_path)
    mark()
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
    within-batch repeat) is CUT, cleaned non-empty docs append to the
    store, THEN the index. Same commit-marker protocol and store-FIRST
    ordering as the passage stream (a gram-first crash would re-clean
    the retried batch to empty against its own grams and silently drop
    its text).

    Index exactness: what gets appended is the grams of the SURVIVOR
    text (not the raw batch) — removal can join previously-separated
    tokens into new grams that genuinely exist in the stored text, and
    a novel gram whose every occurrence was cut by overlapping
    coverage exists in no stored text, so indexing the survivors keeps
    the invariant "index == grams of the stored corpus" exact.

    Retry convergence: after a store-append crash the probe re-runs
    against the unchanged index, re-cleans identically and re-appends
    exact duplicates the maintenance dedup collapses; after BOTH
    appends it re-cleans to empty against the batch's own grams,
    appends nothing, and just completes the marker."""
    from faexport_db_spark.training.text import (
        append_substring_index,
        build_substring_index,
        substring_dedup_against_index,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # first batch bootstraps an empty index (sidecar + zero grams)
        build_substring_index(
            batch.filter(F.lit(False)), index_path, min_tokens, text_col, id_col
        )
    cleaned = substring_dedup_against_index(
        batch, index_path, min_tokens, text_col, id_col, append=False
    )
    survivors = (
        cleaned.filter(F.length("clean_text") > 0)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .localCheckpoint(eager=True)  # pin before any mutation
    )
    fmt.append(survivors, store_path)
    append_substring_index(survivors, index_path, min_tokens, text_col, id_col)
    mark()
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
    survivors + their signature rows are appended — batch N+1 dedups
    against batch N with no corpus re-signing. Same commit-marker
    protocol, parameter-sidecar validation and store-strategy seam as
    the other dedup streams; the signature index stays raw parquet."""
    from faexport_db_spark.training.multimodal import (
        build_media_chunk_index,
        media_chunk_signatures,
        media_near_dup_against_index,
        media_near_dup_pairs,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
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
    survivors = survivors.localCheckpoint(eager=True)  # pin before mutation
    fmt.append(survivors, store_path)
    (
        sigs.join(
            F.broadcast(survivors.select(id_col)), id_col, "left_semi"
        )
        .sortWithinPartitions("chunk_hash")
        .write.mode("append")
        .parquet(index_path)
    )
    mark()  # both appends durable → re-delivery of this batch is a no-op
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
    docs append to the store, then the batch's line counts join the
    index so batch N+1 sees them.

    The count index makes naive retries WORSE than the digest index
    (a re-appended delta double-counts and silently over-cleans
    forever after), so appends are per-batch ``src=`` hive partitions
    written with DYNAMIC partition overwrite: a retry overwrites its
    own partition byte-for-byte instead of adding a second delta —
    idempotent regardless of where the previous attempt died. Store
    appends stay first (exact-duplicate re-appends collapse in
    maintenance dedup, per the module contract), and the commit
    marker still short-circuits fully-committed batches. The index
    layout is therefore ALWAYS partitioned here; seed a corpus with
    ``build_line_index(..., partitioned=True)``.

    Changelog semantics: docs already emitted are never retroactively
    re-cleaned when later batches push a line over the threshold —
    the same forward-only contract as the MinHash/embed/passage
    streams.
    """
    import hashlib

    from faexport_db_spark.training.text import line_dedup_against_index

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, text_col)
    if not has_index_meta(spark, index_path):
        # Bootstrap with a zero-count sentinel row, not an empty frame:
        # a rowless partitioned write creates NO files, and the next
        # probe's schema inference would fail on the empty directory.
        # The sentinel lh can never equal a real md5 digest and its
        # cnt=0 is additive-identity under the probe's sum.
        from faexport_db_spark.training.indexmeta import write_index_meta

        spark.createDataFrame(
            [("__bootstrap__", 0, "bootstrap")], "lh string, cnt bigint, src string"
        ).write.mode("overwrite").partitionBy("src").parquet(index_path)
        write_index_meta(
            spark,
            index_path,
            "line_counts",
            {"line_tokens": line_tokens, "normalize": normalize},
        )
    cleaned = line_dedup_against_index(
        batch,
        index_path,
        line_tokens=line_tokens,
        max_freq=max_freq,
        text_col=text_col,
        id_col=id_col,
        normalize=normalize,
        append=False,
    ).localCheckpoint(eager=True)  # pin before the index mutates
    survivors = cleaned.filter(F.length("clean_text") > 0).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )
    fmt.append(survivors, store_path)
    from faexport_db_spark.training.text import _lines

    ns = hashlib.md5((stream_id or "direct").encode()).hexdigest()[:8]
    if batch_id is not None:
        # identified retry: overwrite-by-name keeps redelivery additive
        src = f"b{ns}_{batch_id}"
    else:
        # direct (non-streaming) call with no identity: a FIXED name
        # here would make the dynamic-partition overwrite below clobber
        # the previous direct call's counts — the frequency index would
        # undercount and later batches under-clean (ADVICE r05). A
        # unique src makes each direct call append additively; only
        # identified batches get idempotent overwrite semantics.
        import uuid

        src = f"b{ns}_x{uuid.uuid4().hex[:12]}"
    (
        _lines(batch, line_tokens, text_col, id_col, normalize)
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("src", F.lit(src))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("src")
        .parquet(index_path)
    )
    mark()
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
    survivors + their index entries appended. Same commit-marker
    protocol, parameter-sidecar validation and store-strategy seam as
    the fixed-width stream; mid-batch crash window is identical
    (marker granularity is whole-batch — see module docstring)."""
    from faexport_db_spark.training.multimodal import (
        _cdc_entries,
        build_cdc_chunk_index,
        media_cdc_near_dup_against_index,
        media_cdc_near_dup_pairs,
    )

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, index_path, batch_id, stream_id)
    if committed:
        return None
    batch = batch.select(id_col, bytes_col)
    if not has_index_meta(spark, index_path):
        build_cdc_chunk_index(
            batch.filter(F.lit(False)), index_path,
            window, boundary_prefix, min_chunk, id_col, bytes_col,
        )
    from faexport_db_spark.training.multimodal import cdc_chunk_spans

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
    survivors = survivors.localCheckpoint(eager=True)  # pin before mutation
    fmt.append(survivors, store_path)
    (
        _cdc_entries(
            batch, window, boundary_prefix, min_chunk, id_col, bytes_col,
            sigs=sigs,
        )
        .join(F.broadcast(survivors.select(id_col)), id_col, "left_semi")
        .sortWithinPartitions("chunk_md5")
        .write.mode("append")
        .parquet(index_path)
    )
    mark()  # both appends durable → re-delivery of this batch is a no-op
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
) -> DataFrame | None:
    """Streaming fuzzy decontamination: each micro-batch of corpus
    docs drops everything within MinHash Jaccard ``threshold`` of the
    STATIC benchmark set and appends the clean survivors. Unlike the
    dedup streams there is no growing index — the benchmark is fixed,
    its band rows broadcast per batch (eval sets are small; at larger
    benchmark scale persist them once with ``minhash_build_index`` and
    probe that instead) — so the only cross-batch state is the commit
    marker that makes re-delivered batches a no-op. Batch and
    benchmark ids may overlap: ``fuzzy_contamination_pairs``
    namespaces the two sides internally before they meet."""
    from faexport_db_spark.training.dedup import fuzzy_decontaminate

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, store_path, batch_id, stream_id)
    if committed:
        return None
    clean = fuzzy_decontaminate(
        batch.select(id_col, text_col), benchmark.select(id_col, text_col),
        text_col, id_col, num_perm, bands, shingle_n, threshold, max_bucket,
    ).localCheckpoint(eager=True)  # pin before mutation
    fmt.append(clean, store_path)
    mark()
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
) -> DataFrame | None:
    """Streaming Bloom decontamination: each micro-batch probes a
    PREBUILT filter (``build_bloom_filter`` output — built once when
    the stream starts, not per batch) and appends the survivors. The
    probe is stateless and map-only, so the only cross-batch state is
    the commit marker that makes re-delivered batches a no-op; the
    filter itself is a constant-size long array shipped with the
    closure, the streaming analog of a broadcast tokenizer vocab."""
    from faexport_db_spark.training.text import bloom_probe_filter

    spark = batch.sparkSession
    committed, mark = _batch_marker(spark, store_path, batch_id, stream_id)
    if committed:
        return None
    clean = bloom_probe_filter(
        batch.select(id_col, text_col), bloom_words, n, m_bits, k, text_col
    ).localCheckpoint(eager=True)  # pin before mutation
    fmt.append(clean, store_path)
    mark()
    return clean
