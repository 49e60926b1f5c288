"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata structs;
decode / feature-extraction run as Arrow-batched ``mapInPandas``
operators so each Python worker sees whole record batches (never
row-at-a-time). The actual codec calls are STUBBED — the image/audio
libraries are not in this container — behind ``decode_media``, which
raises NotImplementedError; ``extract_features`` uses a deterministic
digest-based fake so the Spark-side contract (schema, batching,
partitioning) is real and testable end-to-end.

Scale notes: binary payloads ride the shuffle only when explicitly
repartitioned; feature extraction is map-only (no shuffle), and batch
size is governed by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_bytes", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = (
    "media_id bigint, n_bytes bigint, f0 double, f1 double, f2 double, f3 double"
)

N_FEATURES = 4


def decode_media(payload: bytes, media_type: str):
    """Real codec entry point — STUB. Plug PIL/librosa/pyav here.

    Raises NotImplementedError by design: the container ships no media
    libraries (SURVEY/driver brief). Everything around it (schemas,
    batch shapes, partitioning) is real.
    """
    raise NotImplementedError(
        f"media decoding for {media_type!r} requires codec libraries "
        "not present in this environment; extract_features uses a "
        "deterministic digest-based fake instead"
    )


def _digest_features(payload: bytes | None) -> list[float]:
    if payload is None:
        return [0.0] * N_FEATURES
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(N_FEATURES)]


def extract_features(media: DataFrame, id_col: str = "media_id", bytes_col: str = "media_bytes") -> DataFrame:
    """Feature extraction over binary media columns via mapInPandas.

    Deterministic fake: 4 floats from the sha256 digest of the payload
    (stands in for an image-embedding model; same signature, same
    batching). Output: (media_id, n_bytes, f0..f3).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf[bytes_col].apply(
                lambda b: _digest_features(bytes(b) if b is not None else None)
            )
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "n_bytes": pdf[bytes_col].apply(
                        lambda b: len(b) if b is not None else 0
                    ),
                }
            )
            for i in range(N_FEATURES):
                out[f"f{i}"] = feats.apply(lambda fs, i=i: fs[i])
            yield out

    return media.mapInPandas(batches, FEATURES_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque media payloads so
    the multimodal plumbing can be exercised on the fixture tables."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("media_bytes"),
        F.lit("image").alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


RESIZED_SCHEMA = (
    "media_id bigint, media_bytes binary, media_type string, "
    "width int, height int"
)


def resize_media(
    media: DataFrame, width: int, height: int,
    id_col: str = "media_id", bytes_col: str = "media_bytes",
) -> DataFrame:
    """Resize plumbing via mapInPandas — map-only, no shuffle; the
    pixel work is stubbed (decode_media is the real codec seam) with a
    deterministic payload transform sized to width×height so byte-size
    assertions are meaningful end-to-end."""
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "media_bytes": pdf[bytes_col].apply(
                        lambda b: (bytes(b) * (target // max(len(b), 1) + 1))[:target]
                        if b is not None
                        else None
                    ),
                    "media_type": pdf["media_type"],
                    "width": width,
                    "height": height,
                }
            )
            yield out

    return media.mapInPandas(batches, RESIZED_SCHEMA)


FRAMES_SCHEMA = "media_id bigint, frame_idx int, frame_bytes binary"


def sample_frames(
    media: DataFrame, n_frames: int = 4,
    id_col: str = "media_id", bytes_col: str = "media_bytes",
) -> DataFrame:
    """Frame sampling plumbing (video → N evenly-spaced frames): a
    flat-map — each input row yields up to ``n_frames`` rows — done in
    mapInPandas so one Python call handles a whole Arrow batch. The
    decoder is stubbed: 'frames' are evenly-spaced payload slices."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[bytes_col]):
                if payload is None:
                    continue
                payload = bytes(payload)
                step = max(len(payload) // n_frames, 1)
                for i in range(min(n_frames, len(payload))):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(payload[i * step : i * step + step])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_bytes": frames}
            )

    return media.mapInPandas(batches, FRAMES_SCHEMA)


def media_chunk_signatures(
    media: DataFrame,
    chunk_bytes: int = 4096,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> DataFrame:
    """(id, n_chunks, chunk_idx, chunk_hash): xxhash64 over fixed-width
    byte slices of each payload — the codec-free signature the
    near-dup candidate join buckets on. Pure Catalyst (``substr`` on
    BinaryType + ``xxhash64``), map-only, no Python eval; NULL/empty
    payloads yield no rows (nothing to match)."""
    w = int(chunk_bytes)
    if w < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
    n = F.length(F.col(bytes_col))
    n_chunks = F.ceil(n / F.lit(w)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.xxhash64(F.col(bytes_col).substr(i * w + 1, F.lit(w))).alias(
                "chunk_hash"
            ),
        ),
    )
    return (
        media.filter(F.col(bytes_col).isNotNull() & (n > 0))
        .select(
            F.col(id_col),
            n_chunks.alias("n_chunks"),
            F.explode(chunks).alias("c"),
        )
        .select(id_col, "n_chunks", "c.chunk_idx", "c.chunk_hash")
    )


def media_near_dup_pairs(
    media: DataFrame,
    threshold: float = 0.8,
    chunk_bytes: int = 4096,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Byte-level near-duplicate pairs over opaque binary media — the
    no-codec analog of perceptual-hash dedup: payloads are sliced into
    fixed-width chunks, candidates are pairs sharing ≥1 (chunk_idx,
    chunk_hash), and a pair survives when its matching-chunk fraction
    ``n_match / min(n_chunks_a, n_chunks_b)`` reaches ``threshold``.
    Catches the dominant media near-dup mode — same payload with
    localized edits (re-encoded metadata block, EXIF strip, watermark
    region) — by construction; byte INSERTIONS shift alignment and are
    out of scope (that regime needs decoded-domain hashing behind the
    ``decode_media`` seam).

    Shape at 100 TB: signatures are map-only over the blobs (the only
    pass that touches payload bytes); the candidate join is an
    equi-join on (chunk_idx, chunk_hash) between two SKINNY signature
    frames — never the blobs — with a ``max_bucket`` stop-chunk guard
    so a degenerate chunk value (zero padding, shared headers) cannot
    produce a quadratic bucket, exactly minhash's stop-bucket rule;
    verification is a count over the already-joined candidate rows
    (no second corpus scan, no all-pairs stage anywhere).

    Output: (id_a, id_b, n_match, match_frac) with id_a < id_b.
    ``sigs`` short-circuits signature computation with a precomputed
    ``media_chunk_signatures`` frame — streaming callers sign each
    batch once and feed every step from that one frame (the
    ``entries`` pattern of ``cosine_near_dup_pairs_lsh``).
    """
    if sigs is None:
        # One skinny frame feeds both join sides and the bucket guard —
        # hash the payload bytes once (the simhash/substring lesson).
        sigs = media_chunk_signatures(
            media, chunk_bytes, id_col, bytes_col
        ).localCheckpoint(eager=False)
    ok = (
        sigs.groupBy("chunk_idx", "chunk_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_bucket)))
        .select("chunk_idx", "chunk_hash")
    )
    gated = sigs.join(ok, ["chunk_idx", "chunk_hash"])
    a = gated.select(
        "chunk_idx",
        "chunk_hash",
        F.col(id_col).alias("id_a"),
        F.col("n_chunks").alias("na"),
    )
    b = gated.select(
        "chunk_idx",
        "chunk_hash",
        F.col(id_col).alias("id_b"),
        F.col("n_chunks").alias("nb"),
    )
    matched = a.join(b, ["chunk_idx", "chunk_hash"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    pairs = matched.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_match"),
        F.round(
            F.count(F.lit(1)) / F.least(F.first("na"), F.first("nb")), 6
        ).alias("match_frac"),
    )
    return pairs.filter(F.col("match_frac") >= F.lit(float(threshold)))


def media_exact_dup(
    media: DataFrame,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> DataFrame:
    """Exact byte-identical duplicate groups: (payload_hash, n_copies,
    keeper_id, dup_ids) for payloads appearing more than once — the
    cheapest first pass before any near-dup machinery (hash groupBy,
    map-side combined; blobs never shuffle). Groups form on TWO
    independent digests (xxhash64 + md5) so a 64-bit birthday collision
    at billion-item scale cannot merge distinct payloads into one
    group; the reported ``payload_hash`` stays the xxhash64 value."""
    hashed = media.filter(F.col(bytes_col).isNotNull()).select(
        F.col(id_col),
        F.xxhash64(F.col(bytes_col)).alias("payload_hash"),
        F.md5(F.col(bytes_col)).alias("__pm"),
    )
    return (
        hashed.groupBy("payload_hash", "__pm")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
            F.array_sort(F.collect_list(id_col)).alias("all_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "payload_hash",
            "n_copies",
            "keeper_id",
            F.filter(
                "all_ids", lambda i: i != F.col("keeper_id")
            ).alias("dup_ids"),
        )
    )


def build_media_chunk_index(
    media: DataFrame,
    index_path: str,
    chunk_bytes: int = 4096,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> None:
    """Persist the corpus' chunk signatures — (media_id, n_chunks,
    chunk_idx, chunk_hash), sorted by chunk_hash for row-group
    min/max pruning on probe joins — plus a parameter sidecar that
    rejects probes sliced with a different chunk width. The rows land
    as one ``batch=`` partition (``microbatch.replace_index``), the
    layout a media dedup stream adds its batches to."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    replace_index(
        media_chunk_signatures(media, chunk_bytes, id_col, bytes_col)
        .sortWithinPartitions("chunk_hash"),
        index_path,
    )
    write_index_meta(
        media.sparkSession, index_path, "media_chunks",
        {"chunk_bytes": int(chunk_bytes)},
    )


def media_near_dup_against_index(
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.8,
    chunk_bytes: int = 4096,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch of payloads and the indexed
    corpus — the incremental analog of ``media_near_dup_pairs``: the
    corpus-sized index is probed with a left-semi against the batch's
    broadcast distinct chunk keys (scanned once, pruned, never
    shuffled by value), matched corpus chunks pass the same
    ``max_bucket`` stop-chunk guard, and the match fraction uses each
    side's own chunk count. Output: (id_a = batch id, id_b = indexed
    id, n_match, match_frac)."""
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    check_index_meta(
        spark, index_path, "media_chunks", {"chunk_bytes": int(chunk_bytes)}
    )
    if sigs is None:
        sigs = media_chunk_signatures(
            batch, chunk_bytes, id_col, bytes_col
        ).localCheckpoint(eager=False)
    bkeys = sigs.select("chunk_idx", "chunk_hash").distinct()
    matched = (
        spark.read.parquet(index_path)
        .join(F.broadcast(bkeys), ["chunk_idx", "chunk_hash"], "left_semi")
    )
    ok = (
        matched.groupBy("chunk_idx", "chunk_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_bucket)))
        .select("chunk_idx", "chunk_hash")
    )
    a = sigs.select(
        "chunk_idx", "chunk_hash",
        F.col(id_col).alias("id_a"), F.col("n_chunks").alias("na"),
    )
    b = matched.join(ok, ["chunk_idx", "chunk_hash"]).select(
        "chunk_idx", "chunk_hash",
        F.col(id_col).alias("id_b"), F.col("n_chunks").alias("nb"),
    )
    pairs = (
        a.join(b, ["chunk_idx", "chunk_hash"])
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.round(
                F.count(F.lit(1)) / F.least(F.first("na"), F.first("nb")), 6
            ).alias("match_frac"),
        )
    )
    return pairs.filter(F.col("match_frac") >= F.lit(float(threshold)))


def cdc_chunk_spans(
    media: DataFrame,
    window: int = 8,
    boundary_prefix: str = "0",
    min_chunk: int = 16,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> DataFrame:
    """Content-defined chunking over opaque binary payloads (the
    FastCDC/LBFS family): a chunk boundary falls AFTER byte ``i``
    whenever the hash of the trailing ``window`` bytes lands in the
    boundary set (md5 hex starting with ``boundary_prefix`` — p=16^-len
    per position, so expected chunk size ≈ min_chunk + 16^len), with a
    sequential ``min_chunk`` gate exactly as real CDC enforces. Because
    boundaries depend on CONTENT, not offsets, an insertion re-aligns
    within one chunk — the fixed-width ``media_chunk_signatures``
    scheme's documented blind spot.

    Pure Catalyst, map-only: candidate positions, the min-chunk fold
    and the chunk re-slice all run inside one narrow projection. The
    per-byte position sequence makes this form right for payloads up
    to ~1 MB (fixture scale and typical thumbnails/text blobs); for
    multi-MB media route the same boundary rule through a numpy
    ``mapInPandas`` kernel behind the ``decode_media`` seam — same
    output contract. md5 keeps boundaries engine-portable.

    Output: (id, chunk_idx, start, length, chunk_md5) — 0-based byte
    offsets; every payload byte belongs to exactly one chunk.
    """
    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if int(min_chunk) < 1:
        raise ValueError(f"min_chunk must be >= 1, got {min_chunk}")
    if not boundary_prefix or any(c not in "0123456789abcdef" for c in boundary_prefix):
        raise ValueError(
            f"boundary_prefix must be non-empty lowercase hex, got {boundary_prefix!r}"
        )
    payload = F.col(bytes_col)
    L = F.length(payload).cast("bigint")
    cand = F.when(
        L >= w,
        F.filter(
            F.sequence(F.lit(w).cast("bigint"), L),
            lambda i: F.md5(payload.substr(i - (w - 1), F.lit(w))).startswith(
                boundary_prefix
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    accepted = F.aggregate(
        cand,
        F.array(F.lit(0).cast("bigint")),
        lambda acc, i: F.when(
            i - F.element_at(acc, -1) >= min_chunk, F.concat(acc, F.array(i))
        ).otherwise(acc),
    )
    bounds_expr = F.when(
        F.element_at(accepted, -1) == L, accepted
    ).otherwise(F.concat(accepted, F.array(L)))

    def chunks_of(b: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.size(b) - 1),
            lambda j: F.struct(
                (j - 1).cast("bigint").alias("chunk_idx"),
                F.element_at(b, j).alias("start"),
                (F.element_at(b, j + 1) - F.element_at(b, j)).alias("length"),
                F.md5(
                    payload.substr(
                        (F.element_at(b, j) + 1).cast("int"),
                        (F.element_at(b, j + 1) - F.element_at(b, j)).cast("int"),
                    )
                ).alias("chunk_md5"),
            ),
        )

    # Let-bind the bounds array (one evaluation of the candidate filter
    # + min-chunk fold feeds every per-chunk lookup).
    chunks = F.element_at(F.transform(F.array(bounds_expr), chunks_of), 1)
    return (
        media.filter(payload.isNotNull() & (L > 0))
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_idx", "c.start", "c.length", "c.chunk_md5")
    )


def media_cdc_near_dup_pairs(
    media: DataFrame,
    threshold: float = 0.5,
    window: int = 8,
    boundary_prefix: str = "0",
    min_chunk: int = 16,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Insertion-robust byte-level media near-dup pairs: candidates
    share a content-defined chunk HASH (no positional alignment — the
    fixed-width scheme's failure mode), verified by the fraction of
    distinct chunk hashes shared, ``n_shared / min(|A|, |B|)``.

    Same 100 TB shape as ``media_near_dup_pairs``: signatures are the
    only pass over payload bytes; the candidate join is an equi-join
    between skinny (id, chunk_md5) frames with a stop-chunk guard
    (shared headers/zero runs would otherwise go quadratic);
    verification is a count over joined candidate rows. Output:
    (id_a, id_b, n_shared, match_frac) with id_a < id_b.
    """
    entries = _cdc_entries(
        media, window, boundary_prefix, min_chunk, id_col, bytes_col, sigs=sigs
    ).localCheckpoint(eager=False)
    ok = (
        entries.groupBy("chunk_md5")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_bucket)))
        .select("chunk_md5")
    )
    gated = entries.join(ok, "chunk_md5")
    a = gated.select(
        "chunk_md5", F.col(id_col).alias("id_a"), F.col("n_hashes").alias("na")
    )
    b = gated.select(
        "chunk_md5", F.col(id_col).alias("id_b"), F.col("n_hashes").alias("nb")
    )
    shared = (
        a.join(b, "chunk_md5")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.round(
                F.count(F.lit(1)) / F.least(F.first("na"), F.first("nb")), 6
            ).alias("match_frac"),
        )
    )
    return shared.filter(
        F.col("match_frac") >= F.lit(float(threshold))
    ).select(
        "id_a", "id_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        "match_frac",
    )


def _cdc_entries(
    media: DataFrame,
    window: int,
    boundary_prefix: str,
    min_chunk: int,
    id_col: str,
    bytes_col: str,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, n_hashes, chunk_md5) — one row per DISTINCT chunk hash per
    payload with the payload's distinct-hash count carried inline
    (one collect_set shuffle; downstream joins never re-join sizes).
    The shared currency of the CDC dedup paths: the self-join form
    buckets it, the persisted index stores it, the incremental probe
    joins on it."""
    if sigs is None:
        sigs = cdc_chunk_spans(
            media, window, boundary_prefix, min_chunk, id_col, bytes_col
        )
    per_id = sigs.groupBy(id_col).agg(F.collect_set("chunk_md5").alias("hs"))
    return per_id.select(
        F.col(id_col),
        F.size("hs").cast("bigint").alias("n_hashes"),
        F.explode("hs").alias("chunk_md5"),
    )


def build_cdc_chunk_index(
    media: DataFrame,
    index_path: str,
    window: int = 8,
    boundary_prefix: str = "0",
    min_chunk: int = 16,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> None:
    """Persist the corpus' CDC entries — (media_id, n_hashes,
    chunk_md5) sorted by chunk_md5 for row-group min/max pruning on
    probe joins — plus a parameter sidecar that rejects probes chunked
    under a different boundary rule (a mismatched rule would silently
    match nothing). The rows land as one ``batch=`` partition
    (``microbatch.replace_index``), the layout a CDC media dedup stream
    adds its batches to."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    replace_index(
        _cdc_entries(media, window, boundary_prefix, min_chunk, id_col, bytes_col)
        .sortWithinPartitions("chunk_md5"),
        index_path,
    )
    write_index_meta(
        media.sparkSession, index_path, "media_cdc_chunks",
        {"window": int(window), "boundary_prefix": boundary_prefix,
         "min_chunk": int(min_chunk)},
    )


def media_cdc_near_dup_against_index(
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    window: int = 8,
    boundary_prefix: str = "0",
    min_chunk: int = 16,
    max_bucket: int = 1024,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Insertion-robust near-dup pairs between a NEW batch and the
    CDC-indexed corpus — incremental analog of
    ``media_cdc_near_dup_pairs``: only the batch is chunked; the
    corpus-sized index is scanned once, pruned by a left-semi against
    the batch's broadcast distinct chunk hashes, and never shuffled by
    value before the guard. Output: (id_a = batch id, id_b = indexed
    id, n_shared, match_frac)."""
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    check_index_meta(
        spark, index_path, "media_cdc_chunks",
        {"window": int(window), "boundary_prefix": boundary_prefix,
         "min_chunk": int(min_chunk)},
    )
    entries = _cdc_entries(
        batch, window, boundary_prefix, min_chunk, id_col, bytes_col, sigs=sigs
    ).localCheckpoint(eager=False)
    bkeys = entries.select("chunk_md5").distinct()
    matched = spark.read.parquet(index_path).join(
        F.broadcast(bkeys), "chunk_md5", "left_semi"
    )
    ok = (
        matched.groupBy("chunk_md5")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= F.lit(int(max_bucket)))
        .select("chunk_md5")
    )
    a = entries.select(
        "chunk_md5", F.col(id_col).alias("id_a"), F.col("n_hashes").alias("na")
    )
    b = matched.join(ok, "chunk_md5").select(
        "chunk_md5", F.col(id_col).alias("id_b"), F.col("n_hashes").alias("nb")
    )
    pairs = (
        a.join(b, "chunk_md5")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.round(
                F.count(F.lit(1)) / F.least(F.first("na"), F.first("nb")), 6
            ).alias("match_frac"),
        )
    )
    return pairs.filter(F.col("match_frac") >= F.lit(float(threshold))).select(
        "id_a", "id_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        "match_frac",
    )


def media_dedup_pipeline_report(
    media: DataFrame,
    fixed_threshold: float = 0.8,
    fixed_chunk_bytes: int = 16,
    cdc_threshold: float = 0.5,
    max_bucket: int = 10_000,
    id_col: str = "media_id",
    bytes_col: str = "media_bytes",
) -> DataFrame:
    """The media corpus-build capstone: the three dedup granularities
    staged cheapest-first, with per-stage attribution — the report a
    pipeline owner reads to see WHICH mechanism pays for itself on a
    corpus. Stage 1 drops exact byte copies (digest groupBy, keep
    lowest id); stage 2 drops aligned near-dups of the remainder
    (fixed-width chunk scheme — localized length-preserving edits);
    stage 3 drops alignment-shifted near-dups of what's left
    (content-defined chunks — insertions/re-encodes). Drop rule per
    near-dup stage: any id appearing as the HIGHER end of a surviving
    pair (deterministic without a connected-components pass; chains
    collapse to their lowest id exactly as keep-lowest exact dedup
    does).

    Scale shape: stage ordering is the economics — each near-dup
    stage sees only the previous stage's survivors, and every stage is
    the already-scale-shaped operator (digest groupBy / skinny chunk
    equi-joins with stop guards). Dropped-id sets can be corpus-sized,
    so remainder filtering is a key anti-join, never a broadcast.
    Output: (stage, mechanism, n_dropped, n_remaining), 3 rows.
    """
    media = media.filter(F.col(bytes_col).isNotNull()).select(id_col, bytes_col)
    # Stage 1 DROPS data, so a single 64-bit digest is not enough: at
    # multi-billion-item scale a birthday collision on xxhash64 alone
    # is plausible and would silently discard a distinct payload. Two
    # independent digests (xxhash64 + md5, 192 combined bits) make the
    # surviving collision probability negligible while the blobs still
    # never shuffle — both hashes are computed map-side in one scan.
    hashed = media.select(
        F.col(id_col),
        F.xxhash64(F.col(bytes_col)).alias("__ph"),
        F.md5(F.col(bytes_col)).alias("__pm"),
    )
    keepers = hashed.groupBy("__ph", "__pm").agg(F.min(id_col).alias(id_col))
    d1 = hashed.join(keepers.select(id_col), id_col, "left_anti").select(id_col)
    r1 = media.join(d1, id_col, "left_anti")
    d2 = (
        media_near_dup_pairs(
            r1, fixed_threshold, fixed_chunk_bytes, max_bucket, id_col, bytes_col
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    r2 = r1.join(d2, id_col, "left_anti")
    d3 = (
        media_cdc_near_dup_pairs(
            r2, cdc_threshold, max_bucket=max_bucket,
            id_col=id_col, bytes_col=bytes_col,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    total = media.agg(F.count(F.lit(1)).alias("__total"))

    def stage_row(stage: int, mech: str, dropped: DataFrame) -> DataFrame:
        return dropped.agg(F.count(F.lit(1)).alias("n_dropped")).select(
            F.lit(stage).alias("stage"),
            F.lit(mech).alias("mechanism"),
            F.col("n_dropped").cast("bigint"),
        )

    stages = (
        stage_row(1, "exact", d1)
        .unionByName(stage_row(2, "fixed_chunk", d2))
        .unionByName(stage_row(3, "cdc_chunk", d3))
    )
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    return (
        stages.crossJoin(F.broadcast(total))
        .withColumn(
            "n_remaining",
            (F.col("__total") - F.sum("n_dropped").over(w)).cast("bigint"),
        )
        .select("stage", "mechanism", "n_dropped", "n_remaining")
    )
