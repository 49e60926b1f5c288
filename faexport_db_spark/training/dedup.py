"""Document deduplication operators: exact, MinHash+LSH, SimHash.

Scale design notes:
- Exact dedup: hash-groupBy on a content digest — one shuffle keyed by
  the digest (uniform), keep-lowest-id tiebreak.
- MinHash+LSH: signatures are computed entirely MAP-SIDE with
  higher-order array functions — one xxhash64 per TOKEN, n-gram
  shingle hashes combined from token hashes (``shingle_hashes``, no
  shingle strings built), then a single ``aggregate`` fold of all
  num_perm reseeded minima. No explode, no shuffle: the signature
  stage is a narrow projection, so the first exchange in the whole
  pipeline is the band-bucket groupBy. Candidate pairs are expanded
  *within* each bucket (never all-pairs, never a corpus-wide
  self-join or broadcast), then exact-Jaccard verified in a single
  corpus scan. At 100 TB every shuffle is linear on uniform keys; the
  only quadratic term is within-bucket, bounded by band tuning plus
  the ``max_bucket`` stop-bucket guard.
- SimHash: 60-bit signature from token hashes, also map-side — one
  ``aggregate`` pass with the 60 per-bit vote counters packed into 15
  longs of 16-bit lanes. Identical signatures collapse into groups
  BEFORE banding (dup-dense corpora would otherwise go quadratic
  inside every chunk bucket); Hamming-≤k candidate generation by the
  pigeonhole band trick over distinct signatures (split signature
  into k+1 chunks; any pair within distance k shares an exact chunk),
  same bucket-groupBy expansion, verified with bit_count(xor) before
  ids fan out.

All hashing is xxhash64 with fixed seeds — deterministic across runs
and executors, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from faexport_db_spark.operators.partitioning import fan_out
from faexport_db_spark.operators.pins import unpin


def tokens_expr(text: str | Column) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), r"\s+")


def word_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>)."""
    toks = tokens_expr(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


# Tail shingles (< n tokens) pad with this sentinel so every shingle
# hashes as exactly n longs — a fixed arbitrary constant a real
# xxhash64 token hash matches with probability 2^-64.
_SHINGLE_PAD = -0x6A09E667F3BCC909  # sqrt(2) fractional bits, negated


def shingle_hashes(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle HASHES (array<long>) — the
    numeric twin of ``word_shingles`` and the signing hot loop's
    input. Building shingle strings (``concat_ws`` allocation + one
    long-string hash per shingle) measures ~2× the cost of hashing
    each TOKEN once and combining n consecutive token hashes with one
    fixed-width ``xxhash64(long, long, long)`` — same distinct-set
    cardinalities (shingle equality ⇔ token-tuple equality, modulo
    2^-64 collisions), so Jaccard over these equals Jaccard over the
    strings, which is what the exact-verify stage relies on."""
    toks = tokens_expr(text)
    th = F.concat(
        F.transform(toks, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(_SHINGLE_PAD).cast("long"), n - 1),
    )

    # Let-binding via a 1-element transform: the lambda variable holds
    # the EVALUATED token-hash array, so the n ``try_element_at``
    # references per gram index it, rather than re-running the
    # token-hash pass per reference (which is O(tokens²) per doc).
    def grams_of(thv: Column) -> Column:
        m = F.greatest(F.size(thv) - 2 * (n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.xxhash64(*[F.try_element_at(thv, i + off) for off in range(n)]),
        )

    grams = F.element_at(F.transform(F.array(th), grams_of), 1)
    return F.array_distinct(grams)


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id representative per content hash.

    Output: one row per distinct content with ``n_dups`` (cluster size).
    """
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(F.asc(id_col))
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .filter(F.col("__rn") == 1)
        .select(id_col, "content_hash", "n_dups")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature, computed without any shuffle.

    Each shingle is hashed ONCE into a long (``shingle_hashes`` —
    token hashes combined with fixed-width ``xxhash64``, no shingle
    string is ever built; measured ~2.8× cheaper than hashing
    ``concat_ws`` shingle strings, the hot loop of the whole
    pipeline); the ``num_perm`` permutations are derived by rehashing
    that fixed-width long with a per-permutation seed. All num_perm
    running minima are folded in a SINGLE ``aggregate`` pass over the
    shingle-hash array (one traversal, one zip per element) instead of
    num_perm separate ``array_min(transform(...))`` traversals. The
    stage stays a pure narrow projection: no explode, no groupBy,
    nothing exchanged. ``fan_out`` spreads narrow inputs over every
    core. Output: (id, mins array<long>[num_perm]).

    This is the only implementation. A bit-exact vectorized Arrow
    kernel for the minima fold lost at full width in round 9
    (OPTIMIZATION_r09.md, BENCHNOTES "Round 9 (optimization 1/2)") and
    only tied on fat partitions in round 10 (OPTIMIZATION_r10.md), so
    it was deleted rather than kept behind a knob: the expression fold
    keeps the plan JVM-only, with no Python workers."""
    hashed = fan_out(docs, by=[id_col]).select(
        F.col(id_col), shingle_hashes(text_col, shingle_n).alias("hs")
    )
    # Seeds stay INT-typed: xxhash64 hashes int and long operands
    # differently, and the original per-column form hashed
    # xxhash64(h, lit(int)).
    seeds = F.array(*[F.lit(i) for i in range(num_perm)])
    max_long = F.lit((1 << 63) - 1).cast("long")
    mins = F.aggregate(
        "hs",
        F.array_repeat(max_long, num_perm),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(seeds, lambda s: F.xxhash64(h, s)),
            lambda a, b: F.least(a, b),
        ),
    )
    return hashed.select(F.col(id_col), mins.alias("mins"))


def _band_hashes(num_perm: int, bands: int) -> list[Column]:
    """Band hash columns over the ``mins`` signature array. Values are
    identical to hashing the individual min columns (same xxhash64 over
    the same longs), so persisted band indexes stay compatible."""
    rows = num_perm // bands
    return [
        F.xxhash64(
            *[F.element_at("mins", b * rows + r + 1) for r in range(rows)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    member: Column,
    max_bucket: int | None,
) -> DataFrame:
    """Expand ordered member pairs within each LSH bucket.

    groupBy the bucket key, collect the (sorted) members, then a
    two-stage explode — posexplode picks the left member, a
    slice-explode pairs it with every later member — so no row ever
    materializes a bucket² pair array, only the bucket's own member
    list. This replaces a corpus-wide banded self-join: the signature
    plan is computed ONCE and nothing corpus-sized is broadcast, which
    is what makes the shape viable at 100 TB. ``max_bucket`` drops
    degenerate over-common buckets (the LSH analog of stop words) —
    a bucket shared by millions of near-identical docs would otherwise
    reintroduce the quadratic term LSH exists to avoid.
    """
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(member)).alias("members"))
        .filter(F.size("members") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("members") <= max_bucket)
    lefts = buckets.select(F.col("members"), F.posexplode("members").alias("i", "ma"))
    return lefts.select(
        F.col("ma"),
        F.explode(F.slice("members", F.col("i") + 2, F.size("members"))).alias("mb"),
    )


def minhash_band_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash) rows — the shared currency of the LSH
    paths: the self-join dedup buckets them, the persisted index stores
    them, the incremental probe joins on them. Signing is the hot loop
    of the whole pipeline, so callers composing several steps over one
    batch (e.g. the streaming dedup) compute this ONCE and pass it to
    each step instead of re-signing per step."""
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, shingle_n)
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*_band_hashes(num_perm, bands))).alias(
            "band_idx", "band_hash"
        ),
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates verified with exact
    shingle Jaccard ≥ threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded.
    ``banded`` short-circuits signing with precomputed
    ``minhash_band_rows`` output.
    """
    if banded is None:
        banded = minhash_band_rows(docs, text_col, id_col, num_perm, bands, shingle_n)
    # Cross-band duplicate candidates are collapsed inside the verify
    # stage (cheap id-pair distinct) before anything array-sized moves.
    candidates = _bucket_pairs(
        banded, ["band_idx", "band_hash"], F.col(id_col), max_bucket
    ).select(F.col("ma").alias("id_a"), F.col("mb").alias("id_b"))
    return _verify_jaccard(docs, candidates, text_col, id_col, shingle_n, threshold)


def _verify_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    # The candidate set is orders of magnitude smaller than the corpus,
    # so the corpus is scanned exactly ONCE: a broadcast semi-join
    # keeps only candidate docs (shingles are computed post-filter, and
    # only for those), then each doc row fans out to the broadcast
    # pair-membership list and one small groupBy reunites the two
    # shingle arrays per pair. No corpus-sized shuffle or broadcast.
    # Shingles travel as xxhash64 longs, not strings: Jaccard over
    # distinct 64-bit shingle hashes equals Jaccard over the shingles
    # themselves (collisions are ~2^-64 per pair), for ~3.5x fewer
    # shuffle bytes and long-compare array_intersect.
    # Candidate pairs arrive with cross-band duplicates (a true
    # near-dup agrees on MANY bands — measured ~13x inflation on a
    # dup-dense corpus). They collapse INSIDE the membership groupBy:
    # ``collect_set`` dedups map-side (partial aggregation), so the
    # duplicates never cross the wire as anything but pre-combined
    # hash-set entries — one exchange where the earlier
    # ``pairs.distinct()`` + ``collect_list`` formulation paid two
    # (r07 follow-up to the r06 single-subtree rewrite). Only id pairs
    # ride this shuffle either way; the shingle arrays join in AFTER,
    # restricted to candidate docs.
    # Pre-group the pair set into a per-id membership table so the
    # candidate subtree appears in the plan exactly ONCE (the earlier
    # member + distinct-ids formulation embedded it twice, and the
    # whole corpus-signing + banding pipeline re-executed per embed —
    # measured 3 corpus scans of the banding subtree at sf0.1). Same
    # shape as the embedding path's _pair_cosines; the inner broadcast
    # join both restricts the corpus to candidate docs and attaches
    # each one's pair list.
    member = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("mid")
    )
    grouped = member.groupBy("mid").agg(
        F.collect_set(F.struct("id_a", "id_b")).alias("ps")
    )
    # Shingle sets are bound in their OWN select below the pair
    # explode: with the explode in the same projection, the planner
    # placed the Generate under the sh expression and re-evaluated the
    # whole tokenize+gram-hash subtree once per pair-membership row
    # (a doc in k pairs paid k×). Two selects pin the evaluation to
    # once per candidate doc; the Generate then fans out a stored
    # array column, which is free.
    joined = (
        fan_out(docs, by=[id_col])
        .join(F.broadcast(grouped), F.col(id_col) == F.col("mid"))
        .select(
            F.col(id_col).alias("mid"),
            shingle_hashes(text_col, shingle_n).alias("sh"),
            F.col("ps"),
        )
        .select("mid", "sh", F.explode("ps").alias("p"))
    )
    per_pair = joined.groupBy("p.id_a", "p.id_b").agg(
        F.max(F.when(F.col("mid") == F.col("p.id_a"), F.col("sh"))).alias("sh_a"),
        F.max(F.when(F.col("mid") == F.col("p.id_b"), F.col("sh"))).alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        per_pair.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 60  # stay clear of the int64 sign bit

# Packed-lane vote accumulator: the 60 per-bit counters live in 15
# longs of four 16-bit lanes each.  Spreading one nibble of the token
# hash into its four lanes is a single multiply-and-mask:
# bit i of the nibble lands at position 15*i + i = 16*i of the
# product, and every other partial product falls on an unmasked bit,
# so (nibble * _SPREAD) & _LANEMASK == Σ bit_i << 16*i exactly.
_NIBBLES = SIMHASH_BITS // 4  # 15 longs
_SPREAD = 1 | (1 << 15) | (1 << 30) | (1 << 45)
_LANEMASK = 1 | (1 << 16) | (1 << 32) | (1 << 48)
# Lane counts must stay below 2^15 so the top lane can never carry
# into the long sign bit (ANSI overflow).  Docs with more distinct
# tokens than this vote over the first 32767 — at that length the
# marginal votes can't meaningfully move a majority anyway.
_MAX_VOTERS = (1 << 15) - 1


def _spread_lanes(h: Column) -> Column:
    """Token hash → array of 15 longs, each holding the hash's four
    corresponding bit indicators in 16-bit lanes (one mul per long)."""
    return F.array(
        *[
            (
                F.shiftright(h, 4 * i).bitwiseAND(F.lit(15)) * F.lit(_SPREAD)
            ).bitwiseAND(F.lit(_LANEMASK))
            for i in range(_NIBBLES)
        ]
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc SimHash signature, computed without any shuffle.

    One xxhash64 per distinct token, then a SINGLE ``aggregate`` pass
    over the per-doc hash array.  The 60 per-bit vote counters are
    packed into 15 longs of four 16-bit lanes; each token contributes
    via ``_spread_lanes`` — one shift/and/mul/and per long, 15 lane
    adds per token instead of the 60 independent indicator lanes of
    the unpacked form (~4× smaller per-token expression, same math).
    Bit j of the signature is set iff a strict majority of token
    hashes have bit j set (ties → 0), identical to the classic
    ±1-vote formulation.  Pure narrow projection — no explode, no
    groupBy."""
    hs = F.transform(
        F.slice(F.array_distinct(tokens_expr(text_col)), 1, _MAX_VOTERS),
        lambda t: F.xxhash64(t),
    )
    hashed = fan_out(docs, by=[id_col]).select(F.col(id_col), hs.alias("hs"))
    counts = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0).cast("long"), _NIBBLES),
        lambda acc, h: F.zip_with(acc, _spread_lanes(h), lambda a, b: a + b),
    )
    # Materialize the packed counters in their own projection: the
    # unpack below references them 60×, and CollapseProject keeps a
    # non-cheap multi-referenced expression in its own step rather
    # than inlining the aggregate 60 times.
    packed = hashed.select(
        F.col(id_col), F.size("hs").alias("__n"), counts.alias("__cnt")
    )

    # Unpack each 16-bit lane once per doc (not per token) and OR the
    # majority bits together — disjoint powers of two, so + is |.
    def vote(j: int) -> Column:
        lane = F.shiftright(
            F.element_at("__cnt", j // 4 + 1), 16 * (j % 4)
        ).bitwiseAND(F.lit(0xFFFF))
        return F.when(lane * 2 > F.col("__n"), F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    sig = vote(0)
    for j in range(1, SIMHASH_BITS):
        sig = sig + vote(j)
    return packed.select(F.col(id_col), sig.alias("simhash"))


def simhash_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
    max_group: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation via pigeonhole banding: split the signature
    into (max_hamming + 1) chunks; any pair within the distance budget
    must agree exactly on ≥1 chunk, so per-chunk bucket expansion
    (``_bucket_pairs`` — signature plan computed once, no corpus-wide
    self-join/broadcast) finds every true pair without an all-pairs
    comparison. The signature travels inside the member struct, so
    verification is a pure expression.

    SIGNATURE-GROUP COLLAPSE: dup-dense corpora concentrate into
    identical-signature clusters (SimHash is order-invariant over the
    distinct-token set, so shuffled/reordered copies collapse to one
    signature — 5000 docs → 3800 distinct signatures with a
    251-member cluster on the sf0.1 fixture). Banding per DOC makes
    every such cluster quadratic inside every chunk bucket (3.5M
    candidate rows for 202k true pairs); banding per DISTINCT
    SIGNATURE removes that term entirely. Identical-signature pairs
    are distance-0 by definition and emitted straight from the group
    (no banding, no guard — exact, not approximate), and cross-group
    candidates expand to id pairs only AFTER the Hamming verify, so
    everything before the final expansion is distinct-signature-sized.
    ``max_bucket`` therefore counts distinct SIGNATURES per bucket.

    A signature pair sharing several chunks surfaces in several
    buckets; the Hamming filter runs map-side on the bucket expansion
    and the SURVIVORS dedup through one ``dropDuplicates`` exchange —
    which is tiny, because it carries verified signature pairs
    (16.9k rows on the dup-dense sf0.1 fixture), not the id-pair
    expansion (202k) and not the raw candidates (1.1M). This replaces
    the earlier first-shared-surviving-chunk emission (three
    broadcast joins against the dropped-bucket set, VERDICT r03's
    SimHash history): pairs whose first shared chunk was guard-dropped
    simply dedup through whichever surviving chunk emitted them.

    ``max_group`` bounds identical-signature clusters the way
    ``max_bucket`` bounds LSH buckets (ADVICE r04): the one dup-dense
    scenario this rewrite targets — millions of copies of one
    boilerplate doc — would otherwise emit C(n,2) intra pairs from a
    single group row (10M copies ≈ 5e13 pairs). Groups of ≤ max_group
    members keep the EXACT all-pairs emission; larger groups degrade
    to star edges (group-min id → each other member, still hamming 0)
    — linear in cluster size and equivalent for the downstream
    connected-components clustering — expressed as the same
    posexplode pair expansion restricted to the left index 0, so the
    cap costs no extra branch, join, or exchange. Oversized groups
    also contribute only their ``max_group`` lowest ids to cross-group
    banding members (their root is always among them, so cross
    connectivity survives transitively through the intra stars).
    ``max_group=None`` disables the cap entirely.
    """
    sigs = simhash_signatures(docs, text_col, id_col)
    groups = sigs.groupBy("simhash").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    # LAZY checkpoint: the intra (distance-0) and cross (banded)
    # branches below both consume `groups`, and Spark shares no
    # common subtree across a union — without this the whole
    # corpus-signing + collapse pipeline executes twice per action
    # (measured 2× the signing stages at sf0.1). Lazy, not eager, so
    # plan construction stays free; the first action materializes the
    # distinct-signature frame once and both branches read it back.
    ).localCheckpoint(eager=False)
    # Identical-signature pairs: hamming 0 ≤ any budget, no banding.
    lefts = groups.filter(F.size("ids") > 1).select(
        "ids", F.posexplode("ids").alias("i", "id_a")
    )
    if max_group is not None:
        # Over the cap, only the i=0 (group-min) row expands — its
        # slice spans the whole tail, which IS the star-edge set.
        lefts = lefts.filter(
            (F.size("ids") <= max_group) | (F.col("i") == 0)
        )
    intra = lefts.select(
        F.col("id_a"),
        F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"),
    ).withColumn("hamming", F.lit(0))
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1

    def chunk_of(col: Column, c: int) -> Column:
        return F.shiftright(col, c * width).bitwiseAND(F.lit(mask))

    chunk_cols = F.array(*[chunk_of(F.col("simhash"), c) for c in range(chunks)])
    banded = groups.select(
        F.col("simhash"),
        F.col("ids"),
        F.posexplode(chunk_cols).alias("chunk_idx", "chunk_val"),
    )
    capped_ids = (
        F.col("ids")
        if max_group is None
        else F.slice("ids", 1, max_group)  # group-min id always survives
    )
    member = F.struct(F.col("simhash").alias("sig"), capped_ids.alias("ids"))
    cand = _bucket_pairs(banded, ["chunk_idx", "chunk_val"], member, max_bucket)
    hamming = F.bit_count(F.col("ma.sig").bitwiseXOR(F.col("mb.sig")))
    # Hamming-verify map-side BEFORE the dedup exchange and the id
    # expansion — only true signature pairs ever shuffle or fan out.
    sig_pairs = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["ma", "mb"])
        .select(
            F.col("ma.ids").alias("ids_a"),
            F.col("mb.ids").alias("ids_b"),
            F.col("hamming"),
        )
    )
    cross = (
        sig_pairs.select(
            F.explode("ids_a").alias("a"), F.col("ids_b"), F.col("hamming")
        )
        .select(F.col("a"), F.explode("ids_b").alias("b"), F.col("hamming"))
        .select(
            F.least("a", "b").alias("id_a"),
            F.greatest("a", "b").alias("id_b"),
            F.col("hamming"),
        )
    )
    return intra.unionByName(cross)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star operation: symmetrize, then connect every neighbor
    LARGER than u to u's neighborhood minimum. Purely relational — a
    min groupBy plus an equi-join back, never a collected neighbor
    array, so a billion-degree hub costs a skewed-but-splittable join,
    not an executor-sized buffer."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))  # strictly-larger neighbors
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("__mn")).alias("dst"),
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star operation: orient each edge high→low, then connect
    every smaller neighbor (and u itself) to u's neighborhood
    minimum."""
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("__mn"))
    relinked = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("__mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    self_links = mins.select("src", F.col("__mn").alias("dst"))
    return relinked.union(self_links).distinct()


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every clustered
    doc labeled with its cluster's minimum id (the canonical
    representative a dedup keeps). Output: (doc_id, cluster_rep) for
    every doc that appears in a pair.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): the rewrite
    contracts path lengths geometrically, so it converges in O(log n)
    rounds regardless of diameter (a 200-doc near-dup chain included),
    with each round two min-groupBys + two equi-joins on edge-shaped
    rows and no per-node neighbor arrays anywhere. Fixpoint is a star
    forest: every non-root points directly at its component min, which
    IS the label set. Each round's edges are pinned, so the plan does
    not grow per round, and the round they replace is released
    (``operators.pins.unpin``); the result reads the last round's pin.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # star fixpoint: the oriented edge set stops changing (one
        # check over both differences)
        converged = (
            new_edges.exceptAll(edges).union(edges.exceptAll(new_edges)).isEmpty()
        )
        unpin(edges)
        edges = new_edges
        if converged:
            break
    else:
        # Unconverged labels are WRONG labels (a tail node still points
        # at an intermediate id, so one cluster gets several
        # "representatives") — failing loudly beats silently returning
        # them.
        unpin(edges)
        raise RuntimeError(
            f"dedup_clusters did not converge within "
            f"max_iters={max_iters}; star contraction halves component "
            f"depth per round, so this graph is vastly deeper than any "
            f"plausible near-dup output — check the pair generator."
        )
    members = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_rep")
    )
    # Roots (and nodes whose only pair was a self-pair) have no
    # outgoing star edge — they label themselves.
    nodes = (
        pairs.select(F.col(id_a).alias("doc_id"))
        .union(pairs.select(F.col(id_b).alias("doc_id")))
        .distinct()
    )
    return nodes.join(members, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_rep", "doc_id").alias("cluster_rep")
    )


def minhash_build_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Persist the corpus's MinHash band index: one (band_idx,
    band_hash, id) row per band per doc, written as parquet partitioned
    by ``band_idx`` and sorted by ``band_hash`` within files.

    This is the incremental-dedup layout for a corpus that does NOT get
    re-signed per batch: signatures are computed once (map-side, no
    shuffle) and probed forever after. A probe broadcasts the (small)
    batch's band rows and streams the index through ONE scan with no
    index-side shuffle; the band_idx partitioning keeps per-band files
    independently listable/parallelizable (and lets a targeted rebuild
    rewrite one band). Uniform hash keys mean min/max row-group
    pruning can't help here — the economics come from never re-signing
    the corpus, not from skipping index bytes.

    Signing parameters are persisted in the ``INDEX_META_NAME`` sidecar
    and validated by ``minhash_dedup_against_index`` — a probe signed
    with different parameters would silently match nothing. The rows
    land as one ``batch=`` partition (``microbatch.replace_index``), so
    a dedup stream can add its batches to a built index."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    banded = minhash_band_rows(docs, text_col, id_col, num_perm, bands, shingle_n)
    replace_index(
        banded.repartition("band_idx").sortWithinPartitions("band_hash"),
        path,
        ["band_idx"],
    )
    write_index_meta(
        docs.sparkSession,
        path,
        "minhash_bands",
        {"num_perm": num_perm, "bands": bands, "shingle_n": shingle_n,
         "scheme": "tokshingle1"},
    )


def minhash_dedup_against_index(
    new_docs: DataFrame,
    corpus: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an indexed corpus — the
    incremental path: only the batch is signed (map-side); candidates
    come from an equi-join of batch band rows against the persisted
    index (linear in batch size, corpus never re-signed); exact-Jaccard
    verification scans corpus text only for candidate ids via the
    usual broadcast semi-join. Output: (id_a, id_b, jaccard) with
    id_a = corpus doc, id_b = new doc.

    ``max_bucket`` mirrors the self-join formulation's stop-bucket
    guard: a degenerate index bucket shared by millions of
    near-identical docs would emit |bucket| candidates PER probing doc
    — the quadratic term LSH exists to avoid. Oversized buckets are
    detected with one aggregation over the probed slice and skipped
    (costing one extra index scan only when the guard is on).

    Self-duplicates WITHIN the batch are deliberately out of scope —
    run ``minhash_dedup_pairs`` on the batch alone for that half.
    ``banded`` short-circuits signing with precomputed
    ``minhash_band_rows`` output for the batch.
    """
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = new_docs.sparkSession
    check_index_meta(
        spark,
        index_path,
        "minhash_bands",
        {"num_perm": num_perm, "bands": bands, "shingle_n": shingle_n,
         "scheme": "tokshingle1"},
    )
    index = spark.read.parquet(index_path)
    if banded is None:
        banded = minhash_band_rows(new_docs, text_col, id_col, num_perm, bands, shingle_n)
    new_banded = banded.withColumnRenamed(id_col, "new_id")
    matched = index.join(F.broadcast(new_banded), ["band_idx", "band_hash"]).filter(
        F.col(id_col) != F.col("new_id")
    )
    if max_bucket is not None:
        oversized = (
            index.join(
                F.broadcast(new_banded.select("band_idx", "band_hash").distinct()),
                ["band_idx", "band_hash"],
                "left_semi",
            )
            .groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket)
            .select("band_idx", "band_hash")
        )
        matched = matched.join(
            F.broadcast(oversized), ["band_idx", "band_hash"], "left_anti"
        )
    cand = matched.select(F.col(id_col).alias("id_a"), F.col("new_id").alias("id_b"))
    both = corpus.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    return _verify_jaccard(both, cand, text_col, id_col, shingle_n, threshold)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT
    |A∩B| / min(|A|, |B|) — catches a short document wholly quoted
    inside a long one, which symmetric Jaccard structurally misses
    (a 50-shingle doc inside a 5000-shingle doc has Jaccard ≤ 0.01
    but containment 1.0). The Broder containment companion to
    ``t_ngram_jaccard_pairs``, same inverted-index join shape:
    candidates come from a shared-shingle equi-join (never an
    all-pairs product), sizes join back on id keys only.

    Scale note: hot shingles fan the equi-join out quadratically
    within their posting list, exactly like the jaccard op — corpus
    runs should stopword the head of the shingle distribution
    (``heavy_hitter_tokens``) before joining.

    Output: (id_a, id_b, containment) with id_a < id_b,
    containment ≥ threshold, rounded to 6.
    """
    shingled = fan_out(docs, by=[id_col]).select(
        F.col(id_col).alias("did"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    )
    sizes = shingled.groupBy("did").agg(F.count(F.lit(1)).alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.did") < F.col("b.did")))
        .groupBy(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("did").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("did").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("c") / F.least("na", "nb")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(cont >= threshold)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
    )


def corpus_overlap(
    docs: DataFrame,
    group_col: str = "source",
    shingle_n: int = 2,
    text_col: str = "text",
    keep_prefix: str | None = None,
) -> DataFrame:
    """Cross-corpus overlap matrix: shingle-set Jaccard between every
    pair of sources — the pre-mixing diagnostic that tells you two
    feeds are the same crawl twice before you weight them as
    independent (double-counted data silently doubles its sampling
    rate downstream).

    Shape: distinct (source, shingle) — corpus collapses to its
    vocabulary ONCE, per-doc multiplicity gone before any join — then
    the source-pair intersection via a shared-shingle equi-join and
    one count groupBy over a pair domain of at most |sources|². At
    100 TB pass ``keep_prefix`` (e.g. ``"0"``) to mod-p-sample the
    shingle universe by md5 prefix — an unbiased Jaccard estimate on
    1/16 of the vocabulary, same plan — rather than joining every
    shingle.

    Output: (src_a, src_b, n_shared, jaccard) for src_a < src_b.
    """
    grams = F.explode(word_shingles(text_col, shingle_n)).alias("g")
    s = docs.select(F.col(group_col).alias("src"), grams)
    if keep_prefix is not None:
        s = s.filter(F.md5("g").startswith(keep_prefix))
    s = s.distinct()
    sizes = s.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = s.alias("a")
    b = s.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("src").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def fuzzy_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate contamination pairs between a training corpus and
    a benchmark set: MinHash-LSH candidates, exact-Jaccard verified —
    the fuzzy companion of ``text.decontaminate`` (whose exact n-gram
    rule misses a benchmark doc that was lightly paraphrased or
    whitespace-mangled before it leaked into the crawl).

    Shape at 100 TB: the corpus is signed once, map-side (the same
    narrow ``minhash_band_rows`` projection the self-join dedup uses);
    the benchmark side is SMALL (eval sets are thousands of docs), so
    its band rows broadcast and candidates come from a map-side
    broadcast equi-join on (band_idx, band_hash) — the corpus-sized
    frame never shuffles for candidate generation. The stop-bucket
    guard is computed from the matched slice itself (candidate-scale,
    not corpus-scale), so the corpus signing subtree appears in the
    plan exactly once. Verification rejoins both texts through the
    usual single-scan broadcast membership join.

    Corpus and benchmark ids are independent spaces and MAY overlap:
    both sides are namespaced into (side, key) struct ids before the
    two frames meet, so a shared raw id can never mix the two texts
    inside the verify stage's per-id shingle extraction. Output:
    (corpus_id, bench_id, jaccard) with jaccard ≥ threshold, ids in
    their original type.
    """
    corp_ns = corpus.select(
        F.struct(F.lit("c").alias("side"), F.col(id_col).alias("k")).alias(id_col),
        text_col,
    )
    bench_ns = benchmark.select(
        F.struct(F.lit("b").alias("side"), F.col(id_col).alias("k")).alias(id_col),
        text_col,
    )
    bench_banded = minhash_band_rows(
        bench_ns, text_col, id_col, num_perm, bands, shingle_n
    ).withColumnRenamed(id_col, "__bench_id")
    corp_banded = minhash_band_rows(
        corp_ns, text_col, id_col, num_perm, bands, shingle_n
    )
    matched = corp_banded.join(
        F.broadcast(bench_banded), ["band_idx", "band_hash"]
    )
    if max_bucket is not None:
        # Degenerate buckets (a boilerplate band shared by millions of
        # corpus docs) are detected on the matched slice — already
        # candidate-scale — instead of re-scanning corpus signatures.
        oversized = (
            matched.groupBy("band_idx", "band_hash")
            .agg(F.countDistinct(id_col).alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket)
            .select("band_idx", "band_hash")
        )
        matched = matched.join(
            F.broadcast(oversized), ["band_idx", "band_hash"], "left_anti"
        )
    cand = matched.select(
        F.col(id_col).alias("id_a"), F.col("__bench_id").alias("id_b")
    )
    both = corp_ns.unionByName(bench_ns)
    out = _verify_jaccard(both, cand, text_col, id_col, shingle_n, threshold)
    return out.select(
        F.col("id_a.k").alias("corpus_id"),
        F.col("id_b.k").alias("bench_id"),
        "jaccard",
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Clean corpus after fuzzy decontamination: drops every corpus doc
    within MinHash Jaccard ``threshold`` of ANY benchmark doc. The
    contaminated id set is candidate-scale, so it broadcasts into the
    final anti-join — one extra corpus scan, nothing corpus-sized
    shuffles."""
    pairs = fuzzy_contamination_pairs(
        corpus, benchmark, text_col, id_col,
        num_perm, bands, shingle_n, threshold, max_bucket,
    )
    contaminated = pairs.select(F.col("corpus_id").alias(id_col)).distinct()
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")
