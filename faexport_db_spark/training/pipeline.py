"""Corpus-assembly operators for training-data pipelines: sequence
packing, stratified sampling, sketch-accuracy bounds, and the composite
filter→dedup→stats prep pipeline.

Scale design notes:
- ``sequence_pack`` needs a GLOBAL running token offset in doc order —
  the one pattern a naive window (``Window.orderBy(id)`` with no
  partitionBy) turns into a single-partition bottleneck. Implemented
  as the classic distributed prefix sum instead (``_chunk_offsets``,
  shared with ``global_shuffle`` and ``vocab_ids``): one eager
  ``localCheckpoint`` of the narrow key/weight projection, then two
  build-time jobs over that copy — ``approxQuantile`` for the range-
  chunk bounds (a full pass over the copy) and the per-chunk totals,
  whose n_chunks rows come back as a literal offset map — and a
  per-chunk window running chunk-parallel. Nothing ever
  single-partitions, and the caller's upstream plan runs once.
- ``stratified_sample`` is pure integer arithmetic on an md5-derived
  key — deterministic across runs/engines (no floats, no rand()), so
  a resampled pipeline stage reproduces byte-for-byte.
- ``sketch_bounds`` pins the approximate aggregates (HyperLogLog++
  distinct count, GK percentile) against exact values computed in the
  same job — the contract check you run before trusting sketches on
  the 100 TB corpus where exact computation is the thing being avoided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from faexport_db_spark.training.text import (
    BPE_ISH_PATTERN,
    quality_features,
    quality_rules,
    tokens_expr,
)


def _bpe_count(text_col: str) -> Column:
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).cast(
        "bigint"
    )


def _chunk_pid(id_col: str, bounds: list[float]) -> Column:
    """Range-chunk id from explicit boundaries: pid = #bounds < id.
    A pure expression (recomputable identically in every pass), unlike
    ``spark_partition_id()`` which depends on physical planning."""
    pid = F.lit(0)
    for b in bounds:
        pid = pid + (F.col(id_col) > F.lit(b)).cast("int")
    return pid


def _chunk_offsets(
    narrow: DataFrame, key: str, weight: Column, n_chunks: int
) -> tuple[DataFrame, Column, Column]:
    """Build-time half of the distributed prefix sum shared by
    ``sequence_pack``, ``global_shuffle`` and ``vocab_ids``.

    ``narrow`` (the key plus whatever the caller's window needs) is
    materialized ONCE with an eager ``localCheckpoint``; the quantile
    chunk bounds on ``key`` and the per-chunk ``sum(weight)`` totals
    are both computed from that copy, so the caller's upstream plan
    runs once for the two build-time jobs instead of once per job.
    The totals travel back as an n_chunks-row literal map.

    Returns (materialized ``narrow``, chunk-id column, per-chunk offset
    column = sum of ``weight`` over all earlier chunks); the caller
    owns the pin (``operators.pins.unpin`` states the trade-off)."""
    narrow = narrow.localCheckpoint(eager=True)
    probs = [i / n_chunks for i in range(1, n_chunks)]
    pid = _chunk_pid(key, sorted(set(narrow.approxQuantile(key, probs, 0.001))))
    totals = dict(narrow.groupBy(pid.alias("__pid")).agg(F.sum(weight)).collect())
    offsets, acc = [], 0
    for p in sorted(totals):
        offsets += [F.lit(p), F.lit(acc)]
        acc += totals[p]
    return narrow, pid, F.element_at(F.create_map(*offsets), pid).cast("bigint")


def sequence_pack(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_chunks: int = 32,
) -> DataFrame:
    """Assign docs to fixed-token-budget training sequences ("packs").

    Docs are laid head-to-tail in ``id_col`` order; a doc belongs to the
    pack where its first token lands (``pack_id = start_offset div
    budget``) and ``pack_pos`` is its offset within that pack — the
    standard concat-and-chunk pretraining layout, deterministic given
    the corpus.

    Distributed prefix sum (``_chunk_offsets``): the (id, n_tokens)
    projection, 16 B per doc, is materialized once with an eager
    ``localCheckpoint`` at call time; the quantile chunk bounds and the
    per-chunk token totals are computed from that copy, and the
    returned plan is a per-chunk window cumsum over the same copy plus
    an n_chunks-entry literal offset map. So ``docs``' upstream chain
    (quality filter, dedup, ...) runs once, not once per build job and
    again under the caller's write. The price: the checkpoint's blocks
    live only in executor storage, so losing an executor that holds one
    fails the returned plan instead of recomputing it. The naive
    alternative, a global ``Window.orderBy(id)``, plans an Exchange
    SinglePartition and funnels the whole corpus through one task;
    this never does (asserted in tests/test_plans.py).

    Deliberately NOT fanned out (r10 negative result, cross-tree ABAB
    +60%: fanning the scan by the chunk id — the window's own key, the
    corpus_prep pattern — trades this plan's one AQE-coalescible
    ENSURE exchange for an explicit REPARTITION exchange AQE cannot
    coalesce, plus a second evaluation of the chunk-id chain in the
    partitioner; the regexp count on the narrow scan is far cheaper
    than the lost coalescing at sf0.1, and at scale the input arrives
    wide so there is nothing to win).
    """
    sized, pid, offset = _chunk_offsets(
        docs.select(F.col(id_col), _bpe_count(text_col).alias("n_tokens")),
        id_col,
        F.col("n_tokens"),
        n_chunks,
    )
    w = (
        Window.partitionBy(pid)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = offset + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return sized.select(id_col, "n_tokens", start.alias("__start")).select(
        id_col,
        "n_tokens",
        F.expr(f"__start div {budget}").alias("pack_id"),
        (F.col("__start") % budget).alias("pack_pos"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic per-stratum downsampling (e.g. rebalance languages
    or sources before training). A doc is kept iff its md5-derived
    32-bit key falls under the stratum's threshold — exact integer
    comparison, no floats and no ``rand()``, so the sample is
    reproducible across runs, engines and re-partitionings, and
    changing ``salt`` draws an independent sample.

    Output: (id, stratum, sample_key) for kept docs.
    """
    key = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    thresholds = {s: int(r * (1 << 32)) for s, r in rates.items()}
    thr = F.lit(int(default_rate * (1 << 32)))
    for s in sorted(thresholds):
        thr = F.when(F.col(stratum_col) == s, F.lit(thresholds[s])).otherwise(thr)
    return (
        docs.select(F.col(id_col), F.col(stratum_col), key.alias("sample_key"))
        .filter(F.col("sample_key") < thr)
    )


def sketch_bounds(
    docs: DataFrame, text_col: str = "text", size_col: str = "n_chars"
) -> DataFrame:
    """Accuracy contract for the approximate aggregates: HyperLogLog++
    ``approx_count_distinct`` (rsd 5%) must land within 3·rsd of the
    exact distinct count, and the GK ``percentile_approx`` median must
    rank between the 40th and 70th exact percentiles. Output is one
    row: (exact_distinct, cd_ok, p50_ok) — the booleans are what the
    driver oracle checks, the exact count pins the data itself.
    """
    base = docs.select(F.col(text_col).alias("t"), F.col(size_col).alias("s"))
    stats = base.agg(
        F.count_distinct("t").alias("exact_distinct"),
        F.approx_count_distinct("t", 0.05).alias("acd"),
        F.percentile_approx("s", 0.5, 10000).alias("p50"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = base.crossJoin(F.broadcast(stats)).agg(
        F.first("exact_distinct").alias("exact_distinct"),
        F.first("acd").alias("acd"),
        F.first("n").alias("n"),
        F.sum((F.col("s") <= F.col("p50")).cast("bigint")).alias("cnt_le"),
    )
    cd_ok = (
        F.abs(F.col("acd") - F.col("exact_distinct"))
        <= F.lit(0.15) * F.col("exact_distinct")
    )
    frac = F.col("cnt_le").cast("double") / F.col("n")
    p50_ok = (frac >= 0.40) & (frac <= 0.70)
    return ranked.select(
        F.col("exact_distinct"), cd_ok.alias("cd_ok"), p50_ok.alias("p50_ok")
    )


def corpus_prep(
    docs: DataFrame,
    min_quality: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """The composite pre-training prep pipeline: quality filter →
    exact dedup (lowest-id representative per content hash) → per-
    stratum corpus stats. One pass computes the quality features
    inline (no self-join back to the source), the dedup is the usual
    hash-keyed window, and the stats shuffle only the survivors.

    Output: (stratum, n_docs, sum_tokens, min_quality, max_quality)
    — min/max are order-independent (exactly reproducible), unlike a
    float mean.
    """
    # Fan out by the DEDUP WINDOW key (md5 of the text): the feature
    # compute runs wide AND the window below needs no further exchange
    # — the whole pipeline is the fan-out exchange plus the final
    # per-stratum aggregation.
    feats = quality_features(
        docs,
        text_col=text_col,
        id_col=id_col,
        keep=(stratum_col, text_col),
        fan_by=[F.md5(F.col(text_col))],
    )
    # The quality filter runs ABOVE the dedup window, not before it:
    # a predicate on the projected quality_score would push down
    # through every feature select to the scan, re-inlining the whole
    # interpreted score expression on the (single-task) scan stage —
    # while above the window it can't sink (quality_score is not a
    # window partition key) and tests the already-computed column
    # once. Equivalent output: same md5 ⇒ same text ⇒ same score, so
    # a duplicate group is kept or dropped as a whole either way and
    # rank-1 (lowest id) picks the same representative. The window
    # exchange also goes NARROW: text is folded to its md5 key and
    # dropped before the shuffle.
    narrow = feats.select(
        F.col(id_col),
        F.col(stratum_col),
        "n_tokens",
        "quality_score",
        F.md5(F.col(text_col)).alias("__key"),
    )
    w = Window.partitionBy("__key").orderBy(F.asc(id_col))
    reps = narrow.withColumn("__rn", F.row_number().over(w)).filter(
        (F.col("__rn") == 1) & (F.col("quality_score") >= min_quality)
    )
    return reps.groupBy(F.col(stratum_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )


def mixture_rates(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
) -> dict[str, float]:
    """Per-stratum sampling rates that realize a target corpus MIXTURE
    (domain/language weighting, the standard pre-training rebalancing
    step): the largest corpus satisfying the target proportions keeps
    T = min_s(n_s / w_s) docs, so stratum s samples at w_s*T/n_s —
    the binding stratum keeps everything, the over-represented ones
    downsample. One count aggregation; only the per-stratum count
    table (bounded by the number of strata) ever reaches the driver.
    Corpus strata absent from ``weights`` get no rate (dropped by the
    sampler). A WEIGHTED stratum absent from the corpus raises — a
    silently-skipped target stratum (typo'd code, empty source) would
    renormalize the realized mixture far from the request while the
    pipeline reports success."""
    counts = {
        r[stratum_col]: r["n"]
        for r in docs.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    wanted = {s: w for s, w in weights.items() if w > 0}
    missing = sorted(s for s in wanted if not counts.get(s))
    if missing:
        raise ValueError(
            f"mixture target strata {missing} have no rows in the corpus "
            f"(present: {sorted(counts)}); the realized mixture would "
            f"silently skew — fix the weights or the corpus."
        )
    if not wanted:
        return {}
    t_max = min(counts[s] / w for s, w in wanted.items())
    return {s: min(1.0, w * t_max / counts[s]) for s, w in wanted.items()}


def mix_corpus(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic mixture resample: compute ``mixture_rates`` and
    apply the hash-thresholded ``stratified_sample`` — reproducible
    across runs/engines/partitionings, proportions within sampling
    noise of the target weights."""
    rates = mixture_rates(docs, weights, stratum_col)
    return stratified_sample(
        docs, rates, default_rate=0.0, stratum_col=stratum_col,
        id_col=id_col, salt=salt,
    )


def _rank_key(id_col: str, seed: int) -> Column:
    """Deterministic uniform rank key: low 48 bits of md5(seed:id) as
    a bigint — engine-portable (DuckDB parses the same hex) and
    reproducible across runs, unlike rand(seed) whose stream depends
    on physical partitioning."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")


def group_cap(
    df: DataFrame,
    key_cols: list[str],
    cap: int,
    id_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int = 64,
) -> DataFrame:
    """Cap each group at ``cap`` rows, chosen by deterministic hash
    rank — the C4/RefinedWeb per-domain frequency cap: no single
    domain (content farm, mirror network) may dominate the training
    mix, and the SAME rows win on every run (md5 rank, not rand()).

    Two-phase so a hot group never funnels through one task: rows
    first split into ``n_buckets`` hash sub-buckets per group and each
    sub-bucket keeps its ``cap`` best-ranked rows (window partitions
    are group/n_buckets wide), then the ≤ cap·n_buckets survivors per
    group — cap-sized, tiny — take the true top-``cap``.  Phase 1 can
    never evict a global top-``cap`` row (a row's group rank only
    improves when others are removed), so the result is exactly the
    single-window answer while the widest window partition shrinks by
    n_buckets.  At 100 TB this is the difference between the hottest
    domain (1e8 docs) sorting in one task vs 64.
    """
    rk = _rank_key(id_col, seed).alias("__rk")
    bucket = (F.xxhash64(F.col(id_col), F.lit(seed)) % n_buckets).alias("__b")
    w1 = Window.partitionBy(*key_cols, "__b").orderBy("__rk", id_col)
    w2 = Window.partitionBy(*key_cols).orderBy("__rk", id_col)
    phase1 = (
        df.select("*", rk, bucket)
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= cap)
    )
    return (
        phase1.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= cap)
        .drop("__rk", "__b", "__rn1", "__rn2")
    )


def global_shuffle(
    docs: DataFrame,
    seed: int = 42,
    id_col: str = "doc_id",
    n_chunks: int = 32,
) -> DataFrame:
    """Assign every doc a contiguous position 0..n-1 in a
    deterministic pseudo-random order — the global example shuffle a
    training run needs before sequence packing (epoch order must be
    reproducible across retries, so rand() is out).

    Order key is the md5 rank key; positions come from the same
    distributed prefix sum as ``sequence_pack`` (``_chunk_offsets``):
    only the (id, rank key) projection, 16 B per doc, is materialized
    with an eager ``localCheckpoint`` for the quantile chunk bounds and
    the per-chunk counts (n_chunks rows, re-broadcast as a literal
    map). The returned plan keeps every input column, so it re-reads
    ``docs`` for the per-chunk window row_number instead of the copy:
    two input scans in all, and nothing after the call depends on the
    checkpoint's executor-local blocks.  The naive ``row_number() OVER (ORDER BY key)`` plans an Exchange
    SinglePartition — the whole corpus through one task; this never
    does.  Ties on the 48-bit key break by id, so the permutation is
    total and exact.

    Output: input columns + ``pos`` (bigint).  Writers that need the
    physical layout to match can ``repartitionByRange(pos)`` +
    ``sortWithinPartitions(pos)`` on the result.
    """
    keyed = docs.withColumn("__rk", _rank_key(id_col, seed))
    _, pid, offset = _chunk_offsets(keyed.select(id_col, "__rk"), "__rk", F.lit(1), n_chunks)
    w = Window.partitionBy(pid).orderBy("__rk", id_col)
    pos = offset + F.row_number().over(w) - 1
    return keyed.select(*docs.columns, pos.alias("pos"))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row races with an exponential
    key ``-ln(u)/w`` drawn from its md5-hash uniform, and the ``k``
    smallest keys win — inclusion probability proportional to weight,
    yet the SAME rows win on every run and every partitioning (the
    property ``df.sample`` and ``rand(seed)`` cannot give, and the one
    a reproducible training-mix draw needs).

    Scale: the key is a pure projection; the global top-k is
    ``orderBy(...).limit(k)``, which Spark executes as TakeOrdered —
    per-partition heaps merged on the driver, k-bounded, no global
    sort shuffle."""
    u = (_rank_key(id_col, seed) + F.lit(1)).cast("double") / F.lit(
        float(2**48)
    )
    key = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.withColumn("__wk", key)
        .orderBy("__wk", id_col)
        .limit(k)
        .drop("__wk")
    )


def cluster_split(
    docs: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    clusters: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split:v1",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: all members of a
    duplicate cluster land in the SAME split, so a train/val pair can
    never be near-copies of each other (the classic eval-contamination
    bug a per-doc random split guarantees at corpus scale). The split
    key is an md5-derived 32-bit integer of the cluster representative
    — deterministic across runs, engines and re-partitionings, and
    ``salt`` re-draws independently (same contract as
    ``stratified_sample``).

    By default clusters are exact-content groups (md5 of text), which
    needs ONE shuffle total: a window over the content hash picks the
    representative (min id) with no join back. Pass ``clusters`` —
    (id, cluster_id) from ``dedup_clusters`` over minhash pairs — to
    split on near-duplicate components instead; that path joins on id
    (sort-merge on the corpus key, the partitioner big joins already
    use).

    Output: (id, content_hash | cluster_id, rep_id, split).
    """
    if not 0 <= val_frac + test_frac < 1:
        raise ValueError(f"need val_frac + test_frac in [0, 1), got {val_frac + test_frac}")
    if clusters is None:
        keyed = docs.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
        )
        w = Window.partitionBy("content_hash")
        keyed = keyed.select(
            id_col, "content_hash", F.min(id_col).over(w).alias("rep_id")
        )
    else:
        w = Window.partitionBy("cluster_id")
        reps = clusters.select(
            F.col(id_col), "cluster_id", F.min(id_col).over(w).alias("rep_id")
        )
        keyed = docs.select(F.col(id_col)).join(reps, id_col, "left").select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("rep_id", F.col(id_col)).alias("rep_id"),
        )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col("rep_id").cast("string"), F.lit(":" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    val_thr = int(val_frac * (1 << 32))
    test_thr = val_thr + int(test_frac * (1 << 32))
    split = (
        F.when(key < val_thr, F.lit("val"))
        .when(key < test_thr, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return keyed.withColumn("split", split)


def corpus_build(
    docs: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    **rule_kwargs,
) -> DataFrame:
    """The end-to-end corpus build, composed from the primitives this
    package ships, in TWO exchanges total: Gopher-style quality filter
    (map-only projection, ``quality_rules``), exact dedup keeping the
    lowest id per content hash, leakage-safe split assignment off the
    cluster representative (both from ONE window over the content
    hash — the dedup rep IS the split key, so no second shuffle), and
    per-(split, language) accounting (the second exchange). This is
    the shape a 100 TB corpus run takes before the near-dup passes:
    every stage map-side except the two unavoidable key groupings, no
    joins, nothing driver-side.

    Output: (split, lang, n_docs, sum_tokens) for kept, deduped docs.
    """
    flagged = quality_rules(
        docs, text_col=text_col, id_col=id_col,
        keep=(text_col, lang_col), **rule_kwargs,
    )
    kept = flagged.filter(F.col("kept")).select(id_col, text_col, lang_col)
    w = Window.partitionBy(F.md5(F.col(text_col)))
    deduped = kept.withColumn("__rep", F.min(id_col).over(w)).filter(
        F.col(id_col) == F.col("__rep")
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col("__rep").cast("string"), F.lit(":split:v1"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    val_thr = int(val_frac * (1 << 32))
    test_thr = val_thr + int(test_frac * (1 << 32))
    split = (
        F.when(key < val_thr, F.lit("val"))
        .when(key < test_thr, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("bigint")
    return (
        deduped.select(split.alias("split"), F.col(lang_col), toks.alias("__nt"))
        .groupBy("split", lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").cast("bigint").alias("sum_tokens"),
        )
    )


def vocab_ids(
    docs: DataFrame,
    min_count: int = 1,
    text_col: str = "text",
    n_chunks: int = 16,
) -> DataFrame:
    """Dense frequency-ranked vocabulary ids: token_id 0 is the most
    frequent token, ties broken lexicographically — the id assignment
    every tokenizer/embedding-table build starts from.

    The naive ``row_number() OVER (ORDER BY cnt DESC)`` plans an
    Exchange SinglePartition — the entire vocabulary through one task.
    This uses the same distributed prefix sum as ``global_shuffle``
    (``_chunk_offsets``): the aggregated (token, cnt) table, one row
    per distinct token, is materialized once with an eager
    ``localCheckpoint``, so the corpus explode+groupBy runs once.
    Approx-quantile chunk bounds on the count (all ties of one count
    land in ONE chunk, so the lexicographic tie-break never straddles
    a boundary) and per-chunk sizes come from that copy; the returned
    plan is a per-chunk window row_number over it plus an n_chunks-
    entry literal offset map. Exact, total, and no task ever holds
    more than ~1/n_chunks of the vocabulary. The checkpoint's blocks
    live only in executor storage: losing an executor that holds one
    fails the returned plan instead of recomputing it.

    Output: (token, cnt, token_id) for tokens with cnt >= min_count.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    counts, pid, offset = _chunk_offsets(
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .withColumn("__key", -F.col("cnt").cast("double")),
        "__key",
        F.lit(1),
        n_chunks,
    )
    w = Window.partitionBy(pid).orderBy("__key", "token")
    token_id = offset + F.row_number().over(w) - 1
    return counts.select(
        "token", F.col("cnt").cast("bigint").alias("cnt"), token_id.alias("token_id")
    )


def hll_register_table(
    df: DataFrame, col: str = "text", p: int = 8
) -> DataFrame:
    """Portable HyperLogLog sketch STATE: the (bucket, register) table
    for a distinct-count sketch over ``col``, with engine-neutral
    md5-derived hashing. Spark's own ``approx_count_distinct`` yields
    only the final number (and its HLL++ state is
    implementation-private); this exposes the registers themselves as
    DATA, which is what makes sketches operational in a pipeline:
    register tables are mergeable (elementwise MAX per bucket) across
    partitions, days, or even engines, so a 100 TB corpus can keep
    per-shard sketch sidecars and answer "distinct across any shard
    subset" without rescanning — the same reason the BM25/ANN paths
    persist index sidecars.

    Mechanics (Flajolet et al. 2007): a 60-bit integer hash (15 md5
    hex chars — identical in any engine with md5, no engine-native
    hash), low ``p`` bits pick the bucket, and the register is the
    max over rows of the position of the leftmost 1-bit in the
    remaining ``60-p`` bits (computed EXACTLY via the binary-string
    length of the remainder — no float log2, whose boundary rounding
    differs across engines). One map-side-combining groupBy bounded
    by 2^p rows; only observed buckets appear.

    Output: (bucket, register) — int, int.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    width = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    bucket = (h % m).cast("int")
    rest = F.shiftright(h, p)  # nonneg: h is 60 bits
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(rest)) + 1
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_estimate(registers: dict[int, int], p: int = 8) -> float:
    """Driver-side estimate from a (possibly merged) register table —
    the read path of ``hll_register_table``. Standard HLL with the
    small-range linear-counting correction; buckets absent from the
    dict are empty (register 0)."""
    import math

    m = 1 << p
    # Flajolet et al. 2007 §4: the asymptotic formula only holds for
    # m >= 128; smaller register counts use the exact constants.
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m) or 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -registers.get(b, 0) for b in range(m))
    est = alpha * m * m / s
    zeros = sum(1 for b in range(m) if registers.get(b, 0) == 0)
    if est <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return est


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how much more likely its hashed n-gram bag is under a
    TARGET distribution (the domain you want more of — wiki-like,
    code-like) than under the raw corpus distribution. Selection =
    keep the top slice by weight; this computes the weights.

    Features are word unigrams + bigrams hashed into ``buckets``
    md5-derived buckets (engine-neutral, like the Bloom filter path).
    Per-doc log-weight = Σ_grams [log p_target(b) - log p_raw(b)]
    with add-one smoothing over the bucket space.

    Shape at 100 TB: two bucket-count aggregations (map-side
    combining, output bounded by ``buckets``), then one corpus scan
    whose exploded grams join the bucket→log-ratio table BROADCAST
    (4096 rows) and re-aggregate per doc — the corpus never shuffles
    anything wider than (doc_id, partial sum). In the paper's setting
    the raw distribution comes from a sample; pass a sampled
    ``corpus`` to a precomputation wrapper if the full-corpus stats
    pass is worth skipping — the weights-scan shape is unchanged.

    Output: (id, n_grams, dsir_logw) — bigint, bigint, double(6dp).
    """
    toks = tokens_expr(text_col)
    grams = F.concat(
        toks,
        F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast("long")
        % buckets
    ).cast("int")

    def bucket_counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(F.explode(grams).alias("g"))
            .select(bucket.alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias(name))
        )

    raw = bucket_counts(corpus, "cr")
    tgt = bucket_counts(target, "ct")
    totals = raw.agg(F.sum("cr").alias("nr")).crossJoin(
        tgt.agg(F.sum("ct").alias("nt"))
    )
    ratio = (
        raw.join(tgt, "b", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("nt") + buckets))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 1) / (F.col("nr") + buckets))
            ).alias("lr"),
        )
    )
    doc_grams = (
        corpus.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, bucket.alias("b"))
    )
    scored = (
        doc_grams.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.round(F.sum("lr"), 6).alias("dsir_logw"),
        )
    )
    return corpus.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
        F.coalesce("dsir_logw", F.lit(0.0)).alias("dsir_logw"),
    )


def temperature_mixture(
    docs: DataFrame,
    stratum_col: str = "lang",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled sampling mixture (the multilingual-training
    standard from mBERT/XLM-R: q_s ∝ p_s^α): flattens the raw stratum
    distribution toward uniform as α→0, so low-resource strata are
    upsampled without hand-written weights — the complement of
    ``mixture_rates``, which realizes an EXPLICIT target mixture.

    ``boost`` = q_s/p_s is the per-stratum oversampling factor a
    sampler applies (>1 for under-represented strata). One count
    aggregation bounded by the number of strata; the normalizer rides
    a one-row broadcast.

    Output: (stratum, n_docs, p_raw, q_temp, boost), doubles at 6dp.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).alias("z"),
    )
    p = F.col("n_docs") / F.col("n_total")
    q = F.pow(F.col("n_docs").cast("double"), F.lit(alpha)) / F.col("z")
    return counts.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(p, 6).alias("p_raw"),
        F.round(q, 6).alias("q_temp"),
        F.round(q / p, 6).alias("boost"),
    )


def oov_rate(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary share against a frequency-
    threshold corpus vocabulary (tokens seen ≥ ``min_count`` times) —
    the coverage metric a tokenizer/vocab budget decision reads next
    to ``bytes_per_token``: a doc slice with high OOV under the
    working vocab is the slice the tokenizer will shred into bytes.

    Shape at 100 TB: the IN-vocabulary set is the HEAD of the token
    distribution (bounded — it is what ``vocab_ids`` ranks), so it
    broadcasts; the long OOV tail never travels anywhere — each
    exploded token left-joins the broadcast vocab and unmatched means
    OOV. One count aggregation + one map-side probe + one per-doc
    re-aggregation. Output: (id, n_tokens, n_oov, oov_rate 6dp);
    tokenless docs report 0 tokens, rate 0.
    """
    toks = F.filter(tokens_expr(text_col), lambda t: t != F.lit(""))
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("tok")
    )
    per_tok = docs.select(F.col(id_col), F.explode(toks).alias("tok"))
    scored = (
        per_tok.join(F.broadcast(vocab.withColumn("__in", F.lit(1))), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum((F.col("__in").isNull()).cast("bigint")).cast("bigint").alias("n_oov"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0).cast("bigint")).alias("n_oov"),
        F.round(
            F.coalesce(F.col("n_oov") / F.col("n_tokens"), F.lit(0.0)), 6
        ).alias("oov_rate"),
    )


def grouped_hll_registers(
    df: DataFrame, group_col: str, col: str, p: int = 8
) -> DataFrame:
    """Per-group portable HLL register tables — ``hll_register_table``
    with a group dimension: (group, bucket, register), one bounded
    sketch per group, mergeable across shards per group by the same
    elementwise MAX. The groupBy is (group × ≤2^p) rows — for
    distinct-per-group at 100 TB this replaces a countDistinct shuffle
    of the raw values with a constant-size-per-group sketch that can
    also be persisted and re-merged later."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    width = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rest = F.shiftright(h, p)
    rho = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.length(F.bin(rest)) + 1
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            (h % m).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("register"))
    )


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.5,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """REALIZE the temperature mixture by deterministic downsampling:
    keep stratum s at rate (n_min/n_s)^(1-α), the largest pure-
    downsampling corpus whose realized mixture is q_s ∝ n_s^α — the
    binding (smallest) stratum keeps everything, over-represented
    strata shed. Composes ``temperature_mixture`` (which reports the
    target) with ``stratified_sample``'s md5 keying (which realizes
    it), but the rate needs NO normalizer: the q_s/Z terms cancel
    inside the keep-rate ratio, so there is no driver collect and no
    order-dependent float sum anywhere.

    At α=0.5 the whole threshold computation is IEEE-exact and
    engine-identical (bigint divide, sqrt, scale by 2^32, floor — all
    correctly-rounded primitives), so the kept SET is reproducible
    bit-for-bit in any engine; other α go through pow(), identical in
    practice but not IEEE-guaranteed. One stratum-count aggregation
    broadcast back; the corpus itself is filtered map-side.

    NULL strata are excluded up front — from the count table (so a
    NULL group can never set n_min and scale every real stratum's
    keep rate) and from the corpus (the inner equi-join would drop
    them silently anyway); ``temperature_mixture`` is the op that
    REPORTS the NULL stratum when you need to see it.

    Output: (id, stratum, sample_key) for kept docs.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    docs = docs.filter(F.col(stratum_col).isNotNull())
    counts = docs.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    ratio = F.col("__nmin").cast("double") / F.col("__n").cast("double")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    thr = F.floor(rate * F.lit(float(1 << 32))).cast("bigint")
    thresholds = counts.crossJoin(F.broadcast(nmin)).select(
        "__s", thr.alias("__thr")
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select(F.col(id_col), F.col(stratum_col), key.alias("sample_key"))
        .join(F.broadcast(thresholds), F.col(stratum_col) == F.col("__s"))
        .filter(F.col("sample_key") < F.col("__thr"))
        .select(id_col, F.col(stratum_col).alias("stratum"), "sample_key")
    )


def cms_register_table(
    df: DataFrame, col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Portable Count-Min sketch state — the frequency-counting sibling
    of ``hll_register_table``: (seed, slot, cnt) counters over
    ``depth`` md5-derived hash rows of ``width`` slots. Mergeable by
    elementwise SUM (shards/days/engines compose, like the HLL MAX),
    with the classic one-sided guarantee: the point estimate
    min_seed(cnt[seed][slot_seed(v)]) never undercounts and
    overcounts by ≤ εN with probability 1-δ (ε=e/width, δ=e^-depth).
    Where ``heavy_hitters`` answers "the exact top talkers of THIS
    scan", the CMS table answers point frequency queries over any
    shard subset without rescanning — constant size, like every
    sketch sidecar here.

    One map-side-combining groupBy bounded by depth×width rows; the
    per-row fan-out is the constant ``depth``, map-side. Output:
    (seed, slot, cnt) for touched slots — int, int, bigint.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")

    def _slot(seed: int) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(col).cast("string"), F.lit(f"#{seed}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return F.struct(
            F.lit(seed).alias("seed"), (h % width).cast("int").alias("slot")
        )

    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(F.array(*[_slot(s) for s in range(depth)])).alias("p"))
        .groupBy(F.col("p.seed").alias("seed"), F.col("p.slot").alias("slot"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def cms_estimate(
    registers: dict[tuple[int, int], int], value: str, depth: int = 4, width: int = 2048
) -> int:
    """Driver-side point-frequency estimate from a (possibly merged)
    CMS table — min over the value's depth counters; absent slots are
    0. Mirrors ``hll_estimate`` as the read path of the sketch."""
    import hashlib

    est = None
    for seed in range(depth):
        h = int(hashlib.md5(f"{value}#{seed}".encode()).hexdigest()[:15], 16)
        c = registers.get((seed, h % width), 0)
        est = c if est is None else min(est, c)
    return est or 0


def kmv_sketch(df: DataFrame, col: str = "text", k: int = 256) -> DataFrame:
    """Bottom-k (KMV / K-Minimum-Values, Bar-Yossef et al. 2002)
    distinct sketch over ``col``: the ``k`` smallest DISTINCT 60-bit
    md5-derived hash values. Third sketch sibling after
    ``hll_register_table`` (distinct counts) and
    ``cms_register_table`` (point frequencies) — what KMV adds is SET
    ALGEBRA: two sketches union by re-taking the bottom-k of their
    concatenation, and intersection/Jaccard between corpora fall out
    of ``kmv_intersect_estimate`` — overlap estimation over any shard
    subset WITHOUT rescanning either corpus (the sketch sibling of the
    exact ``corpus_overlap``). Hashing is the engine-neutral 15-hex-
    char md5 scheme every sketch here uses, so the sketch rows — the
    STATE, not just the estimate — are bit-reproducible in any engine
    with md5, and the driver oracle replays them exactly.

    Shape at 100 TB: the corpus pass is a single Arrow ``mapInPandas``
    that keeps a bounded (≤k) running set of the partition's smallest
    distinct hashes — constant memory, NO shuffle of per-partition
    distinct values (a ``groupBy(hash)`` pre-distinct would shuffle
    the whole key space, which is exactly what a sketch exists to
    avoid). Each partition emits ≤k rows; the global combine is a
    take-ordered over ≤ k × n_partitions rows. Per-partition bottom-k
    of distinct values composes associatively, so the result is
    independent of partitioning.

    Output: (hval) — bigint, the ≤k smallest distinct hashes, one row
    each (fewer than k only when the column has <k distinct values).
    """
    import pandas as pd

    if k < 2:
        raise ValueError(f"need k >= 2, got {k}")
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashed = df.filter(F.col(col).isNotNull()).select(h.alias("hval"))

    def bottom_k(batches):
        import numpy as np

        best: "np.ndarray | None" = None
        for pdf in batches:
            vals = pdf["hval"].to_numpy(dtype="int64")
            best = vals if best is None else np.concatenate([best, vals])
            best = np.unique(best)  # sorted distinct
            if len(best) > k:
                best = best[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"hval": best})

    partial = hashed.mapInPandas(bottom_k, schema="hval bigint")
    # <= k rows per partition survive; dedup across partitions and
    # re-take the global bottom-k (TakeOrdered — no wide shuffle).
    return partial.distinct().orderBy("hval").limit(k)


def kmv_estimate(hvals: list[int], k: int = 256) -> float:
    """Driver-side distinct-count estimate from a sketch's hash rows:
    (k-1) / h_k with hashes normalized to [0, 1) over the 60-bit hash
    space — the standard unbiased KMV estimator. Falls back to the
    exact distinct count when the sketch is not full (fewer than k
    distinct values existed: the sketch IS the distinct set)."""
    if not hvals:
        return 0.0
    vals = sorted(hvals)
    if len(vals) < k:
        return float(len(vals))
    return (k - 1) * float(1 << 60) / float(vals[k - 1])


def kmv_union(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Union of two KMV sketches = bottom-k of their concatenation —
    closed over the sketch shape, so shard/day/engine sidecars
    compose like the HLL MAX-merge. Tiny frames (≤k rows each)."""
    return a.unionByName(b).distinct().orderBy("hval").limit(k)


def kmv_intersect_estimate(
    a: DataFrame, b: DataFrame, k: int = 256
) -> DataFrame:
    """Jaccard / intersection-size estimate between two corpora from
    their KMV sketches alone (Beyer et al. 2007): K∩ = how many of the
    union sketch's k hashes appear in BOTH input sketches; J ≈ K∩/k';
    |A∩B| ≈ J × D_union. Everything is joins over ≤k-row frames — the
    corpora themselves are never touched, which is the operational
    win: pairwise overlap across N corpus shards costs N sketch scans,
    not N² corpus joins.

    Output: one row (k_used, n_common, jaccard_est, inter_est) —
    bigint, bigint, double(6dp), double(6dp).
    """
    # Each sketch frame is referenced several times below (union,
    # intersect, membership join); without a checkpoint every
    # reference re-expands the whole corpus-scan subtree. The frames
    # are <= k rows — pinning them is the lazy-localCheckpoint pattern
    # the simhash union uses (BENCHNOTES r06).
    a = a.localCheckpoint(eager=False)
    b = b.localCheckpoint(eager=False)
    u = kmv_union(a, b, k).localCheckpoint(eager=False)
    both = a.select("hval").intersect(b.select("hval"))
    flagged = u.join(both.withColumn("__inb", F.lit(1)), "hval", "left")
    kth = u.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("hval").alias("h_k")
    )
    return (
        flagged.agg(F.sum(F.coalesce(F.col("__inb"), F.lit(0))).alias("n_common"))
        .crossJoin(kth)
        .select(
            F.col("k_used").cast("bigint").alias("k_used"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("n_common") / F.col("k_used"), 6).alias("jaccard_est"),
            F.round(
                (F.col("n_common") / F.col("k_used"))
                * F.when(
                    F.col("k_used") < F.lit(k), F.col("k_used").cast("double")
                ).otherwise(
                    F.lit(float(k - 1))
                    * F.lit(float(1 << 60))
                    / F.col("h_k").cast("double")
                ),
                6,
            ).alias("inter_est"),
        )
    )


def k_anonymity(
    docs: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """k-anonymity suppression over a set of quasi-identifier columns
    (Sweeney 2002): a row is released with its quasi-identifiers
    intact only when at least ``k`` rows share that exact combination;
    rarer combinations have every quasi-identifier masked to '*' so no
    released row's identifier tuple matches fewer than k individuals.
    The aggregate-privacy sibling of the per-value ``pii_scrub``:
    scrubbing removes direct identifiers, this bounds re-identification
    by combination.

    One window over the quasi-identifier tuple (hash-partitioned by
    the combination — parallel across groups, map-side nothing to
    combine but nothing single-partitions either). NULL participates
    as its own combination value (SQL window PARTITION BY semantics,
    identical in the oracle).

    Output: (id, <quasi cols masked>, group_n, released).
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    w = Window.partitionBy(*quasi_cols)
    n = F.count(F.lit(1)).over(w).cast("bigint")
    released = F.col("__n") >= F.lit(k)
    masked = [
        F.when(released, F.col(c).cast("string")).otherwise(F.lit("*")).alias(c)
        for c in quasi_cols
    ]
    return (
        docs.withColumn("__n", n)
        .select(
            F.col(id_col),
            *masked,
            F.col("__n").alias("group_n"),
            released.alias("released"),
        )
    )


def group_sample(
    docs: DataFrame,
    per_group: int = 20,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "gs1",
) -> DataFrame:
    """Deterministic fixed-size-per-group sample: within each stratum
    keep the ``per_group`` rows with the smallest md5-derived keys —
    the balanced-eval-subset builder (N docs per language/source for a
    review set), where ``stratified_sample``'s RATE-based keep cannot
    promise an exact per-group count. Same integer keying, so the
    sample is reproducible across runs/engines and ``salt`` draws an
    independent one.

    One window shuffle partitioned by stratum (parallel across groups;
    the usual caveat: a single stratum with billions of rows sorts
    within its partition — cap input per stratum upstream with
    ``group_cap`` when strata are that skewed).

    Output: (id, stratum, sample_key, rk) — rk is 1-based within the
    stratum.
    """
    if per_group < 1:
        raise ValueError(f"need per_group >= 1, got {per_group}")
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(stratum_col).orderBy("sample_key", id_col)
    return (
        docs.select(F.col(id_col), F.col(stratum_col), key.alias("sample_key"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= per_group)
    )


def l_diversity(
    docs: DataFrame,
    quasi_cols: list[str],
    sensitive: Column | str,
    k: int = 5,
    l: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """l-diversity release gate (Machanavajjhala et al. 2007) layered
    on ``k_anonymity``: a quasi-identifier combination is released
    only when it is shared by >= ``k`` rows AND those rows carry >=
    ``l`` DISTINCT sensitive values — k-anonymity alone still leaks
    when everyone in a group shares the same sensitive attribute (the
    homogeneity attack this exists to block). Failing groups have
    every quasi-identifier masked to '*', same contract as
    ``k_anonymity``.

    Shape: one groupBy over the quasi tuple computing (count, distinct
    sensitive) — both map-side combinable — then an equi-join back on
    the tuple. No window, so a pathologically hot combination never
    single-sorts; the stats side is combination-cardinality, small by
    construction. NULL sensitive counts as its own value (count
    distinct skips NULLs, so it is counted explicitly).

    Output: (id, <quasi masked>, group_n, n_sensitive, released).
    """
    if k < 1 or l < 1:
        raise ValueError(f"need k >= 1 and l >= 1, got k={k}, l={l}")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    s = F.col(sensitive) if isinstance(sensitive, str) else sensitive
    tagged = docs.withColumn("__sens", s)
    stats = tagged.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
        (
            F.countDistinct("__sens")
            + F.max(F.col("__sens").isNull().cast("int"))
        ).cast("bigint").alias("n_sensitive"),
    )
    released = (F.col("group_n") >= k) & (F.col("n_sensitive") >= l)
    masked = [
        F.when(released, F.col(c).cast("string")).otherwise(F.lit("*")).alias(c)
        for c in quasi_cols
    ]
    return tagged.join(stats, quasi_cols).select(
        F.col(id_col),
        *masked,
        "group_n",
        "n_sensitive",
        released.alias("released"),
    )


def qsketch_register_table(
    df: DataFrame, value: Column | str, group_col: str | None = None
) -> DataFrame:
    """Portable QUANTILE sketch state — the fourth sketch sibling
    (HLL: distinct, CMS: frequency, KMV: set algebra; this: rank).
    Dyadic log2 histogram over a NONNEGATIVE integer measure: bucket
    b holds the count of values whose binary representation has b
    bits (i.e. v in [2^(b-1), 2^b), with v=0 in bucket 0), computed
    EXACTLY via the binary-string length — the same no-float-log2
    trick as the HLL rho, so the state is bit-reproducible in any
    engine with integer-to-binary formatting. Registers merge by
    elementwise SUM across shards/days/engines, and any quantile is
    answerable from the merged table to within a factor-2 value
    bracket (the classic q-digest-style guarantee at 1/64th the state
    of a full histogram) — rank queries over any shard subset WITHOUT
    rescanning, constant state.

    One map-side-combining groupBy bounded by 64 (× groups) rows.
    Output: (bucket int, cnt bigint), plus ``group_col`` when given.
    """
    v = F.col(value) if isinstance(value, str) else value
    bucket = F.when(v <= 0, F.lit(0)).otherwise(F.length(F.bin(v))).cast("int")
    keys = ([group_col] if group_col else []) + ["bucket"]
    return (
        df.select(*([group_col] if group_col else []), bucket.alias("bucket"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def qsketch_quantile_brackets(
    registers: DataFrame, q_pcts: list[int]
) -> DataFrame:
    """Read path of the dyadic quantile sketch: for each requested
    percentile (integer 0-100), the value BRACKET [lo, hi] of the
    bucket containing the rank-``ceil(q/100 * n)`` element (rank-1 for
    q=0) under ascending value order — lo = 2^(b-1), hi = 2^b - 1
    (0 for bucket 0). The true percentile_disc value is guaranteed to
    lie inside the bracket; hi/lo <= 2 is the sketch's relative-error
    contract, verified row-by-row by the driver oracle.

    The register table is tiny (<= 64 rows) by construction, so the
    cumulative walk is a single-partition window ON SKETCH STATE, not
    on data — the whole point: rank queries never touch the corpus.
    Output: (q_pct int, rank bigint, bucket int, lo bigint, hi bigint,
    n bigint).
    """
    if not q_pcts:
        raise ValueError("need at least one percentile")
    for q in q_pcts:
        if not 0 <= q <= 100:
            raise ValueError(f"percentiles must be integers in [0, 100], got {q}")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = registers.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    qs = registers.sparkSession.createDataFrame(
        [(int(q),) for q in sorted(set(q_pcts))], "q_pct int"
    )
    # rank = max(1, ceil(q/100 * n)) in pure INTEGER arithmetic
    # (ceil(a/b) = (a + b - 1) div b) — float division would round
    # past 2^53 at real corpus scale.
    rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("(CAST(q_pct AS BIGINT) * n + 99) DIV 100").cast("bigint"),
    )
    hit = (
        qs.crossJoin(cum)
        .withColumn("rank", rank)
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("q_pct", "rank", "n")
        .agg(F.min("bucket").cast("int").alias("bucket"))
    )
    # SQL-form shiftleft: the python binding wants a literal shift
    # amount, but the shift here is the bucket COLUMN
    lo = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    )
    hi = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")
    )
    return hit.select(
        "q_pct",
        "rank",
        "bucket",
        lo.cast("bigint").alias("lo"),
        hi.cast("bigint").alias("hi"),
        "n",
    )
