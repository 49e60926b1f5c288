"""Partition-layout helpers.

``fan_out`` fixes the small-file/parallelism mismatch: a compute-heavy
operator (hash signatures, shingling, vector math) reading a source
with fewer splits than the cluster has cores would otherwise run on a
fraction of the machine — a single-file parquet table scans as ONE
task no matter how many cores exist, because a row group can't be
split. At real scale inputs arrive in thousands of splits and this is
a no-op (the guard keeps it shuffle-free); it only rebalances when the
input genuinely under-parallelizes the plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fan_out(
    df: DataFrame,
    multiple: int = 1,
    by: Sequence[str | Column] | None = None,
) -> DataFrame:
    """Repartition up to ``multiple × defaultParallelism`` — only when
    the input would scan with fewer tasks than that (never a coalesce,
    never a shuffle on already-wide inputs).

    ``by`` picks the partitioning expressions. Hash-partitioning beats
    the round-robin default twice over: round-robin assignment is
    nondeterministic per row, so Spark inserts a full local sort of the
    rows' binary representation before the shuffle write
    (``spark.sql.execution.sortBeforeRepartition``, kept on for
    stage-retry safety) — hash partitioning is per-row deterministic
    and skips it; and when ``by`` matches the operator's downstream
    shuffle key, the exchange this fan-out pays REPLACES the one the
    groupBy/window was about to insert (Catalyst sees the clustering
    requirement already satisfied, including through Project aliases).
    Callers should pass the downstream key when there is one, else the
    row id (unique → uniform spread). Round-robin remains the fallback
    for callers with no usable column.

    The width is always ``defaultParallelism × multiple``. A
    ``target=`` width override existed only for the MinHash Arrow
    kernel's fat partitions; that kernel measured a tie
    (OPTIMIZATION_r10.md) and was deleted, and the override with it.

    Intended for source scans (every call site wraps a freshly-loaded
    table). It widens only the work planned above the exchange: a
    deterministic filter on the fanned-out frame is pushed below the
    exchange by Catalyst, and with it every expression the filter
    reads, which then runs in the scan's tasks at the source's width
    (and again above the exchange, if a projection there computes it).
    The width probe estimates the scan's split count from file
    metadata instead of ``df.rdd.getNumPartitions()``, which converts
    the plan to an RDD and thereby plans the whole query a second time
    on every call (VERDICT r02 item 5). Non-file-backed inputs (tiny
    in-memory fixtures) fall back to the RDD probe.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * multiple
    files = df.inputFiles()  # analysis-only; no physical planning
    if files:
        if len(files) >= target:
            return df  # ≥1 task per file — already wide
        if _estimated_scan_splits(spark, files) >= target:
            return df
    elif df.rdd.getNumPartitions() >= target:
        return df
    if by:
        cols = [F.col(c) if isinstance(c, str) else c for c in by]
        return df.repartition(target, *cols)
    return df.repartition(target)


def _bytes_conf(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ("134217728", "134217728b",
    "128m", "1g" …)."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
             "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}
    for suffix, mult in sorted(units.items(), key=lambda kv: -len(kv[0])):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * mult)
    return int(float(raw))


def _estimated_scan_splits(spark, files: list[str]) -> int:
    """Spark's FilePartition sizing formula, driver-side: splits ≈
    ceil((total_bytes + n_files × openCost) / maxSplitBytes) where
    maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore)).
    Matches what ``df.rdd.getNumPartitions()`` reports for a scan —
    without building the RDD. File stats go through the Hadoop
    FileSystem API so hdfs://-style paths work; only reached when
    len(files) < target, so the per-file RPC count stays tiny."""
    sc = spark.sparkContext
    max_part = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        total += jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
    padded = total + len(files) * open_cost
    bytes_per_core = padded // max(1, sc.defaultParallelism)
    max_split = min(max_part, max(open_cost, bytes_per_core))
    return max(1, -(-padded // max_split))  # ceil


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for SKEWED group keys (e.g. ``website_id``
    — FurAffinity dominates the reference's data, SURVEY §4).

    Phase 1 groups by (keys + random salt) so one hot key spreads over
    ``salt_buckets`` reducers; phase 2 re-aggregates the per-salt
    partials. ``aggs`` maps output column → (phase1_fn, phase2_fn),
    e.g. ``{"n": ("count", "sum"), "mx": ("max", "max")}`` — the
    phase-2 fn must combine phase-1 partials (count→sum, sum→sum,
    min→min, max→max).

    With AQE skew handling on, Spark often rescues skewed SORTS and
    JOINS on its own; a skewed AGGREGATION's map-side combine usually
    suffices too — this helper is for the residual case (few distinct
    keys × heavy reduce-side state), and for engines/pipelines where
    AQE is off.
    """
    from pyspark.sql import functions as F

    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[getattr(F, p1)(F.col(src) if src != "*" else F.lit(1)).alias(out)
          for out, (p1, _p2, src) in _normalize_aggs(aggs).items()]
    )
    return phase1.groupBy(*keys).agg(
        *[getattr(F, p2)(out).alias(out)
          for out, (_p1, p2, _src) in _normalize_aggs(aggs).items()]
    )


def _normalize_aggs(aggs: dict) -> dict:
    """Accept {out: (p1, p2)} (src defaults to out) or {out: (p1, p2, src)}."""
    norm = {}
    for out, spec in aggs.items():
        if len(spec) == 2:
            norm[out] = (spec[0], spec[1], out)
        else:
            norm[out] = spec
    return norm


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist a table bucketed on its join key so co-bucketed joins
    skip both shuffles (the Spark analog of the reference's composite
    covering indexes, schema/indexes.sql:10-11). Both sides of a
    co-located join must share bucket count and key. ``path`` makes it
    an external table (bucketing requires the table catalog either way)."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-spreading equi-join for two LARGE tables (where
    ``broadcast()`` is off the table): the left (skewed) side gets a
    uniform salt, the right side is replicated ``n_salt`` times, and
    the join key becomes (key, salt) — a hot key's rows land on
    ``n_salt`` reducers instead of one straggler. The result set is
    EXACTLY the plain join's (every left row meets every matching
    right row exactly once, in the one salt slice it was assigned);
    only the partition layout changes, which is the point.

    The salt is ``rand(seed)``-derived: result-invariant (any salt
    assignment yields the same join output) so determinism of the
    OUTPUT is preserved even though row placement isn't. ``how``
    supports inner and left (the salted left side keeps all rows);
    right/full would need the roles swapped — salt the skewed side.

    Cost model: replicating the right side multiplies its shuffle
    volume by ``n_salt`` — worth it iff the hot key's straggler
    dominates, which is why AQE's skew-join handles the mild cases
    and this operator exists for the brutal ones (SURVEY §4: one
    website holds ~half the reference's rows). At 100 TB pick
    ``n_salt`` ≈ hot-key share × total partitions.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    clash = [c for c in ("__salt",) if c in left.columns or c in right.columns]
    if clash:
        raise ValueError(f"salted_join reserves column(s) {clash}; rename them first")
    lf = left.withColumn("__salt", (F.rand(42) * n_salt).cast("int"))
    rt = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = lf.join(rt, keys + ["__salt"], how)
    return out.drop("__salt")
