"""Okapi BM25 keyword retrieval over an inverted index.

Training-data pipelines need keyword search as much as embedding ANN —
quality auditing ("show me docs matching X"), targeted decontamination,
and hard-negative mining all reduce to scoring a query's terms against
a corpus-wide inverted index. This module is the lexical sibling of
``training/similarity.py``: same DataFrame-first economics (the corpus
is exploded to postings ONCE; every query after that is an equi-join),
same persisted-index layout discipline (term-hash-bucketed parquet +
parameter sidecar), same bounded-driver-state rule (only the corpus
stats — two numbers — ever leave the executors).

Scoring is classic BM25 (Robertson & Spärck Jones lineage; the
idf form is Lucene's non-negative variant):

    idf(t)      = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)
    score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

Determinism: per-(query, doc) contributions are summed in SORTED term
order via an ``aggregate`` fold — never a shuffle-order-dependent
``sum()`` — and ranking uses the ROUNDED score, so Spark and a SQL
oracle produce identical rows.

100 TB shape: postings are (term, doc_id, dl, tf) — one shuffle to
build, equi-joined by term at query time with the (small, distinct)
query-term set broadcast. The quadratic hazard (a stop word matching
every doc) is bounded by ``max_df_ratio``, the IDF analog of the LSH
stop-bucket guard: terms in more than that fraction of docs are
dropped from scoring on BOTH sides with a documented semantic (their
idf is near zero, so the top-k barely moves while the candidate set
shrinks by orders of magnitude). The persisted layout buckets postings
by ``pmod(xxhash64(term), n_buckets)`` so a query's probe prunes to
the buckets its terms hash into.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from faexport_db_spark.operators.partitioning import fan_out


def _terms(col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped — deliberately
    reproducible in ANSI SQL (``string_split_regex(lower(trim(x)))``)
    so every consumer can be oracle-checked."""
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != F.lit("")
    )


def bm25_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc_id, dl, tf) — the inverted index. One explode + one
    groupBy; ``dl`` (doc token count) rides along so scoring never
    joins back to the corpus."""
    toks = fan_out(docs, by=[id_col]).select(
        F.col(id_col).alias("doc_id"), _terms(F.col(text_col)).alias("__toks")
    )
    return (
        toks.select(
            "doc_id",
            F.size("__toks").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _corpus_stats(postings: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) frame — broadcast, never collected."""
    return postings.select("doc_id", "dl").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def _score_matches(
    matched: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """(query_id, term, tf, dl, idf, n_docs, avgdl) rows → ranked
    top-k. Contributions fold in sorted term order (deterministic fp
    summation); ranking uses the rounded score so an oracle replays
    the exact same ordering."""
    contrib = F.col("idf") * (
        F.col("tf") * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    per_pair = matched.withColumn("__c", contrib).groupBy(
        "query_id", "doc_id"
    ).agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("__c")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["__c"],
            ),
            6,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_pair.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _idf_table(postings: DataFrame, max_df_ratio: float | None) -> DataFrame:
    """(term, idf) with the stop-term guard applied: terms in more
    than ``max_df_ratio`` of docs are DROPPED (their postings would
    touch nearly every doc for near-zero idf — the lexical analog of
    the LSH stop-bucket)."""
    stats = _corpus_stats(postings)
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfs = dfs.crossJoin(F.broadcast(stats))
    if max_df_ratio is not None:
        dfs = dfs.filter(F.col("df") <= F.col("n_docs") * max_df_ratio)
    return dfs.select(
        "term",
        "n_docs",
        "avgdl",
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        ).alias("idf"),
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "query",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k BM25 hits per query row: (query_id, doc_id, score, rank),
    ties broken by doc_id. The corpus becomes postings once; query
    terms (distinct per query) broadcast into an equi-join on term —
    candidates are docs sharing ≥1 term, never a cross join."""
    postings = bm25_postings(docs, text_col, id_col)
    idfs = _idf_table(postings, max_df_ratio)
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_terms(F.col(query_text_col)))).alias("term"),
    )
    matched = postings.join(idfs, "term").join(F.broadcast(qterms), "term")
    return _score_matches(matched, k, k1, b)


# -- persisted index ---------------------------------------------------------

N_TERM_BUCKETS = 64


def _write_stats_partial(
    spark: SparkSession, path: str, name: str, n_docs: float, total_dl: float
) -> None:
    import json

    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, path)
    fs.mkdirs(f"{path.rstrip('/')}/_bm25_stats")
    fs.write_text(
        f"{path.rstrip('/')}/_bm25_stats/{name}.json",
        json.dumps({"n_docs": n_docs, "total_dl": total_dl}),
    )


def _load_stats_partials(fs, sdir: str) -> dict[str, dict]:
    """Live stats partials by name. A compacted partial carries a
    ``replaces`` list naming the partials it folded in; any named file
    still on disk (compaction crashed between writing the merged
    partial and deleting the olds) is EXCLUDED from the live set, so
    the sum never double-counts regardless of where a compaction
    stopped — the reader-side half of ``bm25_compact``'s crash
    contract. Exclusions from dead partials still apply (chained
    compactions converge)."""
    import json

    docs = {
        n: json.loads(fs.read_text(f"{sdir}/{n}"))
        for n in fs.list_names(sdir)
        if n.endswith(".json")
    }
    replaced: set[str] = set()
    for doc in docs.values():
        replaced.update(doc.get("replaces", ()))
    return {n: d for n, d in docs.items() if n not in replaced}


def _read_stats(spark: SparkSession, path: str) -> tuple[float, float]:
    """(n_docs, avgdl) summed over the LIVE per-commit stats partials
    (compaction-replaced partials excluded — see
    ``_load_stats_partials``)."""
    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, path)
    sdir = f"{path.rstrip('/')}/_bm25_stats"
    docs = _load_stats_partials(fs, sdir)
    if not docs:
        raise FileNotFoundError(
            f"BM25 index at {path} has no _bm25_stats partials — not built "
            f"by bm25_build_index."
        )
    n_docs = sum(d["n_docs"] for d in docs.values())
    total_dl = sum(d["total_dl"] for d in docs.values())
    return n_docs, total_dl / n_docs


def _append_postings(
    docs: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
    mode: str,
) -> DataFrame:
    postings = bm25_postings(docs, text_col, id_col).localCheckpoint(eager=True)
    (
        postings.withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .write.mode(mode)
        .partitionBy("tb")
        .parquet(path)
    )
    return postings


def bm25_build_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_TERM_BUCKETS,
    stats_name: str = "base",
) -> None:
    """Persist postings bucketed by ``tb = pmod(xxhash64(term),
    n_buckets)``: probing reads only the buckets the query's terms
    hash into (partition pruning). Document frequencies are NOT
    stored — the probe derives df from the (pruned) postings it scans
    anyway, so incremental appends can never leave stale idf inputs
    behind. Corpus stats live as additive per-commit partials under
    ``_bm25_stats/`` (the build writes ``base``; each append adds its
    own file), summed at probe time — a bounded directory listing, and
    idempotent under append retries because a retry OVERWRITES its own
    partial instead of double-counting. Parameters live in the
    standard ``INDEX_META_NAME`` sidecar and are validated on
    probe."""
    from faexport_db_spark.training.indexmeta import write_index_meta

    postings = _append_postings(
        docs, path, text_col, id_col, n_buckets, "overwrite"
    )
    stats = _corpus_stats(postings).withColumn(
        "total", F.col("avgdl") * F.col("n_docs")
    ).collect()[0]
    if not stats["n_docs"]:
        raise ValueError(
            f"bm25_build_index at {path}: the corpus has no documents with "
            f"at least one token — an empty index would make every later "
            f"probe divide by zero; build from a non-empty corpus (the "
            f"streaming step bootstraps from its first non-empty batch)."
        )
    write_index_meta(
        docs.sparkSession,
        path,
        "bm25_postings",
        {"n_buckets": n_buckets, "tokenizer": "ws_lower1"},
    )
    _write_stats_partial(
        docs.sparkSession, path, stats_name, stats["n_docs"], stats["total"]
    )


def bm25_append_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_TERM_BUCKETS,
    commit_name: str | None = None,
) -> None:
    """Incrementally index a batch of NEW docs: append their postings
    to the bucketed layout and write one additive stats partial —
    batch-sized work only, the corpus is never re-tokenized, and the
    probe's derived-df design means no stored idf input goes stale.

    At-least-once safe: ``commit_name`` names the stats partial
    (``bm25_index_batch`` passes its stream/batch identity), so a retried
    batch overwrites its own partial rather than double-counting,
    and its re-appended posting rows are exact duplicates the probe's
    per-(term, doc) collapse removes. Doc ids must be new to the
    index — re-indexing a changed doc needs a rebuild."""
    import uuid

    from faexport_db_spark.training.indexmeta import check_index_meta

    check_index_meta(
        docs.sparkSession, path, "bm25_postings",
        {"n_buckets": n_buckets, "tokenizer": "ws_lower1"},
    )
    postings = _append_postings(docs, path, text_col, id_col, n_buckets, "append")
    stats = _corpus_stats(postings).withColumn(
        "total", F.col("avgdl") * F.col("n_docs")
    ).collect()
    if not stats or not stats[0]["n_docs"]:
        return  # empty batch: nothing appended, no partial to write
    _write_stats_partial(
        docs.sparkSession,
        path,
        commit_name or f"append-{uuid.uuid4().hex}",
        stats[0]["n_docs"],
        stats[0]["total"],
    )


def bm25_index_batch(
    batch: DataFrame,
    index_path: str,
    batch_id: int | None = None,
    stream_id: str | None = None,
    **index_kwargs,
) -> None:
    """One micro-batch of a BM25 index maintained from a document
    stream: ``start_batch_stream(source, bm25_index_batch, checkpoint,
    index_path)`` with ``source`` any streaming DataFrame with
    (doc_id, text) columns. The first non-empty batch bootstraps the
    index; every later batch appends its postings + one stats partial
    named by its idempotent identity ``<stream_id>-<batch_id>`` (the
    dedup streams' namespacing rule), so redelivery overwrites its own
    partial and never double-counts. A direct call without a
    ``batch_id`` keeps the builder's and appender's own naming."""
    from faexport_db_spark.training.indexmeta import has_index_meta

    name = f"{stream_id}-{batch_id}" if batch_id is not None else None
    if not has_index_meta(batch.sparkSession, index_path):
        if batch.isEmpty():
            return  # nothing to bootstrap from yet
        # the batch's idempotent identity names the stats partial
        # DIRECTLY — a build-then-rename would leave a crash window
        # (driver dies after build, before rename) where the
        # redelivered batch 0 takes the append path and the base
        # partial double-counts the corpus forever (ADVICE r05)
        bm25_build_index(
            batch, index_path, stats_name=name or "base", **index_kwargs
        )
        return
    bm25_append_index(batch, index_path, commit_name=name, **index_kwargs)


def bm25_compact(
    spark: SparkSession,
    index_path: str,
    target_bytes: int | None = None,
) -> dict:
    """Maintenance compaction for an appended BM25 index: every
    ``bm25_append_index``/streaming batch leaves one-plus parquet
    files per touched ``tb=`` bucket and one stats partial, so probe
    cost grows with file count until someone compacts. This rewrites
    the postings through the standard two-phase ``compact_path``
    (hive ``tb=`` layout preserved, so probe-side partition pruning is
    untouched; concurrent appenders are snapshot-safe per its
    contract), then folds the live stats partials into ONE summed
    partial. The fold is crash-safe WITHOUT a rename: the merged
    partial names everything it ``replaces``, and ``_read_stats``
    excludes any still-on-disk replaced partial from the sum — so a
    crash between writing the merged partial and deleting the olds
    can never double-count, and the next compaction sweeps the
    leftovers. Returns the ``compact_path`` stats plus the partial
    counts."""
    import json
    import uuid

    from faexport_db_spark.maintenance.compaction import (
        DEFAULT_TARGET_BYTES,
        compact_path,
    )
    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    stats = compact_path(
        spark, index_path, partition_by=["tb"],
        target_bytes=target_bytes or DEFAULT_TARGET_BYTES,
    )
    fs = HadoopFs(spark, index_path)
    sdir = f"{index_path.rstrip('/')}/_bm25_stats"
    names = [n for n in fs.list_names(sdir) if n.endswith(".json")]
    live = _load_stats_partials(fs, sdir)
    # sweep partials a crashed earlier fold already replaced
    for n in set(names) - set(live):
        fs.delete(f"{sdir}/{n}")
    if len(live) > 1:
        doc = {
            "n_docs": sum(d["n_docs"] for d in live.values()),
            "total_dl": sum(d["total_dl"] for d in live.values()),
            "replaces": sorted(live),
        }
        fs.write_text(
            f"{sdir}/compacted-{uuid.uuid4().hex[:12]}.json", json.dumps(doc)
        )
        for n in live:
            fs.delete(f"{sdir}/{n}")
    return {
        **stats,
        "stats_partials_before": len(live),
        "stats_partials_after": 1 if live else 0,
    }


def bm25_topk_persisted(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_ratio: float | None = None,
    query_text_col: str = "query",
    query_id_col: str = "query_id",
    n_buckets: int = N_TERM_BUCKETS,
) -> DataFrame:
    """Probe a persisted BM25 index: the query terms' hash buckets
    become an ``isin`` partition filter (bounded — ≤ one bucket per
    distinct query term), so only matching ``tb=`` directories are
    listed or scanned. Document frequencies are derived from the
    pruned scan (each probed term's postings are fully inside its
    bucket), so appends since the build are automatically reflected;
    a per-(term, doc) collapse first makes at-least-once re-appended
    rows harmless. Scoring is identical to ``bm25_topk``."""
    from faexport_db_spark.training.indexmeta import check_index_meta

    check_index_meta(
        spark, path, "bm25_postings",
        {"n_buckets": n_buckets, "tokenizer": "ws_lower1"},
    )
    n_docs, avgdl = _read_stats(spark, path)
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_terms(F.col(query_text_col)))).alias("term"),
    ).withColumn("tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    probed_tbs = [r["tb"] for r in qterms.select("tb").distinct().collect()]
    index = (
        spark.read.parquet(path)
        .filter(F.col("tb").isin(probed_tbs))
        .dropDuplicates(["term", "doc_id"])
    )
    dfs = index.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df_ratio is not None:
        dfs = dfs.filter(F.col("df") <= n_docs * max_df_ratio)
    matched = (
        index.join(dfs, "term")
        .join(F.broadcast(qterms.drop("tb")), "term")
        .withColumn("n_docs", F.lit(n_docs))
        .withColumn("avgdl", F.lit(avgdl))
        .withColumn(
            "idf",
            F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1),
        )
    )
    return _score_matches(matched, k, k1, b)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the keyword-extraction /
    doc-vector primitive (corpus tagging, cluster labeling, quality
    audits of what a dedup bucket actually contains).

    Smooth idf ``ln((1+N)/(1+df))`` so ubiquitous terms score 0+
    rather than blowing up; scores round to 6 before ranking so the
    (score desc, term asc) order is engine-portable. Plan: one
    explode + tf groupBy, a term-keyed df aggregate joined back on
    term (both sides already term-clustered from the groupBy), and a
    doc-partitioned top-k window — no corpus-sized broadcast, no
    driver collection. Reuses ``bm25_postings`` so the tokenizer is
    the oracle-checked one."""
    postings = bm25_postings(docs, text_col, id_col)
    stats = _corpus_stats(postings)
    dfs = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(dfs, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def token_overlap_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact lexical ranking: per query DOC, corpus docs ranked by the
    count of DISTINCT shared whitespace tokens (the set-overlap
    retrieval primitive — BM25 without the weighting, and therefore
    all-integer and engine-exact). Query token sets broadcast; ties
    break on doc id; zero-overlap docs are out of the list.

    Output: (query_id, doc_id, overlap, rank).
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    base = docs.filter(F.col(text_col).isNotNull())
    q = queries.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), toks.alias("q_toks")
    )
    scored = (
        base.select(F.col(id_col), toks.alias("d_toks"))
        .join(F.broadcast(q), F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.size(F.array_intersect("q_toks", "d_toks"))
            .cast("bigint")
            .alias("overlap"),
        )
        .filter(F.col("overlap") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("overlap"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    list_a: DataFrame,
    list_b: DataFrame,
    item_col_a: str,
    item_col_b: str,
    k: int = 60,
    topk: int = 5,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
    2009): fuse two per-query rankings into one by

        rrf(d) = Σ_lists 1 / (k + rank_list(d))

    — the standard hybrid-retrieval combiner (dense + lexical lists
    into one), robust to incomparable scores and score scales because
    only RANKS enter. Items missing from a list contribute nothing
    (the truncated-list convention). Each division is one IEEE
    correctly-rounded op and the sum has a fixed two-term order, so
    the fused scores are bit-reproducible cross-engine; the result is
    rounded to 9 significant-stable digits for hashing anyway.

    Shape: one full-outer equi-join on (query, item) between two
    already-tiny top-k lists (query-cardinality × k rows), then a
    per-query window — never touches the corpora.

    Output: (query_id, item_id, rrf_score, fused_rank) top-``topk``
    per query, score ties broken by item id.
    """
    if k < 1 or topk < 1:
        raise ValueError(f"need k >= 1 and topk >= 1, got k={k}, topk={topk}")
    a = list_a.select(
        "query_id",
        F.col(item_col_a).alias("item_id"),
        F.col("rank").alias("rank_a"),
    )
    b = list_b.select(
        "query_id",
        F.col(item_col_b).alias("item_id"),
        F.col("rank").alias("rank_b"),
    )
    fused = a.join(b, ["query_id", "item_id"], "full_outer").select(
        "query_id",
        "item_id",
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("item_id")
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("fused_rank") <= topk)
