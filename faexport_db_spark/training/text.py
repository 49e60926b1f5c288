"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure column expressions (codegen'd, no UDFs); each has an exact
DuckDB-oracle counterpart registered in queries/training_queries.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faexport_db_spark.operators.partitioning import fan_out
from faexport_db_spark.operators.pins import unpin

# Marker-word profiles for the n-gram/stopword language heuristic.
# Real pipelines plug fasttext/cld3 here; the operator contract is the
# same: per-language evidence score -> argmax with deterministic ties.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "of", "and", "to", "in", "for"),
    "query": ("query", "table", "join", "scan", "filter", "sort", "merge", "hash"),
    "stream": ("stream", "batch", "window", "spark", "row", "column", "data", "value"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_expr(text: str | Column) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), r"\s+")


def _profile_score(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Language-ID by marker-word evidence: score each profile, take the
    argmax (lexicographically-first language wins ties). Output:
    (id, pred_lang, lang_score)."""
    toks = tokens_expr(text_col)
    scored = docs.select(
        F.col(id_col),
        *[
            _profile_score(toks, words).alias(f"score_{lang}")
            for lang, words in sorted(LANG_PROFILES.items())
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_PROFILES)])
    pred = F.coalesce(
        *[
            F.when(F.col(f"score_{lang}") == best, F.lit(lang))
            for lang in sorted(LANG_PROFILES)
        ]
    )
    return scored.select(
        id_col, pred.alias("pred_lang"), best.cast("int").alias("lang_score")
    )


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
    fan_by: Sequence[str | Column] | None = None,
) -> DataFrame:
    """Quality-signal features + a composite score: char length, token
    count, mean token length, stopword ratio, non-alnum ratio. The
    score is a fixed linear blend — the operator contract (per-doc
    bounded score usable as a filter threshold) is what matters.
    ``keep`` carries extra source columns through (so a downstream
    filter/groupBy never needs a self-join back to the corpus).

    The signals are let-bound across a chain of selects instead of one
    wide projection: the tokenizer split, the stopword filter and the
    regexp scrub each appear ONCE in the plan and downstream columns
    reference them by attribute. The single-select form re-inlined the
    split ~3× and both ratio subtrees 2× (the score reuses them), and
    this Project evaluates interpreted (the higher-order stopword
    filter blocks whole-stage codegen) with no common-subexpression
    elimination — measured 0.42s → 0.30s at sf0.1. CollapseProject
    never re-merges: every bound column is non-cheap and
    multi-referenced.

    ``fan_out`` repartitions a source that arrives with fewer splits
    than cores (no-op on wide inputs), but that spreads this map work
    only when nothing filters on the result. A caller's
    ``filter(quality_score >= x)`` is deterministic, so Catalyst pushes
    it through these projections and below the ``REPARTITION_BY_NUM``
    exchange: the whole quality expression then runs in the scan's
    tasks (one task for a single small JSON file), and the projections
    above the exchange compute it again for the rows that pass."""
    keep_cols = [F.col(c) for c in keep]
    n_chars = F.col("n_chars_computed")
    n_toks = F.col("__nt")
    step0 = fan_out(docs, by=list(fan_by) if fan_by is not None else [id_col]).select(
        F.col(id_col),
        *keep_cols,
        F.col(text_col).alias("__text"),
        tokens_expr(text_col).alias("__toks"),
    )
    step1 = step0.select(
        F.col(id_col),
        *keep_cols,
        F.length("__text").cast("bigint").alias("n_chars_computed"),
        F.size("__toks").alias("__nt"),
        _profile_score(F.col("__toks"), STOPWORDS).alias("__stop"),
        F.length(F.regexp_replace(F.col("__text"), r"[^A-Za-z0-9 ]", "")).alias(
            "__alnum_len"
        ),
    )
    step2 = step1.select(
        F.col(id_col),
        *keep_cols,
        n_chars,
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(n_chars.cast("double") / n_toks, 6).alias("mean_token_len"),
        F.round(F.col("__stop").cast("double") / n_toks, 6).alias("stopword_ratio"),
        F.round((n_chars - F.col("__alnum_len")).cast("double") / n_chars, 6).alias(
            "non_alnum_ratio"
        ),
        n_toks,
    )
    return step2.select(
        F.col(id_col),
        *keep_cols,
        n_chars,
        F.col("n_tokens"),
        F.col("mean_token_len"),
        F.col("stopword_ratio"),
        F.col("non_alnum_ratio"),
        F.round(
            F.least(n_toks / F.lit(400.0), F.lit(1.0)) * 0.4
            + F.col("stopword_ratio") * 0.4
            + (F.lit(1.0) - F.col("non_alnum_ratio")) * 0.2,
            6,
        ).alias("quality_score"),
    )


def quality_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_tok: float = 3.0,
    max_mean_tok: float = 10.0,
    max_non_alnum: float = 0.3,
    min_distinct_stop: int = 2,
    max_top_share: float = 0.2,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style hard filter rules (Rae et al. 2021 §A1.1 shape):
    per-doc boolean verdict PER RULE plus the conjunction — the
    auditable form a production corpus filter needs (you keep the rule
    columns so "why was this dropped" is a filter, not a re-run).

    Rules: token count in [min_tokens, max_tokens]; mean token length
    in [min_mean_tok, max_mean_tok]; non-alphanumeric character ratio
    ≤ max_non_alnum; ≥ min_distinct_stop distinct stopwords (the
    gibberish screen); top-token share ≤ max_top_share (the repetition
    screen — max multiplicity over the sorted token array via one
    fold, no per-doc shuffle). All pure codegen expressions — the op
    is a map-only projection at any corpus size."""
    toks = tokens_expr(text_col)
    n_toks = F.size(toks)
    n_chars = F.length(text_col)
    mean_tok = n_chars.cast("double") / n_toks
    non_alnum = (
        n_chars
        - F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9 ]", ""))
    ).cast("double") / n_chars
    distinct_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.lit(list(STOPWORDS)))
    )
    # max token multiplicity: sort, then fold counting the longest
    # adjacent-equal run (equal tokens are adjacent once sorted)
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_share = run_state.cast("double") / n_toks
    tokens_ok = (n_toks >= min_tokens) & (n_toks <= max_tokens)
    mean_ok = (mean_tok >= min_mean_tok) & (mean_tok <= max_mean_tok)
    symbols_ok = non_alnum <= max_non_alnum
    stopwords_ok = distinct_stop >= min_distinct_stop
    repetition_ok = top_share <= max_top_share
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        tokens_ok.alias("tokens_ok"),
        mean_ok.alias("mean_token_ok"),
        symbols_ok.alias("symbols_ok"),
        stopwords_ok.alias("stopwords_ok"),
        repetition_ok.alias("repetition_ok"),
        (tokens_ok & mean_ok & symbols_ok & stopwords_ok & repetition_ok).alias(
            "kept"
        ),
    )


# PII patterns chosen for cross-engine regex parity: no lookarounds,
# no backrefs, ASCII \b — the shared subset of Java regex (Spark) and
# RE2 (DuckDB/object stores' scanners), so the scrub is oracle-exact
# and portable to pushdown-capable readers.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<email>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<ip>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<phone>"),
)


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, IPv4 addresses and phone-shaped digit runs with
    typed placeholders — the standard pre-training PII scrub pass.
    Patterns apply in order ON THE PREVIOUS STEP'S OUTPUT (an email's
    host can't also match as a phone once it is ``<email>``), and
    ``n_redactions`` counts matches at each step the same way, so the
    count is exactly the number of placeholder insertions. Pure
    column expressions — whole-stage codegen, map-only, no shuffle."""
    cur = F.col(text_col)
    n = F.lit(0).cast("bigint")
    for _, pat, repl in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("bigint")
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(
        F.col(id_col), cur.alias("scrubbed"), n.alias("n_redactions")
    )


#: C0/C1 control characters minus \t \n \r — the strip set of
#: unicode_clean. A Java∩RE2-safe class, like PII_PATTERNS.
CONTROL_CHAR_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def unicode_clean(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode hygiene for ingested text: strip C0/C1 control
    characters (keeping \\t \\n \\r), then NFC-normalize — the
    canonical-composition pass every cross-source training corpus
    needs before dedup (a decomposed ``e`` + U+0301 and a precomposed
    ``é`` must hash identically or every digest-keyed dedup op treats
    equal texts as distinct).

    Strip-then-normalize order is part of the contract: a control
    character can otherwise sit between a base and its combining mark
    and block composition. The control strip is a JVM regexp_replace
    (codegen, RE2-portable class); NFC has no JVM builtin, so it is
    the sanctioned slow path done right — pandas ``str.normalize``
    (ICU-free, pure table pass) under an Arrow-batched pandas UDF,
    map-only, zero shuffles. Output: (id, clean_text, changed)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_fn(s):
        return s.str.normalize("NFC")

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint parser can't resolve pd.Series here
    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf(_nfc_fn, "string")

    stripped = F.regexp_replace(F.col(text_col), CONTROL_CHAR_CLASS, "")
    return docs.select(
        F.col(id_col),
        _nfc(stripped).alias("clean_text"),
        F.col(text_col),
    ).select(
        id_col,
        "clean_text",
        (F.col("clean_text") != F.col(text_col)).alias("changed"),
    )


def token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letters runs,
    digit runs, single punctuation — the classic pre-tokenizer shape).
    ``fan_out`` spreads the regex map work across cores when the source
    arrives with fewer splits than the cluster has (no-op on wide
    inputs)."""
    ws = F.size(tokens_expr(text_col))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))
    return fan_out(docs, by=[id_col]).select(
        F.col(id_col),
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_tokens"),
    )


def doc_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 4,
    keep_prefix: str = "0",
) -> DataFrame:
    """Mod-p-sampled shingle fingerprint (winnowing-lite): hash every
    word ``gram``-gram with md5, keep hashes starting with
    ``keep_prefix`` (1/16 sample), sorted + joined. Two docs share
    fingerprint elements iff they share sampled shingles — a compact
    containment sketch. md5 keeps it engine-portable (oracle-checkable).
    """
    toks = tokens_expr(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (gram - 1), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, gram))),
    )
    sampled = F.array_sort(
        F.array_distinct(F.filter(grams, lambda h: h.startswith(keep_prefix)))
    )
    return docs.select(
        F.col(id_col),
        F.array_join(sampled, ",").alias("fingerprint"),
        F.size(sampled).cast("bigint").alias("fp_size"),
    )


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText rules'
    shape): duplicate-token fraction, most-common-token fraction, and
    duplicate word-trigram fraction. High values flag boilerplate,
    keyword stuffing and template spam that length/stopword features
    miss. Pure column expressions, one narrow pass.

    The top-token count is the longest run in the SORTED token array —
    ``array_sort`` + one linear run-length ``aggregate`` — so the pass
    is O(n log n) per doc with no quadratic term (the previous
    filter-per-unique form was O(distinct × tokens), pathological on
    megadocs; VERDICT r03 item 5)."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    uniq = F.array_distinct(toks)
    # (prev_token, current_run, best_run) fold over sorted tokens;
    # identical values are adjacent after the sort, so the max
    # frequency is the max run length.
    top_count = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    return docs.select(
        F.col(id_col),
        F.round((n - F.size(uniq)).cast("double") / n, 6).alias("dup_token_frac"),
        F.round(top_count.cast("double") / n, 6).alias("top_token_frac"),
        F.round(
            (F.size(grams) - F.size(F.array_distinct(grams))).cast("double")
            / F.size(grams),
            6,
        ).alias("dup_trigram_frac"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing any word
    ``n``-gram with the benchmark set — the standard n-gram-overlap
    rule for keeping eval data out of training corpora (13-gram is the
    GPT-3/PaLM convention; pass smaller ``n`` for short documents).

    Shape at 100 TB: benchmark n-gram hashes are SMALL (eval sets are
    thousands of docs) — they broadcast; corpus gram rows meet them in
    a map-side broadcast semi-join (the corpus-sized explode never
    shuffles), and only the contaminated doc-id set (small) shuffles
    for the distinct before the final broadcast anti-join back against
    the corpus. Two corpus scans, nothing corpus-sized ever moves."""

    def gram_hashes(df: DataFrame, col_id: str) -> DataFrame:
        toks = tokens_expr(text_col)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
        )
        return df.select(F.col(id_col).alias(col_id), F.explode(grams).alias("gh"))

    bench_grams = gram_hashes(benchmark, "bench_id").select("gh").distinct()
    contaminated = (
        gram_hashes(corpus, id_col)
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")


def _bloom_params_check(m_bits: int, k: int) -> None:
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def _bloom_grams(text_col: str, n: int) -> Column:
    toks = tokens_expr(text_col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def _bloom_pos(g: Column, seed: int, m_bits: int) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(g, F.lit(f"#{seed}"))), 1, 15), 16, 10
    ).cast("long")
    return h % F.lit(m_bits)


def _bit_masks() -> Column:
    """Single-bit masks by bit index (shiftleft needs a literal shift
    count, so a 64-entry lookup stands in; index 63 is the sign bit).
    Built lazily: column construction needs an active session."""
    return F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )


def build_bloom_filter(
    benchmark: DataFrame,
    n: int = 5,
    m_bits: int = 1 << 22,
    k: int = 3,
    text_col: str = "text",
) -> list[int]:
    """Fold a benchmark set into a Bloom filter over its word
    ``n``-grams: ``m_bits`` bits as a list of m_bits/64 longs. The
    build aggregates gram positions into ≤ m_bits/64 (word_idx, bits)
    rows — a map-side combining groupBy bounded by the CONSTANT m, not
    the benchmark — collected once to assemble the word array. Build
    once, probe many (the streaming decontamination reuses one filter
    across every micro-batch)."""
    _bloom_params_check(m_bits, k)
    grams = _bloom_grams(text_col, n)
    # NULL-text rows have no grams: they contribute no bits (a NULL
    # tokens array would otherwise surface as a spurious "" gram
    # through concat_ws).
    bench_pos = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(F.explode(grams).alias("g"))
        .select(
            F.explode(
                F.array(*[_bloom_pos(F.col("g"), s, m_bits) for s in range(k)])
            ).alias("pos")
        )
    )
    word_rows = (
        bench_pos.distinct()
        .groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(
            F.bit_or(
                F.element_at(_bit_masks(), (F.col("pos") % 64).cast("int") + 1)
            ).alias("bits")
        )
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in word_rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_probe_filter(
    corpus: DataFrame,
    words: list[int],
    n: int = 5,
    m_bits: int = 1 << 22,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Drop every corpus doc with an ``n``-gram whose ``k`` positions
    are all set in the prebuilt filter (``build_bloom_filter`` output,
    same n/m_bits/k). The probe is a pure per-row expression over the
    corpus (grams → k md5-derived positions → word test): one scan,
    map-only, zero shuffles, with only the bitmap (m_bits/8 bytes)
    riding along as a one-row broadcast. NULL-text docs have no grams
    and are always kept."""
    _bloom_params_check(m_bits, k)
    if len(words) != m_bits // 64:
        raise ValueError(
            f"filter has {len(words)} words; m_bits={m_bits} needs {m_bits // 64} "
            "— probe parameters must match the build"
        )
    grams = _bloom_grams(text_col, n)
    bloom = corpus.sparkSession.createDataFrame([(words,)], "`__bloom` array<long>")

    def _bit_set(p: Column) -> Column:
        word = F.element_at(F.col("__bloom"), (p / 64).cast("int") + 1)
        mask = F.element_at(_bit_masks(), (p % 64).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    def _contained(g: Column) -> Column:
        out = F.lit(True)
        for s in range(k):
            out = out & _bit_set(_bloom_pos(g, s, m_bits))
        return out

    flagged = F.col(text_col).isNotNull() & F.coalesce(
        F.exists(grams, _contained), F.lit(False)
    )
    return corpus.crossJoin(F.broadcast(bloom)).filter(~flagged).drop("__bloom")


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    m_bits: int = 1 << 22,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the FIXED-MEMORY form
    of ``decontaminate``. The exact rule broadcasts the benchmark's
    raw n-gram hash set, which grows linearly with the benchmark; here
    the benchmark folds into a Bloom filter of exactly ``m_bits`` bits
    (``build_bloom_filter``) that is the same size no matter how many
    eval suites pile into it, and the probe (``bloom_probe_filter``)
    is map-only over the corpus. Standard Bloom semantics: ZERO false
    negatives (every true n-gram leak is always dropped) and
    false-positive drops at ~(1-e^{-k·g/m})^k for g benchmark grams —
    the deliberate trade for bounded memory.

    Hashing is md5-derived integer arithmetic end-to-end (no
    engine-specific hash), so the filter — and therefore the exact
    kept set, false positives included — is reproducible bit-for-bit
    in any engine (the driver oracle replays it in ANSI SQL).
    """
    words = build_bloom_filter(benchmark, n, m_bits, k, text_col)
    return bloom_probe_filter(corpus, words, n, m_bits, k, text_col)


def passage_dedup(
    docs: DataFrame,
    tile_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-PASSAGE removal — the within/across-document
    substring dedup of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better"), re-expressed Spark-first: instead
    of a global suffix array (a single sorted structure no executor
    can hold), documents tile into fixed ``tile_tokens`` windows, each
    tile's md5 is aggregated globally, and every repeat of a tile
    beyond its first occurrence (lowest (doc_id, tile_idx)) is cut
    from its document. Catches copy-pasted boilerplate, license
    headers and mirrored passages that document-level dedup misses.

    Shape at 100 TB: tiles explode linearly (n_tokens / tile_tokens
    rows per doc); the per-hash aggregate is a map-side-combining
    groupBy (a boilerplate tile repeated millions of times collapses
    to ONE row before the exchange — no skewed window partition); the
    join back on the hash is AQE-skew-handled; the rebuild groupBy is
    keyed by doc — uniform. Nothing corpus-sized broadcasts.

    Output: (id, clean_text, n_tiles, n_tiles_removed), one row per
    input doc — a doc that was entirely duplicated passages comes back
    with empty text, not silently dropped. md5 keeps the tile digest
    engine-portable (DuckDB-checkable), like ``doc_fingerprint``.
    """
    tiled = _tiled(docs, tile_tokens, text_col, id_col)
    per_hash = tiled.groupBy("th").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("tile_idx").alias("kidx"))).alias(
            "__keeper"
        ),
    )
    flagged = tiled.join(per_hash, "th").withColumn(
        "__kept",
        (F.col("__cnt") == 1)
        | (
            (F.col(id_col) == F.col("__keeper.kid"))
            & (F.col("tile_idx") == F.col("__keeper.kidx"))
        ),
    )
    return _rebuild_docs(flagged, id_col)


def _tiled(
    docs: DataFrame, tile_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, tile_idx, tile_txt, th): fixed-width token tiles + md5."""
    toks = tokens_expr(text_col)
    n_tiles = F.ceil(F.size(toks) / F.lit(tile_tokens)).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(0), F.greatest(n_tiles - 1, F.lit(0))),
        lambda i: F.struct(
            i.alias("tile_idx"),
            F.concat_ws(" ", F.slice(toks, i * tile_tokens + 1, tile_tokens)).alias(
                "tile_txt"
            ),
        ),
    )
    return docs.select(F.col(id_col), F.explode(tiles).alias("t")).select(
        F.col(id_col),
        F.col("t.tile_idx"),
        F.col("t.tile_txt"),
        F.md5(F.col("t.tile_txt")).alias("th"),
    )


def _rebuild_docs(flagged: DataFrame, id_col: str) -> DataFrame:
    """Tile rows (+ ``__kept``) → one (id, clean_text, n_tiles,
    n_tiles_removed) row per doc; fully-removed docs come back empty,
    never dropped."""
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__kept"),
                            F.struct(F.col("tile_idx"), F.col("tile_txt")),
                        )
                    )
                ),
                lambda s: s["tile_txt"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tiles"),
        F.sum(F.when(F.col("__kept"), 0).otherwise(1)).cast("bigint").alias(
            "n_tiles_removed"
        ),
    )


def build_passage_index(
    docs: DataFrame,
    index_path: str,
    tile_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus' DISTINCT tile digests — the passage analog
    of the MinHash band index: arriving batches dedup against
    everything accepted so far without re-tiling the corpus. One
    narrow column (th), sorted within partitions for row-group
    min/max pruning on probe joins; a parameter sidecar rejects probes
    tiled with a different width. The digests land as one ``batch=``
    partition (``microbatch.replace_index``), the layout the passage
    dedup step adds its batches to."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    replace_index(
        _tiled(docs, tile_tokens, text_col, id_col)
        .select("th")
        .distinct()
        .sortWithinPartitions("th"),
        index_path,
    )
    write_index_meta(
        docs.sparkSession, index_path, "passage_tiles", {"tile_tokens": tile_tokens}
    )


def passage_dedup_against_index(
    batch: DataFrame,
    index_path: str,
    tile_tokens: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental duplicated-passage removal: a NEW batch's tiles are
    cut when their digest already exists in the persisted index (the
    corpus always wins — it holds the first occurrence) or repeats an
    earlier tile within the batch (lowest (id, tile_idx) keeps). Only
    the batch is tiled; candidates come from ONE index scan against
    the broadcast batch digest set (batch-sized, never corpus-sized),
    exactly the arriving-batch economics of the incremental MinHash
    path.

    Read-only: returns ``(cleaned_docs, kept_digests)``.
    ``kept_digests`` (one ``th`` column) are the index rows of the
    tiles the batch keeps; their one writer is
    ``streaming.dedup_stream.passage_dedup_batch_against_store``, which
    publishes them after the cleaned docs are stored (digests first
    would make a retry re-clean every doc to empty against its own
    digests). Call that step without a ``batch_id`` to add a batch
    directly.

    ``cleaned_docs``: (id, clean_text, n_tiles, n_tiles_removed) per
    batch doc.
    """
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    check_index_meta(
        spark, index_path, "passage_tiles", {"tile_tokens": tile_tokens}
    )
    tiled = _tiled(batch, tile_tokens, text_col, id_col).localCheckpoint(eager=True)
    index = spark.read.parquet(index_path)
    hit_ths = (
        index.join(F.broadcast(tiled.select("th").distinct()), "th", "left_semi")
        .select("th")
        .distinct()
        .withColumn("__in_corpus", F.lit(True))
    )
    per_hash = tiled.groupBy("th").agg(
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("tile_idx").alias("kidx"))).alias(
            "__keeper"
        )
    )
    flagged = (
        tiled.join(per_hash, "th")
        .join(F.broadcast(hit_ths), "th", "left")
        .withColumn(
            "__kept",
            F.coalesce(F.col("__in_corpus"), F.lit(False)).eqNullSafe(False)
            & (F.col(id_col) == F.col("__keeper.kid"))
            & (F.col("tile_idx") == F.col("__keeper.kidx")),
        )
    )
    kept_ths = flagged.filter(F.col("__kept")).select("th").distinct()
    return _rebuild_docs(flagged, id_col), kept_ths


def line_dedup(
    docs: DataFrame,
    line_tokens: int = 5,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    max_removed_frac: float | None = None,
) -> DataFrame:
    """Line-level boilerplate removal, the RefinedWeb / CCNet shape:
    EVERY occurrence of a line whose corpus-wide frequency exceeds
    ``max_freq`` is cut — including the first.  This is deliberately
    different from ``passage_dedup`` (which keeps the first occurrence
    of each repeated tile): repeated lines are navigation chrome,
    cookie banners and license footers, and the published pipelines
    (Penedo et al. 2023 §3.2; Wenzek et al. 2020 §4.1) drop them
    everywhere they appear rather than electing a keeper.

    Corpora with newline-delimited text would split on ``\\n``; this
    corpus is single-line, so "lines" are fixed ``line_tokens`` token
    windows (the same tiling primitive passage_dedup uses).  Frequency
    is counted over a NORMALIZED form (lowercased, non-letter/space
    characters stripped) when ``normalize`` — CCNet hashes normalized
    lines so case/punctuation variants of the same banner collapse —
    while reassembly always emits the ORIGINAL line text.

    With ``max_removed_frac`` set, documents whose removed-line
    fraction exceeds it are dropped entirely (RefinedWeb drops docs
    that are mostly duplicated chrome).

    Shape at 100 TB: identical economics to ``passage_dedup`` — the
    frequency aggregate is a map-side-combining groupBy on the line
    digest (a banner repeated millions of times collapses to ONE row
    per map partition before the exchange), the join back is a skinny
    digest-keyed equi-join AQE handles for skew, and the rebuild
    groupBy is doc-keyed.  Nothing corpus-sized broadcasts; no
    windows over skewed partitions.

    Output: (id, clean_text, n_lines, n_lines_removed) per surviving
    input doc; fully-boilerplate docs come back empty (or dropped,
    under ``max_removed_frac``), never silently lost.
    """
    lines = _lines(docs, line_tokens, text_col, id_col, normalize)
    freq = lines.groupBy("lh").agg(F.count(F.lit(1)).alias("__cnt"))
    flagged = lines.join(freq, "lh").withColumn(
        "__kept", F.col("__cnt") <= F.lit(max_freq)
    )
    out = (
        _rebuild_docs(flagged, id_col)
        .withColumnRenamed("n_tiles", "n_lines")
        .withColumnRenamed("n_tiles_removed", "n_lines_removed")
    )
    if max_removed_frac is not None:
        out = out.filter(
            F.col("n_lines_removed").cast("double") / F.col("n_lines")
            <= F.lit(max_removed_frac)
        )
    return out


def heavy_hitter_tokens(
    docs: DataFrame,
    threshold_frac: float = 0.01,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide heavy hitters: every token whose share of total
    token mass exceeds ``threshold_frac`` — the exact form of the
    frequent-items question sketches (Misra-Gries / SpaceSaving)
    answer approximately.  On Spark the EXACT answer has the same
    asymptotic cost as the sketch: the groupBy's map-side combine
    reduces each partition to its local distinct tokens (vocabulary-
    sized, not corpus-sized) before the exchange, so the shuffle
    carries |vocab| rows per partition and a hot token is ONE row per
    map task — skew-proof by construction.  Used to surface stopword
    floods and boilerplate vocabulary before filtering.

    Output: (token, cnt, frac) for hitters, frac = cnt/total rounded
    to 9 places (integer-exact until the final division).
    """
    toks = docs.select(F.explode(tokens_expr(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.lit(threshold_frac) * F.col("__total"))
        .select(
            "token",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt") / F.col("__total"), 9).alias("frac"),
        )
    )


def _hash_weight(tok: Column) -> Column:
    """Deterministic per-token weight in [-1, 1] scaled to integer
    thousandths: (md5 low 24 bits mod 2001) - 1000.  Integer until the
    caller's final division so accumulation order can't change the
    result (DuckDB-reproducible bit-for-bit)."""
    h = F.conv(F.substring(F.md5(tok), 1, 6), 16, 10).cast("bigint")
    return (h % 2001) - 1000


def linear_quality_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """fastText-shape linear document classifier: score =
    sigmoid(mean token weight), the architecture of the CCNet /
    GPT-3-era quality classifiers (a bag-of-words linear model over
    token features).  Two execution paths:

    - default (``weights=None``): weights derive from the token's md5
      (``_hash_weight``) and the whole scorer is ONE pure expression —
      ``aggregate`` folds the token array JVM-side, zero exchanges,
      zero UDFs, fully whole-stage-codegen.  The weight sum stays
      INTEGER (thousandths) until the final division, so left-fold
      order is irrelevant and DuckDB reproduces it exactly.
    - ``weights`` (token, weight) DataFrame: real learned weights —
      explode + broadcast-join the weight table (vocabulary-sized,
      always broadcastable) + per-doc sum.  Same economics as lang_id.

    With ``threshold``, rows scoring below it are dropped (the filter
    use); otherwise all docs return with their score.  Output:
    (id, n_tokens, score) — score rounded to 9 places after the one
    floating division.
    """
    toks = tokens_expr(text_col)
    n = F.size(toks).cast("bigint")
    if weights is None:
        wsum = F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + _hash_weight(t).cast("bigint"),
        )
        scored = docs.select(
            F.col(id_col),
            n.alias("n_tokens"),
            wsum.alias("__wsum"),
        )
    else:
        # explode_outer, not explode: a zero-token doc must still emit
        # its one (NULL-token) row, or the groupBy loses the doc and
        # the two paths return different row sets for the same input
        # (the hash-weight path is a pure projection and keeps it,
        # scoring 0.5 — ADVICE r05). The NULL token finds no weight,
        # coalesces to 0.0, and scores 0.5 identically.
        per_tok = docs.select(
            F.col(id_col), n.alias("n_tokens"), F.explode_outer(toks).alias("token")
        )
        scored = (
            per_tok.join(F.broadcast(weights), "token", "left")
            .groupBy(id_col, "n_tokens")
            .agg(
                F.round(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))), 6).alias(
                    "__wsum"
                )
            )
        )
    denom = F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    scale = F.lit(1000.0) if weights is None else F.lit(1.0)
    logit = F.col("__wsum").cast("double") / (scale * denom)
    out = scored.select(
        id_col,
        "n_tokens",
        # NULL text (n_tokens NULL) scores NULL on both paths — the
        # hash path's NULL fold propagates naturally; gate the learned
        # path's sum (which would see one NULL-token row and emit 0.5)
        # to match
        F.when(
            F.col("n_tokens").isNotNull(),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 9),
        ).alias("score"),
    )
    if threshold is not None:
        out = out.filter(F.col("score") >= F.lit(threshold))
    return out


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) —
    the classic cheap quality/diversity signal: machine-generated or
    highly repetitive text compresses far below natural prose, and
    near-random noise barely compresses at all (used as a filter
    bound in Gopher-descended cleaning stacks and RedPajama-v2's
    quality signal set).

    zlib lives outside the JVM, so this is the sanctioned slow path
    done right: Arrow-batched ``mapInPandas`` (one Python roundtrip
    per ~10k-row batch, never per row), map-only — zero exchanges,
    partition-parallel, output skinny (id, n_bytes, ratio). At 100 TB
    the cost is one streaming pass over text bytes with no shuffle at
    all; the plan audit pins exactly one PythonMapInArrow/MapInPandas
    node and zero exchanges.

    Output: (id, n_bytes, ratio) — n_bytes of the UTF-8 encoding;
    empty/null text yields ratio over max(n,1) so the column is never
    null/inf.
    """
    import pandas as pd

    def batches(it):
        import zlib

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n = raw.apply(len)
            comp = raw.apply(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n.astype("int64"),
                    "ratio": (comp / n.clip(lower=1)).astype("float64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} bigint, n_bytes bigint, ratio double"
    )


def _lines(
    docs: DataFrame,
    line_tokens: int,
    text_col: str,
    id_col: str,
    normalize: bool,
) -> DataFrame:
    """(id, tile_idx, tile_txt, lh): fixed-width token lines with the
    CCNet-normalized (or raw) md5 digest used for frequency counting."""
    lines = _tiled(docs, line_tokens, text_col, id_col).drop("th")
    norm = (
        F.regexp_replace(F.lower(F.col("tile_txt")), "[^a-z ]+", "")
        if normalize
        else F.col("tile_txt")
    )
    return lines.select(
        F.col(id_col), "tile_idx", "tile_txt", F.md5(norm).alias("lh")
    )


def build_line_index(
    docs: DataFrame,
    index_path: str,
    line_tokens: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> None:
    """Persist the corpus' per-line FREQUENCY counts — unlike the
    passage index (digest presence), line dedup's drop-all semantics
    need how MANY times each line has been seen, so arriving batches
    can tell 'this line existed once' (total 2 with mine -> drop)
    from 'never seen' (total 1 -> keep). Appends are additive delta
    rows summed on probe; one narrow (lh, cnt) pair per distinct
    line, sorted for row-group pruning; the parameter sidecar rejects
    probes lined/normalized differently. The counts land as one
    ``batch=`` partition (``microbatch.replace_index``), the layout
    the line dedup step adds its batches to."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    replace_index(
        _lines(docs, line_tokens, text_col, id_col, normalize)
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .sortWithinPartitions("lh"),
        index_path,
    )
    write_index_meta(
        docs.sparkSession,
        index_path,
        "line_counts",
        {"line_tokens": line_tokens, "normalize": normalize},
    )


def line_dedup_against_index(
    batch: DataFrame,
    index_path: str,
    line_tokens: int = 5,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Incremental line-level boilerplate removal: a NEW batch's line
    is cut when its corpus-so-far count plus its in-batch count
    exceeds ``max_freq`` — the drop-all semantics of
    :func:`line_dedup` extended across batches (a banner seen once
    historically and once now is gone, both here and in any future
    batch). Already-emitted docs are NOT retroactively re-cleaned —
    the standard streaming-dedup contract, same as the MinHash and
    passage incremental paths.

    Only the batch is lined; candidate counts come from ONE index
    scan semi-filtered by the broadcast batch digest set
    (batch-sized, never corpus-sized).

    Read-only: returns ``(cleaned_docs, batch_counts)``.
    ``batch_counts`` (``lh``, ``cnt``) are the batch's additive delta
    rows, summed with the index's on the next probe; their one writer
    is ``streaming.dedup_stream.line_dedup_batch_against_store``, which
    publishes them once per batch, after its store rows. Call that step
    without a ``batch_id`` to add a batch directly.

    ``cleaned_docs``: (id, clean_text, n_lines, n_lines_removed) per
    batch doc.
    """
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    check_index_meta(
        spark,
        index_path,
        "line_counts",
        {"line_tokens": line_tokens, "normalize": normalize},
    )
    lines = _lines(batch, line_tokens, text_col, id_col, normalize).localCheckpoint(
        eager=True
    )
    batch_counts = lines.groupBy("lh").agg(F.count(F.lit(1)).alias("cnt"))
    index = spark.read.parquet(index_path)
    hit_counts = (
        index.join(F.broadcast(batch_counts.select("lh")), "lh", "left_semi")
        .groupBy("lh")
        .agg(F.sum("cnt").cast("bigint").alias("__icnt"))
    )
    totals = batch_counts.join(F.broadcast(hit_counts), "lh", "left").select(
        "lh",
        (F.col("cnt") + F.coalesce(F.col("__icnt"), F.lit(0))).alias("__total"),
    )
    flagged = lines.join(F.broadcast(totals), "lh").withColumn(
        "__kept", F.col("__total") <= F.lit(max_freq)
    )
    cleaned = (
        _rebuild_docs(flagged, id_col)
        .withColumnRenamed("n_tiles", "n_lines")
        .withColumnRenamed("n_tiles_removed", "n_lines_removed")
    )
    return cleaned, batch_counts


def duplicate_substring_spans(
    docs: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated-substring spans — the third exact-dedup
    granularity of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better") after document- and passage-level: a
    token position is DUPLICATED when the ``min_tokens``-gram starting
    there occurs more than once anywhere in the corpus (any document,
    any offset — boilerplate that straddles the fixed line/passage
    tile boundaries still matches, which is exactly what
    ``passage_dedup``/``line_dedup`` cannot see); maximal runs of
    consecutive duplicated positions merge into one span (a run of m
    grams covers ``m + min_tokens - 1`` tokens).

    Spark-first substitute for the paper's global suffix array (one
    sorted structure no executor can hold): gram fingerprints
    aggregate through a map-side-combining groupBy — a boilerplate
    gram repeated millions of times collapses to ONE row per map
    partition before the exchange — the duplicate-mark join is a
    skinny hash-keyed equi-join AQE skew-handles, and run merging is
    a window partitioned by document (bounded width). Span text is
    re-sliced from one extra corpus scan at the end, never carried
    through the shuffles. No all-pairs stage exists at any size.

    Output: (id, span_start, n_tokens, span_text), one row per
    maximal duplicate run; span_start is a 0-based token offset.
    """
    from pyspark.sql import Window

    k = int(min_tokens)
    if k < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    base = _token_arrays(docs, k, text_col, id_col)
    # The positions frame feeds BOTH the per-gram frequency aggregate
    # and the duplicate-mark join, and Spark shares no common subtree
    # across them — without a checkpoint the corpus is re-tokenized and
    # re-hashed per consumer (the r06 simhash lesson). Lazy, so plan
    # construction and plan tests stay free.
    positions = base.select(
        id_col, F.posexplode(_gram_hashes(k)).alias("pos", "gh")
    ).localCheckpoint(eager=False)
    dup = (
        positions.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > 1)
        .select("gh")
    )
    marked = positions.join(dup, "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        marked.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("n_tokens"),
        )
    )
    return spans.join(base, id_col).select(
        id_col,
        "span_start",
        "n_tokens",
        F.concat_ws(
            " ",
            F.slice(
                F.col("__toks"),
                (F.col("span_start") + 1).cast("int"),
                F.col("n_tokens").cast("int"),
            ),
        ).alias("span_text"),
    )


def substring_dedup(
    docs: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut every duplicated substring except its corpus-first
    occurrence, rebuilding each document from the surviving tokens —
    the removal form of ``duplicate_substring_spans``.

    Keeper rule: per duplicated gram the single occurrence with the
    lowest (id, pos) keeps its text; a token is cut iff some
    NON-keeper duplicated-gram occurrence covers it. A
    wholly-duplicated document therefore comes back EMPTY (never
    silently dropped) while the lowest-id original survives verbatim
    — the same first-occurrence-wins policy ``passage_dedup`` uses,
    at token rather than tile granularity. Documents shorter than
    ``min_tokens`` tokens pass through unchanged; NULL-text rows are
    excluded (no tokens to keep or cut), matching ``_lines``.

    Shape at 100 TB: identical economics to the span detector — one
    map-side-combined groupBy on the gram fingerprint (carrying the
    min-(id,pos) keeper as a struct-min, still one row per gram), one
    skinny equi-join back, one doc-partitioned window; the rebuild is
    an array filter over the cut intervals (a per-doc list bounded by
    doc length), evaluated in one codegen'd projection — no explode
    of covered token positions.

    Output: (id, clean_text, n_tokens, n_tokens_removed).
    """
    from pyspark.sql import Window

    k = int(min_tokens)
    if k < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    allb = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    )
    base = allb.filter(F.size("__toks") >= k)
    # Lazy-checkpointed for the same two-consumer reason as the span
    # detector: the keeper aggregate and the cut join would otherwise
    # each re-derive the gram explosion.
    positions = base.select(
        id_col, F.posexplode(_gram_hashes(k)).alias("pos", "gh")
    ).localCheckpoint(eager=False)
    per_gram = positions.groupBy("gh").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias(
            "__keeper"
        ),
    )
    cut = (
        positions.join(per_gram, "gh")
        .filter(
            (F.col("__cnt") > 1)
            & ~(
                (F.col(id_col) == F.col("__keeper.kid"))
                & (F.col("pos") == F.col("__keeper.kpos"))
            )
        )
        .select(id_col, "pos")
    )
    return _remove_cut_positions(allb, cut, k, id_col)


def substring_dedup_against_index(
    batch: DataFrame,
    index_path: str,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental substring REMOVAL: cut every batch token covered by
    a gram the corpus index already holds (the corpus' occurrence is
    the keeper by definition — it was accepted first) or by a
    non-batch-first occurrence of a within-batch repeat; rebuild each
    doc from its survivors. The removal twin of
    :func:`duplicate_substring_spans_against_index`, completing the
    build/probe/remove symmetry the line and passage granularities
    already have.

    Read-only. The grams to index are those of the SURVIVOR text, so
    they come after the cut, not from the probe: their one writer is
    ``streaming.dedup_stream.substring_dedup_batch_against_store``,
    which stores the cleaned docs and then publishes their novel grams.
    Call that step without a ``batch_id`` to add a batch directly.

    Output: (id, clean_text, n_tokens, n_tokens_removed), one row per
    batch doc with text."""
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    k = int(min_tokens)
    check_index_meta(spark, index_path, "substring_grams", {"min_tokens": k, "scheme": "xx128"})
    allb = (
        batch.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
    )
    base = allb.filter(F.size("__toks") >= k)
    positions = base.select(
        id_col, F.posexplode(_gram_hashes(k)).alias("pos", "gh")
    ).localCheckpoint(eager=False)
    hit = (
        spark.read.parquet(index_path)
        .join(F.broadcast(positions.select("gh").distinct()), "gh", "left_semi")
        .select("gh")
        .distinct()
        .withColumn("__indexed", F.lit(True))
    )
    per_gram = positions.groupBy("gh").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias(
            "__keeper"
        ),
    )
    cut = (
        positions.join(per_gram, "gh")
        .join(F.broadcast(hit), "gh", "left")
        .filter(
            F.coalesce(F.col("__indexed"), F.lit(False))  # corpus keeps it
            | (
                (F.col("__cnt") > 1)
                & ~(
                    (F.col(id_col) == F.col("__keeper.kid"))
                    & (F.col("pos") == F.col("__keeper.kpos"))
                )
            )
        )
        .select(id_col, "pos")
    )
    return _remove_cut_positions(allb, cut, k, id_col)


def _remove_cut_positions(
    allb: DataFrame, cut: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Rebuild docs with every token covered by a cut gram position
    removed: merge cut positions into [s, e) intervals per doc (a run
    of grams covers run + k - 1 tokens), then one codegen'd array
    filter over the token array — no explode of covered positions."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    intervals = (
        cut.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__grp")
        .agg(F.min("pos").alias("s"), (F.max("pos") + F.lit(k)).alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__iv"))
    )
    joined = allb.join(intervals, id_col, "left")
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size("__toks") - 1),
        lambda i: ~F.coalesce(
            F.exists("__iv", lambda v: (i >= v["s"]) & (i < v["e"])), F.lit(False)
        ),
    )
    kept = F.transform(kept_idx, lambda i: F.element_at("__toks", i + 1))
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE pair merges over the corpus —
    the iterative trainer that completes the tokenizer story the
    fertility/vocab ops (``bytes_per_token``, t_vocab_ids) measure
    from the outside: words weighted by corpus frequency start as
    character sequences; each iteration counts adjacent symbol pairs,
    merges the globally most frequent one (ties broken lexicographic
    on (lhs, rhs)), and repeats on the merged sequences (Sennrich et
    al. 2016). Merge application is greedy non-overlapping
    left-to-right — ``aaaa`` + merge(a,a) → ``(aa)(aa)``.

    Spark shape: the pair count is a map-side-combining groupBy over
    an exploded pairs column; only the single argmax row ever reaches
    the driver per iteration (the k-means/IVF pattern — a bounded
    driver round-trip steering the next distributed step, the same
    way any iterative trainer must). The merge itself is a pure
    Catalyst ``aggregate`` fold over the symbol array — no Python in
    any per-row path — and each iteration's symbol frame is EAGERLY
    localCheckpointed so iteration i+1 does not re-embed i's whole
    derivation (the r06 pagerank lesson), and the one it replaces is
    released (``operators.pins.unpin``); the merge table is built from
    the collected merges, so no pin outlives the call. The symbol frame is
    vocab-sized (distinct words), orders of magnitude smaller than
    the corpus it summarizes.

    Output: (it, lhs, rhs, merged, pair_count) — the merge table, one
    row per learned merge in training order.
    """
    spark = docs.sparkSession
    words = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens_expr(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.sum(F.lit(1)).cast("bigint").alias("freq"))
    )
    cur = words.select(
        "freq", F.split("w", "").alias("syms")
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(int(n_merges)):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("lhs"),
                            F.element_at("syms", i + 2).alias("rhs"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "lhs", "rhs").limit(1).collect()
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], int(top[0]["cnt"])
        merges.append((it, lhs, rhs, lhs + rhs, cnt))
        # Greedy left-to-right fold: merge (lhs, rhs) wherever the pair
        # is adjacent, never re-consuming a just-merged symbol. F.get
        # (not element_at) so the empty-accumulator probe is NULL-safe
        # under ANSI mode.
        folded = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(lhs)) & (s == F.lit(rhs)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(lhs + rhs))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        done, cur = cur, cur.select("freq", folded.alias("syms")).localCheckpoint(eager=True)
        unpin(done)
    unpin(cur)
    return spark.createDataFrame(
        merges, "it bigint, lhs string, rhs string, merged string, pair_count bigint"
    )


def build_substring_index(
    docs: DataFrame,
    index_path: str,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus' DISTINCT ``min_tokens``-gram fingerprints —
    the substring analog of the passage-tile index: arriving batches
    find their duplicate spans against everything accepted so far
    without re-hashing the corpus. One narrow bigint column (gh),
    sorted within partitions for row-group min/max pruning on probe
    joins; a parameter sidecar rejects probes hashed with a different
    gram width. The grams land as one ``batch=`` partition
    (``microbatch.replace_index``), the layout the substring dedup
    step adds its batches to."""
    from faexport_db_spark.streaming.microbatch import replace_index
    from faexport_db_spark.training.indexmeta import write_index_meta

    k = int(min_tokens)
    base = _token_arrays(docs, k, text_col, id_col)
    replace_index(
        base.select(F.explode(_gram_hashes(k)).alias("gh"))
        .distinct()
        .sortWithinPartitions("gh"),
        index_path,
    )
    write_index_meta(
        docs.sparkSession, index_path, "substring_grams", {"min_tokens": k, "scheme": "xx128"}
    )


def _novel_grams(
    batch: DataFrame, index_path: str, min_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """The batch's distinct gram fingerprints the index does not hold
    yet, sorted for row-group pruning. The hidden-dir publish never
    writes into the listing this frame read, so it needs no pin."""
    k = int(min_tokens)
    return (
        _token_arrays(batch, k, text_col, id_col)
        .select(F.explode(_gram_hashes(k)).alias("gh"))
        .distinct()
        .join(batch.sparkSession.read.parquet(index_path), "gh", "left_anti")
        .sortWithinPartitions("gh")
    )


def duplicate_substring_spans_against_index(
    batch: DataFrame,
    index_path: str,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental substring-span detection: maximal runs in the BATCH
    whose grams are already in the corpus index OR repeat within the
    batch itself — the third granularity's analog of
    ``passage_dedup_against_index``. Same output shape as
    :func:`duplicate_substring_spans`.

    Shape at 100 TB: the index (corpus-sized, one bigint column) is
    probed with a LEFT-SEMI against the batch's broadcast distinct
    grams — the corpus-sized side is scanned once with row-group
    pruning and never shuffled; hit grams (batch-bounded) broadcast
    back to mark positions. Island merging and the span-text re-slice
    are batch-local."""
    from pyspark.sql import Window

    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    k = int(min_tokens)
    check_index_meta(spark, index_path, "substring_grams", {"min_tokens": k, "scheme": "xx128"})
    base = _token_arrays(batch, k, text_col, id_col)
    positions = base.select(
        id_col, F.posexplode(_gram_hashes(k)).alias("pos", "gh")
    ).localCheckpoint(eager=False)
    hit = (
        spark.read.parquet(index_path)
        .join(
            F.broadcast(positions.select("gh").distinct()), "gh", "left_semi"
        )
        .select("gh")
        .distinct()
    )
    batch_dup = (
        positions.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("gh")
    )
    dup = hit.unionByName(batch_dup).distinct()
    marked = positions.join(F.broadcast(dup), "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        marked.withColumn("__grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("n_tokens"),
        )
    )
    return spans.join(base, id_col).select(
        id_col,
        "span_start",
        "n_tokens",
        F.concat_ws(
            " ",
            F.slice(
                F.col("__toks"),
                (F.col("span_start") + 1).cast("int"),
                F.col("n_tokens").cast("int"),
            ),
        ).alias("span_text"),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table (``bpe_merges`` output order) to the
    corpus — the encoder half of the tokenizer story: each word splits
    to characters, then every merge applies in training order with the
    same greedy non-overlapping left-to-right fold the trainer used.

    Pure Catalyst: the merge sequence compiles to nested ``aggregate``
    folds inside one ``transform`` over the token array — zero Python,
    zero shuffles, map-only over the corpus (the merge table is a
    driver-side literal, exactly as a tokenizer vocabulary ships to
    executors in a broadcast — but folded into the plan since it is
    tiny). Output: (id, n_ws_tokens, n_chars, n_bpe_tokens) — the
    realized fertility ``bytes_per_token`` estimates from the outside.
    """

    def apply_one(syms: Column, lhs: str, rhs: str) -> Column:
        return F.aggregate(
            syms,
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(lhs)) & (s == F.lit(rhs)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(lhs + rhs))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )

    def encode_word(w: Column) -> Column:
        syms = F.split(w, "")
        for lhs, rhs in merges:
            syms = apply_one(syms, lhs, rhs)
        return F.size(syms)

    toks = tokens_expr(text_col)
    counts = F.transform(toks, encode_word)
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
        F.aggregate(
            counts, F.lit(0), lambda acc, c: acc + c
        ).cast("bigint").alias("n_bpe_tokens"),
    )


def _token_arrays(
    docs: DataFrame, min_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, __toks) for docs long enough to hold one min_tokens-gram."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_expr(text_col).alias("__toks"))
        .filter(F.size("__toks") >= min_tokens)
    )


def _gram_hashes(k: int) -> Column:
    """128-bit gram fingerprint (two independently-seeded xxhash64
    longs as a struct) of each k-token gram of ``__toks``, one per
    0-based start position — the shuffle never carries gram text.

    TWO hashes, not one, because this family DROPS DATA on fingerprint
    equality (the removal form cuts every token a duplicated gram
    covers): at 100 TB gram counts a single 64-bit hash takes birthday
    collisions (~n²/2^65 colliding pairs) that silently mutilate clean
    documents; 128 combined bits push that below ~2^-60 per pair —
    the same double-digest rule the media exact-dedup stage applies.
    Struct keys group/join/sort identically to the old long at 2× the
    shuffle width (16 bytes — still far below carrying gram text)."""
    def fp(i: Column) -> Column:
        g = F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, F.lit(k)))
        return F.struct(
            F.xxhash64(g).alias("h1"), F.xxhash64(F.lit(2), g).alias("h2")
        )

    return F.transform(F.sequence(F.lit(0), F.size("__toks") - F.lit(k)), fp)


def chunk_documents(
    docs: DataFrame,
    width: int = 400,
    stride: int = 300,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style document chunking: fixed ``width``-character windows
    every ``stride`` characters (overlap = width - stride), last chunk
    allowed to run short so every character is covered exactly once by
    at least one chunk. Char-based (not token-based) so the chunk
    boundary arithmetic stays a pure integer expression — token-aware
    packing is ``sequence_pack``'s job.

    Map-only: one generator (posexplode of an integer sequence) per
    row, no shuffle, so it scales linearly and parallelizes with the
    scan. The substring evaluates on the stored text column, not a
    recomputed subtree, so the generator fan-out is cheap.

    Output: (id, chunk_idx, chunk_text, n_chunk_chars), chunk_idx
    0-based in document order.
    """
    if stride <= 0 or width <= 0 or stride > width:
        raise ValueError(f"need 0 < stride <= width, got {width=} {stride=}")
    n = F.length(F.col(text_col))
    last = F.when(n <= width, F.lit(0)).otherwise(
        F.ceil((n - F.lit(width)) / F.lit(float(stride)))
    )
    rows = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(F.sequence(F.lit(0), last.cast("bigint"))).alias("chunk_idx"),
    )
    chunk = F.substring(
        F.col(text_col), (F.col("chunk_idx") * stride + 1).cast("int"), width
    )
    return rows.select(
        id_col,
        "chunk_idx",
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("n_chunk_chars"),
    )


def pmi_bigrams(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: pointwise mutual information over adjacent
    lowercased whitespace-token bigrams, PMI = ln(p(ab) / (p(a)p(b)))
    with p(ab) from the bigram total and p(a), p(b) from the unigram
    total. The classic corpus-analysis signal for multi-word
    expressions ("new york") vs chance co-occurrence.

    Scale shape: bigrams are built inside the row (zip_with of the
    token array against its own tail — no self-join, no window), so
    the only shuffles are the two count groupBys, both with map-side
    partial aggregation on bounded vocabulary keys. The three totals
    travel as a broadcast 1-row frame. ``min_count`` prunes the
    hapax tail BEFORE the unigram joins, and both unigram lookups
    arrive pre-shrunk to the surviving bigrams' vocabulary.

    Output: (w1, w2, pair_count, pmi), pmi rounded to 4 decimals.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(
            toks,
            tail,
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        docs.select(F.explode(pairs).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("nu"),
    ).crossJoin(
        docs.select(
            (F.greatest(F.size(toks) - 1, F.lit(0))).alias("nb_row")
        ).agg(F.sum("nb_row").cast("double").alias("nb"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(totals))
    )
    # identical association order on both engines: ((c*nu)*nu) / ((nb*ca)*cb)
    arg = (F.col("pair_count").cast("double") * F.col("nu") * F.col("nu")) / (
        F.col("nb") * F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    return scored.select(
        "w1",
        "w2",
        F.col("pair_count").cast("bigint").alias("pair_count"),
        # + 0 normalizes IEEE negative zero: a bigram at exactly chance
        # co-occurrence lands on ln(1±ulp), and one engine rounding to
        # -0.0 while the other gives +0.0 would break value parity
        (F.round(F.log(arg), 4) + F.lit(0.0)).alias("pmi"),
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy (bits/char) over the character
    distribution — the cheap "is this text or noise" quality signal
    (near 0 = degenerate repetition, ~4.1 = English prose, ~7+ =
    compressed/encrypted junk that slipped past charset checks).

    Scale shape: a corpus-wide explode-to-one-row-per-CHARACTER and
    two groupBys would shuffle ~the corpus byte count × row overhead;
    instead each doc's histogram is computed inside an Arrow-batched
    pandas UDF (numpy unique + vectorized c·ln c), map-only, ZERO
    exchanges — the plan is scan → project, and the operator
    parallelizes with the input partitioning. Non-BMP caveat: Python
    iterates code points, matching DuckDB's character split on all
    BMP text (the fixtures' en/de/fr/es/zh all are); astral-plane
    graphemes would need the same NFC pre-pass as unicode_clean.

    Output: (id, char_entropy, n_chars_counted), entropy rounded to
    4 decimals, H = (ln n - Σ c·ln c / n) / ln 2.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ent_fn(s):
        out = []
        for t in s:
            if t is None:  # NULL text -> NULL entropy (not 0.0: absent
                out.append(None)  # data is not the same as degenerate data)
                continue
            if not t:
                out.append(0.0)
                continue
            counts = np.unique(list(t), return_counts=True)[1].astype("float64")
            n = counts.sum()
            h = (np.log(n) - float((counts * np.log(counts)).sum()) / n) / np.log(2.0)
            out.append(round(h, 4))
        return pd.Series(out, dtype="float64")

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark's hint parser can't resolve pd.Series here
    _ent_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _ent = pandas_udf(_ent_fn, "double")

    return docs.select(
        F.col(id_col),
        _ent(F.col(text_col)).alias("char_entropy"),
        F.length(text_col).cast("bigint").alias("n_chars_counted"),
    )


def length_buckets(
    docs: DataFrame,
    bucket: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching audit: assign every doc to the next
    multiple-of-``bucket`` token capacity (the pad-to-block-size rule
    dynamic-batching trainers use) and report, per bucket, how much
    compute padding would waste. Drives the choice of bucket
    granularity before a training run — a 100 TB corpus padded 30%
    is 30 TB of wasted FLOPs.

    All integer arithmetic (no log2/pow floats, so the bucket edges
    are exact and engine-portable); one groupBy on a small key domain
    with map-side partial aggregation.

    Output: (bucket_cap, n_docs, sum_tokens, padded_tokens,
    waste_pct) sorted nowhere — the oracle compares as a set.
    """
    # NULL text -> NULL count/bucket (Spark's size(NULL) = -1 would
    # otherwise invent a phantom bucket 0 where SQL engines emit NULL)
    n = (
        F.when(F.col(text_col).isNull(), F.lit(None))
        .otherwise(F.size(tokens_expr(text_col)))
        .cast("bigint")
    )
    cap = (
        F.floor((n + F.lit(bucket - 1)) / F.lit(bucket)) * F.lit(bucket)
    ).cast("bigint")
    agg = (
        docs.select(cap.alias("bucket_cap"), n.alias("n_tokens"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )
    padded = F.col("bucket_cap") * F.col("n_docs")
    return agg.select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        F.round(
            F.lit(1.0) - F.col("sum_tokens").cast("double") / padded.cast("double"), 4
        ).alias("waste_pct"),
    )


def iqr_outliers(
    docs: DataFrame,
    group_col: str = "source",
    k: float = 1.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Robust per-group length-outlier flagging: Tukey fences at
    q1 − k·IQR / q3 + k·IQR on the whitespace token count, computed
    PER ``group_col`` — a source whose docs are normally 10k tokens
    shouldn't have its longform flagged by a corpus-global threshold,
    and a spam source's 3-token stubs shouldn't hide inside the
    global median. The robust (quantile) form is deliberate: mean±σ
    fences are dragged by the very outliers they're meant to catch.

    Scale shape: one exact grouped percentile aggregate over the
    (bounded) group domain, broadcast back onto the corpus — one
    corpus shuffle total is avoided entirely; the fence frame is
    group-cardinality-sized. Exact percentile buffers per-group
    values in the reduce state (fine for bounded group counts; swap
    ``F.percentile`` for ``approx_percentile`` when groups are huge
    — same plan, estimator values).

    Output: (id, group, n_tokens, lo_fence, hi_fence, is_outlier);
    fences rounded to 4 for display, flag computed on unrounded.
    """
    base = docs.select(
        F.col(id_col),
        F.col(group_col),
        # NULL text -> NULL count (size(NULL) = -1 would read as a
        # 'negative-length doc' and always flag as a low outlier)
        F.when(F.col(text_col).isNull(), F.lit(None))
        .otherwise(F.size(tokens_expr(text_col)))
        .cast("bigint")
        .alias("n_tokens"),
    )
    fences = base.groupBy(group_col).agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("q1"),
        F.percentile("n_tokens", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - k * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + k * (F.col("q3") - F.col("q1"))
    return (
        base.join(F.broadcast(fences), group_col)
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.round(lo, 4).alias("lo_fence"),
            F.round(hi, 4).alias("hi_fence"),
            ((F.col("n_tokens") < lo) | (F.col("n_tokens") > hi)).alias("is_outlier"),
        )
    )


def bytes_per_token(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-efficiency report per group: characters per BPE-ish
    token and per whitespace token, aggregated per language/source —
    the fertility table that decides whether a tokenizer (or corpus
    mix) punishes a language (high chars/token = more compute per
    byte of signal). Ratio of SUMS, not mean of ratios, so long docs
    weigh in proportion to their cost. One map-side-combining
    aggregate over a bounded group domain; pure codegen expressions.

    Output: (group, n_docs, sum_chars, sum_bpe_tokens,
    chars_per_bpe_token, chars_per_ws_token) rounded to 6.
    """
    nc = F.length(text_col).cast("bigint")
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).cast(
        "bigint"
    )
    ws = F.size(tokens_expr(text_col)).cast("bigint")
    agg = (
        docs.select(F.col(group_col), nc.alias("nc"), bpe.alias("bp"), ws.alias("ws"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("sum_chars"),
            F.sum("bp").cast("bigint").alias("sum_bpe_tokens"),
            F.sum("ws").cast("bigint").alias("sum_ws"),
        )
    )
    return agg.select(
        group_col,
        "n_docs",
        "sum_chars",
        "sum_bpe_tokens",
        F.round(F.col("sum_chars").cast("double") / F.col("sum_bpe_tokens"), 6).alias(
            "chars_per_bpe_token"
        ),
        F.round(F.col("sum_chars").cast("double") / F.col("sum_ws"), 6).alias(
            "chars_per_ws_token"
        ),
    )


# Entity decode order matters: ``&amp;`` must decode LAST so markup
# like ``&amp;lt;`` yields the literal text ``&lt;`` rather than
# double-decoding to ``<`` (the html5 spec's one-pass rule).
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    out_col: str = "extracted",
) -> DataFrame:
    """HTML → text extraction: the first step of every crawl-derived
    training corpus (the WET-file step of a CommonCrawl pipeline).
    Drops ``<script>``/``<style>`` subtrees wholesale, strips remaining
    tags to spaces, decodes the common ASCII entities in one-pass
    order, and collapses whitespace.

    Pure Catalyst and map-only: a fixed chain of ``regexp_replace`` /
    literal ``replace`` projections — no shuffle, no Python, whole-
    stage-codegen end to end, so at 100 TB this runs at parquet-scan
    speed. Regexes are RE2-compatible (non-greedy ``[\\s\\S]*?`` block
    bodies, no lookahead) so the exact chain is replayable in ANSI-SQL
    engines for differential checking.

    A real extractor adds boilerplate removal (nav/footer text-density
    pruning a la trafilatura); that is a scoring pass over this
    output's block structure, not a different plumbing shape. Known
    regex-chain limits, shared by every regex extractor: a quoted
    attribute value containing ``>`` truncates that tag's strip, and
    mismatched ``<script`` blocks drop to end-of-document — acceptable
    for crawl-scale filtering, not for DOM-fidelity use.
    """
    c = F.col(html_col)
    c = F.regexp_replace(c, r"<script[^>]*>[\s\S]*?</script>", " ")
    c = F.regexp_replace(c, r"<style[^>]*>[\s\S]*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return docs.filter(F.col(html_col).isNotNull()).select(
        F.col(id_col), c.alias(out_col)
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram,
    slide a ``w``-hash window, select each window's MINIMUM hash with
    the RIGHTMOST occurrence winning ties, emit the distinct selected
    (position, hash) pairs. Unlike the 0-mod-p sketch
    (``doc_fingerprint``), winnowing carries a detection GUARANTEE:
    any shared run of at least w + k − 1 tokens between two documents
    shares at least one selected fingerprint, while keeping density at
    ~2/(w+1) of all grams.

    Map-only pure Catalyst: gram hashing, the per-window rightmost-min
    fold and the distinct selection all happen inside one narrow
    projection per doc — zero exchanges, zero Python, so at 100 TB
    fingerprinting runs at scan speed and only the (small) selected
    set ever reaches a downstream match join. md5 keeps the hash
    engine-portable (oracle-checkable). The gram array is let-bound
    via the 1-element-transform trick so the w lookups per window index
    an EVALUATED array instead of re-running the gram pass
    (the shingle_hashes O(tokens²) lesson).

    Docs with fewer than w grams winnow their whole gram list as one
    window (the standard short-document convention).
    Output: (id, pos, fp) — 0-based gram position, lowercase hex hash.
    """
    toks = tokens_expr(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
    )
    # "~" (0x7e) sorts above every hex digit, so the first in-range
    # hash always replaces the seed; NULL lookups past the gram list
    # (short docs) keep the accumulator via the null-condition fall-through.
    seed = F.struct(F.lit("~").alias("mh"), F.lit(-1).alias("mp"))

    def windows_of(gv: Column) -> Column:
        def pick(s: Column) -> Column:
            return F.aggregate(
                F.sequence(F.lit(1), F.lit(w)),
                seed,
                lambda acc, j: F.when(
                    F.try_element_at(gv, s + j) <= acc["mh"],
                    F.struct(
                        F.try_element_at(gv, s + j).alias("mh"),
                        (s + j - 1).alias("mp"),
                    ),
                ).otherwise(acc),
            )

        starts = F.sequence(F.lit(0), F.greatest(F.size(gv) - w, F.lit(0)))
        return F.array_distinct(F.transform(starts, pick))

    sel = F.element_at(F.transform(F.array(grams), windows_of), 1)
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(sel).alias("s"))
        .select(
            id_col,
            F.col("s.mp").cast("bigint").alias("pos"),
            F.col("s.mh").alias("fp"),
        )
    )


def winnowing_match_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    max_bucket: int | None = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate match pairs from shared winnowing fingerprints — what
    the selection exists FOR: documents sharing any token run of
    ≥ w+k−1 are guaranteed to collide on a fingerprint, at ~2/(w+1)
    of the gram-index cost of the full shared-shingle join
    (``t_ngram_jaccard_pairs``' candidate stage). Same bucket shape as
    every LSH path: distinct (doc, fp) entries groupBy the fingerprint
    and expand pairs within the posting list (never all-pairs), with
    the ``max_bucket`` stop-fingerprint guard for boilerplate runs.
    Output: (id_a, id_b, n_shared) with id_a < id_b — feed to an
    exact verifier (Jaccard/containment) as with every candidate op.
    """
    from faexport_db_spark.training.dedup import _bucket_pairs

    entries = winnowing_fingerprints(docs, k, w, text_col, id_col).select(
        F.col(id_col), "fp"
    )
    pairs = _bucket_pairs(entries, ["fp"], F.col(id_col), max_bucket)
    return (
        pairs.groupBy(F.col("ma").alias("id_a"), F.col("mb").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


def build_winnowing_index(
    docs: DataFrame,
    index_path: str,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus' selected winnowing fingerprints — distinct
    (doc_id, fp), sorted by fp for row-group min/max pruning on probe
    joins — plus a parameter sidecar (a probe winnowed with different
    k/w selects different fingerprints and would silently match
    nothing)."""
    from faexport_db_spark.training.indexmeta import write_index_meta

    (
        winnowing_fingerprints(docs, k, w, text_col, id_col)
        .select(id_col, "fp")
        .distinct()
        .sortWithinPartitions("fp")
        .write.mode("overwrite")
        .parquet(index_path)
    )
    write_index_meta(
        docs.sparkSession, index_path, "winnowing_fps",
        {"k": int(k), "w": int(w), "scheme": "md5grams1"},
    )


def winnowing_match_against_index(
    batch: DataFrame,
    index_path: str,
    k: int = 3,
    w: int = 4,
    max_bucket: int | None = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate matches between a NEW batch and the winnowing-indexed
    corpus — the incremental form: only the batch is fingerprinted
    (map-only); the corpus index is scanned once, pruned by a
    left-semi against the batch's broadcast distinct fingerprints, and
    the w+k−1 guarantee carries over (a shared long-enough run between
    a batch doc and ANY indexed doc must collide). ``max_bucket``
    skips boilerplate fingerprints by indexed posting-list size.
    Output: (id_a = batch id, id_b = indexed id, n_shared)."""
    from faexport_db_spark.training.indexmeta import check_index_meta

    spark = batch.sparkSession
    check_index_meta(
        spark, index_path, "winnowing_fps",
        {"k": int(k), "w": int(w), "scheme": "md5grams1"},
    )
    entries = (
        winnowing_fingerprints(batch, k, w, text_col, id_col)
        .select(id_col, "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    bkeys = entries.select("fp").distinct()
    matched = spark.read.parquet(index_path).join(
        F.broadcast(bkeys), "fp", "left_semi"
    )
    if max_bucket is not None:
        oversized = (
            matched.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("fp")
        )
        matched = matched.join(F.broadcast(oversized), "fp", "left_anti")
    a = entries.select("fp", F.col(id_col).alias("id_a"))
    b = matched.select("fp", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


def html_links(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Outlink extraction — the crawl-pipeline companion of
    ``html_extract``: every ``href`` of an ``<a>`` tag, with its
    0-based ordinal within the document, feeding link-graph
    construction / frontier scheduling. Map-only pure Catalyst
    (``regexp_extract_all`` + ``posexplode``), RE2-compatible pattern
    (no lookarounds), runs at scan speed at 100 TB; NULL html rows and
    anchor-less docs yield no rows.

    Same fidelity contract as ``html_extract``: regex-level parsing —
    attribute values containing ``>`` or unquoted hrefs are out of
    scope (DOM-fidelity needs a parser, not a different plan shape).
    Output: (id, link_no, href).
    """
    # The tag name is anchored: after ``<a`` either the attribute list
    # starts with whitespace or the href follows directly — so tags
    # that merely START with 'a' (<area>, <abbr ...>, <audio ...>)
    # can never be extracted as anchors and inflate the link graph.
    links = F.expr(
        f"regexp_extract_all({html_col},"
        " '<a(\\\\s[^>]*)?\\\\shref=\"([^\"]*)\"', 2)"
    )
    return (
        docs.filter(F.col(html_col).isNotNull())
        .select(F.col(id_col), F.posexplode(links).alias("link_no", "href"))
        .select(id_col, F.col("link_no").cast("bigint").alias("link_no"), "href")
    )


def link_domains(
    links: DataFrame,
    href_col: str = "href",
    id_col: str = "doc_id",
) -> DataFrame:
    """Outlink domain degree table over ``html_links`` output — the
    link-graph aggregation a crawl scheduler reads: per target domain,
    total outlinks pointing at it and how many distinct source
    documents point at it. Domain = the authority part of an http(s)
    URL (RE2-compatible extract, map-only); non-http(s) hrefs
    (mailto:, fragments, relative paths) aggregate under '' so they
    stay visible rather than silently dropped.

    One map-side-combining groupBy bounded by the domain count —
    at crawl scale domains are millions while links are trillions, so
    the shuffle carries pre-combined (domain, count) partials only.
    Output: (domain, n_links, n_docs)."""
    dom = F.regexp_extract(F.col(href_col), r"^https?://([^/]+)", 1)
    return (
        links.select(F.col(id_col), dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_links"),
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
        )
    )


def crawl_frontier(
    links: DataFrame,
    href_col: str = "href",
    ordinal_col: str = "link_no",
) -> DataFrame:
    """Politeness-scheduled crawl frontier over ``html_links`` output:
    distinct absolute http(s) URLs ranked into fetch WAVES, one fetch
    per domain per wave — the per-host rate-limit discipline every
    crawler needs, expressed as a window rank. A URL's priority is its
    best (lowest) ordinal across referring pages, ties broken by the
    URL itself, so the schedule is fully deterministic.

    Scale shape: one groupBy on the URL (dedup + min-ordinal, map-side
    combining) and one window partitioned BY DOMAIN — millions of
    domains at crawl scale, so the rank parallelizes per-host and
    nothing single-partitions; there is deliberately NO global fetch
    sequence (a global row_number would be exactly the
    Exchange-SinglePartition trap sequence_pack avoids) — wave order
    plus any per-wave order IS the schedule.

    Output: (url, domain, priority, n_refs, wave).
    """
    from pyspark.sql.window import Window

    urls = (
        links.filter(F.col(href_col).rlike(r"^https?://"))
        .groupBy(F.col(href_col).alias("url"))
        .agg(
            F.min(ordinal_col).cast("bigint").alias("priority"),
            F.count(F.lit(1)).cast("bigint").alias("n_refs"),
        )
        .withColumn(
            "domain", F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
        )
    )
    w = Window.partitionBy("domain").orderBy("priority", "url")
    return urls.select(
        "url",
        "domain",
        "priority",
        "n_refs",
        F.row_number().over(w).cast("bigint").alias("wave"),
    )


NORMALIZE_PATTERN = "[^a-z0-9\\s]"


def normalized_text_expr(text_col: str = "text") -> Column:
    """Aggressive normalization for robust exact dedup: lowercase,
    punctuation to spaces, whitespace collapsed, trimmed — the
    near-exact normalization used by corpus-curation pipelines so
    trivially-reformatted copies (case, punctuation, spacing) hash
    identically. Pure Catalyst expression; the regexes are
    RE2-compatible so the oracle replays them byte-for-byte."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), NORMALIZE_PATTERN, " "),
            "\\s+",
            " ",
        )
    )


def normalized_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup over NORMALIZED text: one representative (lowest
    id) per md5 of the normalized form — catches the
    case/punctuation/whitespace near-copies plain ``exact_dedup``
    misses, without any banding machinery. Between exact and MinHash
    in the dedup ladder; same single map-side-combining groupBy shape
    as exact_dedup (the normalization is map-only). NULL-text rows
    carry no content and are dropped.

    Output: (id, norm_hash, n_dups).
    """
    norm = normalized_text_expr(text_col)
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .select(id_col, "norm_hash", "n_dups")
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The eval-side view of decontamination: per BENCHMARK item, how
    many corpus docs share at least one word ``n``-gram with it and
    how many of its distinct grams leak — the report an eval owner
    reads to decide which benchmark items are burned, where
    ``decontaminate`` answers the corpus-side question (which training
    docs to drop). Gram keys are the gram strings themselves (the
    exact rule; benchmark gram sets are small enough that hashing
    buys nothing the broadcast doesn't already give).

    Shape at 100 TB: benchmark grams broadcast (eval sets are tiny);
    the corpus-sized gram explode meets them map-side, so the only
    shuffle is the hit rows (bounded by corpus-doc × bench-gram
    matches, small after the semi-match) grouped by benchmark id.

    Output: (bench_id, n_docs, n_shared_grams) — benchmark items with
    no leaked gram produce no row (join-only; left-join against the
    benchmark to see zeros).
    """

    def gram_rows(df: DataFrame, out_id: str) -> DataFrame:
        toks = tokens_expr(text_col)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias(out_id), F.explode(grams).alias("gram")
        )

    # Only the (small, broadcast) benchmark side pre-distincts; the
    # corpus explode joins raw — a corpus-side distinct would be a
    # corpus-sized shuffle, and the countDistinct aggregates below
    # dedup repeats anyway.
    hits = gram_rows(corpus, "doc_id").join(
        F.broadcast(gram_rows(benchmark, "bench_id").distinct()), "gram"
    )
    return hits.groupBy("bench_id").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("gram").cast("bigint").alias("n_shared_grams"),
    )


def cluster_representatives(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship election over normalized-duplicate clusters: where
    ``normalized_dedup`` only picks the lowest id, a real corpus merge
    keeps the RICHEST copy and folds the rest's metadata in — keep the
    longest variant (punctuation/casing survive in it), remember how
    many copies existed and every language/source they claimed. The
    same golden-record election the reference's db_merge does per
    entity (faexport_db/db.py merge chase), applied set-at-once to
    content clusters.

    One map-side-combining groupBy on the normalized hash: max_by
    picks the representative by (n_chars, id) struct order — total
    and deterministic — while collect_set bounds per-group state by
    the tiny distinct-language count, not the cluster size.

    Output: (norm_hash, rep_id, rep_chars, n_dups, langs) — langs is
    the sorted distinct language list, comma-joined.
    """
    norm = normalized_text_expr(text_col)
    order = F.struct(F.col("n_chars"), F.col(id_col))
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.col("lang"),
            F.col("n_chars"),
            F.md5(norm).alias("norm_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.max_by(F.col(id_col), order).cast("bigint").alias("rep_id"),
            F.max("n_chars").cast("bigint").alias("rep_chars"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        )
    )


def sentence_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document sentence segmentation statistics: split on
    terminal-punctuation runs ([.!?]+ — deliberately lookaround-free
    so the regex means the same thing in every RE2/Java engine),
    count non-blank sentences, and track total/max trimmed sentence
    length — the length-shape signal quality filters read (a doc
    whose max "sentence" is 2000 chars is a code dump or boilerplate
    wall, whatever its mean says).

    Map-only over the doc: one split + one aggregate over the
    in-row array (no explode, no shuffle — per-doc arrays stay
    row-local, the t_token_count discipline).

    Output: (id, n_sentences, sum_len, max_len) — trimmed character
    lengths, blanks excluded.
    """
    segs = F.split(F.col(text_col), r"[.!?]+")
    trimmed = F.filter(
        F.transform(segs, lambda s: F.trim(s)), lambda s: s != ""
    )
    lens = F.transform(trimmed, lambda s: F.length(s).cast("bigint"))
    return docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(trimmed).cast("bigint").alias("n_sentences"),
        F.coalesce(
            F.aggregate(
                lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ),
            F.lit(0).cast("bigint"),
        ).alias("sum_len"),
        F.coalesce(F.array_max(lens), F.lit(0).cast("bigint")).alias("max_len"),
    )
