"""Training-data operator queries over documents/embeddings.

Engine-specific hashing (xxhash64 signatures, seeded hyperplanes) is
not reproducible in DuckDB, so the MinHash/SimHash/LSH entries are
rows-only; their exact counterparts (content-hash dedup, exact n-gram
Jaccard, brute-force cosine) ARE oracle-checked, and unit tests assert
the approximate ops' candidates are supersets/subsets as appropriate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.partitioning import fan_out
from faexport_db_spark.queries.registry import register
from faexport_db_spark.training.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_dedup_pairs,
    word_shingles,
)
from faexport_db_spark.training.multimodal import documents_as_media, extract_features
from faexport_db_spark.training.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_lsh,
    lsh_bucketed_topk,
)
from faexport_db_spark.training.pipeline import (
    corpus_prep,
    mix_corpus,
    sequence_pack,
    sketch_bounds,
    stratified_sample,
)
from faexport_db_spark.training.text import (
    decontaminate,
    doc_fingerprint,
    lang_id,
    passage_dedup,
    quality_features,
    repetition_signals,
    token_counts,
    tokens_expr,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _mutated_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ a lightly-mutated copy (first word replaced) —
    guarantees near-duplicate pairs exist for the approximate ops."""
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mutated)


@register(
    "t_exact_dedup",
    oracle="""
    SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def t_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (lowest id) per content hash."""
    return exact_dedup(_docs(spark, sf_dir))


@register(
    "t_ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END
             ))) AS g
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS c
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    """,
)
def t_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard near-dup pairs via inverted-index join
    (shared-shingle equi-join, never an all-pairs cross join)."""
    docs = _docs(spark, sf_dir)
    shingled = fan_out(docs, by=["doc_id"]).select(
        "doc_id", F.explode(word_shingles("text", 2)).alias("g")
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


_CLUSTERS_ORACLE = """
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END
             ))) AS g
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS c
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    ),
    u AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM u
      UNION
      SELECT r.src, u2.dst FROM reach r JOIN u u2 ON r.dst = u2.src
      WHERE u2.dst <> r.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
    FROM reach GROUP BY src
"""


@register("t_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def t_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS: connected components over the
    exact bigram-Jaccard pair graph, each clustered doc labeled with
    its cluster's min id (the representative a dedup keeps). Spark runs
    the large-star/small-star contraction (``dedup_clusters``: O(log n)
    rounds, each round pinned); the oracle computes the same fixpoint
    as a recursive-CTE transitive closure over the identical edge set."""
    pairs = t_ngram_jaccard_pairs(spark, sf_dir)
    return dedup_clusters(pairs)


@register("t_dedup_clusters_star", oracle=_CLUSTERS_ORACLE)
def t_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same labeling as ``t_dedup_clusters``, kept as its own
    registry key; one CC implementation serves both."""
    return t_dedup_clusters(spark, sf_dir)


@register("t_minhash_lsh_dedup")  # xxhash64 signatures aren't DuckDB-reproducible
def t_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidates, exact-Jaccard verified.
    Run over documents ∪ mutated copies so true near-dups exist."""
    return minhash_dedup_pairs(_mutated_corpus(_docs(spark, sf_dir)), threshold=0.6)


@register("t_simhash_dedup")  # engine-specific hashing → rows-only
def t_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 near-dup pairs at Hamming ≤ 3 via pigeonhole banding."""
    return simhash_dedup_pairs(_mutated_corpus(_docs(spark, sf_dir)), max_hamming=3)


_TRIGRAM_SHINGLES_SQL = """
          list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
            i -> CASE WHEN i + 2 <= len(toks) THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                      WHEN i + 1 <= len(toks) THEN toks[i] || ' ' || toks[i+1]
                      ELSE toks[i] END))
"""


_PLANTED_JACCARD_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    tm AS (SELECT doc_id,
                  string_split_regex(trim(regexp_replace(text, '^\\S+', 'zzz')), '\\s+') AS toks
           FROM documents),
    sh  AS (SELECT doc_id, {_TRIGRAM_SHINGLES_SQL} AS s FROM t),
    shm AS (SELECT doc_id, {_TRIGRAM_SHINGLES_SQL} AS s FROM tm),
    j AS (
      SELECT a.doc_id AS id_a, a.doc_id + 1000000 AS id_b,
             round(len(list_intersect(a.s, m.s)) * 1.0
                   / (len(a.s) + len(m.s) - len(list_intersect(a.s, m.s))), 6) AS jaccard
      FROM sh a JOIN shm m USING (doc_id)
    )
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.6
"""


@register("t_minhash_lsh_checked", oracle=_PLANTED_JACCARD_ORACLE)
def t_minhash_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the MinHash-LSH pipeline: the
    verified pairs restricted to the planted (doc, mutated-doc) axis
    must EQUAL, value-for-value, the exact trigram-shingle Jaccard the
    oracle computes per doc — pinning signatures, banding, bucket
    expansion and the verify math end-to-end. All hashing is fixed-seed
    xxhash64, so the projection is deterministic; recall on the planted
    stratum is empirically 100% at sf0.001/0.01/0.1."""
    out = minhash_dedup_pairs(_mutated_corpus(_docs(spark, sf_dir)), threshold=0.6)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register("t_minhash_incremental_checked", oracle=_PLANTED_JACCARD_ORACLE)
def t_minhash_incremental_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the INCREMENTAL MinHash path:
    the corpus's band index is built (persisted, signed once), then a
    mutated batch probes it — the recovered (corpus doc, mutated doc)
    pairs must equal the same exact-Jaccard axis the self-join
    formulation is checked against. Pins the index layout, the probe
    equi-join and the cross-corpus verify end-to-end."""
    import tempfile

    from faexport_db_spark.training.dedup import (
        minhash_build_index,
        minhash_dedup_against_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="faexport_spark_mh_") + "/index"
    minhash_build_index(docs, idx)
    batch = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    out = minhash_dedup_against_index(batch, docs, idx, threshold=0.6)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register(
    "t_simhash_checked",
    oracle="""
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INTEGER) AS hamming
    FROM documents
    """,
)
def t_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the SimHash pipeline: plant a
    word-REVERSED copy of every doc. SimHash is order-invariant over
    the distinct-token set, so each (doc, reversed-doc) pair has
    Hamming distance exactly 0, and the pigeonhole banding GUARANTEES
    distance-0 pairs share every chunk — every planted pair must be
    emitted with hamming = 0. Pins signature order-invariance,
    chunking, bucket expansion and the bit_count(xor) verify."""
    docs = _docs(spark, sf_dir)
    reversed_copy = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.trim("text"), r"\s+"))).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(reversed_copy)
    out = simhash_dedup_pairs(corpus, max_hamming=3)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


_COSINE_ORACLE = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                              s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))),
             6) AS cosine
      FROM q, embeddings c WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


@register("t_ann_cosine_topk", oracle=_COSINE_ORACLE)
def t_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a broadcast query set — the exact
    baseline for similarity search. Dot product is a codegen'd
    zip_with/aggregate fold with deterministic summation order (matches
    the oracle bit-for-bit before rounding)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=3)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register("t_ann_lsh_bucketed")  # seeded-hyperplane codes → rows-only
def t_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (8-bit codes, Hamming-1 probing) —
    the scale path: corpus hashed once, probe set joins on bucket code."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_bucketed_topk(emb, queries, k=3)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "t_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> x IN ('the','a','is','of','and','to','in','for'))) AS s_en,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> x IN ('query','table','join','scan','filter','sort','merge','hash'))) AS s_query,
        len(list_filter(string_split_regex(trim(text), '\\s+'),
            x -> x IN ('stream','batch','window','spark','row','column','data','value'))) AS s_stream
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_query AND s_en >= s_stream THEN 'en'
                WHEN s_query >= s_stream THEN 'query'
                ELSE 'stream' END AS pred_lang,
           CAST(greatest(s_en, s_query, s_stream) AS INT) AS lang_score
    FROM scored
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (argmax profile score,
    lexicographic tiebreak)."""
    return lang_id(_docs(spark, sf_dir))


@register(
    "t_text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             CAST(length(text) AS BIGINT) AS n_chars_computed
      FROM documents
    )
    SELECT doc_id, n_chars_computed,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(n_chars_computed * 1.0 / len(toks), 6) AS mean_token_len,
           round(len(list_filter(toks, x -> x IN
             ('the','a','of','and','to','in','is','it','for','on'))) * 1.0 / len(toks), 6)
             AS stopword_ratio,
           round((n_chars_computed - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                 * 1.0 / n_chars_computed, 6) AS non_alnum_ratio,
           round(least(len(toks) / 400.0, 1.0) * 0.4
                 + round(len(list_filter(toks, x -> x IN
                     ('the','a','of','and','to','in','is','it','for','on'))) * 1.0 / len(toks), 6) * 0.4
                 + (1.0 - round((n_chars_computed - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                        * 1.0 / n_chars_computed, 6)) * 0.2, 6) AS quality_score
    FROM t
    """,
)
def t_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score (length/stopword/
    punctuation signals — the standard pre-training filter stack)."""
    return quality_features(_docs(spark, sf_dir))


@register(
    "t_quality_rules",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(toks) AS nt,
             nc * 1.0 / len(toks) AS mean_tok,
             (nc - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
               * 1.0 / nc AS non_alnum,
             len(list_intersect(list_distinct(toks),
                 ['the','a','of','and','to','in','is','it','for','on'])) AS ds,
             list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d)))) * 1.0 / len(toks)
               AS top_share
      FROM t
    )
    SELECT doc_id,
           (nt >= 10 AND nt <= 100000) AS tokens_ok,
           (mean_tok >= 3.0 AND mean_tok <= 10.0) AS mean_token_ok,
           (non_alnum <= 0.3) AS symbols_ok,
           (ds >= 1) AS stopwords_ok,
           (top_share <= 0.12) AS repetition_ok,
           ((nt >= 10 AND nt <= 100000) AND (mean_tok >= 3.0 AND mean_tok <= 10.0)
            AND (non_alnum <= 0.3) AND (ds >= 1) AND (top_share <= 0.12)) AS kept
    FROM f
    """,
)
def t_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard filter rules (training/text.py::quality_rules)
    with per-rule verdict columns — thresholds tuned so the fixture
    produces a MIX of passes and failures on the repetition screen,
    pinning every rule's boundary arithmetic against the oracle."""
    from faexport_db_spark.training.text import quality_rules

    return quality_rules(
        _docs(spark, sf_dir),
        min_tokens=10,
        min_distinct_stop=1,
        max_top_share=0.12,
    )


_LM_SCORED_SQL = r"""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    tr AS (SELECT * FROM d WHERE doc_id % 10 < 8),
    uni AS (SELECT unnest(toks) AS tok FROM tr),
    u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_tokens,
                     CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM uni),
    bi_src AS (
      SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM tr
    ),
    b AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM bi_src)
      GROUP BY 1, 2
    ),
    ev_src AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      FROM d WHERE doc_id % 10 >= 8
    ),
    ev AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM ev_src),
    lps AS (
      SELECT ev.doc_id,
             CASE WHEN b.c2 IS NOT NULL
                  THEN ln(b.c2::DOUBLE / u1.c1::DOUBLE)
                  ELSE ln(0.4 * (COALESCE(u2.c1, 0)::DOUBLE + 1.0)
                          / (s.n_tokens + s.vocab))
             END AS lp
      FROM ev
      LEFT JOIN b ON ev.w1 = b.w1 AND ev.w2 = b.w2
      LEFT JOIN u u1 ON ev.w1 = u1.tok
      LEFT JOIN u u2 ON ev.w2 = u2.tok
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(-CAST(avg(lp) AS DOUBLE), 6) AS nll,
             round(exp(-CAST(avg(lp) AS DOUBLE)), 4) AS ppl
      FROM lps GROUP BY 1
    )
"""


def _lm_heldout_split(docs):
    train = docs.filter(F.col("doc_id") % 10 < 8)
    evals = docs.filter(F.col("doc_id") % 10 >= 8)
    return train, evals


@register(
    "t_lm_perplexity",
    oracle=_LM_SCORED_SQL + "SELECT doc_id, n_bigrams, nll, ppl FROM scored",
)
def t_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM quality scoring: a bigram stupid-backoff model
    trained on the 80% split scores the held-out 20% — per-document
    negative mean log-prob and perplexity, exactly reproduced by the
    oracle's count CTEs (training/lm.py)."""
    from faexport_db_spark.training.lm import lm_score, lm_train

    train, evals = _lm_heldout_split(_docs(spark, sf_dir))
    return lm_score(evals, lm_train(train))


@register(
    "t_lm_ppl_filter",
    oracle=_LM_SCORED_SQL
    + """
    SELECT d.doc_id, d.lang, d.n_chars
    FROM d JOIN scored s ON d.doc_id = s.doc_id
    WHERE s.ppl <= 30.0
    """,
)
def t_lm_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet keep-the-head filter composed end-to-end: survivors of
    the held-out slice whose bigram-LM perplexity is ≤ 30 (the fixture
    corpus scores ~28–31, so the threshold genuinely splits it)."""
    from faexport_db_spark.training.lm import lm_perplexity_filter, lm_train

    train, evals = _lm_heldout_split(_docs(spark, sf_dir))
    out = lm_perplexity_filter(evals, lm_train(train), max_ppl=30.0)
    return out.select("doc_id", "lang", "n_chars")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d -]{7,}\d"


@register(
    "t_unicode_clean",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN ' cafe' || chr(769) || chr(7)
               WHEN 1 THEN chr(8) || ' plain'
               ELSE '' END AS t0
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(regexp_replace(t0, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
             AS clean_text,
           nfc_normalize(regexp_replace(t0, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
             <> t0 AS changed
    FROM p
    """,
)
def t_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene (training/text.py::unicode_clean) with planted
    mess: a third of the docs get a decomposed 'e' + COMBINING ACUTE
    (U+0301) followed by a BEL control, a third get a BACKSPACE — so
    the strip-then-NFC order, the control class, and the composed
    output are all value-checked (clean fixture text alone would make
    NFC a no-op). The oracle replays it with DuckDB's nfc_normalize;
    both sides implement UAX #15 canonical composition, so the texts
    agree byte-for-byte."""
    from faexport_db_spark.training.text import unicode_clean

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.lit(" cafe\u0301\x07"))  # decomposed e + U+0301
            .when(d % 3 == 1, F.lit("\x08 plain"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return unicode_clean(planted)


@register(
    "t_pii_scrub",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com now'
               WHEN 1 THEN ' server 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up'
               WHEN 2 THEN ' call +1 415 555 ' || CAST(1000 + doc_id % 1000 AS VARCHAR) || ' today'
               ELSE '' END AS t0
      FROM documents
    ),
    s1 AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}')) AS BIGINT) AS c1,
                  regexp_replace(t0, '{_PII_EMAIL}', '<email>', 'g') AS t1 FROM p),
    s2 AS (SELECT doc_id, c1,
                  CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS BIGINT) AS c2,
                  regexp_replace(t1, '{_PII_IP}', '<ip>', 'g') AS t2 FROM s1),
    s3 AS (SELECT doc_id, c1, c2,
                  CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT) AS c3,
                  regexp_replace(t2, '{_PII_PHONE}', '<phone>', 'g') AS t3 FROM s2)
    SELECT doc_id, t3 AS scrubbed, c1 + c2 + c3 AS n_redactions FROM s3
    """,
)
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (training/text.py::pii_scrub) over the corpus with
    deterministically planted emails / IPv4s / phone numbers (the
    fixture text itself is clean, so the plant makes every pattern and
    the untouched case all hit). The oracle re-runs the identical
    stepwise redaction in RE2 — pinning both the shared-regex-subset
    choice and the count-then-replace ordering."""
    from faexport_db_spark.training.text import pii_scrub

    d = F.col("doc_id")
    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" reach user"), d.cast("string"), F.lit("@example.com now")
                ),
            )
            .when(
                d % 4 == 1,
                F.concat(
                    F.lit(" server 10.0."),
                    (d % 256).cast("string"),
                    F.lit(".7 up"),
                ),
            )
            .when(
                d % 4 == 2,
                F.concat(
                    F.lit(" call +1 415 555 "),
                    (d % 1000 + 1000).cast("string"),
                    F.lit(" today"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(planted)


@register(
    "t_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS bpe_tokens
    FROM documents
    """,
)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return token_counts(_docs(spark, sf_dir))


@register(
    "t_doc_fingerprint",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    fps AS (
      SELECT doc_id,
             list_sort(list_distinct(list_filter(
               list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
                 i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])),
               h -> h LIKE '0%'))) AS fp
      FROM t
    )
    SELECT doc_id, coalesce(array_to_string(fp, ','), '') AS fingerprint,
           CAST(coalesce(len(fp), 0) AS BIGINT) AS fp_size
    FROM fps
    """,
)
def t_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mod-p-sampled 4-gram md5 fingerprint (winnowing-lite sketch)."""
    return doc_fingerprint(_docs(spark, sf_dir))


@register(
    "t_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(CONCAT('0x', substr(sha256(text), 1, 2)) AS INTEGER) / 255.0 AS f0,
           CAST(CONCAT('0x', substr(sha256(text), 3, 2)) AS INTEGER) / 255.0 AS f1,
           CAST(CONCAT('0x', substr(sha256(text), 5, 2)) AS INTEGER) / 255.0 AS f2,
           CAST(CONCAT('0x', substr(sha256(text), 7, 2)) AS INTEGER) / 255.0 AS f3
    FROM documents
    """,
)
def t_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents as opaque binary media →
    Arrow-batched mapInPandas feature extraction (deterministic
    digest-based fake standing in for the codec/model — see
    training/multimodal.py)."""
    media = documents_as_media(_docs(spark, sf_dir))
    return extract_features(media)


def _planted_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings ∪ scaled copies (×2 per component — an exact fp
    operation, cosine exactly 1.0) so true near-dup pairs exist."""
    two = F.lit(2.0).cast("float")
    mutated = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * two).cast("float")).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(mutated)


_PLANTED_EMB_SQL = """
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT)) AS embedding
      FROM embeddings
"""


@register(
    "t_embed_cosine_dedup",
    oracle=f"""
    WITH e AS ({_PLANTED_EMB_SQL}),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(
          list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                         s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
          / (sqrt(list_aggregate(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))
             * sqrt(list_aggregate(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))),
        6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
)
def t_embed_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (threshold 0.95) over the
    corpus with planted scaled duplicates — the embedding-dedup
    correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(_planted_embeddings(emb), threshold=0.95)


@register("t_embed_cosine_dedup_lsh")  # seeded-hyperplane candidates → rows-only
def t_embed_cosine_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH candidate buckets +
    exact-cosine verify — the linear-scan scale path for embedding
    dedup (unit tests assert it recovers the planted pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs_lsh(_planted_embeddings(emb), threshold=0.95)


# Cosine between a vector and its float-scaled 2× copy, as stored by
# _PLANTED_EMB_SQL: scaling by a power of two is an EXACT fp operation,
# so dot/norm algebra cancels exactly and the rounded cosine is 1.0 —
# but the oracle computes it honestly from the data.
_PLANTED_COSINE_SQL = """
      round(
        list_aggregate(list_transform(list_zip(embedding,
            list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))),
          s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
        / (sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))
           * sqrt(list_aggregate(list_transform(
               list_transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT)),
               x -> x::DOUBLE * x::DOUBLE), 'sum'))),
      6)
"""


@register(
    "t_embed_lsh_checked",
    oracle=f"""
    WITH pairs AS (
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
             {_PLANTED_COSINE_SQL} AS cosine
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
)
def t_embed_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the embedding-LSH dedup: a scaled
    copy keeps every hyperplane sign (dot(p, 2x) = 2·dot(p, x)), so
    each planted pair lands in the SAME bucket and MUST survive the
    Hamming-0 expansion and exact-cosine verify at cosine 1.0. Pins
    coding, bucket-pair expansion and the single-scan verify."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_near_dup_pairs_lsh(_planted_embeddings(emb), threshold=0.95)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register("t_semantic_dedup")  # k-means candidate cells → rows-only raw op
def t_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup survivors: k-means clusters the
    planted corpus, within-cluster exact-cosine pairs at ≥0.95 mark
    the higher id of each pair removed. Deterministic (xxhash64-seeded
    Lloyd's) but a k-means replica is not SQL-expressible, so this raw
    op is rows-only; ``t_semantic_dedup_checked`` pins the structural
    guarantee against an exact oracle. The registered op projects
    DRIVER-HASHABLE columns only (the driver's pandas canonicalizer
    cannot sort an ArrayType column — the r06 red): ``vec_id`` plus a
    64-bit fingerprint of the survivor's vector, so the rows-only row
    still witnesses both membership AND vector integrity. Every
    planted ×2 copy shares its original's cluster (cosine k-means is
    scale-invariant) and MUST be removed, so the survivor count equals
    the base corpus count — a meaningful rows signal."""
    from faexport_db_spark.training.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(_planted_embeddings(emb), threshold=0.95, n_centroids=16)
    return out.select(
        "vec_id",
        F.xxhash64(F.col("embedding").cast("string")).alias("emb_fingerprint"),
    )


@register(
    "t_semantic_dedup_checked",
    oracle=f"""
    WITH pairs AS (
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
             {_PLANTED_COSINE_SQL} AS cosine
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
)
def t_semantic_dedup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of semantic dedup: cosine k-means
    assignment is scale-invariant, so a 2×-scaled copy lands in the
    SAME cluster as its original in every possible trained model, and
    the within-cluster expansion + exact verify MUST emit every
    planted pair at cosine 1.0. Pins clustering-as-candidate-generator,
    the max_cluster-guarded pair expansion, and the single-scan
    verify — everything except the (unoracleable) centroid values."""
    from faexport_db_spark.training.similarity import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_pairs(_planted_embeddings(emb), threshold=0.95, n_centroids=16)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register(
    "t_embed_incremental_checked",
    oracle=f"""
    WITH pairs AS (
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
             {_PLANTED_COSINE_SQL} AS cosine
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
)
def t_embed_incremental_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the INCREMENTAL embedding-dedup
    path: the corpus's LSH code table is persisted once, then a batch
    of scaled copies probes it. A scaled copy keeps every hyperplane
    sign, so each planted (corpus, batch) pair shares the exact bucket
    the probe hits first and must survive at cosine 1.0 — pinning the
    persisted code layout, the probe join and the cross-corpus verify."""
    import tempfile

    from faexport_db_spark.training.similarity import (
        embed_dedup_against_index,
        embed_lsh_build_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = tempfile.mkdtemp(prefix="faexport_spark_elsh_") + "/index"
    embed_lsh_build_index(emb, idx)
    two = F.lit(2.0).cast("float")
    batch = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * two).cast("float")).alias("embedding"),
    )
    out = embed_dedup_against_index(batch, emb, idx, threshold=0.95)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register(
    "t_semantic_incremental_checked",
    oracle=f"""
    WITH pairs AS (
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
             {_PLANTED_COSINE_SQL} AS cosine
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
    """,
)
def t_semantic_incremental_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of INCREMENTAL semantic dedup: the
    corpus is k-means-assigned and persisted once as a cid-partitioned
    IVF index (``ivf_build``), then a batch of 2x-scaled copies probes
    it. Cosine assignment is scale-invariant, so each copy is assigned
    to exactly its original's cell under ANY trained model and the
    pruned-cell probe MUST emit every planted pair at cosine 1.0 —
    pinning the frozen-model assignment, the cid partition pruning,
    and the verify-in-probe-join, with no corpus re-assignment
    (training/similarity.py::semantic_dedup_against_index)."""
    import tempfile

    from faexport_db_spark.training.similarity import (
        ivf_build,
        semantic_dedup_against_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = tempfile.mkdtemp(prefix="faexport_spark_sem_") + "/index"
    ivf_build(emb, idx, n_centroids=16)
    two = F.lit(2.0).cast("float")
    batch = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * two).cast("float")).alias("embedding"),
    )
    out = semantic_dedup_against_index(batch, idx, threshold=0.95)
    return out.filter(F.col("id_b") == F.col("id_a") + 1000000)


_PLANTED_TOP1_ORACLE = f"""
    SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
           {_PLANTED_COSINE_SQL} AS cosine, CAST(1 AS BIGINT) AS rank
    FROM embeddings WHERE vec_id < 5
"""


@register("t_ann_lsh_checked", oracle=_PLANTED_TOP1_ORACLE)
def t_ann_lsh_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of bucketed-LSH ANN: with scaled
    copies planted, each query's top-1 must be its own copy at cosine
    1.0 (identical bucket code ⇒ guaranteed candidate; nothing else in
    the corpus rounds to cosine 1.0). Pins probing, the bucket join and
    the scoring window end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_bucketed_topk(_planted_embeddings(emb), queries, k=1)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register("t_ann_ivf_checked", oracle=_PLANTED_TOP1_ORACLE)
def t_ann_ivf_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of IVF ANN: cosine is scale-
    invariant (×2 is exact in fp), so a planted copy is assigned to
    exactly the cell the query probes first — top-1 must be the copy at
    cosine 1.0. Pins the quantizer, cell assignment and nprobe search."""
    from faexport_db_spark.training.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(_planted_embeddings(emb), queries, k=1, n_centroids=8, nprobe=2, iters=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register("t_ann_ivf")  # k-means cells + nprobe search → rows-only
def t_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (cosine
    assignment), queries probe their 2 nearest cells — the
    partition-prunable scale path alongside the LSH variant."""
    from faexport_db_spark.training.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=2, iters=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "t_sequence_pack",
    oracle="""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               - n_tokens AS strt
      FROM sized
    )
    SELECT doc_id, n_tokens,
           CAST(strt // 2048 AS BIGINT) AS pack_id,
           CAST(strt % 2048 AS BIGINT) AS pack_pos
    FROM c
    """,
)
def t_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence packing (concat-and-chunk layout) via a
    distributed prefix sum — per-chunk cumsums + an O(n_chunks) offset
    map, never the single-partition global window the oracle's
    ``OVER (ORDER BY ...)`` implies."""
    return sequence_pack(_docs(spark, sf_dir), budget=2048)


@register(
    "t_pack_manifest",
    oracle="""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               - n_tokens AS strt
      FROM sized
    )
    SELECT CAST(strt // 2048 AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1
    """,
)
def t_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-level manifest over the sequence packing: docs and token
    mass per pack (a doc counts toward the pack where it starts, so
    boundary packs can carry straddle overflow) — the loader-side
    index a packed dataset ships with."""
    packed = sequence_pack(_docs(spark, sf_dir), budget=2048)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


@register(
    "t_stratified_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', substr(md5(doc_id::VARCHAR || ':v1'), 1, 8)) AS BIGINT)
               AS sample_key
      FROM documents
    )
    SELECT doc_id, lang, sample_key FROM keyed
    WHERE sample_key < CASE lang
        WHEN 'en' THEN 2147483648
        WHEN 'de' THEN 4294967296
        WHEN 'zh' THEN 1073741824
        ELSE 429496729 END
    """,
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling on an md5-derived 32-bit
    integer key (en 50%, de 100%, zh 25%, rest 10%) — exact integer
    thresholds, reproducible across engines and re-partitionings."""
    return stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": 0.5, "de": 1.0, "zh": 0.25},
        default_rate=0.1,
    )


@register(
    "t_sketch_bounds",
    oracle="""
    SELECT CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
           TRUE AS cd_ok, TRUE AS p50_ok
    FROM documents
    """,
)
def t_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract: HLL++ distinct count within 3·rsd of
    exact, GK approx-median ranking inside the exact 40th–70th
    percentile band. The oracle asserts the booleans (and pins the
    exact count); a sketch regression flips a column and fails the
    hash."""
    return sketch_bounds(_docs(spark, sf_dir))


@register(
    "t_corpus_prep",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             CAST(length(text) AS BIGINT) AS n_chars_computed
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang, text,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             round(least(len(toks) / 400.0, 1.0) * 0.4
                   + round(len(list_filter(toks, x -> x IN
                       ('the','a','of','and','to','in','is','it','for','on'))) * 1.0 / len(toks), 6) * 0.4
                   + (1.0 - round((n_chars_computed - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                          * 1.0 / n_chars_computed, 6)) * 0.2, 6) AS quality_score
      FROM t
    ),
    kept AS (SELECT * FROM q WHERE quality_score >= 0.5),
    reps AS (
      SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM kept
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           min(quality_score) AS min_quality,
           max(quality_score) AS max_quality
    FROM reps WHERE rn = 1 GROUP BY lang
    """,
)
def t_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite prep pipeline — quality filter (score ≥ 0.5) →
    exact dedup → per-language corpus stats — in one pass: features
    computed inline (no self-join), dedup window keyed on the content
    hash, only survivors shuffle into the stats agg."""
    return corpus_prep(_docs(spark, sf_dir), min_quality=0.5)


@register("t_ann_ivf_persisted", oracle=_PLANTED_TOP1_ORACLE)
def t_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index IVF path end-to-end: build writes the
    assigned corpus as cid-partitioned parquet (the 100 TB layout —
    probing prunes to ~nprobe/n_centroids of the data), probe reads it
    back through the partition filter. Planted scaled copies land in
    the probed cell (cosine assignment is scale-invariant), so each
    query's top-1 is its copy at cosine 1.0 — the same driver-checked
    projection as the inline variant, now through the on-disk index."""
    import tempfile

    from faexport_db_spark.training.similarity import ivf_build, ivf_topk_persisted

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = tempfile.mkdtemp(prefix="faexport_spark_ivf_") + "/index"
    ivf_build(_planted_embeddings(emb), path, n_centroids=8, iters=2)
    out = ivf_topk_persisted(spark, path, queries, k=1, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "t_repetition_signals",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' ')) AS grams
      FROM t
    )
    SELECT doc_id,
      round((len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE), 6)
        AS dup_token_frac,
      round(list_max(list_transform(list_distinct(toks),
              u -> len(list_filter(toks, x -> x = u)))) / CAST(len(toks) AS DOUBLE), 6)
        AS top_token_frac,
      round((len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE), 6)
        AS dup_trigram_frac
    FROM g
    """,
)
def t_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-token
    fraction, most-common-token fraction, duplicate-trigram fraction —
    the boilerplate/template-spam detectors length features miss."""
    return repetition_signals(_docs(spark, sf_dir))


@register(
    "t_decontaminate",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
               i -> array_to_string(toks[i:i+4], ' '))) AS gram
      FROM t
    ),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram))
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (n-gram overlap rule): every 50th doc
    plays the eval set; any corpus doc sharing a word 5-gram with it —
    including the eval docs themselves — is dropped. The Spark side
    broadcasts the benchmark gram hashes so the corpus-sized explode
    never shuffles; the oracle replays the rule with exact gram
    strings."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, benchmark, n=5).select("doc_id")


@register(
    "t_corpus_mix",
    oracle="""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25), ('zh', 0.25)) AS t(lang, wt)),
    tmax AS (SELECT min(n / wt) AS t FROM counts JOIN w USING (lang)),
    rates AS (
      SELECT lang, least(1.0, wt * t / n) AS rate
      FROM counts JOIN w USING (lang), tmax
    ),
    keyed AS (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', substr(md5(doc_id::VARCHAR || ':mix'), 1, 8)) AS BIGINT)
               AS sample_key
      FROM documents
    )
    SELECT k.doc_id, k.lang, k.sample_key
    FROM keyed k JOIN rates r USING (lang)
    WHERE k.sample_key < CAST(floor(r.rate * 4294967296) AS BIGINT)
    """,
)
def t_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture targeting: resample to en/de/zh = 50/25/25 (the
    binding stratum keeps everything, over-represented ones
    downsample; unlisted languages drop). Weights are exact binary
    fractions so the driver-side float threshold math reproduces
    bit-for-bit in the DuckDB oracle."""
    return mix_corpus(
        _docs(spark, sf_dir), {"en": 0.5, "de": 0.25, "zh": 0.25}
    )


@register("t_ann_pq_topk")  # ADC distances depend on engine k-means → rows-only
def t_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, scale form: corpus compressed to m=8
    subspace codes (16 centroids each); queries travel as a DataFrame
    whose rows compute their own ADC lookup tables, broadcast, and
    scan the code table ONCE regardless of query count (``pq_topk_df``
    — the per-query-plan-branch form ``pq_topk`` remains for bounded
    panels; tests pin their outputs equal). No vector data read at
    query time."""
    from faexport_db_spark.training.similarity import pq_encode, pq_topk_df, pq_train

    corpus = _planted_embeddings(load_table(spark, sf_dir, "embeddings"))
    books = pq_train(corpus, m=8, k=16)
    codes = pq_encode(corpus, books)
    queries = corpus.filter(F.col("vec_id") < 5)
    out = pq_topk_df(codes, queries, books, k=3)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "t_ann_pq_checked",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS copy_is_min
    FROM embeddings WHERE vec_id < 5
    """,
)
def t_ann_pq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable PQ invariant: PQ distances are L2, so the
    planted twin here is the IDENTICAL vector re-id'd (not the scaled
    copy the cosine ops use). It quantizes to the query's own
    per-subspace argmin centroids, so its ADC distance IS the global minimum any
    corpus vector can achieve — rank-1 adc_dist must equal the copy's
    adc_dist for every query, robust to k-means jitter and code
    collisions (a collision ties, it can't go lower). Exercises the
    scale form (queries as a DataFrame, one code scan)."""
    from faexport_db_spark.training.similarity import pq_encode, pq_topk_df, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    books = pq_train(corpus, m=8, k=16)
    codes = pq_encode(corpus, books)
    queries = emb.filter(F.col("vec_id") < 5)
    top1 = pq_topk_df(codes, queries, books, k=1).select(
        "query_id", F.col("adc_dist").alias("best")
    )
    copy_best = pq_topk_df(
        codes.filter(F.col("nid") >= 1000000), queries, books, k=1
    ).select("query_id", F.col("adc_dist").alias("copy_d"))
    return top1.join(copy_best, "query_id").select(
        "query_id", (F.col("best") == F.col("copy_d")).alias("copy_is_min")
    )


@register(
    "t_ann_ivfpq_checked",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS copy_is_min
    FROM embeddings WHERE vec_id < 5
    """,
)
def t_ann_ivfpq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (the IVFADC layout): coarse cells route each
    query to nprobe cells, ADC code scans within. The identical-copy
    twin assigns to the query's own nearest cell (same vector → same
    argmax centroid), so nprobe ≥ 1 guarantees it is probed, and its
    ADC distance is the global minimum any corpus vector can achieve —
    rank-1 adc_dist must equal the copy's adc_dist for every query.
    Coarse centroids and codebooks are trained once and shared by the
    full-corpus and copies-only runs."""
    from faexport_db_spark.training.similarity import (
        ivf_centroids,
        ivfpq_topk,
        pq_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    cents = ivf_centroids(corpus, n_centroids=8)
    books = pq_train(corpus, m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 5)
    top1 = ivfpq_topk(
        corpus, queries, k=1, nprobe=2, centroids=cents, codebooks=books
    ).select("query_id", F.col("adc_dist").alias("best"))
    copy_best = ivfpq_topk(
        corpus.filter(F.col("vec_id") >= 1000000),
        queries,
        k=1,
        nprobe=2,
        centroids=cents,
        codebooks=books,
    ).select("query_id", F.col("adc_dist").alias("copy_d"))
    return top1.join(copy_best, "query_id").select(
        "query_id", (F.col("best") == F.col("copy_d")).alias("copy_is_min")
    )


@register(
    "t_ann_ivfpq_residual_checked",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS copy_is_min
    FROM embeddings WHERE vec_id < 5
    """,
)
def t_ann_ivfpq_residual_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVFADC (Jégou et al. 2011 §III — codes
    quantize v − centroid[cid], ADC tables come from each probed
    query's own cell residual): same identical-copy invariant as
    ``t_ann_ivfpq_checked``. The copy assigns to the query's cell
    (identical vector → same argmax centroid → same residual → same
    codes), so its ADC distance is the global minimum any corpus
    vector can achieve — rank-1 adc_dist must equal the copy's for
    every query. Pins residual codebook training, residual encoding,
    and the per-cell residual ADC tables end-to-end."""
    from faexport_db_spark.training.similarity import (
        ivf_centroids,
        ivfpq_topk,
        pq_train_residual,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    cents = ivf_centroids(corpus, n_centroids=8)
    books = pq_train_residual(corpus, cents, m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 5)
    top1 = ivfpq_topk(
        corpus, queries, k=1, nprobe=2, centroids=cents, codebooks=books,
        residual=True,
    ).select("query_id", F.col("adc_dist").alias("best"))
    copy_best = ivfpq_topk(
        corpus.filter(F.col("vec_id") >= 1000000),
        queries,
        k=1,
        nprobe=2,
        centroids=cents,
        codebooks=books,
        residual=True,
    ).select("query_id", F.col("adc_dist").alias("copy_d"))
    return top1.join(copy_best, "query_id").select(
        "query_id", (F.col("best") == F.col("copy_d")).alias("copy_is_min")
    )


_BM25_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     CAST(avg(len(toks)) AS DOUBLE) AS avgdl FROM d),
    post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
    tfs AS (SELECT term, doc_id, dl, count(*) AS tf FROM post GROUP BY 1, 2, 3),
    dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY 1),
    q AS (
      SELECT doc_id AS query_id, unnest(list_distinct(toks[1:4])) AS term
      FROM d WHERE doc_id < 5
    ),
    contribs AS (
      SELECT q.query_id, tfs.doc_id, q.term,
             ln((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
               * tfs.tf * 2.2
               / (tfs.tf + 1.2 * (0.25 + 0.75 * tfs.dl / s.avgdl)) AS c
      FROM q JOIN tfs USING (term) JOIN dfs USING (term) CROSS JOIN stats s
    ),
    scored AS (
      SELECT query_id, doc_id,
             round(list_aggregate(list_transform(
               list_sort(list(struct_pack(t := term, c := c))), x -> x.c),
               'sum'), 6) AS score
      FROM contribs GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


def _bm25_queries(docs: DataFrame) -> DataFrame:
    """query_id = doc_id < 5, query text = the doc's first four
    tokens — guaranteed hits, reproducible in the oracle."""
    return docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 4)
        ).alias("query"),
    )


@register("t_bm25_topk", oracle=_BM25_ORACLE)
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 keyword retrieval (training/retrieval.py):
    postings inverted-index equi-join, Lucene-style non-negative idf,
    deterministic sorted-term contribution fold, rounded-score
    ranking. The oracle replays the identical formula in SQL."""
    from faexport_db_spark.training.retrieval import bm25_topk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = bm25_topk(docs, _bm25_queries(docs), k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register("t_bm25_persisted", oracle=_BM25_ORACLE)
def t_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same retrieval through the PERSISTED term-hash-bucketed
    postings index: build once, probe with partition pruning to the
    query terms' ``tb=`` buckets; scores must be identical to the
    in-process form (and the oracle)."""
    import tempfile

    from faexport_db_spark.training.retrieval import (
        bm25_build_index,
        bm25_topk_persisted,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="faexport_spark_bm25_") + "/index"
    bm25_build_index(docs, path)
    out = bm25_topk_persisted(spark, path, _bm25_queries(docs), k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@register(
    "t_passage_dedup",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM corpus),
    raw AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(0, CAST(greatest(ceil(len(toks)/10.0) - 1, 0) AS BIGINT)),
        i -> struct_pack(tile_idx := i,
                         tile_txt := array_to_string(toks[i*10+1 : i*10+10], ' '))
      )) AS tile
      FROM t
    ),
    tiles AS (
      SELECT doc_id, tile.tile_idx AS tile_idx, tile.tile_txt AS tile_txt FROM raw
    ),
    w AS (
      SELECT *, count(*) OVER (PARTITION BY md5(tile_txt)) AS cnt,
             row_number() OVER (PARTITION BY md5(tile_txt)
                                ORDER BY doc_id, tile_idx) AS rn
      FROM tiles
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN cnt = 1 OR rn = 1 THEN tile_txt END,
                               ' ' ORDER BY tile_idx), '') AS clean_text,
           count(*) AS n_tiles,
           CAST(sum(CASE WHEN cnt = 1 OR rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_tiles_removed
    FROM w GROUP BY doc_id
    """,
)
def t_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage removal (Lee et al. 2021 shape) over
    the corpus plus planted exact copies: every copy's tiles repeat
    their original's, so the copies come back fully emptied while the
    originals (lowest doc_id = first occurrence) keep their text.
    Tile width 10 tokens so the ~30-token fixture docs span several
    tiles."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return passage_dedup(docs.unionByName(copies), tile_tokens=10)


@register(
    "t_passage_incremental_checked",
    oracle="""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
    counts AS (SELECT doc_id, CAST(greatest(ceil(len(toks)/10.0), 1) AS BIGINT) AS n FROM t)
    SELECT doc_id + 1000000 AS doc_id, '' AS clean_text,
           n AS n_tiles, n AS n_tiles_removed
    FROM counts
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           'nv' || CAST(doc_id AS VARCHAR) || '_0' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_1' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_2' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_3' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_4' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_5' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_6' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_7' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_8' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_9' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_10' || ' ' || 'nv' || CAST(doc_id AS VARCHAR) || '_11' AS clean_text,
           CAST(2 AS BIGINT) AS n_tiles, CAST(0 AS BIGINT) AS n_tiles_removed
    FROM documents
    """,
)
def t_passage_incremental_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental passage dedup against the persisted tile index:
    the index holds the corpus' tiles; the arriving batch is exact
    copies (every tile already indexed -> comes back fully emptied)
    plus per-doc novel 12-token texts (no tile indexed -> passes
    through verbatim, 2 tiles, 0 removed). Deterministic both ways,
    so the whole incremental path - tiling, index probe, batch-first
    keeper rule, rebuild - is oracle-pinned."""
    import tempfile

    from faexport_db_spark.training.text import (
        build_passage_index,
        passage_dedup_against_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="faexport_spark_ptiles_") + "/index"
    build_passage_index(docs, path, tile_tokens=10)
    copies = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    novel = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("nv"), F.col("doc_id").cast("string"), F.lit(f"_{k}"))
                for k in range(12)
            ],
        ).alias("text"),
    )
    return passage_dedup_against_index(
        copies.unionByName(novel), path, tile_tokens=10
    )[0]


@register(
    "t_ann_ivfpq_persisted",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS copy_is_min
    FROM embeddings WHERE vec_id < 5
    """,
)
def t_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVFADC path end-to-end: build writes the corpus
    as cid-partitioned PQ CODES (the billion-scale layout — a probe
    partition-prunes the code table and reads no vector bytes), probe
    reads it back through the partition filter. Same copy-is-min
    invariant as the inline composition: the identical twin quantizes
    to the query's own argmin centroids inside the query's own nearest
    (probed) cell, so rank-1 adc_dist equals the copy's adc_dist."""
    import tempfile

    from faexport_db_spark.training.similarity import (
        ivfpq_build,
        ivfpq_topk_persisted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    path = tempfile.mkdtemp(prefix="faexport_spark_ivfpq_") + "/index"
    ivfpq_build(corpus, path, n_centroids=8, m=8, codebook_k=16)
    queries = emb.filter(F.col("vec_id") < 5)
    top1 = ivfpq_topk_persisted(spark, path, queries, k=1, nprobe=2).select(
        "query_id", F.col("adc_dist").alias("best")
    )
    copy1 = (
        ivfpq_topk_persisted(spark, path, queries, k=10_000_000, nprobe=2)
        .filter(F.col("neighbor_id") >= 1000000)
        .groupBy("query_id")
        .agg(F.min("adc_dist").alias("copy_d"))
    )
    return top1.join(copy1, "query_id").select(
        "query_id", (F.col("best") == F.col("copy_d")).alias("copy_is_min")
    )


def _bpe_oracle_sql(n_merges: int) -> str:
    """DuckDB replica of the BPE trainer, CTE-unrolled per iteration
    (the g3_pagerank pattern). Symbol sequences live as
    control-char-delimited strings (\\x02 sym \\x03 …) so one
    ``replace`` applies a merge with exactly the greedy
    non-overlapping left-to-right semantics of the Spark fold —
    '\\x02a\\x03' boundaries make partial-symbol matches impossible,
    and the consumed delimiters make ``aaaa`` → ``(aa)(aa)`` (verified
    against DuckDB's replace scan behavior)."""
    L, R = "\x02", "\x03"
    rx = f"{L}([^{L}{R}]*){R}"
    parts = [
        f"""
    words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents WHERE text IS NOT NULL) u
      WHERE len(w) > 0 GROUP BY w
    ),
    w0 AS (
      SELECT freq,
             '{L}' || array_to_string(string_split(w, ''), '{R}{L}') || '{R}' AS s
      FROM words
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
    x{i} AS (SELECT freq, regexp_extract_all(s, '{rx}', 1) AS syms FROM w{i}),
    e{i} AS (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
             FROM x{i} WHERE len(syms) >= 2),
    p{i} AS (SELECT syms[i] AS lhs, syms[i+1] AS rhs,
                    CAST(sum(freq) AS BIGINT) AS cnt
             FROM e{i} GROUP BY 1, 2),
    t{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    w{i + 1} AS (SELECT freq, replace(s,
                  (SELECT '{L}' || lhs || '{R}{L}' || rhs || '{R}' FROM t{i}),
                  (SELECT '{L}' || lhs || rhs || '{R}' FROM t{i})) AS s
                 FROM w{i})"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS it, lhs, rhs, lhs || rhs AS merged, "
        f"cnt AS pair_count FROM t{i}"
        for i in range(n_merges)
    )
    return "WITH" + ",".join(parts) + "\n    " + union


@register("t_bpe_merges", oracle=_bpe_oracle_sql(3))
def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 learned BPE pair merges over the document corpus,
    frequency-weighted with deterministic lexicographic tie-breaks —
    the iterative-trainer op whose oracle is the CTE-unrolled DuckDB
    replica. Pins pair counting, argmax selection, and greedy
    non-overlapping merge application across iterations."""
    from faexport_db_spark.training.text import bpe_merges

    return bpe_merges(_docs(spark, sf_dir).select("doc_id", "text"), n_merges=3)


def _substring_planted(docs: DataFrame) -> DataFrame:
    """documents ∪ per-doc planted partial copies: each planted doc is
    unique filler tokens around the original's FIRST 8 and LAST 8
    tokens — two shared 8-token regions that straddle any fixed tile
    boundary, separated by filler so island merging, maximality and
    span arithmetic are all exercised (a full-copy plant would mark
    every position and collapse the op to one whole-doc span)."""
    toks = tokens_expr("text")
    t = docs.select("doc_id", toks.alias("__toks"))
    ids = F.col("doc_id").cast("string")

    def filler(tag: str, j: int) -> F.Column:
        return F.concat(F.lit(tag), ids, F.lit(f"_{j}"))

    planted_text = F.concat_ws(
        " ",
        filler("pa", 0),
        filler("pa", 1),
        F.concat_ws(" ", F.slice("__toks", 1, 8)),
        filler("pb", 0),
        filler("pb", 1),
        F.concat_ws(" ", F.slice("__toks", F.size("__toks") - F.lit(7), F.lit(8))),
        filler("pc", 0),
        filler("pc", 1),
    )
    planted = t.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), planted_text.alias("text")
    )
    return docs.select("doc_id", "text").unionByName(planted)


_SUBSTRING_PLANTED_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             concat_ws(' ',
               'pa' || CAST(doc_id AS VARCHAR) || '_0',
               'pa' || CAST(doc_id AS VARCHAR) || '_1',
               array_to_string(toks[1:8], ' '),
               'pb' || CAST(doc_id AS VARCHAR) || '_0',
               'pb' || CAST(doc_id AS VARCHAR) || '_1',
               array_to_string(toks[len(toks)-7 : len(toks)], ' '),
               'pc' || CAST(doc_id AS VARCHAR) || '_0',
               'pc' || CAST(doc_id AS VARCHAR) || '_1') AS text
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
"""


@register(
    "t_substring_dedup",
    oracle=f"""
    WITH corpus AS ({_SUBSTRING_PLANTED_SQL}),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM corpus WHERE text IS NOT NULL),
    g0 AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 8)) AS pos
      FROM t WHERE len(toks) >= 8
    ),
    g AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             array_to_string(toks[CAST(pos + 1 AS INT) : CAST(pos + 8 AS INT)], ' ') AS gram
      FROM g0
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(count(*) + 7 AS BIGINT) AS n_tokens
      FROM isl GROUP BY doc_id, grp
    )
    SELECT s.doc_id, s.span_start, s.n_tokens,
           array_to_string(
             t.toks[CAST(s.span_start + 1 AS INT) : CAST(s.span_start + s.n_tokens AS INT)],
             ' ') AS span_text
    FROM spans s JOIN t USING (doc_id)
    """,
)
def t_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2021's third granularity
    after document- and passage-level): maximal runs of ≥8-token
    substrings shared anywhere in the corpus, over documents plus
    planted partial copies (each plant shares the original's first-8
    and last-8 tokens inside unique filler — two disjoint spans per
    doc pair that straddle any tile boundary, plus whatever the
    fixture corpus repeats naturally). Pins duplicate-gram marking,
    per-doc island merging, span maximality and the single-scan
    span-text re-slice."""
    from faexport_db_spark.training.text import duplicate_substring_spans

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return duplicate_substring_spans(_substring_planted(docs), min_tokens=8)


@register(
    "t_line_dedup",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents),
    raw AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(0, CAST(greatest(ceil(len(toks)/5.0) - 1, 0) AS BIGINT)),
        i -> struct_pack(line_no := i,
                         line := array_to_string(toks[i*5+1 : i*5+5], ' '))
      )) AS l
      FROM t
    ),
    lines AS (
      SELECT doc_id, l.line_no AS line_no, l.line AS line,
             md5(regexp_replace(lower(l.line), '[^a-z ]+', '', 'g')) AS lh
      FROM raw
    ),
    w AS (SELECT *, count(*) OVER (PARTITION BY lh) AS cnt FROM lines)
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN cnt <= 1 THEN line END,
                               ' ' ORDER BY line_no), '') AS clean_text,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN cnt <= 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_lines_removed
    FROM w GROUP BY doc_id
    """,
)
def t_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb / CCNet shape):
    every occurrence of a 5-token line repeated anywhere in the corpus
    is cut — first occurrences included, unlike passage_dedup's
    keep-first. The fixture corpus has naturally repeated 5-grams
    (~6% of lines at sf0.01), so removal is non-trivial without
    planting. Frequency is counted on CCNet-normalized lines
    (lowercase, non-letter stripped); reassembly emits originals."""
    from faexport_db_spark.training.text import line_dedup

    return line_dedup(
        _docs(spark, sf_dir).select("doc_id", "text"),
        line_tokens=5,
        max_freq=1,
    )


@register(
    "t_heavy_hitters",
    oracle=r"""
    WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
               FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cnt AS DOUBLE) / total, 9) AS frac
    FROM c, tot WHERE cnt > 0.03 * total
    """,
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (>3% of token mass) — the frequent-
    items question, answered exactly: map-side combine reduces each
    partition to its local vocabulary before the exchange, so a hot
    token is one row per map task and the shuffle is vocab-sized.
    Surfaces stopword floods / boilerplate vocabulary pre-filtering."""
    from faexport_db_spark.training.text import heavy_hitter_tokens

    return heavy_hitter_tokens(_docs(spark, sf_dir), threshold_frac=0.03)


@register(
    "t_domain_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12)
                             AS BIGINT),
                        doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def t_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb per-domain frequency cap: each source keeps its
    10 best-md5-ranked docs, deterministically — no content farm
    dominates the mix and reruns pick the SAME rows. Two-phase
    bucketed top-k (training/pipeline.py group_cap) so a hot domain
    sorts in 64 tasks, not one; the oracle is the single-window form
    the two phases provably equal."""
    from faexport_db_spark.training.pipeline import group_cap

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return group_cap(docs, key_cols=["source"], cap=10, id_col="doc_id", seed=42)


@register(
    "t_quality_classifier",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-(
             CAST(coalesce(list_sum(list_transform(toks,
                    tok -> (('0x' || substr(md5(tok), 1, 6))::BIGINT % 2001) - 1000)),
                  0) AS BIGINT)
             / (1000.0 * greatest(len(toks), 1))))), 9) AS score
    FROM t
    """,
)
def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape linear quality classifier, hash-weight path:
    score = sigmoid(mean token weight) folded over the token array as
    ONE pure expression — zero exchanges, zero UDFs, weight sum kept
    integer until the final division so DuckDB reproduces it
    bit-for-bit. The learned-weights path (broadcast weight table) is
    exercised in tests/test_training.py."""
    from faexport_db_spark.training.text import linear_quality_score

    return linear_quality_score(_docs(spark, sf_dir).select("doc_id", "text"))


@register(
    "t_global_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12)
                           AS BIGINT),
                      doc_id) - 1 AS BIGINT) AS pos
    FROM documents
    """,
)
def t_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global example shuffle: every doc gets a
    contiguous position in md5-rank order via the distributed
    prefix-sum (chunked row_number + offset map — NO Exchange
    SinglePartition, asserted in tests/test_plans.py), where the
    oracle's naive row_number() OVER (ORDER BY ...) form funnels the
    corpus through one task. Epoch order is reproducible across
    retries, unlike rand()."""
    from faexport_db_spark.training.pipeline import global_shuffle

    return global_shuffle(_docs(spark, sf_dir).select("doc_id"), seed=42)


@register(
    "t_compression_checked",
    oracle="""
    SELECT doc_id, TRUE AS repeat_compresses_better FROM documents
    """,
)
def t_compression_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-property check for the zlib compression-ratio signal
    (training/text.py compression_ratio): concatenating a document
    with itself 4x MUST strictly lower its compression ratio (the
    repeats are free for LZ77), for every doc. Runs the real Arrow-
    batched scorer on corpus + 4x variants and reduces to the boolean
    the oracle pins — the deterministic projection of a signal whose
    raw float values no SQL engine reproduces."""
    from faexport_db_spark.training.text import compression_ratio

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    rep = docs.select(
        "doc_id",
        F.concat_ws(" ", "text", "text", "text", "text").alias("text"),
    )
    base = compression_ratio(docs).select("doc_id", F.col("ratio").alias("r0"))
    reps = compression_ratio(rep).select("doc_id", F.col("ratio").alias("r4"))
    return base.join(reps, "doc_id").select(
        "doc_id", (F.col("r4") < F.col("r0")).alias("repeat_compresses_better")
    )


@register("t_compression_ratio")
def t_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw zlib compression-ratio signal (rows-only: no SQL engine
    reproduces zlib output sizes; pinned by t_compression_checked's
    planted-property oracle + golden tests)."""
    from faexport_db_spark.training.text import compression_ratio

    return compression_ratio(_docs(spark, sf_dir).select("doc_id", "text"))


@register(
    "t_line_incremental_checked",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents),
    counts AS (SELECT doc_id,
                      CAST(greatest(ceil(len(toks)/5.0), 1) AS BIGINT) AS n
               FROM t),
    letters AS (SELECT doc_id,
                       'nv' || translate(CAST(doc_id AS VARCHAR),
                                         '0123456789', 'abcdefghij') AS stem
                FROM documents)
    SELECT doc_id + 1000000 AS doc_id, '' AS clean_text,
           n AS n_lines, n AS n_lines_removed
    FROM counts
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           stem || 'a' || ' ' || stem || 'b' || ' ' || stem || 'c' || ' ' ||
           stem || 'd' || ' ' || stem || 'e' || ' ' || stem || 'f' || ' ' ||
           stem || 'g' || ' ' || stem || 'h' || ' ' || stem || 'i' || ' ' ||
           stem || 'j' || ' ' || stem || 'k' || ' ' || stem || 'l' AS clean_text,
           CAST(3 AS BIGINT) AS n_lines, CAST(0 AS BIGINT) AS n_lines_removed
    FROM letters
    """,
)
def t_line_incremental_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental line dedup against the persisted line-COUNT index:
    the index holds the corpus' per-line frequencies; the arriving
    batch is exact copies (every line's corpus-count+batch-count >= 2
    > max_freq -> fully emptied, drop-all has no keeper) plus per-doc
    novel all-letter 12-token texts (3 five-token lines, never seen,
    unique in batch -> pass verbatim). Letter-only novel tokens
    because the CCNet normalization strips digits/underscores — a
    digit-bearing stem would collapse every novel line to the same
    digest and falsely remove them."""
    import tempfile

    from faexport_db_spark.training.text import (
        build_line_index,
        line_dedup_against_index,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="faexport_spark_lcounts_") + "/index"
    build_line_index(docs, path, line_tokens=5)
    copies = docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    stem = F.concat(
        F.lit("nv"),
        F.translate(F.col("doc_id").cast("string"), "0123456789", "abcdefghij"),
    )
    novel = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(stem, F.lit(c)) for c in "abcdefghijkl"]
        ).alias("text"),
    )
    return line_dedup_against_index(
        copies.unionByName(novel), path, line_tokens=5, max_freq=1
    )[0]


@register(
    "t_ann_range_search",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                              s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE), 'sum'))),
             6) AS cosine
      FROM q, embeddings c WHERE c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= 0.6
    """,
)
def t_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine range search (radius neighbors, threshold 0.6):
    broadcast query panel + codegen fold + filter — zero exchanges,
    no window (plan-asserted), the embarrassingly-parallel complement
    of top-k retrieval."""
    from faexport_db_spark.training.similarity import range_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return range_search(emb, queries, threshold=0.6)


@register(
    "t_tfidf_topk",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    post AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tfs AS (SELECT doc_id, term, count(*) AS tf FROM post GROUP BY 1, 2),
    dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY 1),
    stats AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tfs),
    scored AS (
      SELECT t.doc_id, t.term,
             round(t.tf * ln((1.0 + s.n_docs) / (1.0 + d2.df)), 6) AS tfidf
      FROM tfs t JOIN dfs d2 USING (term) CROSS JOIN stats s
    )
    SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def t_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — keyword extraction /
    cluster labeling over the corpus, sharing the oracle-checked BM25
    tokenizer and postings plan (training/retrieval.py
    tfidf_top_terms)."""
    from faexport_db_spark.training.retrieval import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select("doc_id", "term", "tfidf", F.col("rank").cast("long"))


@register(
    "t_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT c_custkey,
             -ln((('0x' || substr(md5('42:' || CAST(c_custkey AS VARCHAR)),
                                  1, 12))::BIGINT + 1) / 281474976710656.0)
               / (abs(c_acctbal) + 1.0) AS wk
      FROM customer
    )
    SELECT c_custkey FROM keyed ORDER BY wk, c_custkey LIMIT 20
    """,
)
def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES
    exponential race, training/pipeline.py weighted_sample): 20
    customers drawn with probability proportional to |acctbal|+1,
    identical draw on every run/partitioning. The oracle replays the
    exact md5→uniform→exponential arithmetic."""
    from faexport_db_spark.training.pipeline import weighted_sample

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", (F.abs(F.col("c_acctbal")) + 1.0).alias("__w")
    )
    return weighted_sample(cust, "__w", k=20, id_col="c_custkey").select(
        "c_custkey"
    )


@register(
    "t_mixture_kl",
    oracle="""
    WITH halves AS (
      SELECT doc_id % 2 AS half, lang FROM documents
    ),
    counts AS (
      SELECT half, lang, count(*) AS n FROM halves GROUP BY 1, 2
    ),
    fracs AS (
      SELECT half, lang,
             n / CAST(sum(n) OVER (PARTITION BY half) AS DOUBLE) AS frac
      FROM counts
    )
    SELECT round(CAST(sum(p.frac * ln(p.frac / q.frac)) AS DOUBLE), 6)
             AS kl_divergence,
           CAST(count(*) AS BIGINT) AS n_categories
    FROM fracs p JOIN fracs q USING (lang)
    WHERE p.half = 0 AND q.half = 1
    """,
)
def t_mixture_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence between the language mixtures of two corpus
    halves — the drift metric a training pipeline watches when a new
    crawl lands (did the domain/language balance move?). Two
    map-side-combining aggregates + one broadcast-sized join on the
    category key; category cardinality, not corpus size, bounds every
    post-aggregate stage."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy(
        (F.col("doc_id") % 2).alias("half"), "lang"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("half").agg(F.sum("n").alias("tot"))
    fracs = counts.join(tot, "half").select(
        "half", "lang", (F.col("n") / F.col("tot").cast("double")).alias("frac")
    )
    p = fracs.filter(F.col("half") == 0).select("lang", F.col("frac").alias("p"))
    q = fracs.filter(F.col("half") == 1).select("lang", F.col("frac").alias("q"))
    return p.join(q, "lang").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_divergence"
        ),
        F.count(F.lit(1)).alias("n_categories"),
    )


@register(
    "t_chunk_overlap",
    oracle="""
    SELECT doc_id, g AS chunk_idx,
           substring(text, CAST(g * 300 + 1 AS INT), 400) AS chunk_text,
           CAST(length(substring(text, CAST(g * 300 + 1 AS INT), 400)) AS BIGINT)
             AS n_chunk_chars
    FROM documents,
         unnest(generate_series(0,
           CAST(CASE WHEN length(text) <= 400 THEN 0
                ELSE ceil((length(text) - 400) / 300.0) END AS BIGINT))) AS t(g)
    """,
)
def t_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: 400-char windows every 300 chars (100 overlap),
    map-only generator, every char covered."""
    from faexport_db_spark.training.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), width=400, stride=300)


@register(
    "t_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT string_split_regex(lower(trim(text)), '\\s+') AS ts FROM documents
    ),
    uni AS (
      SELECT t AS w, CAST(count(*) AS BIGINT) AS c
      FROM toks, unnest(ts) AS u(t) GROUP BY 1
    ),
    bi AS (
      SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2,
             CAST(count(*) AS BIGINT) AS pair_count
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)
      GROUP BY 1, 2
      HAVING count(*) >= 5
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS nu,
             (SELECT CAST(sum(CASE WHEN len(ts) > 1 THEN len(ts) - 1 ELSE 0 END)
                     AS DOUBLE) FROM toks) AS nb
    )
    SELECT w1, w2, pair_count,
           round(ln((CAST(pair_count AS DOUBLE) * nu * nu)
                    / (nb * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 4) + 0
             AS pmi
    FROM bi CROSS JOIN tot
    JOIN uni ua ON ua.w = bi.w1
    JOIN uni ub ON ub.w = bi.w2
    """,
)
def t_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram PMI collocations (min pair count 5), bigrams built
    inside the row — no self-join."""
    from faexport_db_spark.training.text import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), min_count=5)


@register(
    "t_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, c AS ch, CAST(count(*) AS BIGINT) AS k
      FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents WHERE length(text) > 0)
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
             CAST(sum(k * ln(k)) AS DOUBLE) AS slk
      FROM ch GROUP BY 1
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                WHEN length(d.text) = 0 THEN 0.0
                ELSE round((ln(a.n) - a.slk / a.n) / ln(2), 4) END AS char_entropy,
           CAST(length(d.text) AS BIGINT) AS n_chars_counted
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character entropy (bits/char) via Arrow-batched numpy
    histogram — zero exchanges; the oracle rebuilds it relationally."""
    from faexport_db_spark.training.text import char_entropy

    return char_entropy(_docs(spark, sf_dir))


@register(
    "t_length_buckets",
    oracle="""
    WITH t AS (
      SELECT ((len(string_split_regex(trim(text), '\\s+')) + 63) // 64) * 64
               AS bucket_cap,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(bucket_cap * count(*) AS BIGINT) AS padded_tokens,
           round(1.0 - CAST(sum(n_tokens) AS DOUBLE) / (bucket_cap * count(*)), 4)
             AS waste_pct
    FROM t GROUP BY bucket_cap
    """,
)
def t_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-to-64-token batching audit: per-bucket doc count, token
    mass, and padding waste — exact integer bucket edges."""
    from faexport_db_spark.training.text import length_buckets

    return length_buckets(_docs(spark, sf_dir), bucket=64)


@register(
    "t_cluster_split",
    oracle="""
    WITH k AS (
      SELECT doc_id, md5(text) AS content_hash,
             min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
      FROM documents
    ),
    s AS (
      SELECT *, CAST(CONCAT('0x', substr(md5(rep_id::VARCHAR || ':split:v1'), 1, 8))
                     AS BIGINT) AS key
      FROM k
    )
    SELECT doc_id, content_hash, rep_id,
           CASE WHEN key < 429496729 THEN 'val'
                WHEN key < 858993458 THEN 'test'
                ELSE 'train' END AS split
    FROM s
    """,
)
def t_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: all exact-dup cluster
    members share a split, keyed on an md5-derived integer of the
    cluster representative (10% val / 10% test)."""
    from faexport_db_spark.training.pipeline import cluster_split

    return cluster_split(_docs(spark, sf_dir), val_frac=0.1, test_frac=0.1)


@register(
    "t_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END
             ))) AS g
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS c
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / least(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / least(sa.n, sb.n) >= 0.6
    """,
)
def t_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B|/min(|A|,|B|) — finds a
    short doc quoted inside a long one, which Jaccard misses. Same
    inverted-index equi-join shape as t_ngram_jaccard_pairs."""
    from faexport_db_spark.training.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.6, shingle_n=2)


@register(
    "t_iqr_outliers",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    f AS (
      SELECT source,
             CAST(quantile_cont(n_tokens, 0.25) AS DOUBLE) AS q1,
             CAST(quantile_cont(n_tokens, 0.75) AS DOUBLE) AS q3
      FROM t GROUP BY source
    )
    SELECT doc_id, t.source, n_tokens,
           round(q1 - 1.5 * (q3 - q1), 4) AS lo_fence,
           round(q3 + 1.5 * (q3 - q1), 4) AS hi_fence,
           (n_tokens < q1 - 1.5 * (q3 - q1)) OR (n_tokens > q3 + 1.5 * (q3 - q1))
             AS is_outlier
    FROM t JOIN f ON t.source = f.source
    """,
)
def t_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Tukey-fence token-length outliers (exact grouped
    percentiles broadcast back onto the corpus — one shuffle total)."""
    from faexport_db_spark.training.text import iqr_outliers

    return iqr_outliers(_docs(spark, sf_dir), group_col="source", k=1.5)


@register(
    "t_corpus_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END
             ))) AS g
      FROM toks
    ),
    sizes AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    """,
)
def t_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle Jaccard matrix — the double-counted-feed
    diagnostic run before corpus mixing. Vocabulary-collapsed before
    any join; sizes broadcast."""
    from faexport_db_spark.training.dedup import corpus_overlap

    return corpus_overlap(_docs(spark, sf_dir), group_col="source", shingle_n=2)


@register(
    "t_corpus_build",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, lang, string_split_regex(trim(text), '\s+') AS toks,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents
    ),
    f AS (
      SELECT doc_id, text, lang, len(toks) AS nt,
             nc * 1.0 / len(toks) AS mean_tok,
             (nc - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
               * 1.0 / nc AS non_alnum,
             len(list_intersect(list_distinct(toks),
                 ['the','a','of','and','to','in','is','it','for','on'])) AS ds,
             list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d)))) * 1.0 / len(toks)
               AS top_share
      FROM t
    ),
    kept AS (
      SELECT doc_id, text, lang, nt FROM f
      WHERE nt >= 10 AND nt <= 100000 AND mean_tok >= 3.0 AND mean_tok <= 10.0
        AND non_alnum <= 0.3 AND ds >= 1 AND top_share <= 0.12
    ),
    dedup AS (
      SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM kept
    ),
    reps AS (
      SELECT lang, nt,
             CAST(CONCAT('0x', substr(md5(rep::VARCHAR || ':split:v1'), 1, 8))
                  AS BIGINT) AS key
      FROM dedup WHERE doc_id = rep
    )
    SELECT CASE WHEN key < 429496729 THEN 'val'
                WHEN key < 858993458 THEN 'test'
                ELSE 'train' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS sum_tokens
    FROM reps GROUP BY 1, 2
    """,
)
def t_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build capstone (training/pipeline.py::
    corpus_build): Gopher quality filter -> exact dedup -> leakage-safe
    split -> per-(split, lang) accounting, TWO exchanges total (the
    dedup window's rep doubles as the split key). Thresholds match
    t_quality_rules so the filter demonstrably drops fixture docs."""
    from faexport_db_spark.training.pipeline import corpus_build

    return corpus_build(
        _docs(spark, sf_dir),
        min_tokens=10,
        min_distinct_stop=1,
        max_top_share=0.12,
    )


@register(
    "t_vocab_ids",
    oracle=r"""
    WITH u AS (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
            FROM documents)
      GROUP BY t
    )
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
             AS token_id
    FROM u
    """,
)
def t_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense frequency-ranked vocabulary ids WITHOUT the naive global
    window's Exchange SinglePartition: chunked prefix-sum rank
    (training/pipeline.py::vocab_ids), value-identical to the oracle's
    row_number total order."""
    from faexport_db_spark.training.pipeline import vocab_ids

    return vocab_ids(_docs(spark, sf_dir), min_count=1)


@register(
    "t_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS v
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           round(CAST(avg(v) AS DOUBLE), 6) AS mean_val
    FROM flat GROUP BY label, dim
    """,
)
def t_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (training/similarity.py::
    label_centroids): 64 scalar avg aggregates in one corpus pass,
    stack-pivoted to long form — vs the oracle's explode-per-dim
    formulation, value-identical after round(6)."""
    from faexport_db_spark.training.similarity import label_centroids

    embs = load_table(spark, sf_dir, "embeddings")
    return label_centroids(embs, dim=64)


@register(
    "t_ncm_confusion",
    oracle="""
    WITH flat AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, list(mv ORDER BY dim) AS cvec
      FROM (SELECT label, dim, round(CAST(avg(v) AS DOUBLE), 6) AS mv
            FROM flat GROUP BY label, dim)
      GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.clabel,
             list_aggregate(list_transform(list_zip(e.embedding, c.cvec),
                            s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
             / (sqrt(list_aggregate(list_transform(e.embedding,
                     x -> x::DOUBLE * x::DOUBLE), 'sum'))
                * sqrt(list_aggregate(list_transform(c.cvec,
                       x -> x::DOUBLE * x::DOUBLE), 'sum'))) AS cos
      FROM embeddings e, cent c
    ),
    pred AS (
      SELECT label, clabel,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, clabel ASC) AS rn
      FROM scored
    )
    SELECT label, clabel AS pred_label, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY label, clabel
    """,
)
def t_ncm_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean confusion matrix (training/similarity.py::
    ncm_confusion): literal-centroid cosine argmax per row (map-only,
    the IVF bounded-collect pattern), identical rounded-centroid
    doubles and fold order on both engines."""
    from faexport_db_spark.training.similarity import ncm_confusion

    return ncm_confusion(load_table(spark, sf_dir, "embeddings"), dim=64)


@register(
    "t_bytes_per_token",
    oracle="""
    WITH t AS (
      SELECT lang, CAST(length(text) AS BIGINT) AS nc,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                  AS BIGINT) AS bp,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nc) AS BIGINT) AS sum_chars,
           CAST(sum(bp) AS BIGINT) AS sum_bpe_tokens,
           round(CAST(sum(nc) AS DOUBLE) / CAST(sum(bp) AS BIGINT), 6)
             AS chars_per_bpe_token,
           round(CAST(sum(nc) AS DOUBLE) / CAST(sum(ws) AS BIGINT), 6)
             AS chars_per_ws_token
    FROM t GROUP BY lang
    """,
)
def t_bytes_per_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility report (chars per token as a
    ratio of sums) — one bounded-key aggregate, pure codegen."""
    from faexport_db_spark.training.text import bytes_per_token

    return bytes_per_token(_docs(spark, sf_dir), group_col="lang")


@register(
    "t_dedup_sweep",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 1)),
               i -> CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i+1] ELSE t[i] END
             ))) AS g
      FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS c
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT c * 1.0 / (sa.n + sb.n - c) AS j
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
    )
    SELECT t AS threshold, CAST(count(*) FILTER (WHERE j >= t) AS BIGINT) AS n_pairs
    FROM jac CROSS JOIN (SELECT unnest([0.5, 0.7, 0.9]) AS t)
    GROUP BY t
    """,
)
def t_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning table: exact bigram-Jaccard pair counts
    at 0.5 / 0.7 / 0.9 from ONE pass over the pair set — the evidence
    a near-dup threshold decision is made on (where the pair-count
    elbow sits), computed without re-running the expensive join per
    threshold. Output: (threshold, n_pairs)."""
    docs = _docs(spark, sf_dir)
    shingled = fan_out(docs, by=["doc_id"]).select(
        "doc_id", F.explode(word_shingles("text", 2)).alias("g")
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    jac = (F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))).alias("j")
    scored = inter.join(sa, "id_a").join(sb, "id_b").select(jac)
    return (
        scored.select(F.explode(F.array(F.lit(0.5), F.lit(0.7), F.lit(0.9))).alias("threshold"), "j")
        .groupBy("threshold")
        .agg(F.count(F.when(F.col("j") >= F.col("threshold"), 1)).cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# r07 session-2 additions: media driver ops (the multimodal family had
# library + property-test coverage but no oracle-backed driver row),
# HTML extraction, and fuzzy (MinHash) decontamination.
# ---------------------------------------------------------------------------


@register(
    "t_media_exact_dedup",
    oracle="""
    WITH c AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE text IS NOT NULL
    )
    SELECT min(doc_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           max(doc_id) AS last_dup
    FROM c GROUP BY text HAVING count(*) > 1
    """,
)
def t_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-identical media dedup over opaque BinaryType payloads
    (media_exact_dup), run on documents-as-media plus a planted copy of
    every payload so every group has ≥2 members. Payloads here are the
    docs' utf-8 bytes, so the oracle can group on the text itself —
    byte-group equality ⇔ text-group equality — pinning the binary
    digest grouping, keeper selection and dup-list assembly. The
    engine-specific payload_hash and the ArrayType dup list are
    projected out (driver canonicalizer takes scalars); array_max of
    the dup list rides along as ``last_dup`` to pin membership."""
    from faexport_db_spark.training.multimodal import (
        documents_as_media,
        media_exact_dup,
    )

    media = documents_as_media(_docs(spark, sf_dir))
    copies = media.select(
        (F.col("media_id") + 1000000).alias("media_id"),
        "media_bytes",
        "media_type",
        "meta",
    )
    groups = media_exact_dup(media.unionByName(copies))
    return groups.select(
        "keeper_id",
        "n_copies",
        F.array_max("dup_ids").alias("last_dup"),
    )


@register(
    "t_media_near_dup_checked",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, 'Z' || substr(text, 2) AS mt,
             CAST(ceil(len(text) / 16.0) AS INT) AS n
      FROM documents WHERE text IS NOT NULL AND len(text) > 0
    ),
    m AS (
      SELECT doc_id, n,
             len(list_filter(generate_series(0, n - 1),
                             i -> substr(text, i*16+1, 16) = substr(mt, i*16+1, 16)))
               AS n_match
      FROM d
    )
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
           CAST(n_match AS BIGINT) AS n_match,
           round(n_match * 1.0 / n, 6) AS match_frac
    FROM m
    WHERE n_match > 0 AND n_match * 1.0 / n >= 0.8
    """,
)
def t_media_near_dup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of the byte-level media near-dup
    pipeline: plant a copy of every payload with its FIRST byte flipped
    (fixture texts never start with 'Z' and are pure ASCII, so the
    flip is length-preserving and changes exactly chunk 0). With
    16-byte chunks each planted pair must match exactly n-1 of its n
    aligned chunks — the oracle recomputes the per-chunk byte equality
    in SQL, pinning chunk geometry, the (chunk_idx, chunk_hash)
    candidate join, the match count and the min-denominator fraction.
    Restricted to the planted axis, as the minhash/simhash checked
    companions are."""
    from faexport_db_spark.training.multimodal import (
        documents_as_media,
        media_near_dup_pairs,
    )

    docs = _docs(spark, sf_dir)
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"),
        F.col("lang"),
        F.col("source"),
        F.col("n_chars"),
    )
    media = documents_as_media(docs).unionByName(
        documents_as_media(mutated)
    )
    pairs = media_near_dup_pairs(media, threshold=0.8, chunk_bytes=16)
    return pairs.filter(F.col("id_b") == F.col("id_a") + 1000000)


_HTML_WRAP_SQL = """
      '<html><head><title>' || source || '</title>'
      || '<style>p { margin: 0 2px; }</style></head><body><h1>Doc '
      || CAST(doc_id AS VARCHAR)
      || '</h1><script type="text/javascript">if (x < 1) { f("&amp;"); }</script><p>'
      || text
      || '</p><div class="footer">&lt;generated&gt; &amp; &quot;archived&quot;&nbsp;'
      || lang || '</div></body></html>'
"""


@register(
    "t_html_extract",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_HTML_WRAP_SQL} AS html
      FROM documents WHERE text IS NOT NULL
    ),
    s1 AS (SELECT doc_id,
                  regexp_replace(html, '<script[^>]*>[\\s\\S]*?</script>', ' ', 'g') AS t
           FROM h),
    s2 AS (SELECT doc_id, regexp_replace(t, '<style[^>]*>[\\s\\S]*?</style>', ' ', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id,
                  replace(replace(replace(replace(replace(replace(t,
                    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
           FROM s3)
    SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS extracted
    FROM s4
    """,
)
def t_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (html_extract) over deterministically
    synthesized markup: each doc is wrapped in a realistic page — head
    title, style block, h1, an inline script whose body contains both a
    bare '<' and an entity, and an entity-bearing footer — then the
    extraction chain (script/style subtree removal, tag strip, one-pass
    entity decode, whitespace collapse) must reproduce, byte for byte,
    the same chain expressed in ANSI SQL. Map-only, zero Python, zero
    shuffles."""
    from faexport_db_spark.training.text import html_extract

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit("</title><style>p { margin: 0 2px; }</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><script type="text/javascript">if (x < 1) { f("&amp;"); }</script><p>'),
        F.col("text"),
        F.lit('</p><div class="footer">&lt;generated&gt; &amp; &quot;archived&quot;&nbsp;'),
        F.col("lang"),
        F.lit("</div></body></html>"),
    )
    return html_extract(
        docs.select("doc_id", html.alias("html")), html_col="html"
    )


_FUZZY_DECON_ORACLE = f"""
    WITH b AS (SELECT doc_id, text FROM documents
               WHERE text IS NOT NULL AND doc_id % 97 = 0),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM b),
    tm AS (SELECT doc_id,
                  string_split_regex(trim(regexp_replace(text, '^\\S+', 'zzz')), '\\s+') AS toks
           FROM b),
    sh  AS (SELECT doc_id, {_TRIGRAM_SHINGLES_SQL} AS s FROM t),
    shm AS (SELECT doc_id, {_TRIGRAM_SHINGLES_SQL} AS s FROM tm),
    j AS (
      SELECT m.doc_id + 1000000 AS corpus_id, a.doc_id + 2000000 AS bench_id,
             round(len(list_intersect(a.s, m.s)) * 1.0
                   / (len(a.s) + len(m.s) - len(list_intersect(a.s, m.s))), 6) AS jaccard
      FROM sh a JOIN shm m USING (doc_id)
    )
    SELECT corpus_id, bench_id, jaccard FROM j WHERE jaccard >= 0.6
"""


@register("t_fuzzy_decontaminate_checked", oracle=_FUZZY_DECON_ORACLE)
def t_fuzzy_decontaminate_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of fuzzy decontamination
    (fuzzy_contamination_pairs): benchmark = every 97th doc; the corpus
    carries a first-token-mutated copy of each benchmark doc (the
    leaked-paraphrase case exact 13-gram decontamination can miss when
    the paraphrase breaks every long gram). Each planted (mutated
    corpus doc, benchmark doc) pair must surface with exactly the
    trigram-shingle Jaccard the oracle computes — pinning corpus
    signing, the broadcast benchmark band join, the matched-slice
    stop-bucket guard and the cross-frame verify. Restricted to the
    planted axis (jaccard ≈ 0.9 there, where 16-band/4-row LSH recall
    is ~1 − 5e-8; borderline natural pairs are deliberately excluded —
    at jaccard 0.6 LSH misses ~11% by design)."""
    from faexport_db_spark.training.dedup import fuzzy_contamination_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("text").isNotNull()
    )
    bench_src = docs.filter(F.col("doc_id") % 97 == 0)
    bench = bench_src.select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    mutated = bench_src.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+", "zzz").alias("text"),
    )
    corpus = docs.unionByName(mutated)
    pairs = fuzzy_contamination_pairs(corpus, bench, threshold=0.6)
    return pairs.filter(F.col("bench_id") == F.col("corpus_id") + 1000000)


@register(
    "t_winnowing",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents WHERE text IS NOT NULL),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                i -> md5(array_to_string(toks[i : i + 2], ' '))) AS gl
          FROM t),
    s AS (SELECT doc_id,
                 list_transform(
                   generate_series(0, greatest(len(gl) - 4, 0)),
                   s -> list_reduce(
                          list_transform(generate_series(1, 4),
                                         j -> struct_pack(mh := gl[s + j],
                                                          mp := s + j - 1)),
                          (acc, x) -> CASE WHEN x.mh IS NOT NULL AND x.mh <= acc.mh
                                           THEN x ELSE acc END)) AS sel
          FROM g),
    u AS (SELECT doc_id, unnest(sel) AS f FROM s)
    SELECT DISTINCT doc_id, CAST(f.mp AS BIGINT) AS pos, f.mh AS fp FROM u
    """,
)
def t_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=3 word grams, window w=4) — the MOSS
    local fingerprinting guarantee the mod-p sketch lacks. The oracle
    replays gram hashing, the rightmost-min window fold and the
    distinct selection with DuckDB list lambdas, pinning positions and
    hashes value-for-value."""
    from faexport_db_spark.training.text import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def _cdc_chunks_cte(src_sql: str) -> str:
    """DuckDB CTE chain computing CDC chunk structs per row of
    ``src_sql`` (columns: doc_id, tag, text) under the same
    (window=8, boundary prefix '0', min_chunk=16) rule as
    ``cdc_chunk_spans`` — fixture payloads are the docs' utf-8 bytes
    and pure ASCII, so character arithmetic on text equals byte
    arithmetic on the payload. The sequential min-chunk gate is a
    RECURSIVE CTE (each step takes the smallest candidate ≥ min_chunk
    past the previous boundary) because DuckDB 1.0's ``list_reduce``
    is unusable for stateful folds here: a LIST-typed accumulator
    collapses to its last append once the ELSE-keeps-acc branch
    interleaves, and even scalar accumulators leak state ACROSS ROWS
    under vectorized evaluation (verified against a Python reference;
    both misbehaviors reproduce standalone). Callers must open the
    query with WITH RECURSIVE."""
    return f"""
    __src AS ({src_sql}),
    __d AS (SELECT doc_id, tag, text, CAST(len(text) AS BIGINT) AS L
            FROM __src WHERE text IS NOT NULL AND len(text) > 0),
    __c AS (SELECT doc_id, tag, L,
              list_filter(generate_series(CAST(8 AS BIGINT), L),
                          i -> md5(substr(text, CAST(i - 7 AS INT), 8))[1:1] = '0') AS cand
            FROM __d),
    __r AS (
      SELECT doc_id, tag, CAST(0 AS BIGINT) AS b FROM __c
      UNION ALL
      SELECT c.doc_id, c.tag,
             list_min(list_filter(c.cand, i -> i - r.b >= 16)) AS b
      FROM __r r JOIN __c c ON r.doc_id = c.doc_id AND r.tag = c.tag
      WHERE list_min(list_filter(c.cand, i -> i - r.b >= 16)) IS NOT NULL
    ),
    __a AS (SELECT doc_id, tag, list_sort(list(b)) AS acc
            FROM __r GROUP BY doc_id, tag),
    __b AS (SELECT d.doc_id, d.tag, d.text,
              CASE WHEN acc[len(acc)] = d.L THEN acc
                   ELSE list_append(acc, d.L) END AS bounds
            FROM __a a JOIN __d d ON a.doc_id = d.doc_id AND a.tag = d.tag),
    __ch AS (SELECT doc_id, tag,
               list_transform(generate_series(1, len(bounds) - 1),
                 j -> struct_pack(
                        chunk_idx := CAST(j - 1 AS BIGINT),
                        cstart    := bounds[j],
                        clen      := bounds[j + 1] - bounds[j],
                        chunk_md5 := md5(substr(text, CAST(bounds[j] + 1 AS INT),
                                                CAST(bounds[j + 1] - bounds[j] AS INT))))) AS cl
             FROM __b)
    """


_CDC_CHUNKING_ORACLE = f"""
    WITH RECURSIVE {_cdc_chunks_cte("SELECT doc_id, 0 AS tag, text FROM documents")},
    u AS (SELECT doc_id, unnest(cl) AS c FROM __ch)
    SELECT doc_id AS media_id, c.chunk_idx, c.cstart AS start,
           c.clen AS length, c.chunk_md5 FROM u
"""


@register("t_cdc_chunking", oracle=_CDC_CHUNKING_ORACLE)
def t_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (cdc_chunk_spans) over documents-as-
    media payloads: boundary rule, min-chunk gate, chunk offsets,
    lengths and md5s must all equal the oracle's SQL replay of the
    same rule — pinning the full chunk table value-for-value."""
    from faexport_db_spark.training.multimodal import cdc_chunk_spans

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("media_bytes"),
    )
    return cdc_chunk_spans(media)


_CDC_NEAR_DUP_ORACLE = f"""
    WITH RECURSIVE {_cdc_chunks_cte(
        "SELECT doc_id, 0 AS tag, text FROM documents "
        "UNION ALL SELECT doc_id, 1 AS tag, 'XY ' || text FROM documents"
    )},
    h AS (SELECT doc_id, tag,
                 list_distinct(list_transform(cl, c -> c.chunk_md5)) AS hl
          FROM __ch),
    p AS (SELECT o.doc_id AS doc_id,
                 CAST(len(list_intersect(o.hl, m.hl)) AS BIGINT) AS n_shared,
                 least(len(o.hl), len(m.hl)) AS denom
          FROM h o JOIN h m ON o.doc_id = m.doc_id
          WHERE o.tag = 0 AND m.tag = 1)
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, n_shared,
           round(n_shared * 1.0 / denom, 6) AS match_frac
    FROM p WHERE n_shared > 0 AND n_shared * 1.0 / denom >= 0.5
"""


@register("t_media_cdc_near_dup_checked", oracle=_CDC_NEAR_DUP_ORACLE)
def t_media_cdc_near_dup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection of INSERTION-robust media near-dup
    (media_cdc_near_dup_pairs): plant a copy of every payload with 3
    bytes prepended — the alignment shift that defeats the fixed-width
    chunk scheme by construction. Content-defined boundaries re-align
    after the first cut, so each planted pair shares most distinct
    chunk hashes; the oracle recomputes both chunkings and the exact
    distinct-hash intersection in SQL. Whatever fraction each pair
    truly shares, both sides compute the same number — the threshold
    cut is identical — so the row set matches value-for-value.
    Restricted to the planted axis (natural exact-dup texts create
    identical off-axis pairs in both engines' libraries, but the
    planted axis keeps the driver row focused and deterministic)."""
    from faexport_db_spark.training.multimodal import media_cdc_near_dup_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("media_bytes"),
    )
    mutants = docs.select(
        (F.col("doc_id") + 1000000).alias("media_id"),
        F.encode(F.concat(F.lit("XY "), F.col("text")), "utf-8").alias("media_bytes"),
    )
    pairs = media_cdc_near_dup_pairs(
        media.unionByName(mutants), threshold=0.5
    )
    return pairs.filter(F.col("id_b") == F.col("id_a") + 1000000)


@register(
    "t_winnowing_pairs",
    oracle=r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
               FROM documents WHERE text IS NOT NULL),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                i -> md5(array_to_string(toks[i : i + 2], ' '))) AS gl
          FROM t),
    s AS (SELECT doc_id,
                 list_transform(
                   generate_series(0, greatest(len(gl) - 4, 0)),
                   s -> list_reduce(
                          list_transform(generate_series(1, 4),
                                         j -> struct_pack(mh := gl[s + j],
                                                          mp := s + j - 1)),
                          (acc, x) -> CASE WHEN x.mh IS NOT NULL AND x.mh <= acc.mh
                                           THEN x ELSE acc END)) AS sel
          FROM g),
    u AS (SELECT DISTINCT doc_id, f.mh AS fp
          FROM (SELECT doc_id, unnest(sel) AS f FROM s)),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM u a JOIN u b ON a.fp = b.fp AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM p GROUP BY 1, 2
    """,
)
def t_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing candidate pairs (winnowing_match_pairs): documents
    sharing selected fingerprints, with the count of distinct shared
    fingerprints — the cheap candidate stage the w+k−1 guarantee buys.
    The stop-fingerprint guard (10k) is a no-op at fixture SF (max
    posting list 24 at sf0.1), so the oracle joins the full selected
    sets."""
    from faexport_db_spark.training.text import winnowing_match_pairs

    return winnowing_match_pairs(_docs(spark, sf_dir), k=3, w=4)


_MEDIA_PIPELINE_ORACLE = f"""
    WITH RECURSIVE
    __corpus AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE text IS NOT NULL
      UNION ALL SELECT doc_id + 2000000, 'Z' || substr(text, 2) FROM documents WHERE text IS NOT NULL
      UNION ALL SELECT doc_id + 3000000, 'XY ' || text FROM documents WHERE text IS NOT NULL
    ),
    __k AS (SELECT min(doc_id) AS keep FROM __corpus GROUP BY text),
    __d1 AS (SELECT doc_id FROM __corpus
             WHERE doc_id NOT IN (SELECT keep FROM __k)),
    __r1 AS (SELECT doc_id, text FROM __corpus
             WHERE doc_id NOT IN (SELECT doc_id FROM __d1)),
    __f AS (SELECT doc_id, text, CAST(ceil(len(text) / 16.0) AS INT) AS n FROM __r1),
    __fc AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i, text FROM __f),
    __fh AS (SELECT doc_id, n, i, substr(text, CAST(i * 16 + 1 AS INT), 16) AS c FROM __fc),
    __fp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS m,
                    min(a.n) AS na, min(b.n) AS nb
             FROM __fh a JOIN __fh b
               ON a.i = b.i AND a.c = b.c AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    __d2 AS (SELECT DISTINCT id_b AS doc_id FROM __fp
             WHERE m * 1.0 / least(na, nb) >= 0.8),
    __r2 AS (SELECT doc_id, text FROM __r1
             WHERE doc_id NOT IN (SELECT doc_id FROM __d2)),
    {_cdc_chunks_cte("SELECT doc_id, 0 AS tag, text FROM __r2")},
    __h AS (SELECT doc_id, list_distinct(list_transform(cl, c -> c.chunk_md5)) AS hl
            FROM __ch),
    __hu AS (SELECT doc_id, len(hl) AS nh, unnest(hl) AS h FROM __h),
    __cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS s,
                    min(a.nh) AS na, min(b.nh) AS nb
             FROM __hu a JOIN __hu b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    __d3 AS (SELECT DISTINCT id_b AS doc_id FROM __cp
             WHERE s * 1.0 / least(na, nb) >= 0.5),
    __cnt AS (SELECT (SELECT count(*) FROM __corpus) AS t,
                     (SELECT count(*) FROM __d1) AS n1,
                     (SELECT count(*) FROM __d2) AS n2,
                     (SELECT count(*) FROM __d3) AS n3)
    SELECT 1 AS stage, 'exact' AS mechanism,
           CAST(n1 AS BIGINT) AS n_dropped, CAST(t - n1 AS BIGINT) AS n_remaining
    FROM __cnt
    UNION ALL
    SELECT 2, 'fixed_chunk', CAST(n2 AS BIGINT), CAST(t - n1 - n2 AS BIGINT) FROM __cnt
    UNION ALL
    SELECT 3, 'cdc_chunk', CAST(n3 AS BIGINT), CAST(t - n1 - n2 - n3 AS BIGINT) FROM __cnt
"""


@register("t_media_pipeline", oracle=_MEDIA_PIPELINE_ORACLE)
def t_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media corpus-build capstone (media_dedup_pipeline_report) on a
    corpus with the three duplicate kinds planted orthogonally: exact
    byte copies (stage 1's prey), length-preserving first-byte edits
    (aligned chunks — stage 2), and 3-byte front insertions (alignment
    shift — only stage 3's content-defined chunks can catch them).
    The oracle replays all three stages SEQUENTIALLY in SQL — group-
    by-payload keep-lowest, aligned (idx, chunk) join at t=0.8, CDC
    distinct-hash join at t=0.5 — so the per-stage attribution counts
    must match exactly, not just the final survivor count."""
    from faexport_db_spark.training.multimodal import media_dedup_pipeline_report

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())

    def as_media(frame, offset, text_expr):
        return frame.select(
            (F.col("doc_id") + offset).alias("media_id"),
            F.encode(text_expr, "utf-8").alias("media_bytes"),
        )

    corpus = (
        as_media(docs, 0, F.col("text"))
        .unionByName(as_media(docs, 1000000, F.col("text")))
        .unionByName(as_media(
            docs, 2000000,
            F.concat(F.lit("Z"), F.expr("substring(text, 2)")),
        ))
        .unionByName(as_media(docs, 3000000, F.concat(F.lit("XY "), F.col("text"))))
    )
    return media_dedup_pipeline_report(corpus)


@register(
    "t_html_links",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             '<html><body><a href="https://example.com/' || source || '/'
               || CAST(doc_id AS VARCHAR)
               || '">self</a><p>body</p><a class="x" href="https://example.com/lang/'
               || lang || '">lang</a><a name="no-href-anchor">skip</a>'
               || '<area shape="rect" href="https://example.com/map">'
               || '</body></html>'
               AS html
      FROM documents WHERE text IS NOT NULL
    ),
    u AS (SELECT doc_id,
                 unnest(regexp_extract_all(html, '<a(\s[^>]*)?\shref="([^"]*)"', 2)) AS href,
                 generate_subscripts(regexp_extract_all(html, '<a(\s[^>]*)?\shref="([^"]*)"', 2), 1) AS ord
          FROM h)
    SELECT doc_id, CAST(ord - 1 AS BIGINT) AS link_no, href FROM u
    """,
)
def t_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (html_links) over synthesized markup with two
    hrefs per doc (one attribute-bearing), one href-less anchor that
    must NOT match, and one href-bearing ``<area>`` tag that must NOT
    match either (the tag-name boundary — a pattern without it reads
    any tag starting with 'a' as an anchor) — ordinals and urls pinned
    value-for-value by the SQL replay."""
    from faexport_db_spark.training.text import html_links

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit('<html><body><a href="https://example.com/'),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit('">self</a><p>body</p><a class="x" href="https://example.com/lang/'),
        F.col("lang"),
        F.lit('">lang</a><a name="no-href-anchor">skip</a>'),
        F.lit('<area shape="rect" href="https://example.com/map">'),
        F.lit("</body></html>"),
    )
    return html_links(docs.select("doc_id", html.alias("html")))


@register(
    "t_substring_removal",
    oracle=f"""
    WITH corpus AS ({_SUBSTRING_PLANTED_SQL}),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM corpus WHERE text IS NOT NULL),
    g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                 array_to_string(toks[CAST(pos + 1 AS INT) : CAST(pos + 8 AS INT)], ' ') AS gram
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(0, len(toks) - 8)) AS pos
                FROM t WHERE len(toks) >= 8)),
    occ AS (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gram) AS cnt,
                   row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
            FROM g),
    cutpos AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS p
               FROM occ WHERE cnt > 1 AND rn > 1),
    tok AS (SELECT doc_id, unnest(toks) AS w,
                   generate_subscripts(toks, 1) - 1 AS p
            FROM t),
    kept AS (SELECT k.doc_id, k.w, k.p
             FROM tok k LEFT JOIN cutpos c ON k.doc_id = c.doc_id AND k.p = c.p
             WHERE c.doc_id IS NULL),
    agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_removed
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
)
def t_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL form of substring-level dedup (substring_dedup):
    every duplicated ≥8-token gram occurrence except its corpus-first
    (lowest id, pos) keeper has its covered tokens cut, documents
    rebuilt from the survivors. Same planted corpus as the span
    detector; the oracle replays gram marking (gram STRINGS — equality
    matches the engine's fixed-width xxhash64 keys modulo 2^-64
    collisions), the (doc, pos) keeper rule, per-position coverage and
    the ordered rebuild, pinning clean_text byte-for-byte."""
    from faexport_db_spark.training.text import substring_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return substring_dedup(_substring_planted(docs), min_tokens=8)


@register(
    "t_hll_registers",
    oracle="""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    r AS (SELECT CAST(h % 256 AS INT) AS bucket, h // 256 AS rest FROM h)
    SELECT bucket,
           CAST(max(CASE WHEN rest = 0 THEN 53
                         ELSE 52 - length(bin(rest)) + 1 END) AS INT) AS register
    FROM r GROUP BY bucket
    """,
)
def t_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog sketch state (hll_register_table, p=8)
    over the orders fact's customer key: the (bucket, register) table
    is pure integer arithmetic on md5-derived hashes, so the oracle
    replays every register exactly — the sketch STATE, not just its
    estimate, is pinned. Mergeability (max per bucket) and the
    estimate's accuracy are property-tested locally."""
    from faexport_db_spark.training.pipeline import hll_register_table

    return hll_register_table(load_table(spark, sf_dir, "orders"), "o_custkey", p=8)


@register(
    "t_dsir_weights",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, unnest(toks) AS g FROM t
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM t WHERE len(toks) >= 2
    ),
    b AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS INT) AS b
      FROM g
    ),
    raw AS (SELECT b, count(*) AS cr FROM b GROUP BY b),
    tgt AS (SELECT b.b, count(*) AS ct FROM b
            JOIN documents d USING (doc_id) WHERE d.lang = 'zh' GROUP BY b.b),
    tots AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM raw) AS nr,
                    (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS nt),
    ratio AS (
      SELECT coalesce(raw.b, tgt.b) AS b,
             ln((coalesce(ct, 0) + 1) / (nt + 4096.0))
               - ln((coalesce(cr, 0) + 1) / (nr + 4096.0)) AS lr
      FROM raw FULL OUTER JOIN tgt ON raw.b = tgt.b, tots
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             round(CAST(sum(lr) AS DOUBLE), 6) AS dsir_logw
      FROM b JOIN ratio USING (b) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.dsir_logw, 0.0) AS dsir_logw
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (dsir_weights): every document scored
    for resemblance to the zh slice (the registered stand-in for the
    paper's wiki-like target) over hashed unigram+bigram buckets —
    counts, smoothing, and the per-doc log-weight sum replayed
    value-for-value in SQL."""
    from faexport_db_spark.training.pipeline import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(docs, docs.filter(F.col("lang") == "zh"))


@register(
    "t_bloom_decontaminate",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
                                   i -> array_to_string(toks[i:i+4], ' '))) AS g
      FROM t
    ),
    bp AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(g || '#' || s), 1, 15)) AS BIGINT) % 4194304 AS pos
      FROM g, unnest([0, 1, 2]) AS u(s) WHERE doc_id % 50 = 0
    ),
    cp AS (
      SELECT doc_id, g, s,
             CAST(('0x' || substr(md5(g || '#' || s), 1, 15)) AS BIGINT) % 4194304 AS pos
      FROM g, unnest([0, 1, 2]) AS u(s)
    ),
    bad AS (
      SELECT DISTINCT doc_id FROM cp
      WHERE pos IN (SELECT pos FROM bp)
      GROUP BY doc_id, g HAVING count(DISTINCT s) = 3
    )
    SELECT doc_id, text, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def t_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (bloom_decontaminate, m=2^22, k=3,
    5-grams) against the same doc_id%50 benchmark slice t_decontaminate
    uses: the filter's md5-derived bit positions are engine-neutral, so
    the oracle rebuilds the identical filter and replays the exact kept
    set — false positives included."""
    from faexport_db_spark.training.text import bloom_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return bloom_decontaminate(docs, bench)


@register(
    "t_temperature_mix",
    oracle="""
    WITH c AS (
      SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST(sum(pow(n_docs, 0.7)) AS DOUBLE) AS z FROM c)
    SELECT stratum, n_docs,
           round(n_docs / CAST(n_total AS DOUBLE), 6) AS p_raw,
           round(pow(n_docs, 0.7) / z, 6) AS q_temp,
           round((pow(n_docs, 0.7) / z) / (n_docs / CAST(n_total AS DOUBLE)), 6) AS boost
    FROM c, t
    """,
)
def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (temperature_mixture,
    α=0.7) over the language strata — raw share, flattened share and
    the oversampling boost per stratum, all replayed in SQL."""
    from faexport_db_spark.training.pipeline import temperature_mixture

    return temperature_mixture(_docs(spark, sf_dir), "lang", 0.7)


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    """DuckDB replica of the full tokenize path: the trainer's
    CTE-unrolled merge derivation (same construction as
    ``_bpe_oracle_sql`` — control-char-delimited symbol strings, one
    ``replace`` per merge with greedy non-overlapping left-to-right
    semantics) extended to carry the WORD through, so the final
    per-word symbol counts re-aggregate into per-document BPE token
    counts. An independent formulation of the encoder (string
    simulation) cross-checking the Spark side's Catalyst array fold."""
    L, R = "\x02", "\x03"
    rx = f"{L}([^{L}{R}]*){R}"
    parts = [
        f"""
    words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents WHERE text IS NOT NULL) u
      WHERE len(w) > 0 GROUP BY w
    ),
    w0 AS (
      SELECT w, freq,
             '{L}' || array_to_string(string_split(w, ''), '{R}{L}') || '{R}' AS s
      FROM words
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
    x{i} AS (SELECT freq, regexp_extract_all(s, '{rx}', 1) AS syms FROM w{i}),
    e{i} AS (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
             FROM x{i} WHERE len(syms) >= 2),
    p{i} AS (SELECT syms[i] AS lhs, syms[i+1] AS rhs,
                    CAST(sum(freq) AS BIGINT) AS cnt
             FROM e{i} GROUP BY 1, 2),
    t{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
    w{i + 1} AS (SELECT w, freq, replace(s,
                  (SELECT '{L}' || lhs || '{R}{L}' || rhs || '{R}' FROM t{i}),
                  (SELECT '{L}' || lhs || rhs || '{R}' FROM t{i})) AS s
                 FROM w{i})"""
        )
    parts.append(
        f"""
    wc AS (SELECT w, len(regexp_extract_all(s, '{rx}', 1)) AS n_sym
           FROM w{n_merges}),
    dtext AS (SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS toks
              FROM documents WHERE text IS NOT NULL),
    dtok AS (SELECT doc_id, unnest(toks) AS w FROM dtext),
    agg AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe
            FROM dtok JOIN wc USING (w) GROUP BY doc_id)"""
    )
    tail = """
    SELECT d.doc_id,
           CAST(len(d.toks) AS BIGINT) AS n_ws_tokens,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           coalesce(a.n_bpe, 0) AS n_bpe_tokens
    FROM dtext d LEFT JOIN agg a USING (doc_id)"""
    return "WITH" + ",".join(parts) + tail


@register("t_bpe_encode", oracle=_bpe_encode_oracle_sql(3))
def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoder half of the tokenizer story (bpe_apply): train the
    first 3 merges on the corpus, then encode every document with them
    — per-doc whitespace-token, char and realized-BPE-token counts.
    The Spark side encodes via the pure-Catalyst array fold; the
    oracle re-derives the merges AND re-encodes via an independent
    string-simulation — two formulations of greedy non-overlapping
    merge application pinned value-for-value against each other."""
    from faexport_db_spark.training.text import bpe_apply, bpe_merges

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    learned = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(docs, n_merges=3).orderBy("it").collect()
    ]
    return bpe_apply(docs, learned)


@register(
    "t_hll_merge",
    oracle="""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    r AS (SELECT CAST(h % 256 AS INT) AS bucket, h // 256 AS rest FROM h)
    SELECT bucket,
           CAST(max(CASE WHEN rest = 0 THEN 53
                         ELSE 52 - length(bin(rest)) + 1 END) AS INT) AS register
    FROM r GROUP BY bucket
    """,
)
def t_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merge algebra: the orders fact splits into two shards
    (even/odd orderkey), each shard computes its own HLL register
    table, and the two merge by elementwise MAX per bucket. The oracle
    is the DIRECT single-pass register table over the whole fact —
    merge(shard sketches) == sketch(union) is exactly the property
    that lets 100 TB keep per-shard sketch sidecars and answer
    distinct-counts over any shard subset without rescanning."""
    from faexport_db_spark.training.pipeline import hll_register_table

    orders = load_table(spark, sf_dir, "orders")
    even = hll_register_table(orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey", p=8)
    odd = hll_register_table(orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey", p=8)
    return (
        even.unionByName(odd)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )


@register(
    "t_dsir_select",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, unnest(toks) AS g FROM t
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM t WHERE len(toks) >= 2
    ),
    b AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS INT) AS b
      FROM g
    ),
    raw AS (SELECT b, count(*) AS cr FROM b GROUP BY b),
    tgt AS (SELECT b.b, count(*) AS ct FROM b
            JOIN documents d USING (doc_id) WHERE d.lang = 'zh' GROUP BY b.b),
    tots AS (SELECT (SELECT CAST(sum(cr) AS DOUBLE) FROM raw) AS nr,
                    (SELECT CAST(sum(ct) AS DOUBLE) FROM tgt) AS nt),
    ratio AS (
      SELECT coalesce(raw.b, tgt.b) AS b,
             ln((coalesce(ct, 0) + 1) / (nt + 4096.0))
               - ln((coalesce(cr, 0) + 1) / (nr + 4096.0)) AS lr
      FROM raw FULL OUTER JOIN tgt ON raw.b = tgt.b, tots
    ),
    scored AS (
      SELECT doc_id, round(CAST(sum(lr) AS DOUBLE), 6) AS dsir_logw
      FROM b JOIN ratio USING (b) GROUP BY doc_id
    ),
    w AS (
      SELECT d.doc_id, coalesce(s.dsir_logw, 0.0) AS dsir_logw
      FROM documents d LEFT JOIN scored s USING (doc_id)
    )
    SELECT doc_id, dsir_logw,
           CAST(row_number() OVER (ORDER BY dsir_logw DESC, doc_id) AS BIGINT) AS sel_rank
    FROM w ORDER BY dsir_logw DESC, doc_id LIMIT 100
    """,
)
def t_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step completing DSIR: top-100 documents by
    importance weight with a deterministic (weight desc, id) tiebreak
    — ranks and weights both pinned. At scale this is a bounded
    TakeOrderedAndProject (k rows per partition → k global), never a
    full sort; the weights come from the same dsir_weights pass
    t_dsir_weights pins."""
    from pyspark.sql import Window

    from faexport_db_spark.training.pipeline import dsir_weights

    docs = _docs(spark, sf_dir)
    w = dsir_weights(docs, docs.filter(F.col("lang") == "zh")).select(
        "doc_id", "dsir_logw"
    )
    # Top-k FIRST (TakeOrderedAndProject — k rows per partition, never
    # a full sort), THEN rank within the k survivors: the global-order
    # window runs over 100 rows, not the corpus.
    top = w.orderBy(F.desc("dsir_logw"), "doc_id").limit(100)
    return top.withColumn(
        "sel_rank",
        F.row_number()
        .over(Window.orderBy(F.desc("dsir_logw"), "doc_id"))
        .cast("bigint"),
    ).select("doc_id", "dsir_logw", "sel_rank")


@register(
    "t_kneser_ney",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    bg0 AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                  FROM t WHERE len(toks) >= 2)),
    c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg0 GROUP BY w1, w2),
    c1t AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
            FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
    fert AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n_right FROM c2t GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n_left FROM c2t GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c2t)
    SELECT b.w1, b.w2, b.c2,
           round(greatest(b.c2 - 0.75, 0) / c1t.c1
                 + (0.75 * f.n_right / c1t.c1) * (c.n_left / tot.n_types),
                 6) AS p_kn
    FROM c2t b
    JOIN c1t ON b.w1 = c1t.tok
    JOIN fert f USING (w1)
    JOIN cont c USING (w2), tot
    """,
)
def t_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (lm_kneser_ney,
    d=0.75) from the corpus-trained count tables — discounted ML term,
    context fertility λ and continuation probability all replayed as
    count algebra in SQL."""
    from faexport_db_spark.training.lm import lm_kneser_ney, lm_train

    return lm_kneser_ney(lm_train(_docs(spark, sf_dir)))


@register(
    "t_oov_rate",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    v AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) >= 5),
    s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
          FROM tok LEFT JOIN v USING (tok) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.n_oov, 0) AS n_oov,
           round(coalesce(s.n_oov / CAST(s.n_tokens AS DOUBLE), 0.0), 6) AS oov_rate
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def t_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary share against the ≥5-count corpus
    vocabulary (oov_rate) — the head-of-distribution vocab broadcasts,
    the OOV tail never travels."""
    from faexport_db_spark.training.pipeline import oov_rate

    return oov_rate(_docs(spark, sf_dir), min_count=5)


@register(
    "t_hll_grouped",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (SELECT event_type AS grp, CAST(h % 256 AS INT) AS bucket, h // 256 AS rest
          FROM h)
    SELECT grp, bucket,
           CAST(max(CASE WHEN rest = 0 THEN 53
                         ELSE 52 - length(bin(rest)) + 1 END) AS INT) AS register
    FROM r GROUP BY grp, bucket
    """,
)
def t_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group portable HLL register tables (grouped_hll_registers):
    distinct users per event type as constant-size-per-group mergeable
    sketch state — every register replayed exactly in SQL."""
    from faexport_db_spark.training.pipeline import grouped_hll_registers

    return grouped_hll_registers(
        load_table(spark, sf_dir, "events"), "event_type", "user_id", p=8
    )


@register(
    "t_link_domains",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             '<a href="https://' || source || '.example.com/d/'
               || CAST(doc_id AS VARCHAR)
               || '">x</a><a class="c" href="https://cdn.example.net/lang/'
               || lang || '">y</a><a href="/rel/path">z</a>' AS html
      FROM documents WHERE text IS NOT NULL
    ),
    u AS (SELECT doc_id,
                 unnest(regexp_extract_all(html, '<a(\s[^>]*)?\shref="([^"]*)"', 2)) AS href
          FROM h),
    d AS (SELECT doc_id, regexp_extract(href, '^https?://([^/]+)', 1) AS domain FROM u)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM d GROUP BY domain
    """,
)
def t_link_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink domain degree table (html_links → link_domains) over
    markup whose anchor targets vary by source — per-domain outlink
    and distinct-source-document counts, with a relative href
    aggregating under the '' domain; every count replayed in SQL."""
    from faexport_db_spark.training.text import html_links, link_domains

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit('<a href="https://'),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a><a class="c" href="https://cdn.example.net/lang/'),
        F.col("lang"),
        F.lit('">y</a><a href="/rel/path">z</a>'),
    )
    return link_domains(html_links(docs.select("doc_id", html.alias("html"))))


@register(
    "t_temperature_sampled",
    oracle="""
    WITH c AS (SELECT lang AS s, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY lang),
    m AS (SELECT CAST(min(n) AS DOUBLE) AS nmin FROM c),
    t AS (SELECT s, CAST(floor(sqrt(m.nmin / CAST(n AS DOUBLE)) * 4294967296.0) AS BIGINT) AS thr
          FROM c, m),
    k AS (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 8)) AS BIGINT)
                   AS sample_key
          FROM documents)
    SELECT k.doc_id, k.lang AS stratum, k.sample_key
    FROM k JOIN t ON k.lang = t.s WHERE k.sample_key < t.thr
    """,
)
def t_temperature_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZED α=0.5 temperature mixture (temperature_sample): the
    exact kept set, reproduced bit-for-bit by the oracle because every
    step of the threshold computation (bigint divide, sqrt, scale by
    2^32, floor) is an IEEE correctly-rounded primitive and the
    normalizer cancels out of the keep-rate ratio — no float sum, no
    pow(), no driver collect anywhere."""
    from faexport_db_spark.training.pipeline import temperature_sample

    return temperature_sample(_docs(spark, sf_dir), alpha=0.5, salt="temp")


@register(
    "t_cms_registers",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    e AS (SELECT tok, unnest([0, 1, 2, 3]) AS seed FROM tok),
    sl AS (SELECT seed,
                  CAST(CAST(('0x' || substr(md5(tok || '#' || seed), 1, 15)) AS BIGINT)
                       % 2048 AS INT) AS slot
           FROM e)
    SELECT CAST(seed AS INT) AS seed, slot, CAST(count(*) AS BIGINT) AS cnt
    FROM sl GROUP BY seed, slot
    """,
)
def t_cms_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Count-Min sketch state (cms_register_table, 4×2048)
    over the corpus token stream — the frequency sibling of the HLL
    register table, every counter replayed exactly in SQL; merge (SUM)
    and the one-sided point-estimate guarantee are property-tested
    locally."""
    from faexport_db_spark.training.pipeline import cms_register_table
    from faexport_db_spark.training.text import tokens_expr

    toks = F.filter(tokens_expr("text"), lambda t: t != F.lit(""))
    stream = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.explode(toks).alias("tok"))
    )
    return cms_register_table(stream, "tok", depth=4, width=2048)


@register(
    "t_bloom_fp_audit",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
                                   i -> array_to_string(toks[i:i+4], ' '))) AS g
      FROM t
    ),
    bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0),
    bad_e AS (SELECT DISTINCT doc_id FROM g WHERE g IN (SELECT g FROM bg)),
    bp AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(g || '#' || s), 1, 15)) AS BIGINT) % 16384 AS pos
      FROM g, unnest([0, 1, 2]) AS u(s) WHERE doc_id % 50 = 0
    ),
    cp AS (
      SELECT doc_id, g, s,
             CAST(('0x' || substr(md5(g || '#' || s), 1, 15)) AS BIGINT) % 16384 AS pos
      FROM g, unnest([0, 1, 2]) AS u(s)
    ),
    bad_b AS (
      SELECT DISTINCT doc_id FROM cp
      WHERE pos IN (SELECT pos FROM bp)
      GROUP BY doc_id, g HAVING count(DISTINCT s) = 3
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM bad_e) AS n_dropped_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM bad_b) AS n_dropped_bloom,
           (SELECT CAST(count(*) AS BIGINT) FROM bad_b
             WHERE doc_id NOT IN (SELECT doc_id FROM bad_e)) AS n_false_pos,
           (SELECT count(*) FROM bad_e
             WHERE doc_id NOT IN (SELECT doc_id FROM bad_b)) = 0 AS no_false_neg
    """,
)
def t_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accuracy contract tying the two decontamination rules
    together: at a deliberately under-sized filter (m=2^14 — heavily
    loaded, so false positives actually occur) the Bloom rule must
    drop a SUPERSET of the exact rule's drops (no_false_neg pins the
    zero-false-negative guarantee) and the overshoot is reported as
    n_false_pos — the number the ε-budget decision reads. One-row
    report; both kept sets replayed in SQL."""
    from faexport_db_spark.training.text import bloom_decontaminate, decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    ids = docs.select("doc_id")
    kept_e = decontaminate(docs, bench, n=5).select("doc_id")
    kept_b = bloom_decontaminate(docs, bench, n=5, m_bits=1 << 14, k=3).select("doc_id")
    n_docs = ids.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ne = kept_e.agg(F.count(F.lit(1)).cast("bigint").alias("__ke"))
    nb = kept_b.agg(F.count(F.lit(1)).cast("bigint").alias("__kb"))
    # false negatives = docs the exact rule drops but bloom keeps —
    # structurally empty, pinned as a boolean
    fn = (
        kept_b.join(kept_e, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("__fn"))
    )
    return (
        n_docs.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(fn))
        .select(
            "n_docs",
            (F.col("n_docs") - F.col("__ke")).cast("bigint").alias("n_dropped_exact"),
            (F.col("n_docs") - F.col("__kb")).cast("bigint").alias("n_dropped_bloom"),
            (F.col("__ke") - F.col("__kb")).cast("bigint").alias("n_false_pos"),
            (F.col("__fn") == 0).alias("no_false_neg"),
        )
    )


_KMV_HASH = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"

# B-side corpus for the sketch-intersection op: half the docs verbatim,
# half first-word-mutated — a known ~50% overlap for the estimator.
_KMV_B_SQL = f"""
      SELECT {_KMV_HASH} AS hval FROM documents
      WHERE text IS NOT NULL AND doc_id % 2 = 0
      UNION ALL
      SELECT CAST(('0x' || substr(md5(regexp_replace(text, '^\\S+', 'zzz')), 1, 15)) AS BIGINT)
      FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
"""


def _kmv_corpus_b(docs: DataFrame) -> DataFrame:
    keep = docs.filter(F.col("text").isNotNull())
    return keep.filter(F.col("doc_id") % 2 == 0).select("text").unionByName(
        keep.filter(F.col("doc_id") % 2 == 1).select(
            F.regexp_replace("text", r"^\S+", "zzz").alias("text")
        )
    )


@register(
    "t_kmv_sketch",
    oracle=f"""
    SELECT DISTINCT {_KMV_HASH} AS hval
    FROM documents WHERE text IS NOT NULL
    ORDER BY hval LIMIT 256
    """,
)
def t_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct sketch STATE over document text: the
    256 smallest distinct 60-bit md5-derived hashes. Like
    t_hll_registers, what's pinned is the portable sketch rows
    themselves — bit-reproducible in any engine with md5 — not just an
    estimate. The corpus pass is a bounded-memory per-partition
    bottom-k (Arrow mapInPandas, ≤k rows out per partition); nothing
    ever shuffles the full distinct key space."""
    from faexport_db_spark.training.pipeline import kmv_sketch

    return kmv_sketch(_docs(spark, sf_dir), "text", k=256)


@register(
    "t_kmv_distinct",
    oracle=f"""
    WITH k AS (
      SELECT DISTINCT {_KMV_HASH} AS hval
      FROM documents WHERE text IS NOT NULL
      ORDER BY hval LIMIT 256
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(hval) AS h_k FROM k)
    SELECT k_used, h_k,
           round(CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                      ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
                 END, 6) AS n_distinct_est
    FROM s
    """,
)
def t_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV read path: (k-1)/h_k distinct-count estimate (exact
    count when the sketch is not full), computed from the sketch rows
    alone. Every arithmetic step is an IEEE correctly-rounded
    primitive on integers exactly representable in double, so the
    estimate — not just the sketch — replays exactly in SQL."""
    from faexport_db_spark.training.pipeline import kmv_sketch

    sk = kmv_sketch(_docs(spark, sf_dir), "text", k=256)
    est = F.when(F.col("k_used") < 256, F.col("k_used").cast("double")).otherwise(
        F.lit(float(255) * float(1 << 60)) / F.col("h_k").cast("double")
    )
    return sk.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("hval").alias("h_k"),
    ).select("k_used", "h_k", F.round(est, 6).alias("n_distinct_est"))


@register(
    "t_kmv_intersect",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT {_KMV_HASH} AS hval
      FROM documents WHERE text IS NOT NULL
      ORDER BY hval LIMIT 256
    ),
    b AS (
      SELECT DISTINCT hval FROM ({_KMV_B_SQL})
      ORDER BY hval LIMIT 256
    ),
    u AS (
      SELECT DISTINCT hval
      FROM (SELECT hval FROM a UNION ALL SELECT hval FROM b)
      ORDER BY hval LIMIT 256
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(hval) AS h_k FROM u),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common FROM u
      WHERE hval IN (SELECT hval FROM a) AND hval IN (SELECT hval FROM b)
    )
    SELECT k_used, n_common,
           round(n_common * 1.0 / k_used, 6) AS jaccard_est,
           round((n_common * 1.0 / k_used)
                 * (CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                         ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
                    END), 6) AS inter_est
    FROM c, s
    """,
)
def t_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra corpus overlap: Jaccard + intersection-size
    estimate between the corpus and a half-mutated copy from their
    two 256-row KMV sketches ALONE — the corpora are never rejoined.
    The exact sibling is t_corpus_overlap (full equi-join on content
    hash); this is what replaces it when the shards are 100 TB and
    the question is a matrix of pairwise overlaps: N sketch scans,
    then N² joins over 256-row frames."""
    from faexport_db_spark.training.pipeline import kmv_intersect_estimate, kmv_sketch

    docs = _docs(spark, sf_dir)
    ska = kmv_sketch(docs, "text", k=256)
    skb = kmv_sketch(_kmv_corpus_b(docs), "text", k=256)
    return kmv_intersect_estimate(ska, skb, k=256)


def _kmeans_iter_sql(cent: str, n: int) -> str:
    """One unrolled Lloyd iteration: assign against ``cent``, then
    integer floor-mean update — emits CTEs a{n}, s{n}, c{n}."""
    return f"""
    a{n} AS (
      SELECT vec_id, cid, dist FROM (
        SELECT p.vec_id, c.cid,
               CAST(list_aggregate(list_transform(generate_series(1, 64),
                   j -> (p.q[j] - c.q[j]) * (p.q[j] - c.q[j])), 'sum') AS BIGINT) AS dist,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_aggregate(list_transform(generate_series(1, 64),
                     j -> (p.q[j] - c.q[j]) * (p.q[j] - c.q[j])), 'sum'),
                 c.cid) AS rn
        FROM p CROSS JOIN {cent} c
      ) WHERE rn = 1
    ),
    s{n} AS (
      SELECT a{n}.cid, t.j, CAST(sum(p.q[t.j]) AS BIGINT) // count(*) AS c
      FROM a{n} JOIN p USING (vec_id), generate_series(1, 64) AS t(j)
      GROUP BY a{n}.cid, t.j
    ),
    c{n} AS (
      SELECT {cent}.cid, coalesce(nc.q, {cent}.q) AS q
      FROM {cent} LEFT JOIN
        (SELECT cid, list(c ORDER BY j) AS q FROM s{n} GROUP BY cid) nc
        USING (cid)
    )"""


@register(
    "t_kmeans_assign",
    oracle=f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT) + 20000) AS q
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q
      FROM (SELECT vec_id, q FROM p ORDER BY vec_id LIMIT 8)
    ),
    {_kmeans_iter_sql('c0', 1)},
    {_kmeans_iter_sql('c1', 2)}
    SELECT vec_id, cid, dist FROM (
      SELECT p.vec_id, c.cid,
             CAST(list_aggregate(list_transform(generate_series(1, 64),
                 j -> (p.q[j] - c.q[j]) * (p.q[j] - c.q[j])), 'sum') AS BIGINT) AS dist,
             row_number() OVER (PARTITION BY p.vec_id ORDER BY
               list_aggregate(list_transform(generate_series(1, 64),
                   j -> (p.q[j] - c.q[j]) * (p.q[j] - c.q[j])), 'sum'),
               c.cid) AS rn
      FROM p CROSS JOIN c2 c
    ) WHERE rn = 1
    """,
)
def t_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer k-means TRAINER (2 unrolled Lloyd iterations,
    k=8) over the embeddings table: quantize → integer squared-L2
    argmin → integer floor-mean update, twice, then the final
    assignment. Every step is exact integer arithmetic, so the
    driver oracle (CTE-unrolled, the g3_pagerank pattern) replays
    the trained model bit-for-bit — assignment ids AND distances.
    The engine loop is the standard Spark k-means shape: map-only
    literal-expression assignment, one k×dim-bounded groupBy per
    iteration, centroids-only driver round-trips."""
    from faexport_db_spark.training.similarity import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=8, iters=2)[0]


@register(
    "t_embedding_stats",
    oracle="""
    WITH e AS (
      SELECT t.j - 1 AS pos,
             CAST(floor(CAST(embedding[t.j] AS DOUBLE) * 1000000) AS BIGINT) AS qv
      FROM embeddings, generate_series(1, 64) AS t(j)
    )
    SELECT CAST(pos AS INT) AS pos, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(qv) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean,
           round(sqrt((CAST(sum(qv * qv) AS DOUBLE)
                       - CAST(sum(qv) AS DOUBLE) * CAST(sum(qv) AS DOUBLE) / count(*))
                      / count(*)) / 1000000.0, 6) AS std
    FROM e GROUP BY pos
    """,
)
def t_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std QC table over the embedding column
    (embedding_stats): quantized to exact integer sums first, so the
    moments are order-independent and the oracle replays them to the
    last rounded digit. One dim-bounded groupBy."""
    from faexport_db_spark.training.similarity import embedding_stats

    return embedding_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "t_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT doc_id, lang, source,
             count(*) OVER (PARTITION BY lang, source) AS n
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n >= 5 THEN lang ELSE '*' END AS lang,
           CASE WHEN n >= 5 THEN source ELSE '*' END AS source,
           CAST(n AS BIGINT) AS group_n, n >= 5 AS released
    FROM g
    """,
)
def t_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=5) over the (lang, source)
    quasi-identifier pair — rows in combinations rarer than k get
    every quasi-identifier masked to '*'. The fixture has singleton
    combinations at every SF, so both branches are exercised and
    every mask decision is replayed in SQL."""
    from faexport_db_spark.training.pipeline import k_anonymity

    return k_anonymity(_docs(spark, sf_dir), ["lang", "source"], k=5)


@register(
    "t_url_frontier",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             '<a href="https://' || source || '.example.com/d/'
               || CAST(doc_id AS VARCHAR)
               || '">x</a><a class="c" href="https://cdn.example.net/lang/'
               || lang || '">y</a><a href="/rel/path">z</a>' AS html
      FROM documents WHERE text IS NOT NULL
    ),
    u AS (SELECT doc_id,
                 unnest(regexp_extract_all(html, '<a(\s[^>]*)?\shref="([^"]*)"', 2)) AS href,
                 generate_subscripts(regexp_extract_all(html, '<a(\s[^>]*)?\shref="([^"]*)"', 2), 1) AS ord
          FROM h),
    f AS (
      SELECT href AS url, CAST(min(ord - 1) AS BIGINT) AS priority,
             CAST(count(*) AS BIGINT) AS n_refs
      FROM u WHERE regexp_matches(href, '^https?://')
      GROUP BY href
    )
    SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
           priority, n_refs,
           CAST(row_number() OVER (
             PARTITION BY regexp_extract(url, '^https?://([^/]+)', 1)
             ORDER BY priority, url) AS BIGINT) AS wave
    FROM f
    """,
)
def t_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier (crawl_frontier) over the
    outlinks of the synthetic markup: distinct absolute URLs ranked
    into one-fetch-per-domain-per-wave slots, priority = best ordinal
    across referrers. Per-domain window — no global sequence, nothing
    single-partitions; the whole schedule replays in SQL."""
    from faexport_db_spark.training.text import crawl_frontier, html_links

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    html = F.concat(
        F.lit('<a href="https://'),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit('">x</a><a class="c" href="https://cdn.example.net/lang/'),
        F.col("lang"),
        F.lit('">y</a><a href="/rel/path">z</a>'),
    )
    return crawl_frontier(html_links(docs.select("doc_id", html.alias("html"))))


@register(
    "t_group_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gs1'), 1, 8)) AS BIGINT)
               AS sample_key
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, sample_key,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id)
               AS BIGINT) AS rk
      FROM k
    )
    SELECT doc_id, lang, sample_key, rk FROM r WHERE rk <= 20
    """,
)
def t_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-size per-group sample (group_sample): the
    20 smallest md5-keyed docs per language — the balanced eval-subset
    builder where rate-based sampling can't promise exact counts.
    Integer keying end-to-end; the whole sample replays in SQL."""
    from faexport_db_spark.training.pipeline import group_sample

    return group_sample(_docs(spark, sf_dir), per_group=20, salt="gs1")


@register(
    "t_normalized_dedup",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
               '\s+', ' ', 'g'))) AS norm_hash
      FROM documents WHERE text IS NOT NULL
    )
    SELECT min(doc_id) AS doc_id, norm_hash, CAST(count(*) AS BIGINT) AS n_dups
    FROM n GROUP BY norm_hash
    """,
)
def t_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over aggressively NORMALIZED text (lowercase,
    punctuation to spaces, whitespace collapsed) — catches the
    reformatted near-copies plain content-hash dedup misses, one
    map-side-combining groupBy, every representative and count
    replayed in SQL."""
    from faexport_db_spark.training.text import normalized_dedup

    return normalized_dedup(_docs(spark, sf_dir))


@register(
    "t_contamination_report",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
               i -> array_to_string(toks[i:i+4], ' '))) AS gram
      FROM t
    ),
    bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0),
    h AS (SELECT bg.bench_id, g.doc_id, g.gram FROM g JOIN bg USING (gram))
    SELECT bench_id,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams
    FROM h GROUP BY bench_id
    """,
)
def t_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-item contamination report (contamination_report):
    for every eval doc (every 50th doc plays the benchmark), how many
    corpus docs share a word 5-gram with it and how many of its grams
    leak — the eval-side twin of t_decontaminate's corpus-side rule.
    Benchmark grams broadcast; the corpus explode never shuffles."""
    from faexport_db_spark.training.text import contamination_report

    docs = _docs(spark, sf_dir)
    return contamination_report(docs, docs.filter(F.col("doc_id") % 50 == 0), n=5)


# HLL alpha for m=256, frozen as one shared literal so both engines
# start from the identical double (0.7213 / (1 + 1.079/256)).
_HLL_ALPHA_256 = "0.7182725932495458"

@register(
    "t_sketch_panel",
    oracle=f"""
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    r AS (SELECT CAST(h % 256 AS INT) AS bucket, h // 256 AS rest FROM h),
    regs AS (
      SELECT bucket,
             CAST(max(CASE WHEN rest = 0 THEN 53
                           ELSE 52 - length(bin(rest)) + 1 END) AS INT) AS register
      FROM r GROUP BY bucket
    ),
    hs AS (
      SELECT CAST(sum(CAST(power(2.0, 53 - register) AS BIGINT)) AS BIGINT) AS si,
             CAST(count(*) AS BIGINT) AS nb
      FROM regs
    ),
    hest AS (
      SELECT CASE
        WHEN {_HLL_ALPHA_256} * power(2.0, 69)
             / CAST(si + (256 - nb) * CAST(power(2.0, 53) AS BIGINT) AS DOUBLE) <= 640.0
             AND nb < 256
        THEN 256.0 * ln(256.0 / (256 - nb))
        ELSE {_HLL_ALPHA_256} * power(2.0, 69)
             / CAST(si + (256 - nb) * CAST(power(2.0, 53) AS BIGINT) AS DOUBLE)
        END AS hll_est
      FROM hs
    ),
    kk AS (SELECT DISTINCT h AS hval FROM h ORDER BY hval LIMIT 256),
    ks AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(hval) AS h_k FROM kk),
    kest AS (
      SELECT CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
                  ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
             END AS kmv_est
      FROM ks
    ),
    ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
           FROM orders WHERE o_custkey IS NOT NULL)
    SELECT n_exact,
           round(hll_est, 4) AS hll_est,
           round(kmv_est, 4) AS kmv_est,
           abs(hll_est - n_exact) / n_exact <= 0.2 AS hll_ok,
           abs(kmv_est - n_exact) / n_exact <= 0.2 AS kmv_ok
    FROM ex, hest, kest
    """,
)
def t_sketch_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-family accuracy contract in one row: exact distinct
    count vs the HLL estimate (computed from the register table with
    INTEGER-scaled 2^(53-r) sums — no float-sum order anywhere — and
    both branches exercised across SFs: linear counting at sf0.001,
    raw at sf0.01) vs the KMV estimate (not-full exact branch at
    sf0.001, (k-1)/h_k at sf0.01), each pinned within its theoretical
    ~2-sigma band. The read-path algebra itself — not just sketch
    state — replays in SQL."""
    from faexport_db_spark.training.pipeline import hll_register_table, kmv_sketch

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    alpha = float(_HLL_ALPHA_256)
    regs = hll_register_table(orders, "o_custkey", p=8)
    hs = regs.agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(53) - F.col("register")).cast("bigint")
        ).alias("si"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    stot = (
        F.col("si")
        + (F.lit(256) - F.col("nb")) * F.pow(F.lit(2.0), F.lit(53)).cast("bigint")
    ).cast("double")
    raw = F.lit(alpha) * F.pow(F.lit(2.0), F.lit(69)) / stot
    hll_est = F.when(
        (raw <= 640.0) & (F.col("nb") < 256),
        F.lit(256.0) * F.log(F.lit(256.0) / (F.lit(256) - F.col("nb"))),
    ).otherwise(raw)
    hest = hs.select(hll_est.alias("hll_est"))
    sk = kmv_sketch(orders, "o_custkey", k=256)
    ks = sk.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("hval").alias("h_k"),
    )
    kmv_est = F.when(
        F.col("k_used") < 256, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(255) * float(1 << 60)) / F.col("h_k").cast("double")
    )
    kest = ks.select(kmv_est.alias("kmv_est"))
    ex = orders.agg(F.count_distinct("o_custkey").cast("bigint").alias("n_exact"))
    return (
        ex.crossJoin(F.broadcast(hest))
        .crossJoin(F.broadcast(kest))
        .select(
            "n_exact",
            F.round("hll_est", 4).alias("hll_est"),
            F.round("kmv_est", 4).alias("kmv_est"),
            (F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact") <= 0.2).alias("hll_ok"),
            (F.abs(F.col("kmv_est") - F.col("n_exact")) / F.col("n_exact") <= 0.2).alias("kmv_ok"),
        )
    )


@register(
    "t_l_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars // 500 AS sens
      FROM documents
    ),
    g AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS group_n,
             CAST(count(DISTINCT sens)
                  + max(CASE WHEN sens IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_sensitive
      FROM t GROUP BY lang, source
    )
    SELECT doc_id,
           CASE WHEN group_n >= 5 AND n_sensitive >= 3 THEN t.lang
                ELSE '*' END AS lang,
           CASE WHEN group_n >= 5 AND n_sensitive >= 3 THEN t.source
                ELSE '*' END AS source,
           group_n, n_sensitive,
           group_n >= 5 AND n_sensitive >= 3 AS released
    FROM t JOIN g USING (lang, source)
    """,
)
def t_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release gate (k=5, l=3) over the (lang, source)
    quasi-identifiers with the coarse length band as the sensitive
    attribute — groups that pass k-anonymity but are HOMOGENEOUS in
    the sensitive value stay masked (the homogeneity attack
    k_anonymity alone misses). GroupBy+join shape, no window; every
    mask decision replays in SQL."""
    from faexport_db_spark.training.pipeline import l_diversity

    return l_diversity(
        _docs(spark, sf_dir),
        ["lang", "source"],
        F.expr("n_chars DIV 500"),
        k=5,
        l=3,
    )


@register(
    "t_qsketch_registers",
    oracle="""
    WITH v AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(CASE WHEN cents <= 0 THEN 0 ELSE length(bin(cents)) END
             AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM v GROUP BY l_returnflag, bucket
    """,
)
def t_qsketch_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic quantile-sketch STATE per return flag: log2-bucket
    counts over price cents (exact bit-length bucketing, no float
    log2) — SUM-mergeable across shards/days/engines like the
    HLL/CMS/KMV registers, <= 64 rows per group forever. One
    map-side-combining groupBy; the whole state replays in SQL."""
    from faexport_db_spark.training.pipeline import qsketch_register_table

    li = load_table(spark, sf_dir, "lineitem")
    return qsketch_register_table(
        li,
        F.floor(F.col("l_extendedprice") * 100).cast("bigint"),
        group_col="l_returnflag",
    )


@register(
    "t_qsketch_brackets",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    reg AS (
      SELECT CAST(CASE WHEN cents <= 0 THEN 0 ELSE length(bin(cents)) END
               AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM reg
    ),
    q AS (SELECT unnest([1, 25, 50, 75, 99]) AS q_pct),
    r AS (SELECT q_pct, greatest(1, (CAST(q_pct AS BIGINT) * n + 99) // 100)
                    AS rank, n
          FROM q CROSS JOIN (SELECT DISTINCT n FROM cum)),
    hit AS (
      SELECT r.q_pct, r.rank, r.n, CAST(min(cum.bucket) AS INTEGER) AS bucket
      FROM r JOIN cum ON cum.cum >= r.rank
      GROUP BY r.q_pct, r.rank, r.n
    )
    SELECT q_pct, rank, bucket,
           CAST(CASE WHEN bucket <= 0 THEN 0
                ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS lo,
           CAST(CASE WHEN bucket <= 0 THEN 0
                ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS BIGINT) AS hi,
           n
    FROM hit
    """,
)
def t_qsketch_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read path of the dyadic quantile sketch: factor-2 value
    brackets for p1/p25/p50/p75/p99 of price cents, computed FROM THE
    SKETCH STATE ALONE — the window walk runs on <= 64 register rows,
    never the corpus (rank queries over any shard subset without a
    rescan). All-integer rank arithmetic; the oracle rebuilds sketch,
    walk, and brackets from scratch in SQL."""
    from faexport_db_spark.training.pipeline import (
        qsketch_quantile_brackets,
        qsketch_register_table,
    )

    li = load_table(spark, sf_dir, "lineitem")
    regs = qsketch_register_table(
        li, F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    )
    return qsketch_quantile_brackets(regs, [1, 25, 50, 75, 99])


@register(
    "t_cluster_representatives",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, lang, n_chars,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
               '\s+', ' ', 'g'))) AS norm_hash
      FROM documents WHERE text IS NOT NULL
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY norm_hash
                                   ORDER BY n_chars DESC, doc_id DESC) AS rk
      FROM n
    )
    SELECT norm_hash,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS rep_id,
           CAST(max(n_chars) AS BIGINT) AS rep_chars,
           CAST(count(*) AS BIGINT) AS n_dups,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
    FROM r GROUP BY norm_hash
    """,
)
def t_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record election over normalized-dup clusters
    (cluster_representatives): keep the LONGEST copy per cluster
    (struct-order max_by, deterministic), fold copy count and the
    sorted distinct language set into the survivor — the set-at-once
    form of the reference's per-entity merge chase. One groupBy; the
    whole election replays in SQL."""
    from faexport_db_spark.training.text import cluster_representatives

    return cluster_representatives(_docs(spark, sf_dir))


@register(
    "t_sentence_stats",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(text, '[.!?]+'), x -> trim(x)),
               x -> x <> '') AS segs
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(segs) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_aggregate(
             list_transform(segs, x -> length(x)), 'sum'), 0) AS BIGINT)
             AS sum_len,
           CAST(coalesce(list_aggregate(
             list_transform(segs, x -> length(x)), 'max'), 0) AS BIGINT)
             AS max_len
    FROM s
    """,
)
def t_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sentence segmentation stats (sentence_stats): non-blank
    sentence count + total/max trimmed length on a lookaround-free
    terminal-punctuation split — the length-shape feature quality
    filters consume. Map-only (in-row arrays, no explode); every
    count replays in SQL."""
    from faexport_db_spark.training.text import sentence_stats

    return sentence_stats(_docs(spark, sf_dir))


@register(
    "t_rrf_fusion",
    oracle=r"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    dscore AS (
      SELECT q.vec_id AS query_id, c.vec_id AS item_id,
             round(
               list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                              s -> s[1]::DOUBLE * s[2]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(q.embedding,
                       x -> x::DOUBLE * x::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(c.embedding,
                         x -> x::DOUBLE * x::DOUBLE), 'sum'))),
             6) AS cosine
      FROM q, embeddings c WHERE c.vec_id <> q.vec_id
    ),
    dense10 AS (
      SELECT query_id, item_id, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, item_id ASC) AS rank
        FROM dscore
      ) WHERE rank <= 10
    ),
    toks AS (
      SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    lscore AS (
      SELECT q.doc_id AS query_id, d.doc_id AS item_id,
             CAST(len(list_intersect(q.t, d.t)) AS BIGINT) AS overlap
      FROM toks q JOIN toks d ON d.doc_id <> q.doc_id
      WHERE q.doc_id < 5
    ),
    lex10 AS (
      SELECT query_id, item_id, rank FROM (
        SELECT query_id, item_id, overlap,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY overlap DESC, item_id ASC) AS rank
        FROM lscore WHERE overlap > 0
      ) WHERE rank <= 10
    ),
    fused AS (
      SELECT coalesce(d.query_id, l.query_id) AS query_id,
             coalesce(d.item_id, l.item_id) AS item_id,
             round(coalesce(1.0 / (60 + d.rank), 0)
                   + coalesce(1.0 / (60 + l.rank), 0), 9) AS rrf_score
      FROM dense10 d
      FULL OUTER JOIN lex10 l
        ON d.query_id = l.query_id AND d.item_id = l.item_id
    )
    SELECT query_id, item_id, rrf_score, fused_rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_score DESC, item_id ASC) AS BIGINT) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 5
    """,
)
def t_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (rrf_fuse): dense cosine top-10
    (brute_force_topk, the exact ANN baseline) + lexical
    token-overlap top-10 fused per query by Reciprocal Rank Fusion
    (1/(60+rank), SIGIR'09) — the standard dense+sparse combiner.
    Only RANKS cross lists, so the fusion is engine-exact; the join
    runs on two query×10-row lists, never the corpora. Top-5 fused
    per query, replayed end-to-end in SQL."""
    from faexport_db_spark.training.retrieval import rrf_fuse, token_overlap_topk
    from faexport_db_spark.training.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dense = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    docs = _docs(spark, sf_dir)
    lex = token_overlap_topk(docs, docs.filter(F.col("doc_id") < 5), k=10)
    return rrf_fuse(dense, lex, "neighbor_id", "doc_id", k=60, topk=5)


@register(
    "t_vocab_growth",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    occ AS (
      SELECT ((doc_id // 50) + 1) * 50 AS ckpt,
             CAST(sum(len(toks)) AS BIGINT) AS n_occ
      FROM t GROUP BY ckpt
    ),
    firsts AS (
      SELECT tok, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      GROUP BY tok
    ),
    fresh AS (
      SELECT ((first_doc // 50) + 1) * 50 AS ckpt,
             CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY ckpt
    )
    SELECT o.ckpt,
           CAST(sum(o.n_occ) OVER (ORDER BY o.ckpt) AS BIGINT) AS n_tokens,
           CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY o.ckpt) AS BIGINT)
             AS vocab_size
    FROM occ o LEFT JOIN fresh f ON f.ckpt = o.ckpt
    """,
)
def t_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative token
    occurrences vs cumulative DISTINCT vocabulary at 50-doc
    checkpoints of the doc-id order — the curve a tokenizer team
    reads to size the vocab (V ~ kN^b) and to spot corpus drift
    (a kink = a new domain arriving). Corpus work is one explode +
    token-keyed min-aggregate (the postings discipline: map-side
    combining, no token list ever collected); the cumulative walk
    runs on checkpoint-cardinality planner rows only. All-integer,
    replayed in SQL."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ckpt_of = lambda c: ((F.col(c) / 50).cast("bigint") + 1) * 50  # noqa: E731
    per_doc = docs.select(
        F.col("doc_id"), F.size(toks).cast("bigint").alias("n_toks")
    )
    occ = (
        per_doc.select(ckpt_of("doc_id").alias("ckpt"), "n_toks")
        .groupBy("ckpt")
        .agg(F.sum("n_toks").cast("bigint").alias("n_occ"))
    )
    firsts = (
        docs.select(F.col("doc_id"), F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    fresh = (
        firsts.select(ckpt_of("first_doc").alias("ckpt"))
        .groupBy("ckpt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("ckpt").rowsBetween(Window.unboundedPreceding, 0)
    return (
        occ.join(fresh, "ckpt", "left")
        .select("ckpt", "n_occ", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "ckpt",
            F.sum("n_occ").over(w).cast("bigint").alias("n_tokens"),
            F.sum("n_new").over(w).cast("bigint").alias("vocab_size"),
        )
    )


@register(
    "t_mmr_rerank",
    oracle="""
    WITH qq AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 10000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id = 0
    ),
    pts AS (
      SELECT vec_id AS id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 10000) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id <> 0
    ),
    relt AS (
      SELECT p.id, p.qv,
             CAST(list_aggregate(list_transform(list_zip(p.qv, q.qv),
                    z -> z[1] * z[2]), 'sum') AS BIGINT) AS rel
      FROM pts p, qq q
    ),
    cand AS (
      SELECT id, qv, rel FROM (
        SELECT *, row_number() OVER (ORDER BY rel DESC, id) AS rk FROM relt
      ) WHERE rk <= 8
    ),
    p1 AS (SELECT id, qv, rel FROM cand ORDER BY rel DESC, id LIMIT 1),
    r2 AS (
      SELECT c.id, c.qv, c.rel,
             CAST(list_aggregate(list_transform(list_zip(c.qv, s.qv),
                    z -> z[1] * z[2]), 'sum') AS BIGINT) AS max_sim
      FROM cand c, p1 s WHERE c.id <> s.id
    ),
    p2 AS (
      SELECT id, qv, rel, max_sim,
             CAST(7 * rel - 3 * max_sim AS BIGINT) AS mmr
      FROM r2 ORDER BY mmr DESC, id LIMIT 1
    ),
    r3 AS (
      SELECT c.id, c.rel,
             CAST(greatest(
               list_aggregate(list_transform(list_zip(c.qv, s1.qv),
                 z -> z[1] * z[2]), 'sum'),
               list_aggregate(list_transform(list_zip(c.qv, s2.qv),
                 z -> z[1] * z[2]), 'sum')) AS BIGINT) AS max_sim
      FROM cand c, p1 s1, p2 s2
      WHERE c.id <> s1.id AND c.id <> s2.id
    ),
    p3 AS (
      SELECT id, rel, max_sim,
             CAST(7 * rel - 3 * max_sim AS BIGINT) AS mmr
      FROM r3 ORDER BY mmr DESC, id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS sel_rank, id, rel,
           CAST(0 AS BIGINT) AS max_sim, CAST(7 * rel AS BIGINT) AS mmr
    FROM p1
    UNION ALL
    SELECT CAST(2 AS BIGINT), id, rel, max_sim, mmr FROM p2
    UNION ALL
    SELECT CAST(3 AS BIGINT), id, rel, max_sim, mmr FROM p3
    """,
)
def t_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware MMR re-ranking (mmr_rerank_quantized): pool-8
    candidates by integer quantized dot-product relevance to probe
    vec 0, then 3 greedy λ=0.7 picks where each round penalizes
    similarity to everything already picked — integer 10×-scaled
    scores, so the full greedy TRAJECTORY (picks, penalties, scores)
    replays bit-for-bit through the unrolled CTE oracle. Corpus is
    touched once (candidate generation); the greedy rounds run on
    8-row frames."""
    from faexport_db_spark.training.similarity import mmr_rerank_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank_quantized(emb, query_id=0, pool=8, picks=3)


@register(
    "t_frame_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS len_b
      FROM documents WHERE text IS NOT NULL AND length(text) >= 1
    ),
    s AS (SELECT doc_id, text, len_b, greatest(len_b // 4, 1) AS step FROM t),
    f AS (
      SELECT doc_id,
             unnest(generate_series(0, least(4, len_b) - 1)) AS frame_idx,
             step, text
      FROM s
    )
    SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substr(text, frame_idx * step + 1, step)) AS BIGINT)
             AS n_bytes,
           md5(substr(text, frame_idx * step + 1, step)) AS frame_md5
    FROM f
    """,
)
def t_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing driven end-to-end (sample_frames): the
    'video' payload (utf-8 doc bytes — the codec seam is stubbed, the
    Spark-side batch shape is real) flat-maps to 4 evenly-spaced
    byte-slice frames inside ONE Arrow mapInPandas pass; the op
    returns per-frame sizes and content digests, and the oracle
    replays the exact slicing arithmetic in SQL (fixture text is
    ASCII, so character slices == byte slices — asserted by the
    length check riding in n_bytes)."""
    from faexport_db_spark.training.multimodal import (
        documents_as_media,
        sample_frames,
    )

    media = documents_as_media(
        _docs(spark, sf_dir).filter(
            F.col("text").isNotNull() & (F.length("text") >= 1)
        )
    )
    frames = sample_frames(media, n_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame_bytes").cast("bigint").alias("n_bytes"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


@register(
    "t_dataset_card",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_toks,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
               '\s+', ' ', 'g'))) AS norm_hash
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT norm_hash) AS BIGINT) AS n_unique_norm,
           CAST(sum(n_chars) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS mean_chars
    FROM t
    """,
)
def t_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD for the documents corpus — the summary
    block a dataset release ships (doc/language/source counts, size
    totals, normalized-unique ratio numerator): one aggregate pass
    computes every statistic (Catalyst expands the multi-distinct —
    still a single scan), all integers, replayed in SQL. The
    machine-readable sibling of the per-dimension profiling ops
    (v2 column profile, t_text_quality)."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    from faexport_db_spark.training.text import normalized_text_expr

    toks = F.split(F.trim(F.col("text")), r"\s+")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.md5(normalized_text_expr("text")).alias("norm_hash"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.countDistinct("norm_hash").cast("bigint").alias("n_unique_norm"),
        F.expr(
            "CAST(sum(n_chars) AS BIGINT) DIV CAST(count(1) AS BIGINT)"
        ).alias("mean_chars"),
    )


@register(
    "t_domain_mix_report",
    oracle=r"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+')))
               AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
    r AS (
      SELECT source, n_docs, n_tokens,
             CAST(row_number() OVER (ORDER BY n_tokens DESC, source)
               AS BIGINT) AS rnk,
             CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source)
               AS BIGINT) AS cum_tokens
      FROM s
    )
    SELECT source, n_docs, n_tokens, rnk, cum_tokens,
           cum_tokens * 100 // tot.total AS cum_pct
    FROM r, tot
    """,
)
def t_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report by source domain: token share ranking
    with cumulative coverage — the "which domains make up 90% of the
    training tokens" table every corpus-curation review starts from
    (and the input to temperature_mix's reweighting decisions). One
    corpus aggregate; the ranking window runs on source-cardinality
    planner rows; cumulative percent is integer floor — exact."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.trim(F.col("text")), r"\s+")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    wo = Window.orderBy(F.desc("n_tokens"), F.asc("source"))
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    tot = s.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        s.withColumn("rnk", F.row_number().over(wo).cast("bigint"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(wc).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "rnk",
            "cum_tokens",
            F.expr("cum_tokens * 100 DIV total").alias("cum_pct"),
        )
    )


@register(
    "t_length_filter_sweep",
    oracle=r"""
    WITH d AS (
      SELECT n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_toks
      FROM documents WHERE text IS NOT NULL
    ),
    th AS (SELECT unnest([100, 250, 500, 1000, 2000]) AS min_chars),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS all_docs,
             CAST(sum(n_toks) AS BIGINT) AS all_tokens
      FROM d
    )
    SELECT th.min_chars,
           CAST(count(*) FILTER (WHERE d.n_chars >= th.min_chars)
             AS BIGINT) AS docs_kept,
           coalesce(CAST(sum(d.n_toks)
             FILTER (WHERE d.n_chars >= th.min_chars) AS BIGINT), 0)
             AS tokens_kept,
           tot.all_docs, tot.all_tokens
    FROM th CROSS JOIN d CROSS JOIN tot
    GROUP BY th.min_chars, tot.all_docs, tot.all_tokens
    """,
)
def t_length_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-policy sweep: docs/tokens surviving each candidate
    minimum-length threshold, with corpus totals alongside — the
    what-would-this-filter-cost table (the length sibling of
    t_dedup_sweep's threshold sweep). The thresholds explode map-side
    (5× fan-out constant), one combining aggregate, totals broadcast;
    ONE corpus pass answers the whole sweep instead of one pass per
    candidate policy."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("n_chars", F.size(toks).cast("bigint").alias("n_toks"))
    thresholds = [100, 250, 500, 1000, 2000]
    exploded = d.select(
        F.explode(F.array(*[F.lit(t) for t in thresholds])).alias("min_chars"),
        "n_chars",
        "n_toks",
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("all_docs"),
        F.sum("n_toks").cast("bigint").alias("all_tokens"),
    )
    return (
        exploded.groupBy("min_chars")
        .agg(
            F.count(F.when(F.col("n_chars") >= F.col("min_chars"), 1))
            .cast("bigint")
            .alias("docs_kept"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("n_chars") >= F.col("min_chars"), F.col("n_toks")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(tot))
    )


@register(
    "t_char_trigram_profile",
    oracle="""
    WITH t AS (
      SELECT lang, lower(text) AS s
      FROM documents WHERE text IS NOT NULL AND length(text) >= 3
    ),
    g AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, length(s) - 2),
                    i -> substr(s, i, 3))) AS gram
      FROM t
    ),
    c AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
      FROM g GROUP BY lang, gram
    )
    SELECT lang, gram, n, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY n DESC, gram) AS BIGINT) AS rnk
      FROM c
    ) WHERE rnk <= 10
    """,
)
def t_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 character trigrams — the profile table a
    char-n-gram language identifier trains on (the model-building
    side of t_lang_id's marker-word heuristic). The explode is
    map-side (in-row position sequence); the aggregate is keyed on
    (lang, gram) whose cardinality is alphabet-bounded (~30³), so
    the shuffle never scales with corpus size; the top-k window runs
    per language over that bounded table. Replayed gram-for-gram in
    SQL (ASCII fixture: char slices == byte slices)."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.length("text") >= 3)
    )
    grams = docs.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lower(text)) - 2),"
                " i -> substring(lower(text), i, 3))"
            )
        ).alias("gram"),
    )
    c = grams.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )


@register(
    "t_power_iteration",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 100) AS BIGINT)) AS qv
      FROM embeddings
    ),
    comp AS (
      SELECT vec_id, unnest(qv) AS x,
             CAST(generate_subscripts(qv, 1) - 1 AS INTEGER) AS i
      FROM q
    ),
    m AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS m
      FROM comp a JOIN comp b USING (vec_id)
      GROUP BY a.i, b.i
    ),
    v1 AS (
      SELECT i AS pos, CAST(sum(m) AS BIGINT) // 1000 AS v
      FROM m GROUP BY i
    ),
    v2 AS (
      SELECT m.i AS pos, CAST(sum(m.m * v1.v) AS BIGINT) // 1000 AS v
      FROM m JOIN v1 ON v1.pos = m.j
      GROUP BY m.i
    )
    SELECT pos, v FROM v2
    """,
)
def t_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the embedding corpus by 2
    damped integer power-iteration steps on the Gram matrix
    (power_iteration_quantized) — embeddings-QC's "what single axis
    explains this corpus", bit-reproducible because every step is
    integer multiply-sum with a literal floor-division rescale (the
    unnormalized-HITS trick: positive division preserves the
    direction ordering). Corpus is touched once for the dim²-bounded
    Gram aggregate; each step is a dim-row broadcast into an M-keyed
    aggregate, replayed exactly by the CTE oracle."""
    from faexport_db_spark.training.similarity import power_iteration_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_quantized(emb, iters=2, scale=100, damp=1000)


@register(
    "t_dedup_funnel",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text, n_chars FROM documents WHERE text IS NOT NULL
    ),
    s1 AS (
      SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)
    ),
    s1d AS (SELECT b.doc_id, b.text, b.n_chars FROM base b
            JOIN s1 USING (doc_id)),
    s2 AS (
      SELECT min(doc_id) AS doc_id FROM s1d
      GROUP BY md5(trim(regexp_replace(
        regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        '\s+', ' ', 'g')))
    ),
    s2d AS (SELECT d.doc_id, d.n_chars FROM s1d d JOIN s2 USING (doc_id)),
    s3d AS (SELECT doc_id FROM s2d WHERE n_chars >= 200),
    n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1d),
    n2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2d),
    n3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s3d)
    SELECT 1 AS stage, 'exact_hash' AS mechanism,
           n0.n AS docs_in, n1.n AS docs_out, n0.n - n1.n AS docs_dropped
    FROM n0, n1
    UNION ALL
    SELECT 2, 'normalized_hash', n1.n, n2.n, n1.n - n2.n FROM n1, n2
    UNION ALL
    SELECT 3, 'min_length_200', n2.n, n3.n, n2.n - n3.n FROM n2, n3
    """,
)
def t_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged corpus-cleaning FUNNEL report (the text sibling of the
    media pipeline report): exact content-hash dedup → normalized
    dedup → minimum-length filter, one row per stage with in/out/
    dropped counts — the table a curation review reads to see where
    the corpus went. Each stage is the already-proven single-groupBy
    dedup shape; stage outputs chain (a doc must survive stage k to
    be seen by k+1), and every count replays in SQL."""
    from faexport_db_spark.training.text import normalized_text_expr

    base = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text", "n_chars")
        .localCheckpoint(eager=True)
    )
    s1 = base.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    s1d = base.join(s1.select("doc_id"), "doc_id").localCheckpoint(eager=True)
    s2 = s1d.groupBy(F.md5(normalized_text_expr("text"))).agg(
        F.min("doc_id").alias("doc_id")
    )
    s2d = s1d.join(s2.select("doc_id"), "doc_id").localCheckpoint(eager=True)
    s3d = s2d.filter(F.col("n_chars") >= 200)
    n0 = base.count()
    n1 = s1d.count()
    n2 = s2d.count()
    n3 = s3d.count()
    rows = [
        (1, "exact_hash", n0, n1, n0 - n1),
        (2, "normalized_hash", n1, n2, n1 - n2),
        (3, "min_length_200", n2, n3, n2 - n3),
    ]
    return spark.createDataFrame(
        rows,
        "stage int, mechanism string, docs_in bigint, docs_out bigint,"
        " docs_dropped bigint",
    )


@register(
    "t_label_balance",
    oracle="""
    WITH c AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS k FROM c)
    SELECT c.label, c.n,
           t.total // t.k AS expected,
           c.n - t.total // t.k AS deviation,
           c.n * 10000 // t.total AS share_bp
    FROM c, t
    """,
)
def t_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance audit over the embeddings corpus: per-class
    count vs the uniform expectation, deviation, and basis-point
    share — the class-imbalance table a fine-tuning set review reads
    before choosing sampling weights (feeds group_sample /
    temperature_mix). One map-side aggregate; totals broadcast;
    all-integer (shares in basis points, not float percents)."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.expr("total DIV k").alias("expected"),
        F.expr("n - total DIV k").alias("deviation"),
        F.expr("n * 10000 DIV total").alias("share_bp"),
    )


@register(
    "t_zipf_table",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY tok)
    SELECT tok, freq, rnk FROM (
      SELECT tok, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk
      FROM c
    ) WHERE rnk <= 50
    """,
)
def t_zipf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) table: the 50 most frequent tokens with
    deterministic ranks — the curve whose slope diagnoses boilerplate
    contamination (too-flat head) and tokenizer-vocabulary fit. One
    token-keyed aggregate then a bounded top-k: the global window
    runs AFTER a 50-row TakeOrdered-style cut at scale; integer
    frequencies, exact tie order."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    c = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # bounded pre-cut: take the top 50 by (freq desc, tok) without a
    # global sort of the whole vocabulary
    top = c.orderBy(F.desc("freq"), F.asc("tok")).limit(50)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
