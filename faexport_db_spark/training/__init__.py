"""Large-scale training-data pipeline operators.

Beyond reference parity (SURVEY.md §7.2 step 7): deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
over embeddings (brute-force + LSH-bucketed ANN), text analysis
(language-ID, quality scoring, token counting, fingerprinting), and
multimodal binary-column plumbing.

All operators are pure DataFrame compositions designed for the 100 TB
path: inverted-index joins instead of cross joins, band-bucket
self-joins instead of all-pairs, broadcast query sets, deterministic
seeded hashing (no RNG at runtime).
"""

from faexport_db_spark.training.dedup import (  # noqa: F401
    dedup_clusters,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_dedup_pairs,
    word_shingles,
)
from faexport_db_spark.training.retrieval import (  # noqa: F401
    bm25_append_index,
    bm25_build_index,
    bm25_index_batch,
    bm25_topk,
    bm25_topk_persisted,
)
from faexport_db_spark.training.similarity import (  # noqa: F401
    brute_force_topk,
    cosine_expr,
    lsh_bucketed_topk,
)
from faexport_db_spark.training.text import (  # noqa: F401
    doc_fingerprint,
    lang_id,
    quality_features,
    quality_rules,
    token_counts,
)
