"""Large-scale training-data pipeline operators built on the same engine
primitives: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
embedding similarity search and text analysis (language-ID, quality
scoring, token stats, fingerprinting)."""

from solrtexttagger_spark.ops.dedup import (
    exact_dedup,
    minhash_signatures,
    lsh_candidate_pairs,
    simhash,
    ngram_jaccard_pairs,
)
from solrtexttagger_spark.ops.similarity import cosine_topk, lsh_cosine_topk
from solrtexttagger_spark.ops.textqa import (
    language_id,
    quality_score,
    token_stats,
    fingerprint,
)

__all__ = [
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "lsh_cosine_topk",
    "language_id",
    "quality_score",
    "token_stats",
    "fingerprint",
]
