from deduplication_spark.operators.candidates import (
    bucket_pairs,
    estimate_prefilter,
    verify_jaccard,
)
from deduplication_spark.operators.components import connected_components
from deduplication_spark.operators.exact import (
    exact_assignments,
    with_content_hash,
    with_content_key,
)
from deduplication_spark.operators.minhash_lsh import (
    band_buckets,
    band_key_buckets,
    minhash_near_edges,
    with_minhash,
    with_shingles,
)
from deduplication_spark.operators.multimodal import extract_features
from deduplication_spark.operators.simhash import with_simhash
from deduplication_spark.operators.similarity import (
    cosine_near_dup,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)

__all__ = [
    "band_buckets",
    "band_key_buckets",
    "bucket_pairs",
    "connected_components",
    "cosine_near_dup",
    "cosine_topk",
    "estimate_prefilter",
    "exact_assignments",
    "extract_features",
    "ivf_topk",
    "lsh_topk",
    "minhash_near_edges",
    "verify_jaccard",
    "with_content_hash",
    "with_content_key",
    "with_minhash",
    "with_shingles",
    "with_simhash",
]
