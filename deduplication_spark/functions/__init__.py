from deduplication_spark.functions.text import (
    normalized_tokens,
    shingle_hashes,
    token_count,
)
from deduplication_spark.functions.hashing import (
    make_minhash_udf,
    make_simhash_udf,
    band_hash_col,
    band_key_col,
)

__all__ = [
    "normalized_tokens",
    "shingle_hashes",
    "token_count",
    "make_minhash_udf",
    "make_simhash_udf",
    "band_hash_col",
    "band_key_col",
]
