"""deduplication_spark — a from-scratch PySpark-native near-duplicate
detection and clustering engine over Common-Crawl-style webtext tables.

Semantics derive from the reference engine ``taehyeon-masu/deduplication``
(a C block-dedup compressor: dictionary of unique blocks + position->ID
manifest, see /root/reference/src/compressor.c:105-114 and
src/dictionary.c:49-78) re-expressed Spark-first:

- exact tier      = sha2(text) shuffle hash-aggregate (replaces the O(N*D)
                    memcmp probe loop, dictionary.c:49-59)
- near tiers      = MinHash-LSH banding, SimHash Hamming buckets,
                    content-defined chunk fingerprints (long verbatim spans)
- clustering      = union-find connected components: a numpy kernel per
                    edge partition, rounds re-keyed by node
- canonical ID    = min(doc_id) per cluster (replaces first-occurrence ID,
                    dictionary.c:75-77 — Spark has no arrival order)
- manifest        = assignments(doc_id, cluster_id, is_canonical)
                    (replaces block_ids[], compressor.c:95-114)
- self-describing = run_config persisted next to every output
                    (replaces the DDP1 header, compressor.c:30-39)

Everything is pyspark.sql DataFrame + vectorized Arrow UDFs over numpy
buffers; no per-row Python, no RDDs, and no pandas on the workers.
"""

from deduplication_spark.config import DedupConfig
from deduplication_spark.increment import (
    IncrementResult,
    build_index,
    dedup_increment,
    index_from_enriched,
)
from deduplication_spark.pipeline import ALL_TIERS, DedupResult, dedup
from deduplication_spark.session import get_spark

__all__ = [
    "ALL_TIERS",
    "DedupConfig",
    "DedupResult",
    "IncrementResult",
    "build_index",
    "dedup",
    "dedup_increment",
    "get_spark",
    "index_from_enriched",
]
__version__ = "0.1.0"
