"""Exact-duplicate tier.

Reference semantic: the dictionary probe loop — for every block, linear-scan
memcmp against all unique blocks, insert on miss, record the ID
(/root/reference/src/dictionary.c:49-78, src/compressor.c:105-114).

Spark-native realization: byte equality becomes sha2-256 equality (collision
-safe at 256 bits), and the O(N*D) probe loop becomes ONE shuffle:
a window min over the content hash. First-occurrence ID (dictionary.c:75-77)
becomes min(doc_id) — Spark has no arrival order, so the minimum key is the
deterministic canonical choice, invariant under partitioning and row order.

Scale notes (100 TB): the shuffle carries only (doc_id, content_hash) — ~40
bytes/row — never the text. The hash is computed map-side in whole-stage
codegen; AQE coalesces post-shuffle partitions. No join is needed at all
(a groupBy+join formulation would add a second shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_content_key(df: DataFrame) -> DataFrame:
    """Adds the 128-bit BINARY content key of `text`: the first 16
    bytes of sha2-256.

    The pipeline-internal representation (exact-tier shuffle, increment
    index): equality-equivalent to the full hash at any realistic scale
    (collision p ~ n^2/2^129 ~ 3e-15 at 10^12 docs) while carrying 16
    bytes through the exchange instead of the 64-char hex string — a 4x
    key-width cut on the tier's only shuffle. User-facing surfaces
    (q_exact_dedup and its DuckDB oracle) keep the hex form."""
    return df.withColumn(
        "content_hash", F.substring(F.unhex(F.sha2(F.col("text"), 256)), 1, 16)
    )


def exact_assignments(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash, cluster_id, is_canonical) — one row per
    (doc_id, text) doc; content_hash is the hex sha2-256 of the text.

    cluster_id = min(doc_id) over identical content; is_canonical marks the
    cluster representative (the dictionary entry, dictionary.c:61-78).

    A NULL hash (text IS NULL) must not elect duplicates: the window
    groups NULL keys TOGETHER, so without the guard every missing-text
    doc would land in one bogus "exact duplicate" cluster. NULL-content
    docs are their own singleton canonicals — the same contract as the
    pipeline's exact tier (round-4 fix), the increment probe, and both
    streaming modes (round-5 fix); this standalone operator was the last
    surface still NULL-equal-grouping.
    """
    w = Window.partitionBy("content_hash")
    return (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))
        .withColumn(
            "cluster_id",
            F.when(F.col("content_hash").isNull(), F.col("doc_id")).otherwise(
                F.min("doc_id").over(w)
            ),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def exact_edges(enriched: DataFrame) -> DataFrame:
    """(a, b) duplicate edges from (doc_id, content_hash): each doc links
    to the min doc_id of its content. A window min, not groupBy +
    collect_list: an exact-dup group can have millions of members at web
    scale, and the sort-based window spills where a collected list would
    not. Star topology keeps edge count == duplicate count (never the
    quadratic all-pairs within a group).

    A NULL hash (text IS NULL) must not elect duplicates: the window
    groups NULL keys together, so without the filter every missing-text
    doc would land in one bogus "exact duplicate" cluster, and the
    increment's index equi-join (which drops NULLs) would disagree. The
    full run's exact tier and the increment's within-batch tier both
    call this, so they cannot drift apart."""
    w = Window.partitionBy("content_hash")
    return (
        enriched.select("doc_id", "content_hash")
        .filter(F.col("content_hash").isNotNull())
        .withColumn("a", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )
