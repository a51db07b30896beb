"""Near-duplicate tier 3: 64-bit SimHash fingerprints + pigeonhole
chunk bucketing + exact Hamming verification.

Complements MinHash: SimHash is sensitive to *weighted bit agreement*
across the whole shingle set, catching high-overlap docs whose Jaccard
sits just under the LSH S-curve. Candidates are verified by exact
Hamming distance, so the tier adds recall without precision cost.

Pigeonhole guarantee (combinatorial form): split 64 bits into
`simhash_chunks` equal chunks; a pair within Hamming radius differs in
at most `hamming_radius` chunks, so it agrees exactly on some
(chunks - radius)-subset — bucketing on every such subset's
concatenated value finds ALL pairs within radius, no probabilistic
miss (unlike LSH banding). See simhash_chunk_buckets for the
junk-collision math that picks 8 chunks over the legacy radius+1.

All Catalyst built-ins. The pipeline's fingerprints come from the
fused enrich UDF (functions/hashing.py::make_enrich_udf);
`with_simhash` (make_simhash_udf over explicit shingle arrays) is the
inspection chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.hashing import make_simhash_udf


def with_simhash(docs_with_shingles: DataFrame) -> DataFrame:
    """Adds `simhash` (bigint; NULL for empty shingle sets)."""
    udf = make_simhash_udf()
    return docs_with_shingles.withColumn("simhash", udf(F.col("shingles")))


def simhash_chunk_buckets(docs_with_simhash: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, chunk_idx, chunk_val): COMBINATORIAL pigeonhole keys.

    Split the fingerprint into c = simhash_chunks equal chunks of
    w = 64/c bits. A pair within Hamming radius r differs in at most r
    chunks, so it agrees EXACTLY on some (c-r)-subset of chunks — the
    generalized pigeonhole. Bucket key = (combo_idx, the concatenated
    values of that subset's chunks): one key per C(c, c-r) combination,
    and any pair within radius shares at least one key (exact cover, no
    probabilistic miss). The legacy single-chunk scheme is the c = r+1
    special case (combos of size 1).

    The (chunks, radius) pairing picks a point on a measured trade
    (1M random docs, local[32]): c = radius+1 (single 16-bit chunks)
    generates ~n^2*c/2^w junk pairs — 35.4M measured, all rejected by
    the Hamming verify, 137 s; c = 8 keys carry (c-r)*w = 40 bits, so
    junk drops to ~n^2*56/2^41 (58k distinct pairs measured) but the
    C(8,5) = 56 membership rows per doc make the bucket window pass
    53M tiny groups — 478 s. Below ~10M docs the small-chunk setting
    wins on wall; beyond it the 16-bit value space saturates
    (n/2^16 > bucket_pair_cap: capped chains, counted drops, recall
    degrades) while junk grows quadratically — the combinatorial
    setting is then the only viable one, with linear membership volume
    and healthy ~n*56/2^43-docs-per-bucket density even at 10^12 docs.
    Both settings verify identically, so the EDGE SET is unchanged
    wherever no cap engages.

    shiftright on bigint is arithmetic, so every chunk is masked after
    the shift; combined keys use multiply-add (v0*2^w + v1)*2^w + ...,
    which needs (c-r)*w <= 63 to stay inside SIGNED bigint — true for
    every radius >= 1 ((c-r)*w = 64 - r*w <= 64 - w). radius = 0 would
    hit exactly 64 bits and overflow under ANSI mode, so it short-
    circuits to the key it mathematically is: the whole fingerprint
    (Hamming 0 == equality)."""
    from itertools import combinations

    c, r = cfg.simhash_chunks, cfg.hamming_radius
    width = 64 // c
    mask = (1 << width) - 1
    sh = F.col("simhash")
    if r == 0:
        return (
            docs_with_simhash.filter(sh.isNotNull())
            .select(
                "doc_id",
                F.lit(0).alias("chunk_idx"),
                sh.alias("chunk_val"),
            )
        )
    vals = [
        F.shiftright(sh, i * width).bitwiseAND(F.lit(mask)) for i in range(c)
    ]
    keys = []
    for combo_idx, combo in enumerate(combinations(range(c), c - r)):
        key = vals[combo[0]]
        for i in combo[1:]:
            key = key * F.lit(1 << width) + vals[i]
        keys.append(
            F.struct(
                F.lit(combo_idx).alias("chunk_idx"), key.alias("chunk_val")
            )
        )
    return (
        docs_with_simhash.filter(sh.isNotNull())
        .select("doc_id", F.explode(F.array(*keys)).alias("c"))
        .select("doc_id", F.col("c.chunk_idx"), F.col("c.chunk_val"))
    )


def verify_hamming(
    pairs: DataFrame, docs_with_simhash: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(a, b, hamming) for pairs with Hamming(simhash_a, simhash_b) <=
    hamming_radius. bit_count(a XOR b) — pure codegen; the join sides
    carry only two longs per row."""
    f = docs_with_simhash.select(F.col("doc_id").alias("_id"), "simhash")
    return (
        pairs.join(f.select(F.col("_id").alias("a"), F.col("simhash").alias("_sa")), "a")
        .join(f.select(F.col("_id").alias("b"), F.col("simhash").alias("_sb")), "b")
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .filter(F.col("hamming") <= cfg.hamming_radius)
        .select("a", "b", "hamming")
    )

