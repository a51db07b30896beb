"""Near-duplicate tier 2: k-shingles -> MinHash signatures -> LSH band
buckets -> capped candidate pairs -> exact-Jaccard verification.

Reference semantic being generalized: block byte-equality dedup
(/root/reference/src/dictionary.c:49-78) relaxed from "identical bytes"
to "shingle-set Jaccard >= threshold" (BASELINE.json north_star).

Pipeline dataflow:
  docs --[Arrow UDF: pipeline.enrich]-->  minhash array<long>[num_perm]
       --[codegen: band_key_col]-->       band keys array<long>[bands]
       --explode-->                       (doc_id, band_key)
       --bucket_pairs-->                  candidate (a, b)
       --minhash_near_edges-->            estimate screen, then exact
                                          Jaccard on the borderline only
The inspection chain (with_shingles -> with_minhash -> band_buckets:
shingle_hashes, the minhash UDF, band_hash_col, posexplode) computes
the same signatures step by step.

Probability a pair with Jaccard j becomes a candidate:
1 - (1 - j^r)^b. At the default b=32, r=4: midpoint (1/32)^(1/4) ~ 0.42
and j >= 0.8 pairs are caught w.p. 1 - (1-0.8^4)^32 ~ 1 - 5e-8 — the
analytic backing for the >= 0.99 recall target (BASELINE.md). The
b=16 x r=8 alternative caps at 0.947 at j=0.8 and cannot meet it; the
low midpoint's extra candidates are pruned by estimate bands + exact
verification (operators/candidates.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.hashing import band_hash_col, band_key_col, make_minhash_udf
from ..functions.text import shingle_hashes
from .candidates import estimate_prefilter, verify_jaccard


def with_shingles(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Adds `shingles` of `text` (distinct hashed k-grams; empty for
    short docs)."""
    return docs.withColumn(
        "shingles", shingle_hashes("text", cfg.shingle_k, cfg.hash_seed)
    )


def with_minhash(docs_with_shingles: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Adds `minhash` (array<long>[num_perm]; NULL for empty shingle sets)."""
    udf = make_minhash_udf(cfg.num_perm, cfg.hash_seed)
    return docs_with_shingles.withColumn("minhash", udf(F.col("shingles")))


def band_buckets(docs_with_minhash: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per (doc, band).

    Short docs (NULL minhash — the partial-block analog,
    /root/reference/src/compressor.c:88-93) are excluded here and
    handled by the exact tier only.
    """
    return (
        docs_with_minhash.filter(F.col("minhash").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                band_hash_col("minhash", cfg.rows_per_band, cfg.bands, cfg.hash_seed)
            ).alias("band_idx", "band_hash"),
        )
    )


def band_key_buckets(docs_with_minhash: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, band_key) — compact membership frame for the candidate
    path: one combined 8-byte key per (doc, band) instead of the
    (band_idx, band_hash) pair `band_buckets` emits for inspection.
    This frame feeds the LSH tier's dominant exchange (corpus x bands
    rows), so key bytes per row are the scale lever; see
    functions.hashing.band_key_col for the collision analysis."""
    return docs_with_minhash.filter(F.col("minhash").isNotNull()).select(
        "doc_id",
        F.explode(
            band_key_col("minhash", cfg.rows_per_band, cfg.bands, cfg.hash_seed)
        ).alias("band_key"),
    )


def minhash_near_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    texts: DataFrame | None = None,
) -> DataFrame:
    """Estimate-screen + verify candidate pairs -> (a, b) near edges.

    THE decision procedure of the MinHash tier, shared by the full
    pipeline (texts = the corpus) and the increment prober (texts =
    new batch ∪ base docs when available) so the two implementations
    can never silently desynchronize — any change to the margin
    arithmetic or the borderline tie applies to both.

    Three confidence bands from the signature estimator (margins and
    their sigma analysis documented on DedupConfig.est_reject_margin /
    est_accept_margin): reject below t - reject_margin, accept above
    t + accept_margin, exact-verify the borderline sliver against
    re-shingled `texts`. With texts=None (an increment without
    base-corpus access), borderline pairs are decided by the estimate
    at the threshold itself — unbiased, but a pair within ~sigma can
    flip vs a verified run (documented trade, increment.py).

    `signatures` = (doc_id, minhash); `texts` = (doc_id, text) —
    shingles are recomputed for the borderline DOCS only (storing them
    corpus-wide costs ~7 KB/row, rivaling the corpus itself).
    """
    screened = estimate_prefilter(
        pairs,
        signatures,
        min_estimate=max(
            0.0, cfg.jaccard_verify_threshold - cfg.est_reject_margin
        ),
    ).localCheckpoint(eager=True)
    hi_conf = min(1.0, cfg.jaccard_verify_threshold + cfg.est_accept_margin)
    accepted = screened.filter(F.col("estimate") >= hi_conf)
    borderline = screened.filter(F.col("estimate") < hi_conf)
    if texts is None:
        return accepted.select("a", "b").union(
            borderline.filter(
                F.col("estimate") >= cfg.jaccard_verify_threshold
            ).select("a", "b")
        )
    border_ids = (
        borderline.select(F.col("a").alias("doc_id"))
        .union(borderline.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    # eager checkpoint (r06): verify_jaccard joins this frame on BOTH
    # pair sides, and without materialization the whole text-scan +
    # borderline-join + re-shingle UDF subtree evaluates twice (two
    # full passes over the corpus text). The frame is tiny (borderline
    # docs only) — one materialization, two cheap reads.
    border_shingles = (
        with_shingles(texts.join(border_ids, "doc_id"), cfg)
        .select("doc_id", "shingles")
        .localCheckpoint(eager=True)
    )
    verified = verify_jaccard(
        borderline.select("a", "b"),
        border_shingles,
        threshold=cfg.jaccard_verify_threshold,
    )
    return accepted.select("a", "b").union(verified.select("a", "b"))

