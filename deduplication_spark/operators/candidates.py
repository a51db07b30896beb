"""Candidate-pair generation from equality buckets, with explicit skew
handling — the Spark-native replacement for the reference's O(N*D)
dictionary probe (/root/reference/src/dictionary.c:49-59) generalized to
similarity buckets (LSH bands, SimHash chunks, content chunks).

Design (SURVEY.md §4.2 item 1):

1. Rows arrive as (doc_id, *key_cols) — one row per (doc, bucket) membership.
2. A window over the bucket key ranks members by id. This is a sort-based
   shuffle: hot keys (boilerplate buckets at web scale) spill instead of
   OOM-ing a hash aggregate.
3. Members ranked <= cap take the all-pairs path: sorted collect_list
   (bounded by cap, so the array can never explode) -> pairwise expansion
   entirely in Catalyst (nested transform + flatten), C(m,2) pairs.
4. Members ranked > cap take the chain path: each links to its window
   predecessor via lag(). The first chained member's predecessor has rank
   cap, i.e. is inside the head group — so every bucket stays one
   connected component while emitting only m-1-ish edges for giant
   buckets instead of C(m,2). Dropped-pair counts are reported, never
   silent (SURVEY.md §7 hard part c).
5. Pairs are deduped across buckets/bands BEFORE verification so each
   (a, b) is verified once.

Everything downstream must verify candidates (Jaccard / Hamming /
substring) — capping changes which pairs are *tested*, never what a
verified edge means.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _all_pairs(arr):
    """Catalyst expression: sorted array -> array<struct<a,b>> of all
    C(m,2) ordered pairs (a < b). No Python; stays in codegen."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


@dataclass
class CandidateResult:
    pairs: DataFrame          # (a, b) with a < b, distinct
    accounting: Observation   # n_buckets, n_capped_buckets,
                              # n_candidate_edges, dropped_pairs — resolves
                              # once a frame built on `pairs` is materialized


def bucket_pairs(
    bucketed: DataFrame, key_cols: list[str], cap: int = 200
) -> CandidateResult:
    """(doc_id, *key) bucket memberships -> distinct candidate pairs
    (a, b), a<b.

    `cap` bounds the all-pairs expansion per bucket; the overflow is
    chain-linked (connectivity-preserving). The bucket accounting is an
    Observation on the ranked frame (one row per bucket: its `_rn == 1`
    member, carrying the bucket size `_m`), so it is computed by the job
    that materializes the pairs — no job of its own. Read
    `accounting.get` only after such a job has run; it blocks until then.
    """
    _keep_deep_observations(bucketed.sparkSession)
    w = Window.partitionBy(*key_cols).orderBy("doc_id")
    # bucket size alongside the rank: both window functions share one
    # partition+sort pass (same window spec, whole-partition frame for
    # the count), so filtering singleton buckets costs nothing extra —
    # and at LSH-like bucket distributions ~95%+ of buckets are
    # singletons, so dropping them BEFORE the collect_list aggregation
    # removes almost all of its per-group array allocations (r06,
    # measured: bucket_pairs over 1.6M memberships 2.15 s -> see
    # OPTIMIZATION_r06.md). The chain predecessor rides the same pass.
    wm = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    first, m = F.col("_rn") == 1, F.col("_m")
    kept = F.when(m <= cap, m * (m - 1) / 2).otherwise(
        F.lit(cap) * (cap - 1) / 2 + (m - cap)
    )
    accounting = Observation()
    ranked = (
        bucketed.select("doc_id", *key_cols)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_m", F.count(F.lit(1)).over(wm))
        .withColumn("_prev", F.lag("doc_id").over(w))
        .observe(
            accounting,
            F.count_if(first).alias("n_buckets"),
            F.count_if(first & (m > cap)).alias("n_capped_buckets"),
            _total(F.when(first, kept)).alias("n_candidate_edges"),
            _total(F.when(first & (m > cap), m * (m - 1) / 2 - kept)).alias(
                "dropped_pairs"
            ),
        )
    )

    head = (
        ranked.filter((F.col("_m") >= 2) & (F.col("_rn") <= cap))
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
    )
    head_pairs = (
        head.filter(F.size("_ids") >= 2)
        .select(F.explode(_all_pairs(F.col("_ids"))).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )

    tail = ranked.filter(F.col("_rn") > cap).select(
        F.least("_prev", "doc_id").alias("a"),
        F.greatest("_prev", "doc_id").alias("b"),
    )

    pairs = head_pairs.union(tail).filter(F.col("a") != F.col("b")).distinct()
    return CandidateResult(pairs=pairs, accounting=accounting)


def probe_pairs(
    new_members: DataFrame,
    index_members: DataFrame,
    key_cols: list[str],
    cap: int,
    lo,
) -> CandidateResult:
    """Probe-shaped `bucket_pairs` for an increment: (doc_id, *key)
    memberships of a new batch against those of an index whose ids are
    all below `lo` (a long or Column).

    Only buckets TOUCHED by the new batch are examined: the index
    memberships are left-semi-joined on the batch's distinct keys before
    the capped window, so pure-old buckets (the overwhelming majority of
    a big index) are never sorted or pair-expanded. Result-identical to
    running over the full union: untouched buckets could only contribute
    old-old pairs, which the `b >= lo` filter discards anyway (the base
    run already adjudicated them); touched buckets keep their full
    membership, so the capped expansion and chain links inside them are
    unchanged. The accounting covers the touched buckets."""
    cols = ["doc_id", *key_cols]
    touched = new_members.select(*key_cols).distinct()
    # the USING-column join moves the keys to the front; re-pin the
    # column ORDER before the positional union (a swapped order would
    # silently feed keys into the doc_id column)
    index_touched = index_members.join(touched, key_cols, "left_semi").select(*cols)
    cand = bucket_pairs(
        index_touched.union(new_members.select(*cols)), key_cols, cap=cap
    )
    return CandidateResult(
        pairs=cand.pairs.filter(F.col("b") >= lo), accounting=cand.accounting
    )


_EMPTY_RELATION_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


def _keep_deep_observations(spark) -> None:
    """Exclude AQE's empty-relation propagation from the session.

    When a shuffle stage comes back empty, that rule replaces the plan
    above it with an empty relation, and in Spark 4.1 an Observation
    inside the replaced stages never reports, though those stages ran:
    a tier whose buckets are all singletons would lose its accounting
    (`Observation.get` fails). An Observation at the root of the written
    frame keeps its node, so only this one needs the rule off.
    Idempotent."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    rules = [r for r in (spark.conf.get(key, "") or "").split(",") if r]
    if _EMPTY_RELATION_RULE not in rules:
        spark.conf.set(key, ",".join(rules + [_EMPTY_RELATION_RULE]))


def _total(col):
    """Sum as a long; 0 (not NULL) over no rows."""
    return F.coalesce(F.sum(col).cast("long"), F.lit(0).cast("long"))


def estimate_prefilter(
    pairs: DataFrame, signatures: DataFrame, min_estimate: float = 0.5
) -> DataFrame:
    """Cheap MinHash-estimate screen before exact verification;
    `signatures` = (doc_id, minhash).

    est = fraction of equal signature components (the MinHash Jaccard
    estimator, sigma = sqrt(j(1-j)/num_perm) ~ 0.035 at num_perm=128).
    Screening at 0.5 for a 0.8 exact threshold is ~8 sigma of margin —
    recall loss is negligible while LSH false candidates (a j=0.3 pair
    still collides in some band with p~0.23 at b=32/r=4) are dropped
    before the expensive shingle-array join: signatures are ~1 KB/row
    vs ~7 KB/row for shingle sets at 1k tokens.
    """
    s = signatures.select(F.col("doc_id").alias("_sid"), F.col("minhash").alias("_sv"))
    eq = F.size(
        F.filter(
            F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        pairs.join(s.select(F.col("_sid").alias("a"), F.col("_sv").alias("_sa")), "a")
        .join(s.select(F.col("_sid").alias("b"), F.col("_sv").alias("_sb")), "b")
        .withColumn("estimate", eq / F.size("_sa"))
        .filter(F.col("estimate") >= min_estimate)
        .select("a", "b", "estimate")
    )


def verify_jaccard(
    pairs: DataFrame, features: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact set-Jaccard verification of candidate pairs.

    `features` = (doc_id, shingles), a DISTINCT-element array of shingle
    hashes. Jaccard = |A∩B| / (|A|+|B|-|A∩B|) via array_intersect —
    built-in, codegen'd. Returns (a, b, jaccard) for pairs >= threshold.

    Scale note: the feature table is projected to (doc_id, shingles)
    only and broadcast to both joins: callers pass a small materialized
    frame (the borderline docs' shingle sets), and the pinned plan keeps
    a call's job count fixed. Left to AQE, which side a join broadcast
    depended on which shuffle finished first. Run estimate_prefilter
    first when candidate volume is high.

    The pairs are explicitly repartitioned first: array_intersect cost is
    per-ROW, not per-byte, so AQE's byte-based partition coalescing
    otherwise funnels the whole verification onto a couple of cores
    (measured 3x slowdown at local[32]).
    """
    spark = pairs.sparkSession
    pairs = pairs.repartition(2 * spark.sparkContext.defaultParallelism, "a")
    f = F.broadcast(
        features.select(F.col("doc_id").alias("_fid"), F.col("shingles").alias("_fv"))
    )
    fa, fb = f.alias("fa"), f.alias("fb")
    inter = F.size(F.array_intersect("fa._fv", "fb._fv"))
    union = F.size("fa._fv") + F.size("fb._fv") - inter
    return (
        pairs.join(fa, F.col("a") == F.col("fa._fid"))
        .join(fb, F.col("b") == F.col("fb._fid"))
        .withColumn(
            "jaccard",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
