"""Distributed connected components: alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond") expressed
as pure DataFrame operations — no GraphX/RDDs, per SURVEY.md §4.2.

Input: an undirected edge DataFrame (src, dst). Output: (doc_id,
cluster_id) where cluster_id is the minimum node id of the component —
the deterministic canonical choice that replaces the reference's
first-occurrence dictionary ID (/root/reference/src/dictionary.c:75-77).

Scale notes: each round is two shuffles (groupBy min + re-emit); edge
count never grows beyond the input (large-star only re-targets edges),
and converges in O(log n) rounds. localCheckpoint() after every round
truncates lineage so the plan doesn't grow unboundedly; convergence is
detected via a cheap count+checksum signature instead of a full
set-difference join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}).

    r06 shape (guide §2.4): the neighborhood minimum comes from a
    window over the SAME exchange that groups the neighbors — the old
    groupBy+join formulation paid a second pass over the bidirected
    frame (broadcast build + join stages) for the identical value. The
    output is NOT deduplicated here: rows may repeat (two sources can
    emit the same (node, min) edge), orientation is arbitrary, and both
    are irrelevant — `_small_star` re-orients via greatest/least, its
    window min is duplicate-insensitive, and its terminal distinct
    restores set semantics before the per-round checkpoint/signature.
    Dropping the intermediate canonicalize-distinct removes one full
    exchange per round. Self-rows cannot appear (dst > src >=
    least(src, mn)); NULLs are filtered once by the caller's `pre`."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    return (
        bidir.withColumn("mn", F.min("dst").over(w))
        .where(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("mn")).alias("dst"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges larger->smaller; for each node u connect all of its
    smaller neighbors (and u itself) to the minimum. Window-min over
    one exchange (see _large_star); the self-row branch reads the same
    windowed frame, and the terminal distinct dedups both branches
    (including any duplicate rows the large-star pass handed in)."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    w = Window.partitionBy("u")
    om = oriented.withColumn("m", F.min("v").over(w))
    attach = om.select(F.col("v").alias("node"), "m")
    self_rows = om.select(F.col("u").alias("node"), "m")
    return (
        attach.union(self_rows)
        .where(F.col("node") != F.col("m"))
        .select(F.col("m").alias("src"), F.col("node").alias("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: overflow-free (ANSI mode) and order-independent; edges are
    # distinct so xor-cancellation of duplicates cannot occur.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Returns (node, component) for every node appearing in `edges`,
    component = min node id of the connected component.

    Every round is checkpointed: per-round truncation keeps each round
    O(edges).
    """
    spark = edges.sparkSession
    # checkpoint_mode (r05 verdict #5): "local" = localCheckpoint
    # (executor-resident, fastest, NOT fault-tolerant — an executor
    # loss mid-iteration kills the lineage on a real cluster);
    # "reliable" = df.checkpoint() to the context's checkpoint dir
    # (survives executor loss; caller must setCheckpointDir). Output
    # is identical under both (pytest-pinned).
    if checkpoint_mode not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint_mode must be 'local' or 'reliable', "
            f"got {checkpoint_mode!r}"
        )
    if checkpoint_mode == "reliable":
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) before calling connected_components"
            )

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    # Orient + distinct ONCE, keeping self-loop rows, and checkpoint
    # before splitting: both the star input and the self-loop probe
    # then read the materialized checkpoint — deriving self-loops from
    # the raw `edges` plan instead would re-evaluate the caller's whole
    # edge-derivation subtree (a union of tier edges in the pipeline)
    # at the final action.
    # .toDF after every checkpoint: re-aliases the attributes so the
    # self-union/self-join in the star steps never reuses attribute ids
    # from the checkpointed plan (Spark 4.1 otherwise hits
    # "NoSuchElementException: key not found: src#N" when the input
    # lineage contains a window)
    pre = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    pre = _ckpt(pre).toDF("src", "dst")
    # A node whose ONLY edges are self-loops would otherwise vanish
    # (self-loops never reach the star rounds); emitted as singletons
    # at the end, honoring the "every node appearing in `edges`"
    # contract. Empty in every in-repo caller (pair generators emit
    # a < b).
    self_only = pre.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node")
    )
    e = pre.where(F.col("src") != F.col("dst")).toDF("src", "dst")
    if e.isEmpty():
        return self_only.select("node", F.col("node").alias("component"))

    # Seed the convergence probe with the INPUT edge set's signature:
    # a round that leaves the edges unchanged (graph already a star
    # forest — the common case when most clusters are duplicate PAIRS)
    # then converges after ONE round instead of needing a second
    # confirming round. Same fixpoint criterion, shifted one round
    # earlier; costs one tiny aggregate on the checkpointed input.
    prev_sig = _signature(e)
    converged = False
    for i in range(max_iterations):
        e = _small_star(_large_star(e))
        e = _ckpt(e).toDF("src", "dst")
        sig = _signature(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )

    # Converged: every edge is (component_min=src, node=dst).
    members = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = e.select(F.col("src").alias("node"), F.col("src").alias("component")).distinct()
    result = members.union(roots).distinct()
    # self-loop-only nodes not already connected elsewhere -> singletons
    # (anti-join is empty-fast in the common 0-self-loop case)
    singles = self_only.join(result, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return result.union(singles)


def component_assignments(ids: DataFrame, comp: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_canonical) for every doc_id of `ids`,
    from a `connected_components` frame (node, component). A doc on no
    edge is its own cluster."""
    ids = ids.select("doc_id")
    return (
        ids.join(comp, ids.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )
