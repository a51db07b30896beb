"""Distributed connected components by union-find, after BTS (ICDE 2024,
load-balanced distributed union-find): a numpy union-find over each
partition's edges, then a re-key by node — no GraphX/RDDs.

Input: an undirected edge DataFrame (src, dst). Output: (node,
component) where component is the minimum node id of the component —
the deterministic canonical choice that replaces the reference's
first-occurrence dictionary ID (/root/reference/src/dictionary.c:75-77).

A round runs `_uf_kernel` over its edges, coalesced (no shuffle) to one
task per `EDGES_PER_TASK` edges, so no task holds more than its share
of a hot component (DS2, ICDE 2021). Each task emits (node, root =
min node of the node's local component); a groupBy on node takes
min(root) and the set of roots. A node that got more than one root
bridges local components: the next round's edges are its
(min_root, other_root) links. Zero links (observed on the round's
checkpoint, no extra job) means converged; the labels compose each
round's node -> min_root map.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.arrow import array, values

# One kernel task per this many edges. The kernel labels 4M random
# edges in ~1.8 s on a 4-core host, while every Python task carries
# ~0.25-0.3 s of fixed latency: ~2M edges keeps a task's compute around
# 1 s, so a graph up to 2M edges is one task and one round.
EDGES_PER_TASK = 2_000_000


def _uf_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(node, root) for every node of one partition's (src, dst) edges,
    root = min node of the node's component within the partition.

    Vectorized hook-and-compress: labels are indices into the sorted
    unique nodes (so the min label is the min node); each pass hooks
    every edge's larger label onto its smaller one and compresses by
    pointer jumping, until both endpoints of every edge agree."""
    batches = list(batches)
    if not batches:
        return
    src, dst = (
        np.concatenate([values(b.column(c), np.int64) for b in batches])
        for c in ("src", "dst")
    )
    n = len(src)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[:n], inv[n:]
    lab = np.arange(len(nodes))
    while True:
        lu, lv = lab[u], lab[v]
        diff = lu != lv
        if not diff.any():
            break
        lu, lv = lu[diff], lv[diff]
        # lu/lv are roots (lab[r] == r), so hooking keeps lab[i] <= i
        np.minimum.at(lab, np.maximum(lu, lv), np.minimum(lu, lv))
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        u, v = u[diff], v[diff]
    yield pa.RecordBatch.from_arrays(
        [array(pa.int64(), nodes), array(pa.int64(), nodes[lab])],
        names=["node", "root"],
    )


def label_components(
    edges: DataFrame, max_iterations: int, checkpoint_mode: str
) -> tuple[DataFrame, int]:
    """`connected_components` plus the number of union-find rounds it
    ran, for callers that report it (`cc_rounds`)."""
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

    def _ckpt(df: DataFrame, agg) -> tuple[DataFrame, int]:
        """Materialize `df` and return it with the value of `agg`,
        observed by the checkpoint's own job."""
        obs = Observation()
        df = df.observe(obs, agg.alias("n"))
        if checkpoint_mode == "reliable":
            df = df.checkpoint(eager=True)
        else:
            df = df.localCheckpoint(eager=True)
        # re-alias: the composition joins frames of different rounds
        # (Spark 4.1 "key not found: src#N" trap, as in io.MemoryStore)
        return df.toDF(*df.columns), obs.get["n"] or 0

    # checkpointed once: the caller's edge plan (a union of tier edge
    # frames in the pipeline) is evaluated by one job, in its own
    # partitioning, before the rounds coalesce it
    e, n_edges = _ckpt(
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ),
        F.count(F.lit(1)),
    )
    label = None
    for i in range(1, max_iterations + 1):
        per_node, n_links = _ckpt(
            e.coalesce(max(1, math.ceil(n_edges / EDGES_PER_TASK)))
            .mapInArrow(_uf_kernel, "node long, root long")
            .groupBy("node")
            .agg(F.min("root").alias("root"), F.collect_set("root").alias("roots")),
            F.sum(F.size("roots") - 1),
        )
        step = per_node.select("node", "root")
        if label is None:
            label = step.withColumnRenamed("root", "component")
        else:
            label = label.join(
                step, label.component == step.node, "left"
            ).select(label.node, F.coalesce("root", "component").alias("component"))
        if n_links == 0:
            return label, i
        e = per_node.select(
            F.col("root").alias("src"), F.explode("roots").alias("dst")
        ).where(F.col("src") != F.col("dst"))
        n_edges = n_links
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Returns (node, component) for every node appearing in `edges`,
    component = min node id of the connected component. A node whose
    only edges are self-loops is its own component."""
    return label_components(edges, max_iterations, checkpoint_mode)[0]


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
