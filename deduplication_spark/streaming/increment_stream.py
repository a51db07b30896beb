"""Streaming NEAR-duplicate dedup: a document stream continuously
probed against a growing member-level signature index.

The production composition for an always-on crawl ingest: Structured
Streaming owns the source progress tracking (checkpointed offsets,
at-least-once foreachBatch), and each microbatch runs the batch
incremental prober (`increment.dedup_increment` — exact hash probe +
MinHash-LSH band join vs the index, the batch generalization of the
reference's insert-if-absent dictionary loop,
/root/reference/src/dictionary.c:61-78).

Contrast with `incremental.stream_dedup_flags` (exact-only, per-hash
Spark state): that path keeps state INSIDE the state store and cannot
express a band join (near-dup candidates need cross-group joins, which
per-key streaming state cannot see). Routing each microbatch through
the batch prober is the standard Spark answer (foreachBatch) — every
tier, cap, and metric of the batch path applies unchanged.

Restart/replay contract (foreachBatch is AT-LEAST-ONCE; this module
makes each batch idempotent instead of pretending exactly-once):

- The index is versioned per batch under `index_dir`
  (`index_dir/batch=N` = the index AFTER batch N; the initial index is
  written as `batch=-1` — an Iceberg deployment would make these table
  snapshots). Batch N always probes version N-1 read from disk, and
  (re)writes its outputs with overwrite — so a replayed or
  crash-restarted batch recomputes byte-identical results, and a
  restart needs only the same `checkpoint_dir` + `index_dir` (a fresh
  cold StreamIncrementState is fine).
- Assignments/merges are written per batch to `<dir>/batch=N` with
  overwrite (partition discovery exposes `batch` as a column), so
  replays cannot duplicate rows.

Semantics inherited from `increment.dedup_increment`: doc_ids monotone
across batches (violated -> ValueError); without base texts, borderline
LSH candidates are decided by the signature estimate (documented
trade). A batch bridging two earlier clusters emits merge rows; rows
already written for earlier batches are NOT rewritten in place —
`resolved_assignments` folds the accumulated merge log into the final
view (the compaction step, exactly like the batch path's remap).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DedupConfig
from ..increment import _check_index, dedup_increment
from ..increment import empty_index  # noqa: F401  (cold-start state)
from ..io import _require_local


@dataclass
class StreamIncrementState:
    """Driver-held cross-batch state: the live member index, the last
    batch it reflects (-1 = initial), and per-batch metrics."""

    index: DataFrame
    last_batch: int = -1
    batch_metrics: dict = field(default_factory=dict)


def _version_path(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, f"batch={batch_id}")


def stream_dedup_increment(
    stream: DataFrame,
    state: StreamIncrementState,
    assignments_dir: str,
    index_dir: str,
    merges_dir: str | None = None,
    docs_dir: str | None = None,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tiers: tuple[str, ...] = ("exact", "minhash"),
) -> StreamingQuery:
    """Start the streaming prober. Returns the StreamingQuery.

    `tiers` is forwarded to `dedup_increment` per microbatch (add
    "simhash" for the pigeonhole tier).

    Each microbatch: dedup_increment(batch, index@N-1) -> overwrite the
    batch's (doc_id, cluster_id, is_canonical) under
    `assignments_dir/batch=N` (merge rows under `merges_dir/batch=N`
    when given) and the index version under `index_dir/batch=N`, then
    advance state. Initialize `state` with `empty_index` for a cold
    start or a `build_index`/`index_from_enriched` frame to continue
    from a batch run (see the module docstring for restarts).

    `docs_dir` is the streaming analog of `dedup_increment`'s
    `base_docs`: each batch's raw (doc_id, text) is persisted under
    `docs_dir/batch=N`, and later batches pass the accumulated store so
    BORDERLINE LSH candidates get exact-Jaccard verification instead of
    the estimate-at-threshold decision (a pair within ~1 sigma of the
    threshold can otherwise flip vs a batch run — the trade the batch
    docstring documents). In production this is simply the crawl's
    document table; only the borderline sliver's texts are ever read.
    The FIRST batch has no prior store but still gets exact
    verification: its base is empty, so `dedup_increment` verifies
    new-new borderline pairs against the batch's own texts (texts =
    batch ∪ base). With docs_dir set, every batch's decisions match the
    batch pipeline's on a cold start. A WARM start (state.index built
    over a base corpus) matches only when the base texts are seeded
    under `docs_dir/batch=-1` before the stream starts; otherwise
    borderline pairs against the base are decided by the estimate.

    The initial index is persisted as given after the schema and pin
    checks of `dedup_increment`; a non-empty index without the sig_cfg
    pin fails batch 0 ("no signature config pin").
    """
    cfg = cfg or DedupConfig()
    _require_local(index_dir, "index_dir")
    _require_local(docs_dir, "docs_dir")
    _require_local(assignments_dir, "assignments_dir")
    _require_local(merges_dir, "merges_dir")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # ---- ensure the initial version (batch=-1) is persisted ----
        initial = _version_path(index_dir, -1)
        if not os.path.exists(os.path.join(initial, "_SUCCESS")):
            if (
                os.path.isdir(initial)
                and state.index.limit(1).count() == 0
            ):
                # a batch=-1 DIRECTORY without _SUCCESS means a
                # prior run crashed mid-write of its initial index,
                # and the restart came up COLD (empty state). That
                # partial initial may have been a WARM-start index —
                # overwriting it with the empty one would
                # permanently classify every duplicate of the warm
                # base as unique, silently. A warm restart (non-
                # empty state.index) legitimately rewrites the
                # partial dir; a cold one must decide explicitly.
                raise RuntimeError(
                    f"partial initial index at {initial} (no "
                    "_SUCCESS — a previous run crashed before "
                    "committing it) and this restart's state is "
                    "EMPTY. Re-supply the original warm index in "
                    "StreamIncrementState, or delete the partial "
                    "directory for a genuine cold start."
                )
            # the initial version is written as given: a drifted pin
            # raises before anything is persisted, and an unpinned
            # non-empty index is refused by batch 0's increment (only
            # an index built by build_index/index_from_enriched carries
            # the pin that proves its signatures comparable)
            _check_index(state.index, cfg)
            state.index.write.mode("overwrite").parquet(initial)
        # batch N probes the PERSISTED version N-1, never memory: a
        # first run, a restart with cold state and a replay all read
        # the same bytes, so a warm initial written by an earlier
        # process cannot be shadowed by this one's empty state
        index_in = spark.read.parquet(_version_path(index_dir, batch_id - 1))

        base_docs = None
        if docs_dir is not None:
            # batch N's texts first, then every earlier batch (any seeded
            # batch=-1 included) as the base: batch 0 reads an empty
            # base, so its new-new borderline pairs still exact-verify
            # against its own texts (texts = batch ∪ base). The schema
            # is known, so the read runs no schema-inference job
            texts = batch_df.select(id_col, text_col)
            texts.write.mode("overwrite").parquet(
                os.path.join(docs_dir, f"batch={batch_id}")
            )
            base_docs = (
                spark.read.schema(texts.schema)
                .parquet(docs_dir)
                .where(F.col("batch") < batch_id)
                .select(id_col, text_col)
            )
        inc = dedup_increment(
            spark,
            batch_df,
            index_in,
            cfg,
            base_docs=base_docs,
            id_col=id_col,
            text_col=text_col,
            tiers=tiers,
        )
        # per-batch overwrite => replays are idempotent, never append dups
        inc.assignments.write.mode("overwrite").parquet(
            os.path.join(assignments_dir, f"batch={batch_id}")
        )
        if merges_dir is not None:
            inc.merges.write.mode("overwrite").parquet(
                os.path.join(merges_dir, f"batch={batch_id}")
            )
        # the increment's index carries the sig-config pin
        version = _version_path(index_dir, batch_id)
        inc.index.write.mode("overwrite").parquet(version)
        # read back: the persisted version is the lineage cut. The
        # schema just written is known, so the read runs no
        # schema-inference job (the next batch's read of this version
        # infers it from the files, as a restart must)
        state.index = spark.read.schema(inc.index.schema).parquet(version)
        state.last_batch = batch_id
        # per-batch candidate accounting (dropped pairs etc.):
        # state.batch_metrics[batch_id]["minhash_candidates"]
        state.batch_metrics[batch_id] = inc.metrics

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def resolved_assignments(
    spark: SparkSession, assignments_dir: str, merges_dir: str | None = None
) -> DataFrame:
    """The final merged view of a streaming run: per-batch assignment
    rows with the accumulated cross-batch merges folded in.

    Merges are applied in batch order: batch i's merge target is a
    cluster id that is live AT batch i and can only be remapped by a
    LATER batch's map. The maps are composed to a single root map ON
    THE DRIVER (the merge log is broadcast-sized by construction — one
    row per bridged base cluster, collected here exactly as the batch
    list used to be) and applied with ONE broadcast join. The previous
    formulation joined once per batch, growing the logical plan
    linearly with batch count — planning time and driver memory blew
    up on long-running streams even though each step was tiny.
    is_canonical is recomputed against the final cluster id.
    """
    # same guard as the write path: os.path.isdir on a URI-scheme
    # merges_dir is silently False, which would DROP the whole merge
    # log and return stale pre-merge cluster ids — loud beats wrong
    _require_local(merges_dir, "merges_dir")
    a = spark.read.parquet(assignments_dir).select(
        "doc_id", "cluster_id"
    )
    if merges_dir is not None and os.path.isdir(merges_dir):
        rows = (
            spark.read.parquet(merges_dir)
            .select("batch", "old_cluster_id", "merged_into")
            .collect()
        )
        rows.sort(key=lambda r: r["batch"])
        root: dict[int, int] = {}
        for r in rows:
            old, into = r["old_cluster_id"], r["merged_into"]
            # batch order => `into` is live at this batch; resolve any
            # EARLIER chain ending at `old`, and `into` itself may be
            # remapped by a later batch — handled because later rows
            # update every key currently pointing at their `old`
            root = {k: (into if v == old else v) for k, v in root.items()}
            root[old] = into
        if root:
            m = F.broadcast(
                spark.createDataFrame(
                    list(root.items()), "old_cluster_id long, merged_into long"
                )
            )
            a = a.join(m, a.cluster_id == m.old_cluster_id, "left").select(
                "doc_id",
                F.coalesce("merged_into", "cluster_id").alias("cluster_id"),
            )
    return a.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
