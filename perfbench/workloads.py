"""The benchmark's workloads and one timed call of each.

Every workload is a closed loop driven from one process: the next call
starts only after the previous one has finished, on a single
`get_spark(cores=nproc)` session.

- full_short: short docs through `dedup(spark, docs, DedupConfig())`.
  Per-doc compute is tiny, so a call is bound by Spark job latency,
  barriers and CC round trips.
- full_long: long docs with the boilerplate swarm through
  `dedup(..., run_dir=<fresh dir>)`, the resumable StageStore path.
  Compute goes to the UDFs, verification and snapshot writes, and the
  swarm overflows the bucket cap so the capped-chain path runs.
- increment_stream: a warm index built from the base docs, then the
  remaining docs streamed in micro-batches through
  `stream_dedup_increment`; every batch probes a large read-mostly
  index with a small new side and rewrites the whole index version.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field, replace

import pandas as pd

from deduplication_spark import ALL_TIERS, DedupConfig, dedup, index_from_enriched
from deduplication_spark.streaming.increment_stream import (
    StreamIncrementState,
    resolved_assignments,
    stream_dedup_increment,
)

from stage import Staged, stage

DOC_SCHEMA = "doc_id long, text string"


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    min_tokens: int
    max_tokens: int
    cfg: DedupConfig
    run_dir: bool = False
    n_base: int | None = None  # set: stream workload
    n_batches: int = 0
    tiers: tuple[str, ...] = ALL_TIERS

    @property
    def classes(self) -> tuple[str, ...]:
        """Planted classes the workload's tiers promise to put in one
        cluster."""
        return ("exact", "near") + (("substring",) if "substring" in self.tiers else ())

    def scaled(self, scale: float) -> "Workload":
        """Same shape at `scale` times the docs (the smoke test's toy size)."""
        if scale == 1.0:
            return self
        n = max(60, int(self.n_docs * scale))
        base = None if self.n_base is None else int(n * self.n_base / self.n_docs)
        return replace(self, n_docs=n, n_base=base)


WORKLOADS = {
    w.name: w
    for w in (
        # a call costs about the same at 1,000 and 2,000 docs: job latency,
        # not per-doc compute; the boilerplate swarm stays under the cap
        Workload("full_short", 1000, 50, 150, DedupConfig()),
        # the cap is scaled down with the corpus so the largest buckets
        # still overflow it (44 LSH buckets over 6 at 200 docs, seed 1),
        # as the boilerplate swarm overflows the default cap of 200 at
        # ~20k docs
        Workload("full_long", 200, 50, 2000, DedupConfig(bucket_pair_cap=6),
                 run_dir=True),
        # run by hand only; README.md says why BENCHMARK.json leaves it
        # out. The stream runs the increment's default tiers, exact and
        # MinHash-LSH, and so does its base run; long verbatim spans are
        # a full-run-only tier
        Workload("increment_stream", 400, 50, 2000, DedupConfig(),
                 n_base=300, n_batches=5, tiers=("exact", "minhash")),
    )
}


@dataclass
class Sample:
    """One timed call: its wall time, the docs it deduplicated, the
    per-batch times, and the assignments it produced for the checks."""

    wall_s: float
    docs: int
    batch_s: list[float]
    assignments: pd.DataFrame
    progress: list[dict] = field(default_factory=list)


def stage_workload(w: Workload, work_dir: str, seed: int) -> Staged:
    return stage(work_dir, w.name, seed, w.n_docs, w.min_tokens, w.max_tokens,
                 n_base=w.n_base, n_batches=w.n_batches)


class FullRun:
    """One `dedup()` over the whole staged corpus per call."""

    def __init__(self, spark, w: Workload, staged: Staged, scratch: str):
        self.spark, self.w, self.staged, self.scratch = spark, w, staged, scratch
        self.calls = 0
        self.result = None  # the last call's DedupResult

    def prepare(self) -> None:
        """Nothing to build: each call is a whole batch dedup job, and the
        process's first call is cold, as in a fresh `spark-submit`."""

    def once(self, keep: bool = False) -> Sample:
        """One timed call. `keep` leaves the StageStore run_dir in place
        so the returned `self.result` frames stay readable."""
        run_dir = None
        if self.w.run_dir:
            run_dir = os.path.join(self.scratch, f"run_dir-{self.calls}")
        self.calls += 1
        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.staged.docs)
        res = dedup(self.spark, docs, self.w.cfg, run_dir=run_dir)
        wall = time.perf_counter() - t0
        pdf = res.assignments.select("doc_id", "cluster_id").toPandas()
        self.result = res
        if run_dir and not keep:
            shutil.rmtree(run_dir, ignore_errors=True)
        return Sample(wall, self.staged.n_docs, [wall], pdf)


@dataclass(frozen=True)
class StreamFixture:
    """Persisted inputs of a stream drain: base docs, the batch files in
    stream order, the warm index over the base and its assignments."""

    base: str
    batches: str
    index: str
    base_assignments: str


def build_fixture(spark, w: Workload, base_path: str, batches: str,
                  out_dir: str) -> tuple[StreamFixture, object]:
    """Full run over the base docs, then its warm member index; returns
    the fixture and the base run's DedupResult."""
    cfg = w.cfg
    res = dedup(spark, spark.read.parquet(base_path), cfg, tiers=w.tiers)
    fx = StreamFixture(base_path, batches, os.path.join(out_dir, "index"),
                       os.path.join(out_dir, "base_assignments"))
    index_from_enriched(res.enriched, res.assignments, cfg=cfg).write.mode(
        "overwrite").parquet(fx.index)
    res.assignments.write.mode("overwrite").parquet(fx.base_assignments)
    return fx, res


def drain(spark, cfg: DedupConfig, fx: StreamFixture, run_dir: str) -> Sample:
    """Stream every batch file through `stream_dedup_increment` against
    the fixture's index, with fresh index/docs/merges/checkpoint dirs."""
    d = {k: os.path.join(run_dir, k)
         for k in ("assign", "merges", "index", "docs", "ckpt")}
    # base docs as the prior docs version, so borderline pairs against
    # the base get exact verification
    os.makedirs(os.path.join(d["docs"], "batch=-1"))
    shutil.copy(fx.base, os.path.join(d["docs"], "batch=-1", "part-0.parquet"))
    state = StreamIncrementState(index=spark.read.parquet(fx.index))
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(fx.batches))
    t0 = time.perf_counter()
    q = stream_dedup_increment(
        stream, state, d["assign"], merges_dir=d["merges"],
        index_dir=d["index"], docs_dir=d["docs"], cfg=cfg,
        checkpoint_dir=d["ckpt"], trigger={"availableNow": True})
    try:
        q.awaitTermination()  # raises if a micro-batch failed
    finally:
        q.stop()
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress
                if "addBatch" in p.get("durationMs", {})]
    batch_s = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    n_new = sum(pd.read_parquet(os.path.join(fx.batches, f), columns=["doc_id"]).shape[0]
                for f in os.listdir(fx.batches))
    # base rows as batch -1: resolved_assignments then applies the
    # stream's merge log to the base clusters too
    shutil.copytree(fx.base_assignments, os.path.join(d["assign"], "batch=-1"))
    pdf = (resolved_assignments(spark, d["assign"], d["merges"])
           .select("doc_id", "cluster_id").toPandas())
    return Sample(wall, n_new, batch_s, pdf, progress)


class StreamRun:
    """One drain of every staged batch per call; `prepare` builds the
    warm index from the base docs first."""

    def __init__(self, spark, w: Workload, staged: Staged, scratch: str):
        self.spark, self.w, self.staged, self.scratch = spark, w, staged, scratch
        self.calls = 0
        self.fixture: StreamFixture | None = None
        self.result = None  # the base run's DedupResult

    def prepare(self) -> None:
        self.fixture, self.result = build_fixture(
            self.spark, self.w, self.staged.base, self.staged.batches,
            os.path.join(self.scratch, "fixture"))

    def once(self, keep: bool = False) -> Sample:
        """One timed drain. `keep` matches FullRun.once; nothing a trace
        reads lives in the drain's directories."""
        run_dir = os.path.join(self.scratch, f"drain-{self.calls}")
        self.calls += 1
        try:
            return drain(self.spark, self.w.cfg, self.fixture, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def runner(spark, w: Workload, staged: Staged, scratch: str):
    cls = StreamRun if w.n_base is not None else FullRun
    return cls(spark, w, staged, scratch)
