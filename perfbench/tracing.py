"""The traced run: spans around calls into each layer's public functions,
from outside the library, joined with Spark's event log.

A span records its name, start, end and parent and runs under its own
Spark job group, so the event log reads as the layers. Jobs, tasks and
stages are attributed to the span whose interval contains their
submission or launch time: the pipeline submits tier jobs from its own
threads and broadcast jobs run under their own groups, so grouping by
job group alone would miss them. Decomposition spans run one at a time
on one thread, so each span's wall time is that layer's self time.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import replace

import pandas as pd
from pyspark.sql import functions as F

from deduplication_spark.functions.hashing import make_enrich_udf
from deduplication_spark.increment import dedup_increment, index_from_enriched, pin_sig_config
from deduplication_spark.io import StageStore
from deduplication_spark.operators.candidates import bucket_pairs
from deduplication_spark.operators.components import connected_components
from deduplication_spark.operators.exact import with_content_key
from deduplication_spark.operators.minhash_lsh import band_key_buckets, minhash_near_edges
from deduplication_spark.operators.simhash import simhash_chunk_buckets, verify_hamming
from deduplication_spark.operators.substring import substring_candidates, verify_substring

from workloads import StreamFixture, drain

SPAN_STATS = {"wall_s": ("s", "lower"), "jobs": ("count", "lower"),
              "task_s": ("s", "lower"), "task_max_over_p50": ("ratio", "lower"),
              "shuffle_bytes": ("bytes", "lower")}


def _layer(name: str, extra: dict[str, tuple[str, str]], stats=SPAN_STATS):
    return {f"{name}.{k}": v for k, v in {**stats, **extra}.items()}


# per-layer metric name -> (unit, better); the order is the report order
LAYER_METRICS = {
    "session.wall_s": ("s", "lower"),
    **_layer("hashing.enrich", {"rows": ("count", "higher")}),
    **_layer("candidates.lsh", {"memberships": ("count", "lower"),
                                "pairs": ("count", "lower"),
                                "capped_buckets": ("count", "lower"),
                                "dropped_pairs": ("count", "lower")}),
    **_layer("minhash_lsh.verify", {"edges": ("count", "higher"),
                                    "yield": ("ratio", "higher")}),
    **_layer("candidates.simhash", {"pairs": ("count", "lower")}),
    **_layer("simhash.verify", {"edges": ("count", "higher"),
                                "yield": ("ratio", "higher")}),
    **_layer("substring.candidates", {"pairs": ("count", "lower")}),
    **_layer("substring.verify", {"edges": ("count", "higher"),
                                  "yield": ("ratio", "higher")}),
    **_layer("components", {"edges_in": ("count", "lower"),
                            "nodes": ("count", "lower")}),
    **_layer("pipeline", {"stages": ("count", "lower"),
                          "spill_bytes": ("bytes", "lower"),
                          "core_busy": ("ratio", "higher"),
                          "tracing_overhead": ("ratio", "lower")}),
    "io.wall_s": ("s", "lower"),
    "io.snapshot_bytes": ("bytes", "lower"),
    "io.snapshot_bytes_per_input_byte": ("ratio", "lower"),
    "increment.probe_s": ("s", "lower"),
    "increment.index_write_s": ("s", "lower"),
    "increment.jobs": ("count", "lower"),
    "increment.task_s": ("s", "lower"),
    "increment.index_bytes_per_batch": ("bytes", "lower"),
    "increment.write_amp": ("ratio", "lower"),
    "stream.wall_s": ("s", "lower"),
    "stream.jobs": ("count", "lower"),
    "stream.trigger_overhead_s": ("s", "lower"),
    "stream.source_rows_per_doc": ("ratio", "lower"),
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false"}


class Tracer:
    """In-memory spans; `write` dumps them when the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.bookkeeping_s = 0.0  # time spent opening and closing spans

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "counts": {}}
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     self._stack[-1] if self._stack else None)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t0

    def add(self, name: str, start: float, end: float) -> None:
        """A span timed elsewhere (the session start-up)."""
        self.spans.append({"name": name, "parent": None, "start": start,
                           "end": end, "counts": {}})

    def write(self, path: str, counts: dict) -> None:
        """One JSON line per span, each carrying the counts of its layer."""
        for s in self.spans:
            prefix = s["name"] + "."
            s["counts"].update({k[len(prefix):]: v for k, v in counts.items()
                                if k.startswith(prefix)})
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def read_eventlog(log_dir: str) -> tuple[list[dict], list[dict], list[dict]]:
    """(jobs, stages, tasks) from the one application log in `log_dir`,
    a single file or a rolling log directory of events_<n>_<app> files."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    path = os.path.join(log_dir, name)
    files = [path]
    if os.path.isdir(path):
        files = sorted((os.path.join(path, f) for f in os.listdir(path)
                        if f.startswith("events_")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    jobs, stages, tasks = [], [], []
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000})
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stages.append({"id": info["Stage ID"],
                               "t": info["Submission Time"] / 1000,
                               "dur": (info["Completion Time"]
                                       - info["Submission Time"]) / 1000})
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "t": ev["Task Info"]["Launch Time"] / 1000,
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
            })
    return jobs, stages, tasks


def span_stats(span: dict, jobs, stages, tasks) -> dict:
    inside = lambda x: span["start"] <= x["t"] <= span["end"]  # noqa: E731
    s_tasks = [t for t in tasks if inside(t)]
    s_stages = [s for s in stages if inside(s)]
    skew = 1.0
    if s_stages:
        slowest = max(s_stages, key=lambda s: s["dur"])["id"]
        runs = [t["run_s"] for t in s_tasks if t["stage"] == slowest]
        if runs:
            skew = max(runs) / max(statistics.median(runs), 1e-3)
    return {
        "wall_s": span["end"] - span["start"],
        "jobs": sum(1 for j in jobs if inside(j)),
        "task_s": sum(t["run_s"] for t in s_tasks),
        "task_max_over_p50": skew,
        "shuffle_bytes": sum(t["shuffle"] for t in s_tasks),
        "stages": len(s_stages),
        "spill_bytes": sum(t["spill"] for t in s_tasks),
    }


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def _bucket_counts(members, key_cols: list[str], cap: int) -> dict:
    """Memberships, capped buckets and pairs dropped by the cap, counted
    by the benchmark from the membership frame."""
    sizes = members.groupBy(*key_cols).count()
    m = F.col("count")
    row = sizes.agg(
        F.sum(m).alias("memberships"),
        F.sum(F.when(m > cap, 1).otherwise(0)).alias("capped"),
        F.sum(F.when(m > cap, m * (m - 1) / 2 - (cap * (cap - 1) / 2 + (m - cap)))
              .otherwise(0)).alias("dropped"),
    ).first()
    return {"memberships": row["memberships"] or 0,
            "capped_buckets": row["capped"] or 0,
            "dropped_pairs": int(row["dropped"] or 0)}


def split_fixture(spark, cfg, docs_path: str, res, out_dir: str) -> StreamFixture:
    """A one-batch stream fixture cut from a full run: the first 80% of
    ids as the indexed base, the rest as the batch."""
    docs = pd.read_parquet(docs_path)
    cut = int(docs.doc_id.max() * 0.8)
    os.makedirs(os.path.join(out_dir, "batches"))
    base = os.path.join(out_dir, "base.parquet")
    docs[docs.doc_id < cut].to_parquet(base, index=False)
    docs[docs.doc_id >= cut].to_parquet(
        os.path.join(out_dir, "batches", "part-000.parquet"), index=False)
    fx = StreamFixture(base, os.path.join(out_dir, "batches"),
                       os.path.join(out_dir, "index"),
                       os.path.join(out_dir, "base_assignments"))
    below = F.col("doc_id") < cut
    assign = res.assignments.filter(below)
    index_from_enriched(res.enriched.filter(below), assign, cfg=cfg).write.parquet(fx.index)
    assign.write.parquet(fx.base_assignments)
    return fx


def decompose(spark, tracer: Tracer, cfg, docs_path: str, res, fx: StreamFixture,
              stream_sample, out_dir: str) -> dict:
    """Each layer's public call over materialized inputs, one span each.

    `res` is the traced pipeline run over `docs_path`; its tier edges
    feed the components span. `stream_sample` is the traced e2e drain,
    or None to drain `fx` here. Returns the layer counts."""
    counts: dict = {}
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = (spark.read.parquet(docs_path).select("doc_id", "text")
            .repartition(n_part, "doc_id").localCheckpoint(eager=True))
    n_docs = docs.count()
    text_bytes = docs.agg(F.sum(F.octet_length("text"))).first()[0]

    with tracer.span("hashing.enrich"):
        enr = make_enrich_udf(cfg.num_perm, cfg.hash_seed, cfg.shingle_k)
        enriched = (with_content_key(docs).withColumn("_e", enr(F.col("text")))
                    .select("doc_id", "content_hash",
                            F.col("_e.minhash").alias("minhash"),
                            F.col("_e.simhash").alias("simhash"))
                    .localCheckpoint(eager=True))
    counts["hashing.enrich.rows"] = n_docs

    cap = cfg.bucket_pair_cap
    with tracer.span("candidates.lsh"):
        lsh_pairs = bucket_pairs(band_key_buckets(enriched, cfg), ["band_key"],
                                 cap=cap).pairs.localCheckpoint(eager=True)
    n_lsh = lsh_pairs.count()
    counts.update({f"candidates.lsh.{k}": v for k, v in _bucket_counts(
        band_key_buckets(enriched, cfg), ["band_key"], cap).items()})
    counts["candidates.lsh.pairs"] = n_lsh

    with tracer.span("minhash_lsh.verify"):
        mh_edges = minhash_near_edges(lsh_pairs, enriched.select("doc_id", "minhash"),
                                      cfg, texts=docs).localCheckpoint(eager=True)
    n = mh_edges.count()
    counts["minhash_lsh.verify.edges"] = n
    counts["minhash_lsh.verify.yield"] = n / max(n_lsh, 1)

    cfg_sim = replace(cfg, simhash_chunks=cfg.effective_simhash_chunks(n_docs))
    with tracer.span("candidates.simhash"):
        sim_pairs = bucket_pairs(simhash_chunk_buckets(enriched, cfg_sim),
                                 ["chunk_idx", "chunk_val"],
                                 cap=cap).pairs.localCheckpoint(eager=True)
    n_sim = sim_pairs.count()
    counts["candidates.simhash.pairs"] = n_sim
    with tracer.span("simhash.verify"):
        sim_edges = verify_hamming(sim_pairs, enriched.select("doc_id", "simhash"),
                                   cfg).select("a", "b").localCheckpoint(eager=True)
    n = sim_edges.count()
    counts["simhash.verify.edges"] = n
    counts["simhash.verify.yield"] = n / max(n_sim, 1)

    with tracer.span("substring.candidates"):
        ss_pairs = substring_candidates(docs, cfg).pairs.localCheckpoint(eager=True)
    n_ss = ss_pairs.count()
    counts["substring.candidates.pairs"] = n_ss
    with tracer.span("substring.verify"):
        ss_edges = verify_substring(ss_pairs, docs, cfg).localCheckpoint(eager=True)
    n = ss_edges.count()
    counts["substring.verify.edges"] = n
    counts["substring.verify.yield"] = n / max(n_ss, 1)

    edges_in = (res.edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .localCheckpoint(eager=True))
    with tracer.span("components"):
        comp = connected_components(
            edges_in, max_iterations=cfg.cc_max_iterations,
            checkpoint_mode=cfg.cc_checkpoint_mode).localCheckpoint(eager=True)
    counts["components.edges_in"] = edges_in.count()
    counts["components.nodes"] = comp.count()

    # the nine snapshots a StageStore run writes, taken from the frames
    # above and the traced pipeline run
    snaps = {
        "enriched": enriched, "cand_minhash": lsh_pairs, "cand_substring": ss_pairs,
        "edges_exact": res.edges.filter(F.col("tier") == "exact"),
        "edges_minhash": mh_edges.withColumn("tier", F.lit("minhash")),
        "edges_simhash": sim_edges.withColumn("tier", F.lit("simhash")),
        "edges_substring": ss_edges.withColumn("tier", F.lit("substring")),
        "assignments": res.assignments, "clusters": res.clusters,
    }
    io_dir = os.path.join(out_dir, "io_run_dir")
    with tracer.span("io"):
        store = StageStore(spark, io_dir, cfg)
        for name, df in snaps.items():
            store.write(name, df)
    counts["io.snapshot_bytes"] = du(io_dir)
    counts["io.snapshot_bytes_per_input_byte"] = counts["io.snapshot_bytes"] / max(text_bytes, 1)

    batch_path = os.path.join(fx.batches, sorted(os.listdir(fx.batches))[0])
    batch = spark.read.parquet(batch_path)
    batch_bytes = batch.agg(F.sum(F.octet_length("text"))).first()[0]
    inc_dir = os.path.join(out_dir, "increment")
    with tracer.span("increment.probe"):
        inc = dedup_increment(spark, batch, spark.read.parquet(fx.index), cfg,
                              base_docs=spark.read.parquet(fx.base))
        inc.assignments.write.parquet(os.path.join(inc_dir, "assignments"))
        inc.merges.write.parquet(os.path.join(inc_dir, "merges"))
    with tracer.span("increment.index_write"):
        pin_sig_config(inc.index, cfg).write.parquet(os.path.join(inc_dir, "index"))
    idx_bytes = du(os.path.join(inc_dir, "index"))
    counts["increment.index_bytes_per_batch"] = idx_bytes
    counts["increment.write_amp"] = idx_bytes / max(batch_bytes, 1)

    if stream_sample is None:
        with tracer.span("stream"):
            stream_sample = drain(spark, cfg, fx, os.path.join(out_dir, "stream"))
    prog = stream_sample.progress
    counts["stream.trigger_overhead_s"] = statistics.median(
        (p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1000
        for p in prog)
    counts["stream.source_rows_per_doc"] = (
        sum(p["numInputRows"] for p in prog) / max(stream_sample.docs, 1))
    return counts


def layer_metrics(tracer: Tracer, log_dir: str, counts: dict, cores: int,
                  overhead: float) -> dict:
    """Every LAYER_METRICS value from the spans, the event log and the
    layer counts."""
    log = read_eventlog(log_dir)
    st = {s["name"]: span_stats(s, *log) for s in tracer.spans}
    out = dict(counts)
    for name, stats in st.items():
        out.update({f"{name}.{k}": v for k, v in stats.items()})
    pipe, probe, write = st["pipeline"], st["increment.probe"], st["increment.index_write"]
    out["pipeline.core_busy"] = pipe["task_s"] / (pipe["wall_s"] * cores)
    out["pipeline.tracing_overhead"] = overhead
    out["increment.probe_s"] = probe["wall_s"]
    out["increment.index_write_s"] = write["wall_s"]
    out["increment.jobs"] = probe["jobs"] + write["jobs"]
    out["increment.task_s"] = probe["task_s"] + write["task_s"]
    return {k: out[k] for k in LAYER_METRICS}
