"""End-to-end tiered dedup pipeline (SURVEY.md §3.4):

  read -> enrich (shingles / MinHash / SimHash, one pass)
       -> tier 1: exact (sha2 groupBy)             [dictionary analog]
       -> tier 2: MinHash-LSH + Jaccard verify
       -> tier 3: SimHash pigeonhole + Hamming verify
       -> tier 4: CDC-chunk candidates + substring verify
       -> union edges -> connected components -> assignments
       -> clusters + metrics

Every stage snapshots through a StageStore (parquet dirs standing in for
Iceberg snapshots) and appends lineage, so a re-run with the same
run_dir resumes: completed stages are read back, not recomputed — the
north_rule's checkpoint/resume requirement. A resume with a different
config fails fast (ConfigMismatch — the reference's header-validation
analog, /root/reference/src/compressor.c:246-252).

The per-row invariant (BASELINE.json input_hint) holds by construction:
the pipeline never writes a mutated document — `assignments` carries
only (doc_id, cluster_id, is_canonical); payloads stay in the source
table untouched.

Scale shape: one fused enrich UDF pass (signatures only — shingle sets
are never materialized; borderline verification re-shingles just its
docs), then each tier shuffles only ids + hashes. Text enters exactly
two joins: substring verification (post-cap candidates) and borderline
re-shingling. Tiers run as concurrent driver jobs through one tier run
(`_Tiers`, shared with `dedup_increment`); the substring chain overlaps
enrichment itself, and a refusal or a failing tier cancels the call's
jobs and raises at once.
"""

from __future__ import annotations

import threading
import time
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .config import DedupConfig
from .functions.hashing import make_enrich_udf
from .functions.text import token_count
from .io import ConfigMismatch, MemoryStore, StageStore
from .operators.candidates import bucket_pairs, probe_pairs
from .operators.components import component_assignments, label_components
from .operators.exact import exact_edges, with_content_key
from .operators.minhash_lsh import band_key_buckets, minhash_near_edges
from .operators.simhash import simhash_chunk_buckets, verify_hamming
from .operators.substring import substring_candidates, verify_substring

ALL_TIERS = ("exact", "minhash", "simhash", "substring")


@contextmanager
def _job_tag(spark: SparkSession, name: str):
    """Tag every Spark job this thread starts inside the block with
    `name`, so an event log reads as the pipeline's stages. Tags are
    per thread: each tier thread tags its own jobs, and perfbench's
    job groups are left alone."""
    spark.sparkContext.addJobTag(name)
    try:
        yield
    finally:
        spark.sparkContext.removeJobTag(name)


@dataclass
class DedupResult:
    """One dedup() run.

    `metrics` is complete on every run, at no Spark job of its own:
    `{stage}_rows` for each stage, `{tier}_candidates` (n_buckets,
    n_capped_buckets, n_candidate_edges, dropped_pairs) for each capped
    tier, `cc_rounds` (union-find rounds of the components), `doc_ids`
    (min, duplicates: the input's doc_id facts `_enriched` checks),
    `n_docs`, `n_duplicates`, `n_canonical`, `dup_ratio`, plus
    `{stage}_resumed` for each stage a StageStore run read back (which
    reports the metrics its first computation stored)."""

    assignments: DataFrame   # (doc_id, cluster_id, is_canonical)
    clusters: DataFrame      # (cluster_id, size, n_duplicates)
    edges: DataFrame         # (a, b, tier)
    metrics: dict
    lineage: list[dict]
    enriched: DataFrame | None = None  # (doc_id, content_hash BINARY(16),
                                       #  minhash, simhash)
                                       # — feed increment.index_from_enriched
                                       # so index builds cost zero UDF passes


def doc_texts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, text) from the user's (id_col, text_col), hash-partitioned
    on doc_id before the UDF stages. Every operator below the entry
    points reads `doc_id`/`text` only; user column names stop here.

    The hash partitioning spreads Arrow batches evenly across workers (a
    parquet scan of one smallish file yields a handful of input splits)
    and co-locates duplicate ids. The partition COUNT is AQE's: it
    coalesces this shuffle by bytes, and every stage that reads the
    frame inherits the result (enrich, CDC, the text side of the verify
    joins, the StageStore snapshots). At Spark's defaults that is one
    partition under 1 MB of text, one per core from ~4 MB, and 64 MB
    partitions at scale, never more than spark.sql.shuffle.partitions.
    A fixed count starts one Python task per partition however few
    documents it holds, and each costs 0.25-0.4 s (measured on a 4-core
    host), which made small corpora task-bound."""
    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).repartition("doc_id")


def enrich(base: DataFrame, cfg: DedupConfig, signatures: bool) -> DataFrame:
    """(doc_id, content_hash[, minhash, simhash]) from (doc_id, text).

    The one enrichment of the full run, the increment and `build_index`,
    so their signatures are bit-equal by construction. With `signatures`
    the fused UDF computes shingles + MinHash + SimHash in ONE Arrow
    round trip (the unfused chain ships shingle arrays to Python 3x);
    both signatures are NULL for docs below `min_doc_tokens`. The text
    never leaves: payloads stay in the source table."""
    e = with_content_key(base)
    if not signatures:
        return e.drop("text")
    enr = make_enrich_udf(cfg.num_perm, cfg.hash_seed, cfg.shingle_k)
    mh, sh = F.col("_e.minhash"), F.col("_e.simhash")
    if cfg.min_doc_tokens > cfg.shingle_k:
        # the config contract ("shorter docs -> exact tier only") gates
        # at min_doc_tokens, not just at the shingle width: the UDF
        # NULLs signatures below shingle_k tokens (no shingles), but a
        # config with min_doc_tokens > shingle_k needs this codegen gate
        # or docs in [shingle_k, min_doc_tokens) would enter the
        # similarity tiers anyway. Free at the default config (the
        # branch is not taken).
        gate = token_count(F.col("text")) >= cfg.min_doc_tokens
        mh, sh = F.when(gate, mh), F.when(gate, sh)
    return e.withColumn("_e", enr(F.col("text"))).select(
        "doc_id", "content_hash", mh.alias("minhash"), sh.alias("simhash")
    )


class _Stages:
    """The one stage runner of `dedup` and `dedup_increment`: `metrics`
    collects what every stage reports. Every job of a stage carries the
    call's own tag `call` next to its stage name, so cancelling that
    tag stops this call's jobs and no other call's in the session."""

    def __init__(self, store, metrics: dict):
        self.store, self.metrics, self._mx = store, metrics, threading.Lock()
        self._refused = False
        self.call = f"dedup-call-{uuid.uuid4().hex}"

    def refuse(self) -> None:
        """Start no further stage of this call."""
        with self._mx:
            self._refused = True

    def __call__(self, name: str, build, *aggs) -> DataFrame:
        """Run-or-resume one stage; returns the materialized DataFrame.

        build() returns the stage frame, or (frame, {metric: value}) where
        a value is an Observation deeper in its plan (bucket accounting)
        or a number build() already knows (CC rounds). The row
        count and `aggs` are observed on the frame handed to store.write,
        so every Observation resolves when that write returns. A resumed
        stage reports what its `computed` lineage record stored and runs
        no job. Every job the stage starts carries `name` and the call
        tag as its job tags.
        Thread-safe: the Spark actions run concurrently, only the store
        lookups and bookkeeping are serialized."""
        t0 = time.time()
        with self._mx:
            if self._refused:
                raise RuntimeError(f"stage {name} not started: its call was refused")
            got = self.store.computed(name)
        resumed = got is not None
        spark = self.store.spark
        with _job_tag(spark, name), _job_tag(spark, self.call):
            if resumed:
                df = self.store.read(name)
            else:
                out = build()
                frame, observed = out if isinstance(out, tuple) else (out, {})
                rows = Observation()
                df = self.store.write(
                    name,
                    frame.observe(rows, F.count(F.lit(1)).alias(f"{name}_rows"), *aggs),
                )
                got = {
                    **rows.get,
                    **{
                        k: o.get if isinstance(o, Observation) else o
                        for k, o in observed.items()
                    },
                }
        with self._mx:
            self.store.log_lineage(
                name,
                "resumed" if resumed else "computed",
                got[f"{name}_rows"],
                int((time.time() - t0) * 1000),
                None if resumed else got,
            )
            self.metrics.update(got)
            if resumed:
                self.metrics[f"{name}_resumed"] = True
        return df


def _cancel_until_done(spark: SparkSession, tag: str, futures: list) -> None:
    """Cancel the jobs tagged `tag` until every one of `futures` ends.
    One cancel is not enough: a stage between two of its jobs submits
    the next one after it."""
    while True:
        spark.sparkContext.cancelJobsWithTag(tag)
        if not wait(futures, timeout=0.1).not_done:
            return


def _enriched(stage, base, cfg, signatures: bool) -> DataFrame:
    """The `enriched` stage of `dedup` and `dedup_increment`, and their
    doc_id contract: every id present and unique (cluster ids ARE doc
    ids — a duplicated id merges unrelated rows silently).

    The stage's write observes `doc_ids` on the rows it reads: `min`,
    the smallest id, and `duplicates`, the rows past the first of their
    id plus every NULL id (the window puts all NULL ids in one partition
    whose first row numbers 1). It costs no job; a violation raises
    right after the write, before any tier starts. The window sits below
    the enrich UDF, on `doc_texts`' hash partitioning by doc_id, so it
    adds a sort and no exchange: above the UDF the partitioning is
    unknown and Spark would shuffle the rows again."""

    def build() -> tuple:
        ids = Observation()
        first = F.row_number().over(Window.partitionBy("doc_id").orderBy("doc_id")) == 1
        checked = base.withColumn("_dup", ~first | F.col("doc_id").isNull()).observe(
            ids, F.min("doc_id").alias("min"), F.count_if("_dup").alias("duplicates")
        )
        return enrich(checked.drop("_dup"), cfg, signatures), {"doc_ids": ids}

    enriched = stage("enriched", build)
    ids = stage.metrics.get("doc_ids")
    if ids is None:
        # only a resume can lack it: a StageStore record written before
        # the stage observed its ids
        raise ConfigMismatch(
            f"run_dir {stage.store.run_dir} holds an enriched stage without "
            "the doc_id facts it now records; start a fresh run_dir"
        )
    if ids["duplicates"]:
        raise ValueError(
            f"{ids['duplicates']} duplicate doc_id value(s) in the input; "
            "doc_id must be unique (cluster ids ARE doc ids — a "
            "duplicated id merges unrelated rows silently)"
        )
    return enriched


class _Tiers:
    """The tier run of one `dedup` or `dedup_increment` call, as a
    context manager: the call's one pool and its four tier runners, each
    a chain of `stage` calls.

    Entering submits the substring chain (CDC candidates over `base`'s
    raw text -> Rabin-Karp verify), so it overlaps enrichment. `edges`
    submits the signature tiers and waits for every tier. An exception
    that leaves the block (a refused doc_id contract, a refused index
    bound, a failing tier) takes the one exit path: no further stage of
    the call starts, a daemon thread cancels the call's jobs until its
    tiers end, and the block is left without waiting for them."""

    def __init__(self, stage, base, cfg, tiers):
        self.stage, self.base, self.cfg, self.tiers = stage, base, cfg, tiers

    def __enter__(self):
        self.pool = ThreadPoolExecutor(max_workers=4)  # one per tier
        self.futures = []
        if "substring" in self.tiers:
            self.futures.append(self.pool.submit(self._substring))
        return self

    def __exit__(self, kind, exc, tb) -> None:
        failed = kind is not None
        if failed:
            self.stage.refuse()
            threading.Thread(
                target=_cancel_until_done,
                args=(self.stage.store.spark, self.stage.call, self.futures),
                daemon=True,
            ).start()
        self.pool.shutdown(wait=not failed, cancel_futures=failed)

    def _substring(self) -> DataFrame:
        stage, base, cfg = self.stage, self.base, self.cfg

        def build_cand() -> tuple:
            cand = substring_candidates(base, cfg)
            return cand.pairs, {"substring_candidates": cand.accounting}

        pairs = stage("cand_substring", build_cand)

        def build_substring() -> DataFrame:
            verified = verify_substring(pairs, base, cfg)
            return verified.select("a", "b").withColumn("tier", F.lit("substring"))

        return stage("edges_substring", build_substring)

    def edges(self, enriched, texts, n_docs, index=None, lo=0) -> DataFrame:
        """The union (a, b, tier) of every tier's edges, or the empty
        frame when no tier runs. Submits the exact, MinHash and SimHash
        tiers of the run over `enriched`, then waits for every tier; the
        first tier to fail raises its error at once.

        `texts` (doc_id, text) exact-verify the borderline MinHash pairs,
        or None decides them by the estimate (minhash_near_edges).
        `n_docs` is the corpus size the SimHash pigeonhole auto-flip
        reads (config.effective_simhash_chunks).

        With `index` (INDEX_SCHEMA, every member id below `lo`), the
        tiers probe it: candidates come from `probe_pairs` over the
        index's band keys and chunk buckets, the exact tier adds its
        dictionary hits (cluster id, new doc), and an extra
        `sigs_minhash` stage slices the signatures down to the ids the
        pairs touch."""
        stage, cfg = self.stage, self.cfg

        def candidates(new, idx, keys):
            if index is None:
                return bucket_pairs(new, keys, cap=cfg.bucket_pair_cap)
            return probe_pairs(new, idx, keys, cfg.bucket_pair_cap, F.lit(lo))

        def members(col):
            return index.select(F.col("member_id").alias("doc_id"), col)

        def run_exact() -> DataFrame:
            def build() -> DataFrame:
                edges = exact_edges(enriched)
                if index is not None:
                    # the dictionary hit path: new docs whose content an
                    # index member already holds
                    edges = edges.union(
                        enriched.select("doc_id", "content_hash")
                        .join(
                            index.select("cluster_id", "content_hash").distinct(),
                            "content_hash",
                        )
                        .select(F.col("cluster_id").alias("a"), F.col("doc_id").alias("b"))
                    )
                return edges.withColumn("tier", F.lit("exact"))

            return stage("edges_exact", build)

        def run_minhash() -> DataFrame:
            def build_cand() -> tuple:
                # the index's stored band keys (INDEX_SCHEMA): explode drops
                # the NULL arrays of short docs
                idx = None if index is None else members(
                    F.explode("band_keys").alias("band_key")
                )
                cand = candidates(band_key_buckets(enriched, cfg), idx, ["band_key"])
                return cand.pairs, {"minhash_candidates": cand.accounting}

            pairs = stage("cand_minhash", build_cand)
            sigs = enriched.select("doc_id", "minhash")
            if index is not None:
                # the index's ~1 KB/row minhash column is the probe's
                # dominant read: semi-join it down to the ids the pairs
                # touch (ONE index scan), so both estimate joins read that
                # small slice. Result-identical: they only read those ids
                def build_sigs() -> DataFrame:
                    ids = pairs.select(F.col("a").alias("doc_id")).union(
                        pairs.select(F.col("b").alias("doc_id"))
                    )
                    return members("minhash").union(sigs).join(
                        ids.distinct(), "doc_id", "left_semi"
                    )

                sigs = stage("sigs_minhash", build_sigs)

            def build_minhash() -> DataFrame:
                # estimate-screen + borderline exact verification: the ONE
                # decision procedure; margins documented on DedupConfig
                return minhash_near_edges(pairs, sigs, cfg, texts=texts).withColumn(
                    "tier", F.lit("minhash")
                )

            return stage("edges_minhash", build_minhash)

        def run_simhash() -> DataFrame:
            def build() -> tuple:
                # pigeonhole auto-flip (config rule, r05 verdict #4): at
                # >= simhash_auto_chunks_from docs the 16-bit single-chunk
                # buckets saturate; flip to the 8-chunk combinatorial keys.
                # Edge set unchanged wherever no cap engages (both settings
                # are exact covers at the same radius; pytest-pinned).
                sim_cfg = replace(cfg, simhash_chunks=cfg.effective_simhash_chunks(n_docs))
                sims, idx = enriched.select("doc_id", "simhash"), None
                if index is not None:
                    idx = simhash_chunk_buckets(members("simhash"), sim_cfg)
                    sims = members("simhash").union(sims)
                cand = candidates(
                    simhash_chunk_buckets(enriched, sim_cfg), idx, ["chunk_idx", "chunk_val"]
                )
                # capped chunk buckets chain-link and DROP pairs, and that
                # loss is reported like the other tiers' (candidates.py
                # invariant): the accounting resolves in this stage's write
                verified = verify_hamming(cand.pairs, sims, cfg)
                edges = verified.select("a", "b").withColumn("tier", F.lit("simhash"))
                return edges, {"simhash_candidates": cand.accounting}

            return stage("edges_simhash", build)

        runners = {"exact": run_exact, "minhash": run_minhash, "simhash": run_simhash}
        # the substring chain's edges come last in the union
        self.futures = [
            self.pool.submit(run) for t, run in runners.items() if t in self.tiers
        ] + self.futures
        wait(self.futures, return_when=FIRST_EXCEPTION)
        # every tier has ended, or one has failed and raises here at once
        frames = [f.result() for f in self.futures if f.done()]
        if not frames:
            return stage.store.spark.createDataFrame([], "a long, b long, tier string")
        return reduce(DataFrame.union, frames)


def dedup(
    spark: SparkSession,
    docs: DataFrame,
    cfg: DedupConfig | None = None,
    run_dir: str | None = None,
    tiers: tuple[str, ...] = ALL_TIERS,
    id_col: str = "doc_id",
    text_col: str = "text",
    collect_stats: bool = True,
) -> DedupResult:
    """Cluster `docs` (id_col, text_col) into near-duplicate groups.

    With `run_dir` every stage snapshots to a StageStore and a re-run
    resumes; without it stages are local checkpoints. Both run the same
    stages eagerly, and both report the full metrics (see DedupResult)
    from Observations resolved by the stage writes themselves.
    `collect_stats` is ignored: metrics are always on. It stays only so
    existing callers that pass it keep working."""
    cfg = cfg or DedupConfig()
    unknown = [t for t in tiers if t not in ALL_TIERS]
    if unknown:
        # a typo would otherwise run without that tier (and pin the
        # typo into run_config.json)
        raise ValueError(f"unknown tiers {unknown}; tiers are {list(ALL_TIERS)}")
    if run_dir:
        # the TIER SET shapes every snapshot's content (edge frames,
        # assignments), so it must be part of the pinned run config: a
        # resume with different tiers would otherwise silently read
        # back assignments missing (or crash on) the changed tiers'
        # contributions. Embedding it in cfg.extra reuses the existing
        # ConfigMismatch fail-fast (the DDP1-header discipline).
        pin_cfg = replace(cfg, extra={**cfg.extra, "tiers": list(tiers)})
        store = StageStore(spark, run_dir, pin_cfg)
    else:
        store = MemoryStore(spark, cfg)
    stage = _Stages(store, {"tiers": list(tiers)})
    metrics = stage.metrics

    base = doc_texts(docs, id_col, text_col)

    # ---- tiers -> edges -------------------------------------------------
    # Tier concurrency (driver threads; Spark schedules concurrent jobs
    # onto idle cores):
    #  - the substring tier depends only on raw text, so its whole chain
    #    (CDC chunking -> candidates -> Rabin-Karp verify; Python/Arrow
    #    bound) starts BEFORE enrichment and overlaps it. It verifies
    #    independently (no anti-join against other tiers' edges — that
    #    coupling serialized the critical path just to skip re-verifying
    #    pairs that pass anyway).
    #  - exact / minhash / simhash are independent given `enriched` and
    #    run concurrently after it (JVM shuffle/join work overlapping
    #    the substring tier's Python work).
    with _Tiers(stage, base, cfg, tiers) as run:
        # enrichment (one wide projection, snapshotted) runs on this
        # thread, overlapped by the substring tier; the signature tiers
        # start as soon as it lands and its doc_id check passes
        enriched = _enriched(
            stage, base, cfg, bool({"minhash", "simhash"} & set(tiers))
        )
        # the SimHash auto-flip reads the corpus size the enriched
        # stage already observed
        edges = run.edges(enriched, base, metrics["enriched_rows"])

    # ---- connected components -> assignments ---------------------------
    def build_assignments() -> tuple:
        comp, rounds = label_components(
            edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            cfg.cc_max_iterations,
            cfg.cc_checkpoint_mode,
        )
        return component_assignments(base, comp), {"cc_rounds": rounds}

    assignments = stage(
        "assignments",
        build_assignments,
        F.count_if(~F.col("is_canonical")).alias("n_duplicates"),
    )

    def build_clusters() -> DataFrame:
        return assignments.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("size"),
            (F.count(F.lit(1)) - 1).alias("n_duplicates"),
        )

    clusters = stage("clusters", build_clusters)

    n_docs, n_dup = metrics["assignments_rows"], metrics["n_duplicates"]
    metrics.update(
        {
            "config": cfg.to_json(),
            "n_docs": n_docs,
            "n_canonical": n_docs - n_dup,
            "dup_ratio": (n_dup / n_docs) if n_docs else 0.0,
        }
    )
    return DedupResult(
        assignments=assignments,
        clusters=clusters,
        edges=edges,
        metrics=metrics,
        lineage=store.lineage(),
        enriched=enriched,
    )
