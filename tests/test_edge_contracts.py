"""Regression tests for the round-4 high-effort review findings:

- NULL-text docs must be SINGLETONS in the exact tier (NULL hashes must
  not window-group into one bogus duplicate cluster) — identically in
  the full pipeline and the increment prober.
- The tier set is part of the pinned run config: resuming a run_dir
  with different tiers fails fast (ConfigMismatch) instead of silently
  returning stale assignments.
- min_doc_tokens > shingle_k actually routes short docs to the exact
  tier only (the config contract), on both the pipeline and increment
  enrichment paths.
- NULL media payloads degrade (NULL metadata row / no frames / NULL
  resize) instead of crashing the mapInPandas task.
- Non-finite embedding components (inf) are excluded from similarity
  output like NaN/zero-norm ones.
"""

import json
import math
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplication_spark.config import DedupConfig
from deduplication_spark.increment import dedup_increment, index_from_enriched
from deduplication_spark.io import ConfigMismatch
from deduplication_spark.pipeline import dedup


def test_null_text_docs_are_singletons(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [None, None, "same text here ok", "same text here ok"],
            }
        )
    )
    res = dedup(spark, df, DedupConfig(), tiers=("exact",))
    cmap = {r["doc_id"]: r["cluster_id"] for r in res.assignments.collect()}
    # real duplicates cluster; NULL texts do NOT cluster with each other
    assert cmap[3] == cmap[4] == 3
    assert cmap[1] == 1 and cmap[2] == 2


def test_null_text_increment_matches_full(spark):
    cfg = DedupConfig()
    base_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [None, "real doc text one"]})
    )
    base = dedup(spark, base_df, cfg, tiers=("exact", "minhash"))
    index = index_from_enriched(base.enriched, base.assignments, cfg=cfg)
    new_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11], "text": [None, None]})
    )
    inc = dedup_increment(spark, new_df, index, cfg, base_docs=base_df)
    got = {r["doc_id"]: r["cluster_id"] for r in inc.assignments.collect()}
    # every NULL-text doc stays its own cluster — no cross-batch or
    # within-batch NULL grouping
    assert got == {10: 10, 11: 11}
    assert inc.merges.count() == 0


def test_resume_with_different_tiers_fails_fast(spark, tmp_path):
    from deduplication_spark.io import ConfigMismatch

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a doc", "b doc"]})
    )
    run_dir = str(tmp_path / "run")
    dedup(spark, df, DedupConfig(), run_dir=run_dir, tiers=("exact",))
    # same tiers resumes fine
    res = dedup(spark, df, DedupConfig(), run_dir=run_dir, tiers=("exact",))
    assert res.metrics.get("assignments_resumed")
    # different tiers must refuse: the snapshots encode the tier set
    with pytest.raises(ConfigMismatch):
        dedup(spark, df, DedupConfig(), run_dir=run_dir, tiers=("exact", "minhash"))


def test_min_doc_tokens_routes_to_exact_only(spark):
    """Docs with tokens in [shingle_k, min_doc_tokens) must not enter
    the similarity tiers: two 20-token docs at Jaccard ~0.88 are NOT
    near-dup-clustered at min_doc_tokens=30, but ARE at the default
    (catch probability 1-(1-0.88^4)^32 ~ 1, so the control is
    deterministic in practice)."""
    toks = [f"w{i}" for i in range(20)]
    t1 = " ".join(toks)
    t2 = " ".join(toks[:19] + ["different"])  # 15/17 shingles shared
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [t1, t2]})
    )
    strict = DedupConfig(min_doc_tokens=30)
    res = dedup(spark, df, strict, tiers=("exact", "minhash"))
    cmap = {r["doc_id"]: r["cluster_id"] for r in res.assignments.collect()}
    assert cmap == {1: 1, 2: 2}, "short docs must skip the LSH tier"

    res2 = dedup(spark, df, DedupConfig(), tiers=("exact", "minhash"))
    cmap2 = {r["doc_id"]: r["cluster_id"] for r in res2.assignments.collect()}
    assert cmap2 == {1: 1, 2: 1}, "same pair clusters once eligible"

    # increment enrichment honors the same gate: a strict-config index
    # has NULL minhash for the short doc
    from deduplication_spark.increment import build_index

    idx = build_index(df, res.assignments, strict)
    assert all(r["minhash"] is None for r in idx.collect())


def test_duplicate_doc_ids_fail_loudly(spark):
    """Round-5 contract decision: doc_id uniqueness is a validated
    precondition — cluster ids ARE doc ids, so a duplicated id would
    silently merge unrelated rows. Every dedup() call runs the guard
    and raises. A NULL id counts as a duplicate: the check's window
    puts all NULL ids in one partition, where the first numbers 1."""
    for ids in ([1, 1, 2], [None, 2, 3]):
        df = spark.createDataFrame(
            list(zip(ids, ["doc a", "doc b", "doc c"])), "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="^1 duplicate doc_id"):
            dedup(spark, df, DedupConfig(), tiers=("exact",))
    # unique ids pass the same gate
    ok = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["doc a", "doc b"]})
    )
    res = dedup(spark, ok, DedupConfig(), tiers=("exact",))
    assert res.assignments.count() == 2


def test_a_refused_call_cancels_its_substring_chain(spark, monkeypatch):
    """The substring chain starts before the doc_id check. A call refused
    for a duplicated id raises without waiting for it: the chain's running
    job is cancelled, no further stage starts, and no job is left
    running. The chain is stalled for 60 s on one doc here, so a call
    that waits for it misses the time bound."""
    import time

    from deduplication_spark import pipeline

    @F.udf("string")
    def stall(doc_id, text):
        if doc_id == 0:
            time.sleep(60)
        return text

    real = pipeline.substring_candidates
    monkeypatch.setattr(
        pipeline,
        "substring_candidates",
        lambda docs, cfg: real(docs.withColumn("text", stall("doc_id", "text")), cfg),
    )
    words = " ".join(f"w{j}" for j in range(40))
    df = spark.createDataFrame(
        [(i, f"doc {i} {words}") for i in [*range(30), 7]], "doc_id long, text string"
    )
    t0 = time.time()
    with pytest.raises(ValueError, match="^1 duplicate doc_id"):
        dedup(spark, df, DedupConfig())
    assert time.time() - t0 < 30
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 10
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.2)
    assert tracker.getActiveJobsIds() == []


def _stall_substring(monkeypatch, stall) -> None:
    """Feed the substring chain its text through the `stall` UDF
    (doc_id, text) -> text."""
    from deduplication_spark import pipeline

    real = pipeline.substring_candidates
    monkeypatch.setattr(
        pipeline,
        "substring_candidates",
        lambda docs, cfg: real(docs.withColumn("text", stall("doc_id", "text")), cfg),
    )


def _assert_no_active_job_within(spark, seconds: float) -> None:
    import time

    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + seconds
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.2)
    assert tracker.getActiveJobsIds() == []


def test_a_failing_tier_returns_at_once(spark, monkeypatch):
    """A tier that fails ends its call through the same exit as a
    refusal: the error reaches the caller at once, the call's other
    tiers are cancelled and no job is left running. The substring chain
    is stalled for 60 s on one doc here, so a call that waits for every
    tier misses the time bound."""
    import time

    from deduplication_spark import pipeline

    @F.udf("string")
    def stall(doc_id, text):
        if doc_id == 0:
            time.sleep(60)
        return text

    def fail(enriched):
        raise RuntimeError("the exact tier failed")

    _stall_substring(monkeypatch, stall)
    monkeypatch.setattr(pipeline, "exact_edges", fail)
    words = " ".join(f"w{j}" for j in range(40))
    df = spark.createDataFrame(
        [(i, f"doc {i} {words}") for i in range(30)], "doc_id long, text string"
    )
    t0 = time.time()
    with pytest.raises(RuntimeError, match="^the exact tier failed$"):
        dedup(spark, df, DedupConfig())
    assert time.time() - t0 < 30
    _assert_no_active_job_within(spark, 10)


def test_a_refused_call_cancels_only_its_own_jobs(spark, monkeypatch, tmp_path):
    """Two calls share a session. The first runs in a thread, and its
    substring chain stalls for 20 s on one doc. Meanwhile a second call
    is refused for a duplicated id and cancels its own jobs. The first
    call's stalled job is not among them, so it still returns its
    assignments."""
    import os
    import threading
    import time

    stalled = str(tmp_path / "stalled")

    @F.udf("string")
    def stall(doc_id, text):
        # once: a later job of the chain reads the doc without stalling
        if doc_id == 1000 and not os.path.exists(stalled):
            open(stalled, "w").close()
            time.sleep(20)
        return text

    _stall_substring(monkeypatch, stall)
    words = " ".join(f"w{j}" for j in range(40))
    schema = "doc_id long, text string"
    first = spark.createDataFrame(
        [(1000 + i, f"doc {i} {words}") for i in range(30)], schema
    )
    refused = spark.createDataFrame(
        [(i, f"doc {i} {words}") for i in [*range(30), 7]], schema
    )
    out = {}

    def run_first():
        try:
            out["rows"] = dedup(spark, first, DedupConfig()).assignments.count()
        except Exception as e:
            out["error"] = repr(e)[:500]

    thread = threading.Thread(target=run_first)
    thread.start()
    deadline = time.time() + 120
    while not os.path.exists(stalled) and time.time() < deadline:
        time.sleep(0.1)
    assert os.path.exists(stalled), "the first call's substring chain never ran"
    with pytest.raises(ValueError, match="^1 duplicate doc_id"):
        dedup(spark, refused, DedupConfig())
    thread.join(timeout=180)
    assert not thread.is_alive()
    assert out == {"rows": 30}
    _assert_no_active_job_within(spark, 10)


def test_enriched_record_without_doc_id_facts_refuses_resume(spark, tmp_path):
    """A run_dir whose `enriched` lineage record predates the observed
    doc_id facts cannot prove its ids unique: the resume refuses it,
    naming the run_dir, instead of failing on the missing key or
    skipping the check."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["doc a", "doc b"]})
    )
    run_dir = tmp_path / "run"
    dedup(spark, df, DedupConfig(), run_dir=str(run_dir), tiers=("exact",))
    lineage = run_dir / "lineage.jsonl"
    recs = [json.loads(line) for line in lineage.read_text().splitlines()]
    for rec in recs:
        if rec["stage"] == "enriched":
            del rec["metrics"]["doc_ids"]
    lineage.write_text("".join(json.dumps(r) + "\n" for r in recs))
    with pytest.raises(ConfigMismatch, match=re.escape(f"run_dir {run_dir} ") + ".*fresh"):
        dedup(spark, df, DedupConfig(), run_dir=str(run_dir), tiers=("exact",))


def test_unknown_tier_names_are_refused(spark, tmp_path):
    """A typo'd tier name is refused, naming it, before the run_dir
    store exists: otherwise the run goes ahead without that tier and
    pins the typo into run_config.json."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["doc a", "doc b"]})
    )
    run_dir = tmp_path / "run"
    with pytest.raises(ValueError, match="minhsh"):
        dedup(
            spark, df, DedupConfig(), run_dir=str(run_dir),
            tiers=("exact", "minhsh"),
        )
    assert not run_dir.exists()


def test_empty_corpus_dedup(spark):
    """Zero-row input flows through every tier and yields zero-row
    assignments/clusters (no crash, no phantom rows)."""
    df = spark.createDataFrame([], "doc_id long, text string")
    res = dedup(spark, df, DedupConfig())
    assert res.assignments.count() == 0
    assert res.clusters.count() == 0
    assert res.assignments.columns == ["doc_id", "cluster_id", "is_canonical"]
    # every metric resolves, to zero (no observed plan was pruned away)
    m = res.metrics
    assert m["n_docs"] == m["n_duplicates"] == m["n_canonical"] == 0
    assert m["dup_ratio"] == 0.0
    rows = {k: v for k, v in m.items() if k.endswith("_rows")}
    assert len(rows) == 9 and set(rows.values()) == {0}
    for tier in ("minhash", "simhash", "substring"):
        assert set(m[f"{tier}_candidates"].values()) == {0}, tier


def test_ten_megabyte_doc_flows_through_all_tiers(spark):
    """A single ~10 MB document (plus its exact twin and an unrelated
    doc) through the FULL tiered pipeline: one Arrow batch carries the
    whole payload through the fused enrich UDF, CDC chunker, and
    substring verifier without splitting, truncating, or crashing —
    and the twin still clusters. (The edge_corpus green query carries
    a 2.3 MB doc to keep the driver's correctness pass fast; this
    pins the 10 MB point.)"""
    big = " ".join(f"b{i}" for i in range(1_300_000))  # ~10.3 MB
    assert len(big) > 10_000_000
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [big, big, "tiny unrelated doc text"],
            }
        )
    )
    res = dedup(spark, df, DedupConfig(), collect_stats=False)
    cmap = {r["doc_id"]: r["cluster_id"] for r in res.assignments.collect()}
    assert cmap == {1: 1, 2: 1, 3: 3}


def test_null_payload_degrades_not_crashes(spark):
    from deduplication_spark.operators.multimodal import (
        extract_features,
        resize_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "payload": [b"\xff\xd8\xffdata", None]})
    )
    feats = {r["id"]: r for r in extract_features(df).collect()}
    assert feats[1]["modality"] == "image/jpeg" and feats[1]["feature"]
    assert feats[2]["n_bytes"] is None
    assert feats[2]["magic_hex"] is None
    assert feats[2]["feature"] is None

    frames = sample_frames(df, n_frames=2).collect()
    assert {r["id"] for r in frames} == {1}  # no frames for missing media
    assert len(frames) == 2

    rz = {r["id"]: r for r in resize_media(df, factor=2).collect()}
    assert rz[1]["payload"] is not None and rz[1]["n_bytes"] == 4
    assert rz[2]["payload"] is None and rz[2]["n_bytes"] is None


def test_inf_embedding_excluded_from_similarity(spark):
    from deduplication_spark.operators.similarity import (
        cosine_near_dup,
        lsh_topk,
    )

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                "embedding": [[1.0, 0.0], [float("inf"), 1.0], [0.9, 0.1]],
            }
        )
    )
    pairs = cosine_near_dup(emb, threshold=0.5, method="lsh", n_tables=8, n_bits=2).collect()
    for r in pairs:
        assert 2 not in (r["a_id"], r["b_id"]), pairs
        assert r["cos_sim"] is not None and not math.isnan(r["cos_sim"])
    tk = lsh_topk(emb, emb, k=2, n_tables=8, n_bits=2).collect()
    for r in tk:
        assert r["neighbor_id"] != 2, tk
        assert r["cos_sim"] is not None and not math.isnan(r["cos_sim"])


def test_config_rejects_nonpositive_lsh_params():
    """The bands*rows==num_perm product check alone admits 0*r==0 and
    (-b)*(-r)==num_perm; band_key_col would then build F.sequence(0, -1)
    — a DESCENDING 2-element sequence hashing empty signature slices
    into garbage band keys shared by every doc. Positivity must fail
    fast at construction."""
    with pytest.raises(ValueError, match="positive"):
        DedupConfig(num_perm=0, bands=0, rows_per_band=4)
    with pytest.raises(ValueError, match="positive"):
        DedupConfig(num_perm=128, bands=-32, rows_per_band=-4)


def test_stage_store_config_pin_is_atomic_and_concurrent_lineage_intact(tmp_path, spark):
    """A torn run_config.json (crash artifact) must not brick resume —
    the pin is written via temp+rename so it is either absent or
    complete; and concurrent lineage/partition appends from tier
    threads must produce line-intact JSONL."""
    import json
    import threading

    from deduplication_spark.io import StageStore

    cfg = DedupConfig()
    store = StageStore(spark, str(tmp_path / "run"), cfg)
    assert json.loads(open(tmp_path / "run" / "run_config.json").read()) == json.loads(cfg.to_json())
    # no stray temp file left behind
    assert not (tmp_path / "run" / "run_config.json.tmp").exists()

    # hammer the append path from 8 threads; every line must parse
    def spam(i):
        for j in range(50):
            store.log_lineage(f"s{i}", "ok", j, j)

    ts = [threading.Thread(target=spam, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    lines = open(tmp_path / "run" / "lineage.jsonl").read().splitlines()
    assert len(lines) == 400
    for ln in lines:
        json.loads(ln)


def test_uri_paths_are_refused_naming_the_argument(spark, tmp_path):
    """Resume, config pins and stream versions are resolved with
    os.path, which reports a scheme-qualified path as missing. Every
    entry point that takes such a directory refuses a URI up front and
    names the argument."""
    from deduplication_spark.streaming.increment_stream import (
        StreamIncrementState,
        empty_index,
        resolved_assignments,
        stream_dedup_increment,
    )

    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"run_dir='s3://"):
        dedup(spark, docs, run_dir="s3://bucket/run")

    (tmp_path / "src").mkdir()
    stream = spark.readStream.schema(docs.schema).parquet(str(tmp_path / "src"))
    with pytest.raises(ValueError, match=r"index_dir='file:///"):
        stream_dedup_increment(
            stream,
            StreamIncrementState(index=empty_index(spark)),
            assignments_dir=str(tmp_path / "assignments"),
            index_dir="file:///tmp/index",
        )

    with pytest.raises(ValueError, match=r"merges_dir='s3://"):
        resolved_assignments(
            spark, str(tmp_path / "assignments"), merges_dir="s3://bucket/merges"
        )
