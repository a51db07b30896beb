"""Streaming near-dup increment (streaming/increment_stream.py):
foreachBatch routing of microbatches through the batch prober must be
faithful to the equivalent chain of batch dedup_increment calls, and
the driver-held index must advance batch-over-batch."""

import os

import pytest
from pyspark.sql import functions as F

from deduplication_spark.config import DedupConfig
from deduplication_spark.corpus import generate_corpus, write_corpus
from deduplication_spark.increment import dedup_increment
from deduplication_spark.streaming.increment_stream import (
    StreamIncrementState,
    empty_index,
    stream_dedup_increment,
)

N_DOCS = 600
BATCHES = [(0, 200), (200, 400), (400, 600)]


def _stage_batches(src: str, frames) -> None:
    """One parquet file per pandas frame, `src/batch_{i}.parquet`,
    written the way `write_corpus` writes the corpus. Spark's file
    stream orders by MODIFICATION TIME, not name, so each file gets an
    explicit, strictly increasing mtime: a maxFilesPerTrigger=1 stream
    replays the frames in order."""
    os.makedirs(src, exist_ok=True)
    for i, pdf in enumerate(frames):
        dest = os.path.join(src, f"batch_{i}.parquet")
        pdf.to_parquet(
            dest, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def docs(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_inc_corpus")
    write_corpus(corpus, str(d))
    return spark.read.parquet(str(d / "documents.parquet"))


@pytest.fixture(scope="module")
def src_dir(corpus, tmp_path_factory):
    """One parquet file per batch, in id order, so the file stream
    (maxFilesPerTrigger=1) replays the batches monotonically."""
    d = str(tmp_path_factory.mktemp("stream_inc_src"))
    ids = corpus.documents["doc_id"]
    _stage_batches(d, [corpus.documents[(ids >= lo) & (ids < hi)] for lo, hi in BATCHES])
    return d


@pytest.fixture(scope="module")
def streamed(spark, docs, src_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("stream_inc_out")
    state = StreamIncrementState(index=empty_index(spark))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_dedup_increment(
        stream,
        state,
        assignments_dir=str(out / "assignments"),
        merges_dir=str(out / "merges"),
        index_dir=str(out / "index"),
        cfg=DedupConfig(),
        checkpoint_dir=str(out / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not finish in time"
    return state, str(out)


def test_three_microbatches_ran(streamed):
    state, _ = streamed
    assert sorted(state.batch_metrics) == [0, 1, 2]
    assert [state.batch_metrics[i]["n_new_docs"] for i in range(3)] == [
        hi - lo for lo, hi in BATCHES
    ]


def test_every_doc_assigned_once(spark, streamed):
    _, out = streamed
    assignments = spark.read.parquet(os.path.join(out, "assignments"))
    assert assignments.count() == N_DOCS
    assert assignments.select("doc_id").distinct().count() == N_DOCS


def test_index_advances_to_full_membership(streamed):
    state, _ = streamed
    assert state.index.count() == N_DOCS


def test_matches_equivalent_batch_chain(spark, docs, streamed):
    """The streaming run must equal the same three dedup_increment
    calls chained by hand (same machinery, same batch boundaries,
    deterministic kernels)."""
    _, out = streamed
    stream_assign = spark.read.parquet(os.path.join(out, "assignments"))
    cfg = DedupConfig()
    index = empty_index(spark)
    rows = {}
    for lo, hi in BATCHES:
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        inc = dedup_increment(spark, batch, index, cfg)
        for r in inc.assignments.collect():
            rows[r["doc_id"]] = (r["cluster_id"], r["is_canonical"])
        index = inc.index.localCheckpoint(eager=True)
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in stream_assign.collect()
    }
    assert got == rows


def test_index_versions_persisted_per_batch(streamed):
    """index_dir must hold one version per batch plus the initial
    (batch=-1) — the restart/replay source of truth."""
    import glob

    _, out = streamed
    versions = sorted(
        int(os.path.basename(p).split("=")[1])
        for p in glob.glob(os.path.join(out, "index", "batch=*"))
    )
    assert versions == [-1, 0, 1, 2]


def test_replay_is_idempotent(spark, docs, streamed):
    """Replaying a mid-run batch (foreachBatch is at-least-once) with a
    COLD driver state must recompute byte-identical outputs from the
    persisted index version — never append duplicates or probe the
    wrong index. Exercises the same path the handler takes on
    restart: read index@N-1 from index_dir, overwrite batch=N."""
    _, out = streamed
    assignments = spark.read.parquet(os.path.join(out, "assignments"))
    before = sorted(
        (r["doc_id"], r["cluster_id"]) for r in assignments.collect()
    )
    lo, hi = BATCHES[1]
    batch1 = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    idx0 = spark.read.parquet(os.path.join(out, "index", "batch=0"))
    inc = dedup_increment(spark, batch1, idx0, DedupConfig())
    # compare the recompute against the PERSISTED batch=1 without
    # mutating the module fixture's output dir (an overwrite here would
    # poison the data later tests re-read if the recompute ever
    # diverged — two misleading failures for one defect)
    replayed = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.assignments.collect()
    )
    persisted = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(
            os.path.join(out, "assignments", "batch=1")
        ).collect()
    )
    assert replayed == persisted
    # and the full table is exactly {other batches} ∪ {batch 1}
    assert sorted(set(before)) == sorted(
        set(before) - set(persisted) | set(replayed)
    )


def test_resolved_assignments_applies_merges(spark):
    """A batch-2 bridge doc merging two earlier clusters: the merge is
    folded into resolved_assignments even though batch 0/1 rows were
    written before the merge existed."""
    import tempfile

    import pandas as pd

    from deduplication_spark.streaming.increment_stream import (
        resolved_assignments,
    )

    X = " ".join(f"w{i}" for i in range(200))
    A = " ".join(f"a{i}" for i in range(40))
    B = " ".join(f"b{i}" for i in range(40))
    work = tempfile.mkdtemp(prefix="graft_merge_test_")
    src = os.path.join(work, "src")
    _stage_batches(src, [
        pd.DataFrame({"doc_id": [1], "text": [X + " " + A]}),
        pd.DataFrame({"doc_id": [2], "text": [X + " " + B]}),
        pd.DataFrame({"doc_id": [10], "text": [X]}),
    ])
    schema = spark.read.parquet(src).schema
    state = StreamIncrementState(index=empty_index(spark))
    q = stream_dedup_increment(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        state,
        assignments_dir=os.path.join(work, "assignments"),
        merges_dir=os.path.join(work, "merges"),
        index_dir=os.path.join(work, "index"),
        # docs_dir => borderline candidates (the bridge sits at
        # j=0.83, within 2 sigma of the 0.8 threshold) get exact
        # verification, as base_docs gives the batch path
        docs_dir=os.path.join(work, "docs"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    res = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in resolved_assignments(
            spark, os.path.join(work, "assignments"), os.path.join(work, "merges")
        ).collect()
    }
    # doc 10 bridges clusters 1 and 2 -> everything lands in cluster 1
    assert res == {1: (1, True), 2: (1, False), 10: (1, False)}


def test_cross_batch_exact_dup_probes_first_batch(spark, docs, streamed):
    """An exact duplicate pair split across batches must land in one
    cluster with the earlier doc as canonical."""
    _, out = streamed
    spark.catalog.refreshByPath(os.path.join(out, "assignments"))
    assignments = spark.read.parquet(os.path.join(out, "assignments"))
    h = docs.withColumn("h", F.sha2("text", 256))
    pair = (
        h.alias("a")
        .join(h.alias("b"), F.col("a.h") == F.col("b.h"))
        .filter(
            (F.col("a.doc_id") < BATCHES[0][1])
            & (F.col("b.doc_id") >= BATCHES[1][0])
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .first()
    )
    assert pair is not None, "corpus should contain a cross-batch exact dup"
    amap = {
        r["doc_id"]: r["cluster_id"] for r in assignments.collect()
    }
    assert amap[pair["x"]] == amap[pair["y"]]


def test_persisted_index_versions_pin_signature_config(spark, tmp_path):
    """Round-4 review finding: a restart probing persisted index
    versions with a DRIFTED signature config (hash_seed / shingle_k /
    bands) must fail fast — without the pin, band keys never collide
    and LSH recall silently collapses to exact-only."""
    import pandas as pd
    import pytest as _pytest

    from deduplication_spark.config import DedupConfig
    from deduplication_spark.increment import dedup_increment
    from deduplication_spark.io import ConfigMismatch

    cfg = DedupConfig()
    p = str(tmp_path / "idx")
    # what stream_dedup_increment persists: a pinned version
    from deduplication_spark.increment import pin_sig_config

    pin_sig_config(empty_index(spark), cfg).write.parquet(p)
    restored = spark.read.parquet(p)
    assert restored.schema["minhash"].metadata.get("sig_cfg")

    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["restart batch doc"]})
    )
    drifted = DedupConfig(hash_seed=0xBAD5EED)
    with _pytest.raises(ConfigMismatch, match="signature config"):
        dedup_increment(spark, batch, restored, drifted)
    # the matching config probes fine
    res = dedup_increment(spark, batch, restored, cfg)
    assert res.assignments.count() == 1


def test_stream_simhash_tier_catches_residual_pair(spark, tmp_path):
    """tiers=(... "simhash") forwards to the per-batch prober: the
    kernel-searched residual pair (jaccard 0.783 -> minhash tier
    exact-verifies and REJECTS via docs_dir; hamming 3 -> simhash
    pigeonhole ACCEPTS) is caught across two microbatches from a
    cold-start index."""
    import pandas as pd

    toks = [f"t1158x{i}" for i in range(45)]
    doc_a = " ".join(toks)
    var = list(toks)
    var[14] = "a1158"
    doc_b = " ".join(var)

    src = str(tmp_path / "src")
    _stage_batches(src, [
        pd.DataFrame({"doc_id": [1, 2], "text": [doc_a, "unrelated filler doc text here"]}),
        pd.DataFrame({"doc_id": [10], "text": [doc_b]}),
    ])

    cfg = DedupConfig()
    state = StreamIncrementState(index=empty_index(spark))
    out = tmp_path
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_dedup_increment(
        stream,
        state,
        assignments_dir=str(out / "assignments"),
        index_dir=str(out / "index"),
        docs_dir=str(out / "docs"),
        cfg=cfg,
        checkpoint_dir=str(out / "ckpt"),
        trigger={"availableNow": True},
        tiers=("exact", "minhash", "simhash"),
    )
    assert q.awaitTermination(300), "stream did not finish in time"
    assert state.last_batch == 1
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(str(out / "assignments")).collect()
    }
    assert got == {1: 1, 2: 2, 10: 1}
    # the persisted index versions keep the simhash column
    idx = spark.read.parquet(str(out / "index" / "batch=1"))
    assert "simhash" in idx.columns and idx.count() == 3


def test_cold_start_index_stores_band_keys(spark, tmp_path):
    """A cold start stores band keys like a warm
    index_from_enriched(...) index: the persisted batch=0 version
    carries `band_keys`, non-null exactly for the docs with a
    signature, so later batches probe stored keys instead of
    re-deriving every member's."""
    import pandas as pd

    src = str(tmp_path / "src")
    words = [f"w{i}" for i in range(60)]
    _stage_batches(src, [
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [" ".join(words), " ".join(words[::-1]), "too short"],
        }),
    ])
    cfg = DedupConfig()
    state = StreamIncrementState(index=empty_index(spark))
    q = stream_dedup_increment(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        state,
        assignments_dir=str(tmp_path / "assignments"),
        index_dir=str(tmp_path / "index"),
        cfg=cfg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not finish in time"
    rows = spark.read.parquet(str(tmp_path / "index" / "batch=0")).collect()
    assert {r["member_id"] for r in rows} == {1, 2, 3}
    for r in rows:
        assert (r["band_keys"] is not None) == (r["minhash"] is not None)
        if r["band_keys"] is not None:
            assert len(r["band_keys"]) == cfg.bands
    assert sum(r["minhash"] is not None for r in rows) == 2


def test_pin_sig_never_overwrites_a_drifted_pin(spark, tmp_path):
    """Round-4 advice (medium): pin_sig_config must VALIDATE an existing
    sig_cfg pin, never re-stamp it. Previously a warm index pinned
    with config A, streamed with drifted config B, had its batch=-1
    version written with B's fingerprint BEFORE dedup_increment's
    guard ran — the first run failed, but a restart of batch 0 read
    the forged pin, passed the guard, and LSH recall collapsed
    silently. Now the stamp itself raises, so nothing forged can ever
    be persisted (every persisted version goes through pin_sig_config)."""
    from deduplication_spark.increment import pin_sig_config
    from deduplication_spark.io import ConfigMismatch

    warm_cfg = DedupConfig()
    drifted = DedupConfig(hash_seed=0xBAD5EED)
    warm = pin_sig_config(empty_index(spark), warm_cfg)

    with pytest.raises(ConfigMismatch, match="pinned to signature config"):
        pin_sig_config(warm, drifted)

    # same config re-stamps to the identical value — allowed
    p = str(tmp_path / "idx")
    pin_sig_config(warm, warm_cfg).write.parquet(p)
    restored = spark.read.parquet(p)
    # and the round-tripped pin is likewise protected against drift
    with pytest.raises(ConfigMismatch, match="pinned to signature config"):
        pin_sig_config(restored, drifted)
    # an UNPINNED legacy index gets stamped (first-write path)
    unpinned = empty_index(spark)
    assert pin_sig_config(unpinned, warm_cfg).schema["minhash"].metadata["sig_cfg"]


def test_stream_refuses_an_unpinned_warm_index(spark, docs, src_dir, tmp_path):
    """A warm start from a non-empty index without the sig_cfg pin
    fails batch 0, as `dedup_increment` refuses it: the stream writes
    its initial version as given and never stamps a pin it cannot
    vouch for. A drifted pin still fails before anything is written."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from deduplication_spark.increment import index_from_enriched
    from deduplication_spark.pipeline import dedup

    cfg = DedupConfig()
    base = docs.filter(F.col("doc_id") < 40).withColumn(
        "doc_id", F.col("doc_id") - 1000
    )
    res = dedup(spark, base, cfg, tiers=("exact", "minhash"))
    warm = index_from_enriched(res.enriched, res.assignments, cfg)
    unpinned = warm.withColumn(
        "minhash", F.col("minhash").alias("minhash", metadata={})
    )

    def start(index, out, run_cfg):
        return stream_dedup_increment(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir),
            StreamIncrementState(index=index),
            assignments_dir=str(out / "assignments"),
            index_dir=str(out / "index"),
            cfg=run_cfg,
            checkpoint_dir=str(out / "ckpt"),
            trigger={"availableNow": True},
        )

    q = start(unpinned, tmp_path / "unpinned", cfg)
    with pytest.raises(StreamingQueryException, match="no signature config pin"):
        q.awaitTermination(120)
        raise RuntimeError("query should have failed")  # pragma: no cover

    drifted = DedupConfig(hash_seed=0xBAD5EED)
    q = start(warm, tmp_path / "drifted", drifted)
    with pytest.raises(StreamingQueryException, match="pinned to signature config"):
        q.awaitTermination(120)
        raise RuntimeError("query should have failed")  # pragma: no cover
    assert not (tmp_path / "drifted" / "index" / "batch=-1").exists()


def test_partial_initial_index_refuses_cold_overwrite(
    spark, docs, src_dir, tmp_path
):
    """Round-4 review finding: a batch=-1 directory WITHOUT _SUCCESS
    (prior run crashed mid-write of its initial index) must not be
    silently overwritten by a COLD restart — the partial initial may
    have been a warm-start index whose loss would permanently classify
    every duplicate of the warm base as unique."""
    out = tmp_path
    idx_dir = out / "index"
    partial = idx_dir / "batch=-1"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"partial write, no commit")

    state = StreamIncrementState(index=empty_index(spark))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_dedup_increment(
        stream,
        state,
        assignments_dir=str(out / "assignments"),
        index_dir=str(idx_dir),
        cfg=DedupConfig(),
        checkpoint_dir=str(out / "ckpt"),
        trigger={"availableNow": True},
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="partial initial index"):
        q.awaitTermination(120)
        raise RuntimeError("query should have failed")  # pragma: no cover
