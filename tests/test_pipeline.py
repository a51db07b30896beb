"""End-to-end pipeline tests (SURVEY.md §5.2 layers 2-4):

- recall oracle vs generated ground truth (>= 0.99 over catchable pairs)
- checkpoint/resume: identical output, stages not recomputed,
  config-mismatch fail-fast (reference header-check analog,
  /root/reference/src/compressor.c:246-252)
- per-row invariant: payloads byte-identical before/after (input_hint)
- determinism: cluster assignment invariant under row order and
  partition count (SURVEY.md §7 hard part d)
"""

import pytest
from pyspark.sql import functions as F

from deduplication_spark.config import DedupConfig
from deduplication_spark.corpus import generate_corpus, write_corpus
from deduplication_spark.io import ConfigMismatch
from deduplication_spark.pipeline import dedup

N_DOCS = 800


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def docs(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_corpus(corpus, str(d))
    return spark.read.parquet(str(d / "documents.parquet"))


@pytest.fixture(scope="module")
def result(spark, docs, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("run"))
    res = dedup(spark, docs, DedupConfig(), run_dir=run_dir)
    return res, run_dir


def _cluster_map(res) -> dict[int, int]:
    return {
        r["doc_id"]: r["cluster_id"] for r in res.assignments.collect()
    }


def test_recall_oracle(corpus, result):
    """Dup-pair recall >= 0.99 over pairs catchable at this config:
    exact (j=1), near with true_jaccard >= verify threshold, and
    substring (>= 512-char verbatim span by construction)."""
    res, _ = result
    cmap = _cluster_map(res)
    cfg = DedupConfig()
    tp = corpus.truth_pairs
    catchable = tp[
        (tp["class"] != "near") | (tp["true_jaccard"] >= cfg.jaccard_verify_threshold)
    ]
    assert len(catchable) > 100
    hits = sum(
        cmap[a] == cmap[b]
        for a, b in catchable[["doc_id_a", "doc_id_b"]].itertuples(index=False)
    )
    recall = hits / len(catchable)
    assert recall >= 0.99, f"recall {recall:.4f} ({hits}/{len(catchable)})"


def test_exact_tier_perfect(corpus, result):
    res, _ = result
    cmap = _cluster_map(res)
    tp = corpus.truth_pairs
    exact = tp[tp["class"] == "exact"]
    assert all(
        cmap[a] == cmap[b]
        for a, b in exact[["doc_id_a", "doc_id_b"]].itertuples(index=False)
    )


def test_every_capped_tier_reports_candidate_accounting(result):
    """Dropped-pair observability (operators/candidates.py invariant):
    EVERY tier whose bucket expansion is capped surfaces the
    bucket_pairs accounting — minhash and substring from their
    candidate stages, simhash from its edge stage."""
    res, _ = result
    for key in ("minhash_candidates", "substring_candidates", "simhash_candidates"):
        m = res.metrics[key]
        assert set(m) >= {
            "n_buckets", "n_capped_buckets", "n_candidate_edges", "dropped_pairs"
        }, key
        assert m["n_buckets"] > 0 and m["dropped_pairs"] >= 0, key


def test_resume_reads_back_and_matches(spark, docs, result):
    res, run_dir = result
    res2 = dedup(spark, docs, DedupConfig(), run_dir=run_dir)
    resumed = {l["stage"] for l in res2.lineage if l["status"] == "resumed"}
    assert {"enriched", "edges_minhash", "assignments"} <= resumed
    a1 = sorted(map(tuple, res.assignments.collect()))
    a2 = sorted(map(tuple, res2.assignments.collect()))
    assert a1 == a2


def test_metrics_same_in_every_mode(spark, docs, result):
    """Metrics are always on: a run that passes the ignored
    collect_stats=False, without a run_dir, reports exactly the keys
    and values of the default StageStore run."""
    res, _ = result
    plain = dedup(spark, docs, DedupConfig(), collect_stats=False)
    assert plain.metrics == res.metrics
    assert res.metrics["n_docs"] == N_DOCS
    assert res.metrics["n_duplicates"] == sum(
        not r["is_canonical"] for r in res.assignments.collect()
    )


def test_resume_reports_stored_metrics(spark, docs, result):
    """A resumed stage reports the metrics its computed lineage record
    stored: the same candidate accounting and counts as the run that
    computed them, with every stage flagged as resumed."""
    res, run_dir = result
    res2 = dedup(spark, docs, DedupConfig(), run_dir=run_dir)
    for key, value in res.metrics.items():
        assert res2.metrics[key] == value, key
    stages = [k.removesuffix("_rows") for k in res.metrics if k.endswith("_rows")]
    assert len(stages) == 9
    assert all(res2.metrics[f"{s}_resumed"] for s in stages)


def test_torn_stage_recomputed_on_resume(spark, docs, result, tmp_path):
    """Chaos-resume (round-4 verdict #4): a crash mid-stage leaves the
    stage dir WITHOUT _SUCCESS (the torn-write artifact StageStore's
    exists() keys on) and no downstream stages. A re-run must
    recompute the torn stage and everything downstream while resuming
    completed upstream stages — and land on the same result as the
    clean run. (The streaming side has the analogous partial-initial
    guard; this pins the batch StageStore's contract.)"""
    import os
    import shutil

    res, clean_dir = result
    run_dir = str(tmp_path / "torn_run")
    shutil.copytree(clean_dir, run_dir)
    # simulate the crash: edges_minhash was mid-write (no _SUCCESS, a
    # stray partial part-file left behind), downstream never ran
    torn = os.path.join(run_dir, "stage=edges_minhash")
    os.remove(os.path.join(torn, "_SUCCESS"))
    with open(os.path.join(torn, "part-99999-torn.parquet"), "wb") as f:
        f.write(b"partial write, not a parquet footer")
    for stage in ("assignments", "clusters"):
        shutil.rmtree(os.path.join(run_dir, f"stage={stage}"))

    lineage_path = os.path.join(run_dir, "lineage.jsonl")
    with open(lineage_path) as f:
        n_prior = sum(1 for line in f if line.strip())

    res2 = dedup(spark, docs, DedupConfig(), run_dir=run_dir)
    new = res2.lineage[n_prior:]
    status = {l["stage"]: l["status"] for l in new}
    # torn stage + downstream recomputed, completed stages resumed
    assert status["edges_minhash"] == "computed"
    assert status["assignments"] == "computed"
    assert status["clusters"] == "computed"
    for stage in (
        "enriched",
        "edges_exact",
        "edges_simhash",
        "cand_minhash",
        "cand_substring",
        "edges_substring",
    ):
        assert status[stage] == "resumed", (stage, status)
    # the torn partial file did not leak into the recomputed snapshot
    assert not os.path.exists(
        os.path.join(torn, "part-99999-torn.parquet")
    )
    a1 = sorted(map(tuple, res.assignments.collect()))
    a2 = sorted(map(tuple, res2.assignments.collect()))
    assert a1 == a2
    # sanity: the recomputed lineage is journaled, not rewritten
    with open(lineage_path) as f:
        assert sum(1 for line in f if line.strip()) > n_prior


def test_resume_config_mismatch_fails_fast(spark, docs, result):
    _, run_dir = result
    with pytest.raises(ConfigMismatch):
        dedup(spark, docs, DedupConfig(shingle_k=7, min_doc_tokens=7), run_dir=run_dir)


def test_payload_never_mutated(spark, corpus, docs, result):
    """input_hint per-row invariant: byte-identical text per url.

    Compares a FRESH read of the source parquet (after the pipeline ran
    and wrote its run_dir snapshots) against the GENERATOR's in-memory
    ground truth. The previous formulation joined docs back to docs
    through the assignments — both sides hashed the same source column,
    so it could never fail (assignments carries no text)."""
    _ = result  # the pipeline (and its stage writes) ran first
    srcs = [f.removeprefix("file:") for f in docs.inputFiles()]
    fresh = spark.read.parquet(*srcs).select("url", "text").toPandas()
    want = corpus.documents[["url", "text"]]
    merged = want.merge(fresh, on="url", suffixes=("_want", "_got"))
    assert len(merged) == len(want) == len(fresh)
    assert (merged["text_want"] == merged["text_got"]).all()
    # and the pipeline output genuinely carries no payload column
    res, _ = result
    assert "text" not in res.assignments.columns


def test_determinism_under_order_and_partitioning(spark, corpus):
    """Same clusters regardless of row order / partition count."""
    import pandas as pd

    small = corpus.documents.head(300)[["doc_id", "text"]]
    a = spark.createDataFrame(small).repartition(4)
    b = spark.createDataFrame(
        small.sample(frac=1.0, random_state=1)
    ).repartition(17)
    cfg = DedupConfig()
    m1 = _cluster_map(dedup(spark, a, cfg))
    m2 = _cluster_map(dedup(spark, b, cfg))
    assert m1 == m2


def test_singletons_self_clustered(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    " ".join(f"a{i}" for i in range(50)),
                    " ".join(f"b{i}" for i in range(50)),
                    " ".join(f"c{i}" for i in range(50)),
                ],
            }
        )
    )
    res = dedup(spark, docs, DedupConfig())
    rows = {r["doc_id"]: r for r in res.assignments.collect()}
    assert all(rows[i]["cluster_id"] == i and rows[i]["is_canonical"] for i in (1, 2, 3))


def test_simhash_auto_chunk_flip_rule_and_edge_equivalence(spark):
    """r05 verdict #4: the pigeonhole chunk count auto-flips to 8 at
    simhash_auto_chunks_from docs. (a) The rule itself is a pure
    function of (config, corpus size); (b) the 4-chunk and 8-chunk
    settings produce IDENTICAL verified edge sets when no cap engages
    (both are exact covers at the same Hamming radius), so the flip
    never changes what the pipeline computes — only how many junk
    candidates it wades through."""
    from deduplication_spark.operators.candidates import bucket_pairs
    from deduplication_spark.operators.minhash_lsh import with_shingles
    from deduplication_spark.operators.simhash import (
        simhash_chunk_buckets,
        verify_hamming,
        with_simhash,
    )

    cfg = DedupConfig()
    assert cfg.effective_simhash_chunks(10_000) == cfg.simhash_chunks
    assert cfg.effective_simhash_chunks(cfg.simhash_auto_chunks_from) == 8
    assert cfg.effective_simhash_chunks(50_000_000) == 8
    off = DedupConfig(simhash_auto_chunks_from=0)
    assert off.effective_simhash_chunks(50_000_000) == off.simhash_chunks

    corpus = generate_corpus(400, seed=77, with_jaccard=False)
    docs = spark.createDataFrame(corpus.documents[["doc_id", "text"]])
    enriched = with_simhash(with_shingles(docs, cfg)).select(
        "doc_id", "simhash"
    ).localCheckpoint(eager=True)

    def edges(chunks: int) -> set:
        from dataclasses import replace

        c = replace(cfg, simhash_chunks=chunks)
        cand = bucket_pairs(
            simhash_chunk_buckets(enriched, c),
            ["chunk_idx", "chunk_val"],
            cap=c.bucket_pair_cap,
        )
        return {
            (r["a"], r["b"])
            for r in verify_hamming(cand.pairs, enriched, c).collect()
        }

    assert edges(4) == edges(8)
