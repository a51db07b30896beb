"""Batch-incremental dedup (increment.py):

- every cross-batch exact duplicate probes into its base cluster
- combined recall >= 0.99 over pairs the increment tiers can catch
- a bridge doc merges two base clusters, reported in `merges`
- the updated index drives a second increment (self-sustaining loop)
- the monotone-id contract is enforced
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplication_spark.config import DedupConfig
from deduplication_spark.corpus import generate_corpus, write_corpus
from deduplication_spark.increment import (
    build_index,
    dedup_increment,
    empty_index,
    index_from_enriched,
    pin_sig_config,
)
from deduplication_spark.io import ConfigMismatch
from deduplication_spark.pipeline import dedup

N_DOCS = 800
CUT = 400  # doc_id < CUT -> base corpus, >= CUT -> increment batch


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def docs(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("inc_corpus")
    write_corpus(corpus, str(d))
    return spark.read.parquet(str(d / "documents.parquet"))


@pytest.fixture(scope="module")
def split(docs):
    return (
        docs.filter(F.col("doc_id") < CUT),
        docs.filter(F.col("doc_id") >= CUT),
    )


@pytest.fixture(scope="module")
def inc_run(spark, split):
    base_df, new_df = split
    cfg = DedupConfig()
    base_res = dedup(spark, base_df, cfg)
    index = build_index(base_df, base_res.assignments, cfg)
    inc = dedup_increment(spark, new_df, index, cfg, base_docs=base_df)
    return base_res, inc


def _combined_map(base_res, inc) -> dict[int, int]:
    merge = {
        r["old_cluster_id"]: r["merged_into"] for r in inc.merges.collect()
    }
    cmap = {
        r["doc_id"]: merge.get(r["cluster_id"], r["cluster_id"])
        for r in base_res.assignments.collect()
    }
    cmap.update(
        {r["doc_id"]: r["cluster_id"] for r in inc.assignments.collect()}
    )
    return cmap


def test_renamed_columns_give_the_same_partition(spark, split, inc_run):
    """User column names are mapped to (doc_id, text) in one place, at
    the entry points: a corpus keyed `page_id`/`body` clusters exactly
    like the same corpus under `doc_id`/`text`, for the full run, the
    index build and an increment verified against the base texts."""
    base_df, new_df = split
    base_res, inc = inc_run
    cfg = DedupConfig()
    cols = {"id_col": "page_id", "text_col": "body"}

    def renamed(df):
        return df.select(F.col("doc_id").alias("page_id"), F.col("text").alias("body"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base_r = renamed(base_df)
    res_r = dedup(spark, base_r, cfg, **cols)
    assert rows(res_r.assignments) == rows(base_res.assignments)

    index_r = build_index(base_r, res_r.assignments, cfg, **cols)
    inc_r = dedup_increment(
        spark, renamed(new_df), index_r, cfg, base_docs=base_r, **cols
    )
    assert rows(inc_r.assignments) == rows(inc.assignments)
    assert rows(inc_r.merges) == rows(inc.merges)


def test_index_from_enriched_matches_build_index(split, inc_run):
    """The zero-recompute index (base run's enriched snapshot) must be
    row-identical to the recomputed one — same fused kernel, same
    config, so signatures are bit-equal."""
    base_df, _ = split
    base_res, _ = inc_run
    cfg = DedupConfig()
    a = build_index(base_df, base_res.assignments, cfg)
    b = index_from_enriched(base_res.enriched, base_res.assignments, cfg)
    cols = [
        "member_id", "cluster_id", "content_hash", "minhash", "simhash", "band_keys"
    ]
    assert a.columns == b.columns == cols
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_empty_index_has_the_index_schema(spark, inc_run):
    """A cold-start index and a built one are the same shape, so every
    increment probes one index format."""
    base_res, _ = inc_run
    built = index_from_enriched(base_res.enriched, base_res.assignments, DedupConfig())

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    assert shape(empty_index(spark)) == shape(built)


def test_index_missing_a_column_is_refused(spark, inc_run):
    """An index without stored band keys is refused, not probed a
    second way."""
    _, inc = inc_run
    nxt = spark.createDataFrame(
        pd.DataFrame({"doc_id": [30_000], "text": ["missing column batch"]})
    )
    with pytest.raises(ValueError, match=r"lacks columns \['band_keys'\]"):
        dedup_increment(spark, nxt, inc.index.drop("band_keys"), DedupConfig())


def test_unpinned_index_is_refused(spark, inc_run):
    """A non-empty index without the sig_cfg pin cannot prove its
    signatures are comparable, so the increment refuses it."""
    _, inc = inc_run
    unpinned = inc.index.withColumn(
        "minhash", F.col("minhash").alias("minhash", metadata={})
    )
    assert "sig_cfg" not in unpinned.schema["minhash"].metadata
    nxt = spark.createDataFrame(
        pd.DataFrame({"doc_id": [40_000], "text": ["unpinned index batch"]})
    )
    with pytest.raises(ConfigMismatch, match="no signature config pin"):
        dedup_increment(spark, nxt, unpinned, DedupConfig())


def test_cold_start_increment_returns_a_pinned_index(spark):
    """The empty cold-start index is unpinned; the index the increment
    returns carries the pin, so persisting it needs no re-stamp."""
    from deduplication_spark.increment import _sig_fingerprint

    cfg = DedupConfig()
    batch = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["cold start doc", "another one"]})
    )
    inc = dedup_increment(spark, batch, empty_index(spark), cfg)
    assert inc.index.schema["minhash"].metadata["sig_cfg"] == _sig_fingerprint(cfg)
    assert inc.index.count() == 2


def test_every_new_doc_assigned(split, inc_run):
    _, new_df = split
    _, inc = inc_run
    rows = inc.assignments.collect()
    assert len(rows) == new_df.count()
    assert all(r["cluster_id"] is not None for r in rows)
    for r in rows:
        assert r["is_canonical"] == (r["doc_id"] == r["cluster_id"])


def test_cross_batch_exact_dups_probe_existing_cluster(corpus, inc_run):
    base_res, inc = inc_run
    cmap = _combined_map(base_res, inc)
    tp = corpus.truth_pairs
    exact = tp[tp["class"] == "exact"]
    assert len(exact) > 50
    assert all(
        cmap[a] == cmap[b]
        for a, b in exact[["doc_id_a", "doc_id_b"]].itertuples(index=False)
    )


def test_combined_recall(corpus, inc_run):
    """>= 0.99 over pairs the combined base+increment run can catch:
    base-internal pairs get all four tiers; pairs touching the new
    batch get exact + MinHash-LSH (the increment tiers — substring
    spans crossing the batch boundary are full-rerun-only by design)."""
    base_res, inc = inc_run
    cmap = _combined_map(base_res, inc)
    cfg = DedupConfig()
    tp = corpus.truth_pairs
    both_base = (tp["doc_id_a"] < CUT) & (tp["doc_id_b"] < CUT)
    near_ok = (tp["class"] != "near") | (
        tp["true_jaccard"] >= cfg.jaccard_verify_threshold
    )
    catchable = tp[near_ok & (both_base | (tp["class"] != "substring"))]
    assert len(catchable) > 100
    hits = sum(
        cmap[a] == cmap[b]
        for a, b in catchable[["doc_id_a", "doc_id_b"]].itertuples(index=False)
    )
    recall = hits / len(catchable)
    assert recall >= 0.99, f"recall {recall:.4f} ({hits}/{len(catchable)})"


def test_bridge_doc_merges_base_clusters(spark):
    """base: b1 = X+A, b2 = X+B with j(b1,b2) ~ 0.71 (separate
    clusters); increment: n = X with j(n, b1) = j(n, b2) ~ 0.83 —
    n bridges both, the merge is reported, cluster min-id wins."""
    X = " ".join(f"w{i}" for i in range(200))
    A = " ".join(f"a{i}" for i in range(40))
    B = " ".join(f"b{i}" for i in range(40))
    cfg = DedupConfig()
    base_df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": [X + " " + A, X + " " + B]}
        )
    )
    # exact+minhash only: the full run's substring tier would already
    # link b1,b2 through the shared 200-token span — the merge scenario
    # needs them in distinct base clusters
    base_res = dedup(spark, base_df, cfg, tiers=("exact", "minhash"))
    assert base_res.assignments.select("cluster_id").distinct().count() == 2

    index = build_index(base_df, base_res.assignments, cfg)
    new_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10], "text": [X]})
    )
    inc = dedup_increment(spark, new_df, index, cfg, base_docs=base_df)

    merges = inc.merges.collect()
    assert [(m["old_cluster_id"], m["merged_into"]) for m in merges] == [(2, 1)]
    [assign] = inc.assignments.collect()
    assert assign["cluster_id"] == 1 and not assign["is_canonical"]
    idx = inc.index.collect()
    assert {r["cluster_id"] for r in idx} == {1}
    assert {r["member_id"] for r in idx} == {1, 2, 10}  # member granularity


def test_updated_index_drives_next_increment(spark, split, inc_run):
    """Second increment against the UPDATED index: an exact copy of a
    first-increment canonical probes into that doc's cluster."""
    _, new_df = split
    _, inc = inc_run
    cfg = DedupConfig()
    canon = (
        inc.assignments.filter(F.col("is_canonical")).select("doc_id").first()
    )["doc_id"]
    text = new_df.filter(F.col("doc_id") == canon).first()["text"]
    nxt = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10_000], "text": [text]})
    )
    inc2 = dedup_increment(spark, nxt, inc.index, cfg)
    [row] = inc2.assignments.collect()
    assert row["cluster_id"] == canon and not row["is_canonical"]
    assert inc2.merges.count() == 0


def test_config_mismatch_fails_fast(spark, split, inc_run):
    """An index built at one signature config must refuse a probe at
    another (silently incomparable signatures -> recall ~0 otherwise)."""
    base_res, inc = inc_run
    pinned = index_from_enriched(
        base_res.enriched, base_res.assignments, cfg=DedupConfig()
    )
    drifted = DedupConfig(hash_seed=0xBAD5EED)
    nxt = spark.createDataFrame(
        pd.DataFrame({"doc_id": [20_000], "text": ["drifted config batch"]})
    )
    with pytest.raises(ConfigMismatch, match="signature config"):
        dedup_increment(spark, nxt, pinned, drifted)

    # a sliced index without the pin is refused for the missing pin ...
    unpinned = inc.index.withColumn("minhash", F.slice("minhash", 1, 64))
    with pytest.raises(ConfigMismatch, match="no signature config pin"):
        dedup_increment(spark, nxt, unpinned, DedupConfig())
    # ... and with a pin that does not match its widths, by the sampled
    # width guard
    with pytest.raises(ConfigMismatch, match="minhash width"):
        dedup_increment(
            spark, nxt, pin_sig_config(unpinned, DedupConfig()), DedupConfig()
        )


def test_empty_batch_short_circuits(spark, split, inc_run):
    """An empty increment skips the probe and returns the index object
    unchanged. (The probe would find no pair anyway: it examines only
    the buckets the batch touches.)"""
    _, new_df = split
    _, inc = inc_run
    empty = new_df.filter(F.lit(False))
    res = dedup_increment(spark, empty, inc.index, DedupConfig())
    assert res.metrics["n_new_docs"] == 0
    assert res.assignments.count() == 0
    assert res.merges.count() == 0
    assert res.index is inc.index
    assert res.assignments.columns == ["doc_id", "cluster_id", "is_canonical"]
    assert res.merges.columns == ["old_cluster_id", "merged_into"]


def test_id_contract_enforced(spark, split, inc_run):
    base_df, _ = split
    _, inc = inc_run
    cfg = DedupConfig()
    overlapping = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["overlap id batch"]})
    )
    with pytest.raises(ValueError, match="must exceed"):
        dedup_increment(spark, overlapping, inc.index, cfg)


def test_duplicate_ids_in_a_batch_are_refused(spark):
    """The increment holds dedup()'s doc_id uniqueness contract, with
    the same message: a batch with ids [10, 10, 11] would otherwise give
    doc 10 two assignment rows and member 10 several index rows. A NULL
    id is refused the same way."""
    for ids in ([10, 10, 11], [None, 10, 11]):
        batch = spark.createDataFrame(
            list(zip(ids, ["doc a", "doc b", "doc c"])), "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="^1 duplicate doc_id"):
            dedup_increment(spark, batch, empty_index(spark), DedupConfig())


def test_string_content_hash_index_is_refused(spark, inc_run):
    """An index whose content_hash is a hex string (an older index
    shape) is refused from its schema, empty or not: a string==binary
    probe would silently match nothing."""
    _, inc = inc_run
    hexed = inc.index.withColumn("content_hash", F.hex("content_hash"))
    assert hexed.schema["minhash"].metadata.get("sig_cfg")
    nxt = spark.createDataFrame(
        pd.DataFrame({"doc_id": [50_000], "text": ["hex index batch"]})
    )
    for index in (hexed, hexed.limit(0)):
        with pytest.raises(ValueError, match="content_hash string"):
            dedup_increment(spark, nxt, index, DedupConfig())


@pytest.mark.parametrize(
    "tiers",
    [("exact", "minhash"), ("exact", "minhash", "simhash")],
    ids=["minhash", "simhash"],
)
def test_three_increment_chain_equals_full_run(spark, docs, tiers):
    """Round-3 verdict item 4: the index's self-sustaining update
    contract, tested directly on the batch path (q_stream_near_dup
    proves the same through the streaming wrapper). Corpus split into
    4 id-quarters: full dedup on Q0, then THREE successive
    dedup_increment calls (index threaded through, base_docs = the
    accumulated prior text) must reproduce the one-shot full run's
    partition exactly — same tiers on both paths, exact verification
    everywhere, so edge adjudication is batch-invariant. With
    "simhash", the increment's chunk-bucket probe must find every pair
    the full run's all-buckets SimHash tier finds."""
    cfg = DedupConfig()
    parts = _quarters(docs)
    want = _partition(dedup(spark, docs, cfg, tiers=tiers))

    base = dedup(spark, parts[0], cfg, tiers=tiers)
    index = index_from_enriched(base.enriched, base.assignments, cfg=cfg)
    got = _chain(spark, cfg, tiers, index, _partition(base), parts)

    assert got == want


@pytest.mark.parametrize(
    "tiers",
    [("exact", "minhash"), ("exact", "minhash", "simhash")],
    ids=["minhash", "simhash"],
)
def test_cold_start_chain_equals_full_run(spark, docs, tiers):
    """A first run is the probe over an empty index: the chain above,
    started from `empty_index` instead of a full run on Q0, reproduces
    the one-shot partition. Its first batch (base_docs empty, so
    borderline pairs exact-verify) reports the candidate accounting of
    `dedup` on Q0: one tier path, every bucket touched."""
    cfg = DedupConfig()
    parts = _quarters(docs)
    want = _partition(dedup(spark, docs, cfg, tiers=tiers))

    q0 = dedup(spark, parts[0], cfg, tiers=tiers)
    first = dedup_increment(
        spark, parts[0], empty_index(spark), cfg,
        base_docs=parts[0].limit(0), tiers=tiers,
    )
    for k in ("minhash_candidates", "simhash_candidates"):
        assert first.metrics.get(k) == q0.metrics.get(k), k
    assert _partition(first) == _partition(q0)
    got = _chain(spark, cfg, tiers, first.index, _partition(first), parts)

    assert got == want


def _quarters(docs):
    """The corpus split into 4 id-quarters."""
    cuts = [0, 200, 400, 600, 10**9]
    return [
        docs.filter(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        for i in range(4)
    ]


def _partition(res) -> dict[int, int]:
    return {r["doc_id"]: r["cluster_id"] for r in res.assignments.collect()}


def _chain(spark, cfg, tiers, index, got, parts) -> dict[int, int]:
    """`got` (the partition of parts[0]) advanced by one dedup_increment
    per later part, the index threaded through, base_docs = the
    accumulated prior text, and each merge log folded in."""
    seen = parts[0]
    for batch in parts[1:]:
        inc = dedup_increment(
            spark, batch, index, cfg, base_docs=seen, tiers=tiers
        )
        merge = {
            r["old_cluster_id"]: r["merged_into"] for r in inc.merges.collect()
        }
        got = {d: merge.get(c, c) for d, c in got.items()}
        got.update(_partition(inc))
        index = inc.index
        seen = seen.union(batch)
    return got


def test_merge_chain_spans_batches(spark):
    """A merge CHAIN across non-adjacent batches: batch 1 merges
    cluster 3 -> 2, batch 3 merges 2 -> 1; resolving the accumulated
    log in batch order must land doc 3 in cluster 1. Exercises both
    the per-batch index remap (members of 3 carry cluster 2 into
    batch 3) and the cross-batch fold used by
    streaming.resolved_assignments."""
    X = " ".join(f"x{i}" for i in range(200))
    A = [f"a{i}" for i in range(40)]
    B = [f"b{i}" for i in range(40)]
    C = [f"c{i}" for i in range(40)]
    j = " ".join
    cfg = DedupConfig()
    # pairwise j = 200/280 ~ 0.71 < 0.8: three separate base clusters
    base_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [j([X] + A), j([X] + B), j([X] + C)],
            }
        )
    )
    base = dedup(spark, base_df, cfg, tiers=("exact", "minhash"))
    assert base.assignments.select("cluster_id").distinct().count() == 3
    index = index_from_enriched(base.enriched, base.assignments, cfg=cfg)

    # batch 1: X + B/2 + C/2 -> j ~ 0.846 with docs 2 and 3, 0.714 with 1
    b1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10], "text": [j([X] + B[:20] + C[:20])]})
    )
    inc1 = dedup_increment(spark, b1, index, cfg, base_docs=base_df)
    assert {
        (r["old_cluster_id"], r["merged_into"]) for r in inc1.merges.collect()
    } == {(3, 2)}

    # batch 2: unrelated filler — no merges, chain must survive a gap
    b2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [20], "text": [j(f"q{i}" for i in range(60))]})
    )
    seen = base_df.union(b1)
    inc2 = dedup_increment(spark, b2, inc1.index, cfg, base_docs=seen)
    assert inc2.merges.count() == 0

    # batch 3: X + A/2 + B/2 -> links clusters 1 and 2 -> merge 2 -> 1
    b3 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [30], "text": [j([X] + A[:20] + B[:20])]})
    )
    seen = seen.union(b2)
    inc3 = dedup_increment(spark, b3, inc2.index, cfg, base_docs=seen)
    assert {
        (r["old_cluster_id"], r["merged_into"]) for r in inc3.merges.collect()
    } == {(2, 1)}

    # fold the accumulated merge log in batch order: 3 -> 2 -> 1
    cmap = {r["doc_id"]: r["cluster_id"] for r in base.assignments.collect()}
    for inc in (inc1, inc2, inc3):
        merge = {
            r["old_cluster_id"]: r["merged_into"] for r in inc.merges.collect()
        }
        cmap = {d: merge.get(c, c) for d, c in cmap.items()}
        cmap.update(
            {r["doc_id"]: r["cluster_id"] for r in inc.assignments.collect()}
        )
    assert cmap == {1: 1, 2: 1, 3: 1, 10: 1, 20: 20, 30: 1}

    # the threaded index agrees: every member of the chain in cluster 1
    idx = {r["member_id"]: r["cluster_id"] for r in inc3.index.collect()}
    assert idx == {1: 1, 2: 1, 3: 1, 10: 1, 20: 20, 30: 1}


def test_simhash_increment_tier_catches_residual_pair(spark):
    """Round-4 verdict #6: the optional simhash increment tier closes
    the recall gap for high-bit-agreement pairs whose Jaccard sits
    just under the verify threshold. The pair below was found by a
    deterministic search over the repo's OWN kernels (_shingle_batch /
    _simhash_kernel at the default config): exact shingle Jaccard
    0.783 — below 0.8, so the minhash tier's exact verification
    REJECTS it — while simhash Hamming distance is 3 <= radius, so the
    pigeonhole bucket + Hamming verify ACCEPTS it."""
    cfg = DedupConfig()
    toks = [f"t1158x{i}" for i in range(45)]
    doc_a = " ".join(toks)
    var = list(toks)
    var[14] = "a1158"
    doc_b = " ".join(var)

    base_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [doc_a, "completely unrelated filler document text here"],
            }
        )
    )
    base = dedup(spark, base_df, cfg)
    index = index_from_enriched(base.enriched, base.assignments, cfg=cfg)
    # pipeline-built indexes carry the 8-byte simhash column
    assert "simhash" in index.columns

    new_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10], "text": [doc_b]})
    )
    # default tiers: jaccard < threshold -> correctly NOT clustered
    inc0 = dedup_increment(spark, new_df, index, cfg, base_docs=base_df)
    got0 = {r["doc_id"]: r["cluster_id"] for r in inc0.assignments.collect()}
    assert got0 == {10: 10}

    # simhash tier on: the pair is found INCREMENTALLY
    inc1 = dedup_increment(
        spark,
        new_df,
        index,
        cfg,
        base_docs=base_df,
        tiers=("exact", "minhash", "simhash"),
    )
    got1 = {r["doc_id"]: r["cluster_id"] for r in inc1.assignments.collect()}
    assert got1 == {10: 1}
    # the updated index keeps carrying simhash for the next increment
    assert "simhash" in inc1.index.columns
    # the tier reports the same dropped-pair accounting as the LSH
    # tier (capped chunk buckets must never lose pairs silently)
    sm = inc1.metrics["simhash_candidates"]
    assert set(sm) == {
        "n_buckets",
        "n_capped_buckets",
        "n_candidate_edges",
        "dropped_pairs",
    }
    assert sm["n_buckets"] > 0 and sm["dropped_pairs"] >= 0

    # an index without the column cannot serve the tier — loud, not
    # silently exact/minhash-only
    bare = index.drop("simhash")
    with pytest.raises(ValueError, match="simhash"):
        dedup_increment(
            spark, new_df, bare, cfg, tiers=("exact", "minhash", "simhash")
        )
    # and a bogus tier name is rejected outright
    with pytest.raises(ValueError, match="subset"):
        dedup_increment(spark, new_df, index, cfg, tiers=("exact", "substring"))


def test_increment_reports_candidate_accounting(spark, split, inc_run):
    """Every increment surfaces the LSH candidate metrics (touched
    buckets / capped buckets / dropped pairs) — the same honest-skew
    accounting the full pipeline reports."""
    base_df, new_df = split
    base_res, _ = inc_run
    cfg = DedupConfig()
    index = index_from_enriched(base_res.enriched, base_res.assignments, cfg=cfg)
    inc = dedup_increment(spark, new_df, index, cfg, base_docs=base_df)
    m = inc.metrics["minhash_candidates"]
    assert set(m) == {
        "n_buckets",
        "n_capped_buckets",
        "n_candidate_edges",
        "dropped_pairs",
    }
    assert m["n_buckets"] > 0 and m["dropped_pairs"] >= 0
    # the fixture's index is recomputed by build_index, this one is
    # built from the enriched stage: the same stored band keys, so the
    # same buckets, accounting and result
    _, derived = inc_run
    assert derived.metrics["minhash_candidates"] == m
    a = sorted(map(tuple, inc.assignments.collect()))
    b = sorted(map(tuple, derived.assignments.collect()))
    assert a == b


def test_cc_rounds_reported(inc_run):
    """Both paths report their union-find rounds; each graph here fits
    one kernel task, so one round. A full run logs it on the
    `assignments` lineage record, which a resume reads back."""
    base_res, inc = inc_run
    assert base_res.metrics["cc_rounds"] == 1
    assert inc.metrics["cc_rounds"] == 1
    rec = [r for r in base_res.lineage if r["stage"] == "assignments"]
    assert rec[0]["metrics"]["cc_rounds"] == 1


@pytest.mark.parametrize("flip_from,n_buckets", [(3, 56), (4, 4)])
def test_increment_simhash_chunks_follow_corpus_size(spark, flip_from, n_buckets):
    """The simhash probe applies the pigeonhole auto-flip at the size of
    index + batch, like a full run over the same docs. A lone new doc
    touches one bucket per chunk combination: C(8, 5) = 56 with the
    8-chunk keys (2 indexed + 1 new >= 3), C(4, 1) = 4 below the flip."""
    cfg = DedupConfig(simhash_auto_chunks_from=flip_from)
    toks = [f"t1158x{i}" for i in range(45)]
    doc_a = " ".join(toks)
    doc_b = " ".join(toks[:14] + ["a1158"] + toks[15:])
    base_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [doc_a, "completely unrelated filler document text here"],
            }
        )
    )
    base = dedup(spark, base_df, cfg)
    index = index_from_enriched(base.enriched, base.assignments, cfg=cfg)
    new_df = spark.createDataFrame(pd.DataFrame({"doc_id": [10], "text": [doc_b]}))
    inc = dedup_increment(
        spark, new_df, index, cfg, tiers=("exact", "minhash", "simhash")
    )
    assert inc.metrics["simhash_candidates"]["n_buckets"] == n_buckets
    # both chunkings are exact covers at the same radius
    got = {r["doc_id"]: r["cluster_id"] for r in inc.assignments.collect()}
    assert got == {10: 1}
