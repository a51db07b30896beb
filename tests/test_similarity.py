"""Similarity search: brute-force correctness + LSH recall."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from deduplication_spark.operators.similarity import (
    cosine_topk,
    hyperplane_buckets,
    lsh_topk,
)

DIM = 16


def _planted(n_base: int = 60, noise: float = 0.05):
    """Base vectors + one perturbed near-neighbor each; the planted
    neighbor is the true top-1 with overwhelming probability."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n_base, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    near = base + noise * rng.standard_normal((n_base, DIM))
    rows = []
    for i in range(n_base):
        rows.append({"vec_id": i, "embedding": base[i].tolist()})
        rows.append({"vec_id": 1000 + i, "embedding": near[i].tolist()})
    return pd.DataFrame(rows)


def test_cosine_topk_matches_numpy(spark):
    pdf = _planted(30)
    df = spark.createDataFrame(pdf)
    out = cosine_topk(df, df.filter("vec_id < 5"), k=3).collect()
    mat = np.array(pdf["embedding"].tolist())
    ids = pdf["vec_id"].to_numpy()
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat_n @ mat_n.T
    for qi in range(5):
        qpos = int(np.where(ids == qi)[0][0])
        order = [
            int(ids[j])
            for j in np.argsort(-sims[qpos])
            if int(ids[j]) != qi
        ][:3]
        got = sorted(
            (r for r in out if r["query_id"] == qi), key=lambda r: r["rank"]
        )
        assert [r["neighbor_id"] for r in got] == order


def test_lsh_topk_finds_planted_neighbors(spark):
    pdf = _planted(60)
    df = spark.createDataFrame(pdf)
    queries = df.filter("vec_id < 60")
    got = lsh_topk(
        df, queries, dim=DIM, k=1, n_tables=12, n_bits=6
    ).collect()
    hits = sum(1 for r in got if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 1000)
    assert hits >= 54, f"LSH top-1 recall too low: {hits}/60"


def test_hyperplane_buckets_deterministic(spark):
    pdf = _planted(10)
    df = spark.createDataFrame(pdf)
    a = sorted(map(tuple, hyperplane_buckets(df, DIM, 4, 6).collect()))
    b = sorted(map(tuple, hyperplane_buckets(df, DIM, 4, 6).collect()))
    assert a == b


def test_malformed_embeddings_degrade_not_crash(spark):
    """Without a declared dim, NULL rows bucket to NULL (dropped by the
    explode), off-width rows bucket against their own width's planes
    (pairing with nothing), zero-norm rows score NULL — never a crash,
    never a NaN ranking first."""
    from deduplication_spark.operators.similarity import cosine_near_dup

    pdf = _planted(20)
    good = spark.createDataFrame(pdf)
    bad = spark.createDataFrame(
        [(9000, None), (9001, [1.0, 2.0]), (9002, [0.0] * DIM)],
        "vec_id long, embedding array<double>",
    )
    df = good.unionByName(bad)
    got = cosine_near_dup(df, 0.95, method="lsh", n_tables=16, n_bits=6)
    rows = got.collect()
    ids = {r["a_id"] for r in rows} | {r["b_id"] for r in rows}
    assert not ids & {9000, 9001, 9002}
    # the planted pairs are still found
    assert sum(1 for r in rows if r["b_id"] == r["a_id"] + 1000) >= 18


def test_mixed_widths_deterministic_and_stale_dim_fails(spark):
    """Without a declared dim, each row buckets against its own width's
    plane set (row-local — partition-independent), so a mixed-width
    table neither crashes nor buckets nondeterministically; a declared
    dim that matches NO row of a healthy-size batch raises rather than
    silently NULLing everything (stale-config detector)."""
    import pytest as _pytest

    from deduplication_spark.operators.similarity import cosine_near_dup

    pdf = _planted(20)
    good = spark.createDataFrame(pdf)
    other = spark.createDataFrame(
        [(9001, [1.0] * (DIM * 2))], "vec_id long, embedding array<double>"
    )
    mixed = good.unionByName(other)
    rows = cosine_near_dup(
        mixed, 0.95, method="lsh", n_tables=16, n_bits=6
    ).collect()
    ids = {r["a_id"] for r in rows} | {r["b_id"] for r in rows}
    assert 9001 not in ids  # lone off-width row cannot pair
    assert sum(1 for r in rows if r["b_id"] == r["a_id"] + 1000) >= 18
    # a PRESENT vector contradicting a declared dim is a stale-config
    # error and must be loud, not silently NULLed
    with _pytest.raises(Exception, match="contradict[s]? declared dim"):
        cosine_near_dup(
            good, 0.9, method="lsh", dim=DIM * 4, n_tables=4, n_bits=4
        ).collect()


def test_two_width_corpus_scores_each_width(spark):
    """A corpus of two vector widths, each with many planted pairs:
    same-width pairs of BOTH widths meet in one Arrow batch of the
    scoring UDF, which scores each width group on its own. The LSH
    search paths return exactly the union of what each width returns
    when run alone (a cross-width pair is ragged and never scores)."""
    from deduplication_spark.operators.similarity import cosine_near_dup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 8))
    near = base + 0.05 * rng.standard_normal((20, 8))
    narrow = spark.createDataFrame(
        [(5000 + i, base[i].tolist()) for i in range(20)]
        + [(6000 + i, near[i].tolist()) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    wide = spark.createDataFrame(_planted(20))
    mix = wide.unionByName(narrow).repartition(2)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def near_dup(df):
        return cosine_near_dup(df, 0.95, method="lsh")

    def topk(df):
        return lsh_topk(df, df, k=3)

    for search in (near_dup, topk):
        alone = sorted(rows(search(wide)) + rows(search(narrow)))
        assert alone and rows(search(mix)) == alone


def test_cosine_near_dup_lsh_matches_brute_at_high_threshold(spark):
    """Planted near-neighbors (noise=0.05 -> cos ~0.999) are the only
    pairs above 0.95; the LSH path must recover (almost) all of what
    brute force finds, and report identical similarities for them."""
    from deduplication_spark.operators.similarity import cosine_near_dup

    pdf = _planted(40)
    df = spark.createDataFrame(pdf)
    brute = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in cosine_near_dup(df, 0.95, method="brute").collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in cosine_near_dup(
            df, 0.95, method="lsh", dim=DIM, n_tables=16, n_bits=6
        ).collect()
    }
    # every planted pair is above threshold and brute finds it
    assert all((i, 1000 + i) in brute for i in range(40))
    # LSH is a subset of brute with identical values, near-total recall
    assert set(lsh) <= set(brute)
    assert all(lsh[k] == brute[k] for k in lsh)
    assert len(lsh) >= 0.9 * len(brute), f"LSH recall too low: {len(lsh)}/{len(brute)}"


def test_default_lsh_config_recall_floor(spark):
    """Floor for the committed recall table (BENCH/ann_recall.json,
    tools/ann_recall.py): at the cosine_near_dup DEFAULT config
    (16 tables x 8 bits) and threshold 0.9, pairs planted at cosine
    0.91 — just above threshold, the hardest angle — must be recovered
    at >= 0.95 recall (measured: 1.0). Catches a bucketing regression
    (seed drift, packing change, plane-draw change) that would silently
    collapse recall."""
    from deduplication_spark.operators.similarity import cosine_near_dup

    rng = np.random.default_rng(7)
    n, dim, c = 120, 64, 0.91
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    g = rng.standard_normal((n, dim))
    perp = g - (np.einsum("ij,ij->i", g, base))[:, None] * base
    perp /= np.linalg.norm(perp, axis=1, keepdims=True)
    near = c * base + np.sqrt(1 - c**2) * perp
    rows = []
    for i in range(n):
        rows.append({"vec_id": i, "embedding": base[i].tolist()})
        rows.append({"vec_id": 1000 + i, "embedding": near[i].tolist()})
    emb = spark.createDataFrame(pd.DataFrame(rows))

    found = {
        (r["a_id"], r["b_id"])
        for r in cosine_near_dup(emb, 0.9, method="lsh").collect()
    }
    planted = {(i, 1000 + i) for i in range(n)}
    recall = len(found & planted) / n
    assert recall >= 0.95, f"default-config LSH recall {recall:.3f}"


def test_lsh_topk_default_finds_planted_neighbors(spark):
    """lsh_topk at its DEFAULT config (16 tables x 8 bits — the
    recall-first setting shared with cosine_near_dup) recovers the
    planted 0.91-cos near-duplicate as top-1 for (almost) every query.
    Pins the default against regressions toward candidate-volume-tuned
    settings: the earlier 8x12 default measured only 0.76 dup-recall
    at the 100k drill (BENCH/ann_scale_drill.json)."""
    from deduplication_spark.operators.similarity import lsh_topk

    pdf = _planted(60)
    df = spark.createDataFrame(pdf)
    queries = df.filter("vec_id < 60")
    got = lsh_topk(df, queries, k=1).collect()
    hits = sum(
        1
        for r in got
        if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 1000
    )
    assert hits >= 57, f"default-config lsh_topk top-1 recall: {hits}/60"


def test_ivf_topk_finds_planted_neighbors(spark):
    """IVF-Flat at the DEFAULT config (n_list=32, nprobe=4) recovers
    the planted near-duplicate as top-1 for (almost) every query —
    floors the committed dup_recall row of BENCH/ann_recall.json's
    `ivf` section (measured 1.0; the floor catches a quantizer
    regression: sampling drift, Lloyd change, assignment tie-break)."""
    from deduplication_spark.operators.similarity import ivf_topk

    pdf = _planted(60)
    df = spark.createDataFrame(pdf)
    queries = df.filter("vec_id < 60")
    got = ivf_topk(df, queries, k=1).collect()
    hits = sum(
        1
        for r in got
        if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 1000
    )
    assert hits >= 57, f"IVF top-1 recall too low: {hits}/60"


def test_ivf_topk_deterministic_and_scores_exact(spark):
    """Two runs are row-identical (hash-ordered sampling + driver-side
    Lloyd + stable assignment tie-break — nothing in the quantizer
    depends on partitioning), and every emitted score equals the brute
    path's exact score for the same pair (IVF approximates the
    candidate SET only; scoring is the exact kernel)."""
    from deduplication_spark.operators.similarity import cosine_topk, ivf_topk

    pdf = _planted(40)
    df = spark.createDataFrame(pdf)
    queries = df.filter("vec_id < 10")
    a = sorted(map(tuple, ivf_topk(df, queries, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(df, queries, k=3).collect()))
    assert a == b
    # and across PARTITIONINGS: the quantizer samples by a total
    # (hash, id) order, so a different physical layout of the same
    # rows must train the same centroids and return the same rows
    c = sorted(
        map(tuple, ivf_topk(df.repartition(7), queries, k=3).collect())
    )
    assert a == c
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk(df, queries, k=2 * 40).collect()
    }
    for qid, nid, cos, _rank in a:
        assert abs(brute[(qid, nid)] - cos) <= 2e-4


def test_ivf_topk_degenerate_corpora(spark):
    """Empty / all-unusable corpora yield zero rows with the full
    4-column schema (never a crash); NULL, zero-norm, and off-width
    rows degrade to unassigned and cannot occupy rank slots."""
    from deduplication_spark.operators.similarity import ivf_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = ivf_topk(empty, empty, k=3)
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert out.count() == 0

    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    assert ivf_topk(all_null, all_null, k=3).count() == 0

    pdf = _planted(20)
    good = spark.createDataFrame(pdf)
    bad = spark.createDataFrame(
        [(9000, None), (9001, [1.0, 2.0]), (9002, [0.0] * DIM)],
        "vec_id long, embedding array<double>",
    )
    df = good.unionByName(bad)
    rows = ivf_topk(df, df.filter("vec_id < 20"), k=1).collect()
    ids = {r["neighbor_id"] for r in rows}
    assert not ids & {9000, 9001, 9002}
    hits = sum(
        1
        for r in rows
        if r["rank"] == 1 and r["neighbor_id"] == r["query_id"] + 1000
    )
    assert hits >= 18


def test_ivf_centroids_survive_adversarial_training_sample():
    """Quantizer unit edges (driver-side numpy, no Spark needed via a
    local-relation frame): (a) a Lloyd list whose members mean to zero
    (antipodal pair) keeps its previous unit-norm direction instead of
    collapsing to the zero vector — a zero centroid would score 0
    against everything and win assignment wherever true sims are
    negative; (b) an all-degenerate majority width (zero vectors)
    cannot mask a usable minority width, because usability filtering
    happens BEFORE width grouping."""
    from deduplication_spark.operators.similarity import _ivf_centroids
    from deduplication_spark.session import get_spark

    spark = get_spark(cores=2, shuffle_partitions=2)
    # (a) two antipodal vectors -> with n_list=1 every Lloyd update
    # mean is exactly zero
    anti = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    c = _ivf_centroids(anti, n_list=1, seed=1, id_col="vec_id",
                       vec_col="embedding", train_iters=3)
    assert c is not None and np.allclose(np.linalg.norm(c, axis=1), 1.0)
    # (b) majority width 3 is all zero-norm; the width-2 minority is
    # the only usable group and must win
    mixed = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(5)]
        + [(10, [3.0, 4.0]), (11, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    c = _ivf_centroids(mixed, n_list=2, seed=1, id_col="vec_id",
                       vec_col="embedding")
    assert c is not None and c.shape[1] == 2
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0)
