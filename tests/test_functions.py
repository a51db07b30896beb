"""Unit tests for text/hash primitives (SURVEY.md §5.2 layer 1). Inputs
are Arrow tables, as the UDFs read them."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deduplication_spark.config import DedupConfig
from deduplication_spark.functions.hashing import (
    band_hash_col,
    make_minhash_udf,
    make_simhash_udf,
)
from deduplication_spark.functions.text import shingle_hashes, token_count

CFG = DedupConfig()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pa.table(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over the lazy dog",  # exact dup
                    "the quick brown fox leaps over the lazy dog",  # near dup
                    "completely different words here entirely now yes",
                    "too short",  # < k tokens
                ],
            }
        )
    )


def test_shingle_hashes_known_counts(spark, docs):
    out = (
        docs.select(
            "doc_id",
            shingle_hashes("text", CFG.shingle_k, CFG.hash_seed).alias("sh"),
        )
        .orderBy("doc_id")
        .collect()
    )
    # 9 tokens, k=5 -> 5 shingles, all distinct here
    assert len(out[0]["sh"]) == 5
    assert out[0]["sh"] == out[1]["sh"]  # exact dup -> identical shingles
    # one word changed in the middle -> shares exactly 0 of 5? no: k=5 over 9
    # tokens, edit at position 4 touches all 5 shingles -> disjoint
    assert len(set(out[0]["sh"]) & set(out[2]["sh"])) == 0
    assert out[4]["sh"] == []  # short doc -> empty (partial-block analog)


def test_shingle_hashes_overlap_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(100))
    edited = " ".join(f"w{i}" if i != 50 else "X" for i in range(100))
    df = spark.createDataFrame(pa.table({"text": [base, edited]}))
    rows = df.select(
        shingle_hashes("text", 5, CFG.hash_seed).alias("sh")
    ).collect()
    a, b = set(rows[0]["sh"]), set(rows[1]["sh"])
    # one token edit breaks exactly k=5 shingles
    assert len(a) == 96 and len(a & b) == 91


def test_minhash_deterministic_and_jaccard_estimate(spark):
    rng = np.random.default_rng(0)
    base = [f"t{i}" for i in rng.integers(0, 1000, size=400)]
    # construct pair with known ~0.8 token overlap
    other = list(base[:320]) + [f"u{i}" for i in range(80)]
    df = spark.createDataFrame(
        pa.table({"doc_id": [0, 1], "text": [" ".join(base), " ".join(other)]})
    )
    sh = df.select(
        "doc_id", shingle_hashes("text", 5, CFG.hash_seed).alias("sh")
    )
    mh = make_minhash_udf(CFG.num_perm, CFG.hash_seed)
    rows = sh.select("doc_id", mh("sh").alias("sig")).orderBy("doc_id").collect()
    s0, s1 = rows[0]["sig"], rows[1]["sig"]
    assert len(s0) == CFG.num_perm
    # determinism: second run identical
    rows2 = sh.select("doc_id", mh("sh").alias("sig")).orderBy("doc_id").collect()
    assert rows2[0]["sig"] == s0 and rows2[1]["sig"] == s1
    # jaccard estimate within 0.12 of exact
    exact_rows = sh.collect()
    a = set(exact_rows[0]["sh"]) if exact_rows[0]["doc_id"] == 0 else set(exact_rows[1]["sh"])
    b = set(exact_rows[1]["sh"]) if exact_rows[1]["doc_id"] == 1 else set(exact_rows[0]["sh"])
    true_j = len(a & b) / len(a | b)
    est = sum(x == y for x, y in zip(s0, s1)) / CFG.num_perm
    assert abs(est - true_j) < 0.12


def test_minhash_null_for_empty(spark, docs):
    sh = docs.select(
        "doc_id", shingle_hashes("text", 5, CFG.hash_seed).alias("sh")
    )
    mh = make_minhash_udf(16, CFG.hash_seed)
    rows = sh.select("doc_id", mh("sh").alias("sig")).orderBy("doc_id").collect()
    assert rows[4]["sig"] is None
    assert rows[0]["sig"] == rows[1]["sig"]


def test_signature_udfs_null_rows_degrade(spark):
    """A NULL input row (e.g. signatures read back from a checkpoint,
    or any caller other than shingle_hashes — which emits [] not NULL)
    must yield NULL output, not a TypeError that kills the stage; NULL
    ELEMENTS inside an array are dropped."""
    from deduplication_spark.functions.hashing import (
        make_minhash_udf,
        make_simhash_udf,
    )

    df = spark.createDataFrame(
        pa.table(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "sh": pa.array(
                    [[11, 22, 33], None, [], [11, None, 33], [11, 33]],
                    pa.list_(pa.int64()),
                ),
            }
        )
    )
    mh = make_minhash_udf(16, CFG.hash_seed)
    sh = make_simhash_udf()
    rows = (
        df.select("doc_id", mh("sh").alias("sig"), sh("sh").alias("fp"))
        .orderBy("doc_id")
        .collect()
    )
    assert rows[1]["sig"] is None and rows[1]["fp"] is None
    assert rows[2]["sig"] is None and rows[2]["fp"] is None
    assert rows[0]["sig"] is not None and len(rows[0]["sig"]) == 16
    # NULL elements dropped: [11, None, 33] hashes like [11, 33] — a
    # superset's signature components are <= the subset's (min over
    # more draws), and the row still yields a full-width signature
    assert rows[3]["sig"] is not None and len(rows[3]["sig"]) == 16
    assert rows[3]["sig"] == rows[4]["sig"] and rows[3]["fp"] == rows[4]["fp"]


def test_simhash_monotone_in_edits(spark):
    base = [f"w{i}" for i in range(200)]

    def edit(n):
        t = list(base)
        for i in range(n):
            t[i * 7] = f"X{i}"
        return " ".join(t)

    df = spark.createDataFrame(
        pa.table({"doc_id": [0, 1, 2], "text": [edit(0), edit(2), edit(15)]})
    )
    sh = df.select("doc_id", shingle_hashes("text", 5, CFG.hash_seed).alias("sh"))
    simh = make_simhash_udf()
    rows = sh.select("doc_id", simh("sh").alias("f")).orderBy("doc_id").collect()

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    d_small = ham(rows[0]["f"], rows[1]["f"])
    d_big = ham(rows[0]["f"], rows[2]["f"])
    assert d_small < d_big
    assert ham(rows[0]["f"], rows[0]["f"]) == 0


def test_band_hash_shape(spark, docs):
    sh = docs.filter("doc_id = 0").select(
        shingle_hashes("text", 5, CFG.hash_seed).alias("sh")
    )
    mh = make_minhash_udf(CFG.num_perm, CFG.hash_seed)
    sig = sh.select(mh("sh").alias("sig"))
    out = sig.select(
        band_hash_col("sig", CFG.rows_per_band, CFG.bands, CFG.hash_seed).alias("bh")
    ).collect()
    assert len(out[0]["bh"]) == CFG.bands


def test_token_count_and_features(spark, docs):
    rows = docs.withColumn("tc", token_count("text")).orderBy("doc_id").collect()
    assert rows[0]["tc"] == 9


@pytest.mark.parametrize("chunks,radius", [(4, 3), (8, 3), (4, 0)])
def test_simhash_pigeonhole_exact_cover(spark, chunks, radius):
    """Combinatorial pigeonhole exact cover: EVERY fingerprint pair
    within hamming_radius shares at least one (chunk_idx, chunk_val)
    bucket key, for randomized base fingerprints and every radius
    0..hamming_radius (bit positions randomized too), at BOTH the
    default small-chunk setting (combos of size 1) and the at-scale
    8-chunk combinatorial setting. Driven through the real Catalyst
    key expressions, not a python re-derivation."""
    import dataclasses

    import numpy as np

    from deduplication_spark.operators.simhash import simhash_chunk_buckets

    cfg = dataclasses.replace(CFG, simhash_chunks=chunks, hamming_radius=radius)
    rng = np.random.default_rng(5)
    rows = []
    pair_ids = []
    nid = 0
    for trial in range(25):
        # full uint64 range viewed as int64: negative fingerprints are
        # half the real simhash space and exercise the arithmetic-
        # shiftright sign-extension path the chunk masking handles
        base_u = rng.integers(0, 1 << 64, dtype=np.uint64)
        r = int(rng.integers(0, radius + 1))
        flipped_u = base_u
        for pos in rng.choice(64, size=r, replace=False):
            flipped_u ^= np.uint64(1) << np.uint64(pos)
        base = int(base_u.astype(np.int64))
        flipped = int(flipped_u.astype(np.int64))
        rows += [(nid, base), (nid + 1, flipped)]
        pair_ids.append((nid, nid + 1))
        nid += 2
    df = spark.createDataFrame(
        pa.table({"doc_id": [r[0] for r in rows], "simhash": [r[1] for r in rows]})
    )
    keys = {}
    for r in simhash_chunk_buckets(df, cfg).collect():
        keys.setdefault(r["doc_id"], set()).add((r["chunk_idx"], r["chunk_val"]))
    for a_id, b_id in pair_ids:
        assert keys[a_id] & keys[b_id], (a_id, b_id)


def test_chunk_buckets_match_per_doc_reference(spark):
    """chunk_buckets' (doc_id, chunk_fp) rows equal the per-doc cdc_chunks
    reference filtered to chunks >= chunk_min_len, with no duplicate row
    (the chunk UDF emits each doc's distinct keys), at the default Arrow
    batch size and at 2. NULL, empty, whitespace-only and sub-min docs
    emit nothing; a repeated interior chunk is emitted once."""
    from deduplication_spark.functions.chunking import cdc_chunks
    from deduplication_spark.operators.substring import chunk_buckets

    rng = np.random.default_rng(3)
    words = ["".join(rng.choice(list("abcdefghij"), size=int(n)))
             for n in rng.integers(2, 9, size=550)]
    block = " ".join(words[:150])
    texts = {
        0: None,
        1: "",
        2: " \t\n  ",
        3: "too short",
        4: f"head {block} mid {block} mid {block} tail",
        5: " ".join(words[150:]),
    }
    lens = (CFG.chunk_min_len, CFG.chunk_avg_len, CFG.chunk_max_len)
    ref = {
        i: [fp for _s, ln, fp in cdc_chunks(t.encode(), *lens) if ln >= lens[0]]
        for i, t in texts.items()
        if t is not None
    }
    assert len(ref[4]) > len(set(ref[4])), "doc 4 must repeat an interior chunk"
    want = {(i, fp) for i, fps in ref.items() for fp in fps}
    df = spark.createDataFrame(
        pa.table({"doc_id": list(texts), "text": pa.array(list(texts.values()), pa.string())})
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    try:
        for batch in (default, "2"):
            spark.conf.set(key, batch)
            rows = [tuple(r) for r in chunk_buckets(df, CFG).collect()]
            assert len(rows) == len(set(rows)), batch
            assert set(rows) == want, batch
    finally:
        spark.conf.set(key, default)
