"""Exact-tier tests incl. reference-parity on the C algorithm's semantics
(SURVEY.md §5.2 layer 3)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from deduplication_spark.operators.exact import (
    exact_assignments,
    exact_edges,
    with_content_key,
)


def test_exact_assignments_basic(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13, 14],
                "text": ["aaa", "bbb", "aaa", "ccc", "aaa"],
            }
        )
    )
    rows = {r["doc_id"]: r for r in exact_assignments(df).collect()}
    assert rows[10]["cluster_id"] == 10 and rows[10]["is_canonical"]
    assert rows[12]["cluster_id"] == 10 and not rows[12]["is_canonical"]
    assert rows[14]["cluster_id"] == 10
    assert rows[11]["cluster_id"] == 11 and rows[13]["cluster_id"] == 13
    edges = {(r["a"], r["b"]) for r in exact_edges(with_content_key(df)).collect()}
    assert edges == {(10, 12), (10, 14)}


def test_null_text_docs_are_singletons(spark):
    """NULL content hashes must not elect duplicates: the window groups
    NULL keys together, so without the guard every missing-text doc
    lands in one bogus "exact duplicate" cluster. Same contract as the
    pipeline exact tier (round-4 fix) and both streaming modes — this
    standalone operator was the last NULL-equal-grouping surface."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": ["same", None, "same", None, None],
            }
        )
    )
    rows = {r["doc_id"]: r for r in exact_assignments(df).collect()}
    assert rows[2]["cluster_id"] == 0 and not rows[2]["is_canonical"]
    for null_doc in (1, 3, 4):
        assert rows[null_doc]["cluster_id"] == null_doc, null_doc
        assert rows[null_doc]["is_canonical"], null_doc
    # edges: only the real duplicate pair, never NULL-NULL links
    edges = {(r["a"], r["b"]) for r in exact_edges(with_content_key(df)).collect()}
    assert edges == {(0, 2)}


def _reference_dedup(samples: np.ndarray, width: int, block_size: int):
    """~20-line pure-Python re-expression of the reference C loop
    (/root/reference/src/compressor.c:105-114 + src/dictionary.c:49-78):
    fixed-size blocks, first-occurrence dictionary IDs, trailing partial
    block dropped (compressor.c:85-93)."""
    data = samples.tobytes()
    bsz = block_size * width
    num_blocks = len(data) // bsz
    dict_ids: dict[bytes, int] = {}
    block_ids = []
    for b in range(num_blocks):
        blk = data[b * bsz : (b + 1) * bsz]
        if blk not in dict_ids:
            dict_ids[blk] = len(dict_ids)
        block_ids.append(dict_ids[blk])
    return len(dict_ids), block_ids


def test_reference_parity_sensor_stream(spark):
    """Spark exact tier reproduces the C algorithm's (dict_size,
    block->cluster multiset) on the FIXTURES.md §2 synthetic sensor
    stream, for several block sizes."""
    rng = np.random.default_rng(7)
    steps = rng.choice([-1, 0, 0, 0, 0, 1], size=40_000).astype(np.int64)
    vals = (1000 + np.cumsum(steps)).astype("<u2")

    for block_size in (2, 8, 32):
        dict_size, block_ids = _reference_dedup(vals, 2, block_size)

        data = vals.tobytes()
        bsz = block_size * 2
        n = len(data) // bsz
        pdf = pd.DataFrame(
            {
                "doc_id": range(n),
                "text": [data[i * bsz : (i + 1) * bsz].hex() for i in range(n)],
            }
        )
        out = exact_assignments(spark.createDataFrame(pdf)).collect()
        # same number of unique blocks
        assert len({r["cluster_id"] for r in out}) == dict_size
        # same partition of positions into duplicate groups: the C first-
        # occurrence ID and our min-position ID induce identical groupings
        got = {}
        for r in out:
            got.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        want = {}
        for pos, bid in enumerate(block_ids):
            want.setdefault(bid, set()).add(pos)
        assert sorted(got.values(), key=min) == sorted(want.values(), key=min)
        # min-position canonical == first occurrence under original
        # order (the previous `min(members) in members` was tautological
        # — min of a set is always a member)
        for cid, members in got.items():
            assert cid == min(members)


def test_assignments_output_contract(spark):
    """exact_assignments emits exactly one row per doc, never the text
    (payloads stay in the source table — the per-row invariant holds
    structurally because the operator cannot return what it never
    selects), and every doc joins back to its original row."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["x y z", "x y z", "p q"]})
    )
    out = exact_assignments(df)
    assert "text" not in out.columns
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1, 2]
    joined = df.join(out.select("doc_id", "cluster_id"), "doc_id")
    assert joined.count() == 3  # no dropped/duplicated ids in the join
