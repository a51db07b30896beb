"""Connected-components correctness vs a pure-Python union-find oracle
(SURVEY.md §5.2 layer 2: invariant under partitioning / row order)."""

import numpy as np
import pandas as pd
import pytest

from deduplication_spark.operators.components import connected_components


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, components keyed by min member
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 50, 40), (1, 200, 150), (2, 500, 700)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    nodes = sorted({x for e in edges for x in e})
    oracle = _uf_oracle(edges, nodes)

    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == oracle


def test_cc_long_chain(spark):
    # adversarial path graph 0-1-2-...-99: worst case for naive propagation
    edges = [(i, i + 1) for i in range(99)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = connected_components(df).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 100


def test_cc_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"src": [], "dst": []}), "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_self_loop_only_nodes_are_singletons(spark):
    """The contract is a row for EVERY node appearing in `edges` — a
    node whose only edges are self-loops used to vanish (canonicalize
    drops (u, u) rows before the star rounds). Covers the pure
    self-loop graph and a mixed graph where one self-loop node also
    has a real edge (must not be emitted twice)."""
    df = spark.createDataFrame(
        pd.DataFrame([(5, 5)], columns=["src", "dst"])
    )
    assert [(r["node"], r["component"]) for r in connected_components(df).collect()] == [(5, 5)]

    mixed = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 2), (7, 7)], columns=["src", "dst"]
        )
    )
    got = sorted(
        (r["node"], r["component"]) for r in connected_components(mixed).collect()
    )
    assert got == [(1, 1), (2, 1), (7, 7)]


def test_cc_partition_invariance(spark):
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, size=(250, 2)) if a != b]
    df1 = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"])).repartition(1)
    df2 = spark.createDataFrame(
        pd.DataFrame(edges[::-1], columns=["src", "dst"])
    ).repartition(13)
    r1 = sorted((r["node"], r["component"]) for r in connected_components(df1).collect())
    r2 = sorted((r["node"], r["component"]) for r in connected_components(df2).collect())
    assert r1 == r2


def test_cc_reliable_checkpoint_mode_identical(spark, tmp_path):
    """cc_checkpoint_mode='reliable' (r05 verdict #5): df.checkpoint()
    per round instead of localCheckpoint — survives executor loss on a
    real cluster. Output must be IDENTICAL to local mode; calling it
    without a checkpoint dir must fail loudly, not crash opaquely."""
    import pytest

    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b)) for a, b in rng.integers(0, 200, size=(150, 2)) if a != b
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))

    local = sorted(
        (r["node"], r["component"])
        for r in connected_components(df, checkpoint_mode="local").collect()
    )

    had_dir = spark.sparkContext.getCheckpointDir() is not None
    if not had_dir:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(df, checkpoint_mode="reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = sorted(
        (r["node"], r["component"])
        for r in connected_components(df, checkpoint_mode="reliable").collect()
    )
    assert local == reliable

    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(df, checkpoint_mode="bogus")
