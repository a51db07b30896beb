"""Connected-components correctness vs a pure-Python union-find oracle
(SURVEY.md §5.2 layer 2: invariant under partitioning / row order)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from deduplication_spark.operators import components
from deduplication_spark.operators.components import (
    _uf_kernel,
    connected_components,
    label_components,
)


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


# ---- the union-find kernel, called directly on Arrow batches ---------


def _kernel(*batches):
    """{node: root} from `_uf_kernel` over (src, dst) edge batches."""
    schema = pa.schema([("src", pa.int64()), ("dst", pa.int64())])
    arrow = [
        pa.RecordBatch.from_pylist([{"src": s, "dst": d} for s, d in b], schema=schema)
        for b in batches
    ]
    out = list(_uf_kernel(iter(arrow)))
    assert all(o.schema.names == ["node", "root"] for o in out)
    nodes = [n for o in out for n in o.column("node").to_pylist()]
    roots = [r for o in out for r in o.column("root").to_pylist()]
    assert len(set(nodes)) == len(nodes)
    return dict(zip(nodes, roots))


def _kernel_vs_oracle(*batches):
    edges = [tuple(e) for b in batches for e in b]
    nodes = sorted({x for e in edges for x in e})
    assert _kernel(*batches) == _uf_oracle(edges, nodes)


def _permuted_chain(n, seed):
    perm = np.random.default_rng(seed).permutation(n) * 7 + 3
    edges = [(int(perm[i]), int(perm[i + 1])) for i in range(n - 1)]
    return [edges[i] for i in np.random.default_rng(seed + 1).permutation(n - 1)]


def test_kernel_empty():
    assert _kernel() == {}
    assert _kernel([]) == {}


def test_kernel_duplicate_edges():
    _kernel_vs_oracle([(1, 2), (2, 1), (1, 2), (5, 9), (9, 5)])


def test_kernel_self_loop_only_node():
    assert _kernel([(5, 5)]) == {5: 5}
    assert _kernel([(1, 2), (2, 2), (7, 7)]) == {1: 1, 2: 1, 7: 7}


def test_kernel_permuted_chain():
    _kernel_vs_oracle(_permuted_chain(5000, 3))


def test_kernel_star():
    _kernel_vs_oracle([(1000 - i, 10**12) for i in range(1000)])


def test_kernel_batches_in_one_partition():
    chain = _permuted_chain(3000, 5)
    _kernel_vs_oracle(chain[:1000], chain[1000:2000], [], chain[2000:])


# ---- several union-find rounds: round 2+ and the label composition -----


def _multi_round(spark, edges, n_part):
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"])
    ).repartition(n_part)
    comp, rounds = label_components(df, 50, "local")
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == _uf_oracle(edges, nodes)
    return rounds


def test_cc_multi_round(spark, monkeypatch):
    """With a tiny EDGES_PER_TASK every partition is its own kernel
    task, so local components only meet in later rounds."""
    monkeypatch.setattr(components, "EDGES_PER_TASK", 50)
    assert _multi_round(spark, _permuted_chain(2000, 9), 16) >= 2
    star = [(int(x), 500) for x in np.random.default_rng(2).permutation(1000)]
    assert _multi_round(spark, star, 16) >= 2
    for seed, n_nodes, n_edges in [(0, 50, 40), (1, 200, 150), (2, 500, 700)]:
        rng = np.random.default_rng(seed)
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
            if a != b
        ]
        _multi_round(spark, edges, 13)


def test_kernel_reads_sliced_batches():
    """Batches that are slices of one buffer (nonzero Arrow offsets) give
    the kernel their own rows only."""
    chain = _permuted_chain(300, 7)
    whole = pa.RecordBatch.from_arrays(
        [pa.array([s for s, _ in chain], pa.int64()), pa.array([d for _, d in chain], pa.int64())],
        names=["src", "dst"],
    )
    out = list(_uf_kernel(iter([whole.slice(0, 100), whole.slice(100, 150), whole.slice(250)])))
    got = {n: r for o in out for n, r in zip(o.column("node").to_pylist(), o.column("root").to_pylist())}
    assert got == _kernel(chain)
    head = list(_uf_kernel(iter([whole.slice(0, 100)])))[0]
    assert head.column("node").to_pylist() == sorted({x for e in chain[:100] for x in e})
