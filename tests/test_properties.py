"""Property-based tests (hypothesis) over the pure numpy kernels.

The example-based suites pin concrete behaviors; these pin the ALGEBRA
the pipeline's correctness argument rests on, over randomized inputs
with shrinking:

- MinHash: order/multiplicity invariance, the union == elementwise-min
  law (the property that makes banding sound), and batch-segmentation
  invariance (signatures must not depend on how Arrow batches split
  rows, or on a batch being a slice of a larger one — the exact bug
  class `_segments`'s offset math could harbor).
- SimHash: singleton identity, order invariance, uniform-multiplicity
  invariance, batch-segmentation invariance.
- Shingles: whitespace/case normalization, distinct+sorted output,
  count bound, cross-doc isolation under batching.
- CDC / Rabin-Karp: exact tiling of the byte range, length bounds, a
  naive O(n*L) oracle for the vectorized rolling hash, planted-common-
  substring detection, and chunk resynchronization on a shared span at
  two different offsets (the property the substring tier's chunk-fp
  equality buckets rely on; reference analog: positional blocks at
  src/compressor.c:105-107 cannot resync, CDC must).

The kernels take and return Arrow arrays at the UDF boundary
(functions/arrow.py), so the inputs here are Arrow arrays too.

All kernels are deterministic (seeded families), so every property is
exact — no statistical assertions, no flakiness.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from deduplication_spark.functions.chunking import (
    cdc_chunks,
    cdc_chunks_batch,
    gram_hashes,
    has_common_gram,
)
from deduplication_spark.functions.arrow import LONGS, segments
from deduplication_spark.functions.hashing import (
    _minhash_kernel,
    _perm_params,
    _segments,
    _signatures,
    _simhash_kernel,
)
from deduplication_spark.functions.text import (
    _shingle_batch,
    _shingle_flat,
    shingle_hash_params,
)

NUM_PERM = 16
A_ALL, B_ALL = _perm_params(NUM_PERM, seed=42)
SH_MUL, SH_ADD = shingle_hash_params(seed=42)

# int64-safe shingle ids (the UDF input column is array<bigint>)
shingle_ids = st.integers(min_value=-(2**63), max_value=2**63 - 1)
shingle_lists = st.lists(shingle_ids, min_size=0, max_size=40)


def _longs(rows: list[list[int | None] | None]) -> pa.Array:
    return pa.array(rows, type=pa.list_(pa.int64()))


def _minhash_rows(rows) -> list[np.ndarray | None]:
    """Signatures of `rows` (Python lists, or an array<bigint> column)."""
    arr = rows if isinstance(rows, pa.Array) else _longs(rows)
    flat, off, lens = _segments(arr)
    sig, ne = _minhash_kernel(flat, off, lens, A_ALL, B_ALL, NUM_PERM)
    return [sig[i].copy() if ne[i] else None for i in range(len(arr))]


def _simhash_rows(rows) -> list[int | None]:
    arr = rows if isinstance(rows, pa.Array) else _longs(rows)
    flat, off, lens = _segments(arr)
    fp, ne = _simhash_kernel(flat, off, lens)
    return [int(fp[i]) if ne[i] else None for i in range(len(arr))]


# ---------------------------------------------------------------- MinHash

@settings(max_examples=60, deadline=None)
@given(shingle_lists, st.randoms(use_true_random=False))
def test_minhash_order_and_multiplicity_invariant(xs, rnd):
    """sig() is a SET function: shuffling and duplicating elements of the
    input list must not change the signature."""
    base = _minhash_rows([xs])[0]
    mutated = xs + [rnd.choice(xs)] if xs else xs
    rnd.shuffle(mutated)
    assert (base is None) == (mutated == [])
    got = _minhash_rows([mutated])[0]
    if base is None:
        assert got is None
    else:
        assert np.array_equal(base, got)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(shingle_ids, min_size=1, max_size=30),
    st.lists(shingle_ids, min_size=1, max_size=30),
)
def test_minhash_union_is_elementwise_min(a, b):
    """sig(A ∪ B)[j] == min(sig(A)[j], sig(B)[j]) — the per-permutation
    min law that makes the Jaccard estimate (and banding) sound."""
    sa, sb, su = _minhash_rows([a, b, a + b])
    assert np.array_equal(su, np.minimum(sa, sb))


@settings(max_examples=40, deadline=None)
@given(st.lists(shingle_lists, min_size=1, max_size=6))
def test_minhash_batch_segmentation_invariant(rows):
    """One batch of n docs == n batches of 1 doc == n one-row slices of
    the batch: signatures must not depend on how rows are packed into
    Arrow batches (offset math)."""
    together = _minhash_rows(rows)
    alone = [_minhash_rows([r])[0] for r in rows]
    arr = _longs(rows)
    sliced = [_minhash_rows(arr.slice(i, 1))[0] for i in range(len(rows))]
    for t, a, s in zip(together, alone, sliced):
        if t is None:
            assert a is None and s is None
        else:
            assert np.array_equal(t, a) and np.array_equal(t, s)


def test_minhash_null_rows_do_not_disturb_neighbors():
    """NULL / empty / NULL-element rows map to NULL signatures where no
    element is left, and leave adjacent rows' signatures bit-identical
    (NULL routing contract)."""
    rows = [[1, 2, 3], None, [], [7], [None, 5], [None]]
    got = _minhash_rows(rows)
    assert got[1] is None and got[2] is None and got[5] is None
    assert np.array_equal(got[0], _minhash_rows([[1, 2, 3]])[0])
    assert np.array_equal(got[3], _minhash_rows([[7]])[0])
    # NULL elements are dropped, not hashed
    assert np.array_equal(got[4], _minhash_rows([[5]])[0])


def test_null_row_spanning_values_reads_as_empty():
    """Arrow lets a NULL list row span child values; they are not the
    row's elements, and a slice that starts mid-buffer reads the same."""
    offsets = pa.py_buffer(np.array([0, 2, 4, 5], dtype=np.int32))
    bitmap = pa.py_buffer(np.packbits([1, 0, 1], bitorder="little"))
    child = pa.array([1, 2, 3, 4, 5], type=pa.int64())
    arr = pa.Array.from_buffers(LONGS, 3, [bitmap, offsets], children=[child])
    assert arr.to_pylist() == [[1, 2], None, [5]]
    flat, lengths = segments(arr)
    assert flat.tolist() == [1, 2, 5] and lengths.tolist() == [2, 0, 1]
    flat, lengths = segments(arr.slice(1))
    assert flat.tolist() == [5] and lengths.tolist() == [0, 1]


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.none(), shingle_lists), min_size=0, max_size=6))
def test_signature_rows_round_trip(rows):
    """The emitted array<bigint> column holds each row's signature as
    int64s, NULL where the row has no shingles."""
    arr = _longs(rows)
    flat, off, lens = _segments(arr)
    sig, ne = _minhash_kernel(flat, off, lens, A_ALL, B_ALL, NUM_PERM)
    out = _signatures(sig, ne)
    assert out.type == LONGS
    want = [s.astype(np.int64).tolist() if s is not None else None for s in _minhash_rows(arr)]
    assert out.to_pylist() == want


# ---------------------------------------------------------------- SimHash

@settings(max_examples=60, deadline=None)
@given(shingle_ids)
def test_simhash_singleton_identity(x):
    """A 1-shingle doc's fingerprint is the shingle's own 64 bits
    (majority vote of one element)."""
    assert _simhash_rows([[x]])[0] == x


@settings(max_examples=60, deadline=None)
@given(
    st.lists(shingle_ids, min_size=1, max_size=30),
    st.integers(min_value=2, max_value=4),
    st.randoms(use_true_random=False),
)
def test_simhash_order_and_uniform_multiplicity_invariant(xs, r, rnd):
    """Shuffling, and repeating EVERY element the same r times, preserve
    the fingerprint (the majority threshold scales with the count)."""
    base = _simhash_rows([xs])[0]
    mutated = list(xs) * r
    rnd.shuffle(mutated)
    assert _simhash_rows([mutated])[0] == base


@settings(max_examples=40, deadline=None)
@given(st.lists(shingle_lists, min_size=1, max_size=6))
def test_simhash_batch_segmentation_invariant(rows):
    together = _simhash_rows(rows)
    alone = [_simhash_rows([r])[0] for r in rows]
    arr = _longs(rows)
    sliced = [_simhash_rows(arr.slice(i, 1))[0] for i in range(len(rows))]
    assert together == alone == sliced


# ---------------------------------------------------------------- Shingles

words = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=0, max_size=25
)
ws_char = st.sampled_from([" ", "\t", "\n", "\r", "\x0b", "\x0c"])


def _shingles(texts: list[str | None], k: int = 3) -> list[list[int]]:
    return _shingle_batch(pa.array(texts, type=pa.string()), k, SH_MUL, SH_ADD).to_pylist()


@settings(max_examples=60, deadline=None)
@given(words, st.randoms(use_true_random=False))
def test_shingle_whitespace_and_case_normalization(ws, rnd):
    """Any \\s runs between tokens, leading/trailing space, and case
    changes produce the same shingle set as single-space lowercase."""
    canonical = _shingles([" ".join(ws)])[0]
    sep = lambda: "".join(rnd.choice(" \t\n\r\x0b\x0c") for _ in range(rnd.randint(1, 3)))
    messy = sep() + sep().join(w.upper() if rnd.random() < 0.5 else w for w in ws) + sep()
    assert _shingles([messy])[0] == canonical


@settings(max_examples=60, deadline=None)
@given(words, st.integers(min_value=1, max_value=5))
def test_shingle_count_bound_distinct_sorted(ws, k):
    """≤ max(0, n_tokens-k+1) shingles, pairwise distinct, sorted in
    UNSIGNED uint64 order (the documented array<bigint> contract)."""
    got = _shingles([" ".join(ws)], k=k)[0]
    assert len(got) <= max(0, len(ws) - k + 1)
    u = np.array(got, dtype=np.int64).view(np.uint64)
    assert len(np.unique(u)) == len(u)
    assert np.all(u[:-1] < u[1:]) if len(u) > 1 else True


@settings(max_examples=40, deadline=None)
@given(st.lists(words, min_size=1, max_size=5))
def test_shingle_batch_isolation(docs):
    """Batching docs together never leaks tokens across doc boundaries:
    same shingles as processing each doc alone, or a one-row slice."""
    texts = [" ".join(d) for d in docs]
    together = _shingles(texts)
    alone = [_shingles([t])[0] for t in texts]
    arr = pa.array(texts, type=pa.string())
    sliced = [
        _shingle_batch(arr.slice(i, 1), 3, SH_MUL, SH_ADD).to_pylist()[0]
        for i in range(len(texts))
    ]
    assert together == alone == sliced


any_texts = st.lists(
    st.one_of(
        st.none(),
        st.just(""),
        st.text(max_size=80),  # arbitrary unicode: non-ASCII, \s variants
        st.tuples(st.integers(200, 5000), st.integers(1, 300)).map(
            lambda t: " ".join(f"wörd{(i * 7919) % t[1]}" for i in range(t[0]))
        ),
    ),
    min_size=0,
    max_size=6,
)


@settings(max_examples=40, deadline=None)
@given(any_texts, st.sampled_from([1, 3, 5]))
def test_kernels_need_no_overflow_guard(texts, k):
    """The text-to-hash kernels do whole-array uint arithmetic, which
    wraps mod 2^64 (2^32) without a floating-point flag: none of them
    raises under np.errstate(all="raise"), so the UDFs run them without
    an np.seterr guard (only cdc_chunks' scalar loop needs one)."""
    arr = pa.array(texts, type=pa.string())
    with np.errstate(all="raise"):
        _shingle_flat(arr, k, SH_MUL, SH_ADD)
        flat, off, lens = _segments(_shingle_batch(arr, k, SH_MUL, SH_ADD))
        _minhash_kernel(flat, off, lens, A_ALL, B_ALL, NUM_PERM)
        _simhash_kernel(flat, off, lens)


# ---------------------------------------------------------- CDC / Rabin-Karp

payloads = st.binary(min_size=0, max_size=2000)


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_cdc_tiles_input_within_bounds(data):
    """Chunks tile [0, n) contiguously; every length in [1, max_len]."""
    chunks = cdc_chunks(data, min_len=32, avg_len=64, max_len=128)
    if not data:
        assert chunks == []
        return
    pos = 0
    for start, length, _fp in chunks:
        assert start == pos
        assert 1 <= length <= 128
        pos += length
    assert pos == len(data)


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_cdc_deterministic(data):
    assert cdc_chunks(data, 32, 64, 128) == cdc_chunks(data, 32, 64, 128)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=200), st.integers(min_value=1, max_value=16))
def test_gram_hashes_match_naive_oracle(data, L):
    """The cumsum/cumprod prefix-polynomial rolling hash equals a naive
    per-gram Horner evaluation (mod 2^64) at every position."""
    got = gram_hashes(data, L)
    n = len(data)
    assert len(got) == max(0, n - L + 1)
    BASE = 0x9E3779B97F4A7C15 | 1
    for i in range(len(got)):
        h = 0
        for byte in data[i : i + L]:
            h = (h * BASE + byte) % (1 << 64)
        assert int(got[i]) == h


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=24, max_size=64), payloads, payloads)
def test_planted_common_gram_detected(gram, pre, post):
    """A verbatim L-byte span planted in two different contexts always
    yields a common L-gram fingerprint (no false negatives; the tier's
    candidate generation is oracle-complete at the gram level)."""
    L = len(gram)
    a = pre + gram
    b = gram + post
    assert has_common_gram(a, b, L)
    ga, gb = gram_hashes(a, L), gram_hashes(b, L)
    assert int(ga[len(pre)]) == int(gb[0])


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.binary(min_size=0, max_size=600)),
        min_size=0,
        max_size=8,
    )
)
def test_cdc_batch_matches_per_doc_reference(payloads):
    """cdc_chunks_batch (the hot-path kernel: one gear matmul + one
    prefix-poly per Arrow batch) is BIT-IDENTICAL to the per-doc
    cdc_chunks reference on every payload, with None passed through —
    the substring tier's fingerprints must not depend on how rows are
    packed into batches."""
    got = cdc_chunks_batch(payloads, 32, 64, 128)
    assert len(got) == len(payloads)
    for p, g in zip(payloads, got):
        if p is None:
            assert g is None
        else:
            assert g == cdc_chunks(p, 32, 64, 128)


@settings(max_examples=20, deadline=None)
@given(st.binary(min_size=0, max_size=400), st.binary(min_size=0, max_size=400))
def test_cdc_resyncs_on_shared_span(pre_a, pre_b):
    """Two documents sharing a long verbatim span (planted at different
    offsets via different prefixes) produce at least one identical
    (length, fingerprint) chunk — the content-defined resynchronization
    the substring tier's bucket join depends on. The span is seeded
    (not drawn) so the anchor density is fixed; 4 KiB at avg_len=64
    carries ~64 anchors, so resync is structural, not probabilistic."""
    span = np.random.default_rng(7).integers(0, 256, size=4096, dtype=np.uint8).tobytes()
    ca = cdc_chunks(pre_a + span, 32, 64, 128)
    cb = cdc_chunks(pre_b + span, 32, 64, 128)
    fa = {(ln, fp) for _s, ln, fp in ca}
    fb = {(ln, fp) for _s, ln, fp in cb}
    assert fa & fb, "no shared chunk despite 4 KiB common span"


def test_cdc_batch_slicing_and_cache_fallback_parity(monkeypatch):
    """The byte-bounded slicing path and the beyond-cache power-table
    fallback (both memory guards for megabyte documents) produce the
    same bit-identical output as the unsliced/cached path."""
    import deduplication_spark.functions.chunking as ch

    rng = np.random.default_rng(13)
    payloads = [
        rng.integers(0, 256, size=int(n), dtype=np.uint8).tobytes()
        for n in rng.integers(200, 1500, size=12)
    ] + [None]
    ref = ch.cdc_chunks_batch(payloads, 32, 64, 128)
    # force the greedy slicer (every slice ~1-2 docs)
    monkeypatch.setattr(ch, "_MAX_SLICE_BYTES", 2000)
    sliced = ch.cdc_chunks_batch(payloads, 32, 64, 128)
    assert sliced == ref
    # force the beyond-cache local power tables
    monkeypatch.setattr(ch, "_MAX_CACHED", 64)
    fallback = ch.cdc_chunks_batch(payloads, 32, 64, 128)
    assert fallback == ref
    # single oversized payload must not recurse forever
    monkeypatch.setattr(ch, "_MAX_SLICE_BYTES", 100)
    one = [rng.integers(0, 256, size=5000, dtype=np.uint8).tobytes()]
    assert ch.cdc_chunks_batch(one, 32, 64, 128) == [
        ch.cdc_chunks(one[0], 32, 64, 128)
    ]
