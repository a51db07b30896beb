"""MinHash / SimHash signatures — numpy-vectorized Arrow UDFs.

These are the operations Catalyst genuinely can't express efficiently
(a 128-way min over a universal-hash family per row). The kernels work
per-DOCUMENT inside the Arrow batch on purpose: a segment of ~1k
shingles x 128 permutations stays L2-resident, while the
"fully vectorized" batch-global alternatives (a (total_shingles x
num_perm) matrix reduced with np.minimum.reduceat / cumsum) measured
8-40x SLOWER — numpy's segmented reductions are strided and non-SIMD,
and the multi-hundred-MB intermediate thrashes cache and saturates the
DRAM bus that multi-core scaling depends on. Per-row Python never
touches data: each doc is a handful of whole-segment numpy calls
(BASELINE.json input_hint: "vectorized pandas/Arrow UDFs").

The permutation family h_p(s) = (a_p * s + b_p) mod 2^32 with odd a_p
is the standard multiply-add family (the mod is free uint32
wraparound; see _perm_params for why 32-bit). Parameters are drawn
once from a seeded generator so signatures are deterministic across
runs, partitions, and parallelism levels (BASELINE.md determinism
requirement).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from .arrow import array, lists, segments

def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-add family over the uint32 ring (odd multiplier).

    32-bit on purpose: the (total_shingles x num_perm) hash matrix is the
    pipeline's single biggest memory stream (~2 GB per 2048-doc Arrow
    batch at 64-bit); uint32 halves the DRAM traffic that caps multi-core
    scaling, while 32-bit signature components leave band keys at
    4 x 32 = 128 bits — far beyond collision range for banding.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**31, size=num_perm, dtype=np.uint32) * np.uint32(2) + np.uint32(1)
    b = rng.integers(0, 2**31, size=num_perm, dtype=np.uint32)
    return a, b


def _offsets(lengths: np.ndarray) -> np.ndarray:
    """Start of each row's segment in the flat array — the one segment
    layout of _segments and the enrich UDF."""
    return np.cumsum(lengths) - lengths


def _segments(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A list<bigint> column -> (flat_uint64, offsets, lengths). A NULL row
    behaves as empty (the UDFs then emit NULL per their docstrings) and
    NULL array elements are dropped."""
    flat, lengths = segments(arr)
    return flat.view(np.uint64), _offsets(lengths), lengths


def _signatures(sig: np.ndarray, nonempty: np.ndarray) -> pa.Array:
    """The (n, num_perm) signature matrix as array<bigint> rows, NULL
    where the doc has no shingles."""
    lengths = np.where(nonempty, sig.shape[1], 0)
    return lists(lengths, sig[nonempty].astype(np.int64).ravel(), nonempty)


def _minhash_kernel(
    flat: np.ndarray,
    offsets: np.ndarray,
    lengths: np.ndarray,
    a_all: np.ndarray,
    b_all: np.ndarray,
    num_perm: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(n, num_perm) signature matrix + nonempty mask; per-doc
    (seg x num_perm) blocks, see the L2-residency comment below."""
    n = len(lengths)
    out = np.empty((n, num_perm), dtype=np.uint32)
    nonempty = lengths > 0
    ne_off = offsets[nonempty]
    if ne_off.size:
        # fold 64-bit shingle ids to 32-bit once; perm math in uint32
        flat32 = ((flat >> np.uint64(32)) ^ flat).astype(np.uint32)
        ne_idx = np.nonzero(nonempty)[0]
        ar, br = a_all[None, :], b_all[None, :]
        # per-doc (seg x num_perm) blocks stay L2-resident — measured 8x
        # faster than the batch-global (total x chunk) matrix + reduceat,
        # whose segmented reductions are strided and non-SIMD in numpy
        for i, s, l in zip(ne_idx, ne_off, lengths[nonempty]):
            h = flat32[s : s + l, None] * ar + br
            out[i] = h.min(axis=0)
    return out, nonempty


def _simhash_kernel(
    flat: np.ndarray, offsets: np.ndarray, lengths: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(n,) int64 fingerprints + nonempty mask."""
    n = len(lengths)
    nonempty = lengths > 0
    out = np.zeros(n, dtype=np.uint64)
    ne_off = offsets[nonempty]
    if ne_off.size:
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        ne_len = lengths[nonempty]
        byte_rows = flat.view(np.uint8).reshape(-1, 8)
        ones = np.empty((len(ne_off), 64), dtype=np.int32)
        # Per-doc unpack+sum, NOT a batch-global matrix: segments are
        # ~1k rows, so each unpack stays cache-resident. The "fully
        # vectorized" alternatives (global unpackbits + reduceat or
        # cumsum-diff over a (total, 64) matrix) measured 40x slower —
        # strided segment reductions over a multi-hundred-MB matrix
        # thrash cache, and np.cumsum/reduceat are not SIMD.
        for i, (s, l) in enumerate(zip(ne_off, ne_len)):
            b = np.unpackbits(byte_rows[s : s + l], axis=1, bitorder="little")
            ones[i] = b.sum(axis=0, dtype=np.int32)
        majority = (2 * ones) > ne_len[:, None]
        out[nonempty] = (majority.astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64
        )
    return out.view(np.int64), nonempty


def make_enrich_udf(num_perm: int, seed: int, shingle_k: int):
    """Fused enrichment UDF: text -> struct<minhash, simhash>.

    One Arrow round trip and one shared segment layout for both
    signatures — the unfused chain (shingle UDF -> minhash UDF ->
    simhash UDF) ships the shingle arrays across the JVM/Python boundary
    three times and re-segments twice; fusing measured ~2.5x faster on
    the enrich stage.

    The shingle sets themselves are NOT emitted: at ~1k tokens/doc they
    are ~7 KB/row — rivaling the corpus itself in checkpoint and Arrow
    traffic — and exact verification needs them only for the borderline
    sliver of candidate pairs, for which the tier recomputes them on
    demand (see minhash_lsh.minhash_near_edges).

    The segment layout comes straight from `_shingle_flat`'s flat
    array; no per-row shingle list is built. Signature values equal
    the unfused chain's bit for bit: same kernels, same flat array,
    same ordering.
    """
    from .text import _shingle_flat, shingle_hash_params

    mul, add = shingle_hash_params(seed)
    a_all, b_all = _perm_params(num_perm, seed)

    @arrow_udf("struct<minhash:array<bigint>,simhash:bigint>")
    def enrich(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in it:
            sdoc, flat, n_rows = _shingle_flat(texts, shingle_k, mul, add)
            lengths = np.bincount(sdoc, minlength=n_rows)
            offsets = _offsets(lengths)
            sig, ne = _minhash_kernel(flat, offsets, lengths, a_all, b_all, num_perm)
            fp, _ = _simhash_kernel(flat, offsets, lengths)
            yield pa.StructArray.from_arrays(
                [_signatures(sig, ne), array(pa.int64(), fp, ne)],
                names=["minhash", "simhash"],
            )

    return enrich


def make_minhash_udf(num_perm: int, seed: int):
    """Returns an Arrow UDF: array<bigint> shingles -> array<bigint> signature.

    Empty shingle sets (short docs — the partial-block analog) yield NULL,
    which downstream tiers filter out explicitly.
    """
    a_all, b_all = _perm_params(num_perm, seed)

    @arrow_udf("array<bigint>")
    def minhash_sig(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for shingles in it:
            sig, ne = _minhash_kernel(*_segments(shingles), a_all, b_all, num_perm)
            yield _signatures(sig, ne)

    return minhash_sig


def make_simhash_udf():
    """Returns an Arrow UDF: array<bigint> shingles -> bigint simhash64.

    Classic Charikar SimHash over the 64 bits of each shingle hash:
    bit b of the fingerprint is 1 iff more than half the shingles have
    bit b set. Empty shingle sets yield NULL.
    """
    @arrow_udf("bigint")
    def simhash64(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for shingles in it:
            fp, ne = _simhash_kernel(*_segments(shingles))
            yield array(pa.int64(), fp, ne)

    return simhash64


def band_hash_col(sig_col: Column | str, rows_per_band: int, bands: int, seed: int) -> Column:
    """array<long> of one xxhash64 per LSH band — pure Catalyst
    (slice + xxhash64 over the sliced array), no UDF.
    """
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(F.slice(sig, j * rows_per_band + 1, rows_per_band), F.lit(seed)),
    )


def band_key_col(sig_col: Column | str, rows_per_band: int, bands: int, seed: int) -> Column:
    """array<long> of ONE combined 64-bit key per LSH band: the band
    index is hashed in alongside the sliced signature rows, so the
    candidate bucket exchange (the LSH tier's dominant shuffle at
    corpus x bands rows) groups on a single 8-byte long instead of a
    (band_idx int, band_hash long) pair — ~20% fewer key bytes per row
    and a one-column exchange hash. Cross-band key collisions merge two
    buckets with p ~ 2^-64 per pair; merged buckets only ADD candidate
    pairs (estimate-screened downstream), never lose any — at 10^12
    docs x 32 bands that is ~3e7 extra screened pairs, negligible."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(
            F.slice(sig, j * rows_per_band + 1, rows_per_band), F.lit(seed), j
        ),
    )
