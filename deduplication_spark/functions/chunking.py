"""Content-defined chunking (CDC) + rolling-hash substring fingerprints —
the machinery behind the long-exact-substring tier.

The reference dedups on *positionally* fixed blocks
(/root/reference/src/compressor.c:105-107), which cannot catch a shared
span at a shifted offset. CDC replaces positional cuts with
content-defined anchor points (a Gear/Rabin-style windowed hash hitting a
modulus), so two documents sharing a long verbatim span produce
identical interior chunks regardless of offset — the standard
dedup-storage trick (LBFS/Venti lineage) applied at document level.

Everything is numpy-vectorized over the Arrow batch: the windowed anchor
hash is a sliding-window matmul, the chunk fingerprints and the
Rabin-Karp L-gram hashes are prefix-polynomial algebra in the uint64
ring (mod 2^64 is free; the base is odd so it is invertible mod 2^64,
letting the prefix be computed with one cumsum + one cumprod instead of
a sequential loop).
"""

from __future__ import annotations

import numpy as np

_WINDOW = 16          # anchor-hash window (bytes)
_BASE = np.uint64(0x9E3779B97F4A7C15 | 1)   # odd -> invertible mod 2^64
_BASE_INV = np.uint64(pow(int(_BASE), -1, 1 << 64))

_gear_rng = np.random.default_rng(0xC0FFEE)
_GEAR = _gear_rng.integers(0, 1 << 63, size=256, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
_WEIGHTS = np.array(
    [int(_BASE) ** i % (1 << 64) for i in range(_WINDOW)], dtype=np.uint64
)


# power tables depend only on the constant base — cache and grow by
# doubling instead of a cumprod + np.full per call (those two were 60%
# of _prefix_poly wall on ~1 KB-doc batches). Worker processes are
# single-threaded per task; the rare driver-side concurrent growth is
# benign (idempotent recompute, atomic reference swap under the GIL).
# Growth is CAPPED: the tables live for the worker's lifetime, so an
# occasional huge input must not pin huge tables forever — beyond the
# cap (2M entries = 16 MB/table) the call computes local tables and
# the cache stays small.
_MAX_CACHED = 1 << 21
_MAX_SLICE_BYTES = 2 << 20   # cdc_chunks_batch concat budget (see below)
_POWS = np.array([1], dtype=np.uint64)          # _POWS[i] = B^i
_INV_POWS = np.empty(0, dtype=np.uint64)        # _INV_POWS[i] = B^-(i+1)


def _pow_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(pows[:n+1], inv_pows[:n]) — cached up to _MAX_CACHED, computed
    locally (and not retained) beyond it."""
    global _POWS, _INV_POWS
    if n + 1 > _MAX_CACHED:
        pows = np.empty(n + 1, dtype=np.uint64)
        pows[0] = 1
        np.cumprod(np.full(n, _BASE, dtype=np.uint64), out=pows[1:])
        inv = np.cumprod(np.full(n, _BASE_INV, dtype=np.uint64))
        return pows, inv
    if len(_POWS) < n + 1:
        size = min(max(n + 1, 2 * len(_POWS)), _MAX_CACHED)
        pows = np.empty(size, dtype=np.uint64)
        pows[0] = 1
        np.cumprod(np.full(size - 1, _BASE, dtype=np.uint64), out=pows[1:])
        _POWS = pows
    if len(_INV_POWS) < n:
        size = min(max(n, 2 * max(len(_INV_POWS), 1)), _MAX_CACHED)
        inv = np.cumprod(np.full(size, _BASE_INV, dtype=np.uint64))
        _INV_POWS = inv
    return _POWS[: n + 1], _INV_POWS[:n]


def _prefix_poly(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """P[i] = sum_{j<i} b[j]*B^(i-1-j) (mod 2^64), and pows[i] = B^i.

    Computed without a sequential loop: P[i] = B^i * cumsum(b[j]*B^-(j+1)).
    """
    n = len(b)
    pows, inv_pows = _pow_tables(n)
    c = np.cumsum(b * inv_pows, dtype=np.uint64)
    P = np.empty(n + 1, dtype=np.uint64)
    P[0] = 0
    P[1:] = c * pows[1:]
    return P, pows


def gram_hashes(data: bytes, L: int) -> np.ndarray:
    """All L-gram Rabin-Karp hashes of `data` (len n -> n-L+1 hashes)."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n < L:
        return np.empty(0, dtype=np.uint64)
    P, pows = _prefix_poly(b)
    return P[L:] - P[: n - L + 1] * pows[L]


def has_common_gram(a: bytes, b: bytes, L: int) -> bool:
    """True iff a and b share some length-L substring (64-bit fingerprint
    intersection; collision probability ~ (n*m)/2^64)."""
    ga = gram_hashes(a, L)
    if ga.size == 0:
        return False
    gb = gram_hashes(b, L)
    if gb.size == 0:
        return False
    return bool(np.intersect1d(ga, gb).size)


def _anchor_positions(b: np.ndarray, avg_len: int) -> np.ndarray:
    """Content-defined anchor candidates: positions i (cut AFTER byte i)
    where the gear hash of window b[i-15..i] is 0 mod avg_len."""
    n = len(b)
    if n < _WINDOW:
        return np.empty(0, dtype=np.int64)
    g = _GEAR[b]
    win = np.lib.stride_tricks.sliding_window_view(g, _WINDOW)
    h = win @ _WEIGHTS  # uint64 wraparound matmul
    mask = np.uint64(avg_len - 1)
    hits = np.nonzero((h & mask) == 0)[0] + (_WINDOW - 1)
    return hits + 1  # cut points (exclusive end)


def cdc_chunks_batch(
    payloads: list[bytes | None], min_len: int, avg_len: int, max_len: int
) -> list[list[tuple[int, int, int]] | None]:
    """Batch form of cdc_chunks — bit-identical output per payload
    (property-tested against the per-doc reference in
    tests/test_properties.py), None in → None out.

    Why a separate kernel: web documents are SHORT (~0.5-2 KB), so the
    per-doc cdc_chunks call is dominated by numpy CALL OVERHEAD (~20
    array ops on a few-hundred-element array), not by array math — the
    opposite regime from the minhash segments (~1k shingles) where
    per-doc blocks win by L2 residency. Here the gear sliding-window
    matmul and the prefix polynomial run ONCE over the whole
    concatenated Arrow batch (the one-buffer pattern of
    text._shingle_flat), and per-doc work shrinks to cut selection
    over its ~len/avg_len anchor hits. Correctness of concatenating
    WITHOUT separators: a window hash is kept only when the window lies
    fully inside one doc (global window-end in [off+W-1, off+len-1]),
    where it equals the doc-local hash; chunk fingerprints are
    content-only polynomial hashes, so P_global[off+e] -
    P_global[off+s]*B^(e-s) equals the doc-local value by the prefix
    identity."""
    n_docs = len(payloads)
    out: list[list[tuple[int, int, int]] | None] = [None] * n_docs
    # The concatenated working set is ~40-50 bytes of uint64 arrays per
    # payload byte, and arrow_max_records caps RECORDS, not bytes — a
    # batch of megabyte documents would otherwise concatenate into a
    # multi-GB buffer per worker. Byte-bound the concat: greedy slices
    # of ~2 MB payload (one Arrow batch of ~1 KB web docs fits in a
    # single slice; an individually oversized doc processes alone, the
    # same footprint the per-doc reference had for it).
    total_bytes = sum(len(p) for p in payloads if p is not None)
    if total_bytes > _MAX_SLICE_BYTES and n_docs > 1:
        i = 0
        while i < n_docs:
            j, acc = i, 0
            while j < n_docs and (j == i or acc + (len(payloads[j]) if payloads[j] is not None else 0) <= _MAX_SLICE_BYTES):
                acc += len(payloads[j]) if payloads[j] is not None else 0
                j += 1
            out[i:j] = cdc_chunks_batch(payloads[i:j], min_len, avg_len, max_len)
            i = j
        return out
    idx_map = [i for i, p in enumerate(payloads) if p is not None]
    bufs = [payloads[i] for i in idx_map]
    lens = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
    for i, ln in zip(idx_map, lens):
        if ln == 0:
            out[i] = []
    total = int(lens.sum())
    if total == 0:
        return out
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offs = np.zeros(len(bufs), dtype=np.int64)
    if len(bufs) > 1:
        np.cumsum(lens[:-1], out=offs[1:])
    if total >= _WINDOW:
        g = _GEAR[buf]
        win = np.lib.stride_tricks.sliding_window_view(g, _WINDOW)
        h = win @ _WEIGHTS  # uint64 wraparound matmul
        mask = np.uint64(avg_len - 1)
        # global byte index of each anchor window's END
        ends = np.nonzero((h & mask) == 0)[0] + (_WINDOW - 1)
    else:
        ends = np.empty(0, dtype=np.int64)
    P, pows = _prefix_poly(buf.astype(np.uint64))
    los = np.searchsorted(ends, offs + _WINDOW - 1, side="left")
    his = np.searchsorted(ends, offs + lens, side="left")
    for i, off, ln, lo, hi in zip(idx_map, offs, lens, los, his):
        off, ln = int(off), int(ln)
        if ln == 0:
            continue
        anchors = ends[lo:hi] - off + 1  # local exclusive-end cuts
        cuts = [0]
        prev = 0
        for a in anchors:
            a = int(a)
            while a - prev > max_len:  # forced cut (no anchor in range)
                prev += max_len
                cuts.append(prev)
            if a - prev >= min_len:
                cuts.append(a)
                prev = a
        while ln - prev > max_len:
            prev += max_len
            cuts.append(prev)
        if cuts[-1] != ln:
            cuts.append(ln)
        c = np.asarray(cuts, dtype=np.int64)
        s, e = c[:-1], c[1:]
        # array ops wrap silently in uint64 — no errstate needed
        fps = (P[off + e] - P[off + s] * pows[e - s]).view(np.int64)
        out[i] = list(zip(s.tolist(), (e - s).tolist(), fps.tolist()))
    return out


def cdc_chunks(
    data: bytes, min_len: int, avg_len: int, max_len: int
) -> list[tuple[int, int, int]]:
    """Chunk `data` -> [(start, length, fingerprint64)].

    Anchors come from the windowed gear hash; min/max spacing is enforced
    in a short loop over ANCHORS (≈ n/avg_len iterations), never bytes.
    Identical content between synchronized anchors yields identical
    (length, fingerprint) pairs independently of its offset.
    """
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n == 0:
        return []
    anchors = _anchor_positions(b, avg_len)
    P, pows = _prefix_poly(b)

    cuts = [0]
    prev = 0
    for a in anchors:
        a = int(a)
        while a - prev > max_len:  # forced cut (no anchor in range)
            prev += max_len
            cuts.append(prev)
        if a - prev >= min_len:
            cuts.append(a)
            prev = a
    while n - prev > max_len:
        prev += max_len
        cuts.append(prev)
    if cuts[-1] != n:
        cuts.append(n)

    out = []
    # uint64 wraparound is the point; numpy warns on SCALAR overflow
    # (array ops wrap silently), so scope the suppression to this loop
    with np.errstate(over="ignore"):
        for s, e in zip(cuts, cuts[1:]):
            fp = int(P[e] - P[s] * pows[e - s])  # poly hash of b[s:e]
            out.append((s, e - s, fp - (1 << 64) if fp >= (1 << 63) else fp))
    return out
