"""Text primitives.

The reference's dedup unit is a fixed-size byte block
(/root/reference/src/compressor.c:105-107); ours is a document, and the
sub-document unit is the k-shingle set.

Shingling is a *batch-vectorized* Arrow UDF, not a Catalyst expression:
the natural `transform(sequence(...), i -> xxhash64(slice(tokens,...)))`
formulation is a higher-order function, which Catalyst evaluates
INTERPRETED (no whole-stage codegen) with an O(k) array copy per
element — measured ~0.2 s/doc at 2k tokens, unusable. The UDF instead
concatenates the whole Arrow batch into ONE byte buffer and computes
every token boundary, token hash (prefix polynomial algebra over the
uint64 ring — see functions/chunking.py) and k-gram combine
(sliding-window matmul) with whole-batch numpy calls; per-row Python
touches nothing but the text decode, and the shingle arrays leave as
one flat Arrow buffer. This is the "vectorized pandas/Arrow UDFs (no
per-row Python)" contract from BASELINE.json's input_hint.

Scale note: only hashed longs ever leave the UDF — token strings never
enter a shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from .arrow import array, lists, valid, values
from .chunking import _prefix_poly

# ---------------------------------------------------------------------------
# tokenization & shingles
# ---------------------------------------------------------------------------


def normalized_tokens(text: Column | str) -> Column:
    """Lowercased, \\s+ tokenization (FIXTURES.md §4). Empty text -> []."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(F.lower(c))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(normalized_tokens(text))


_SHINGLE_COMBINE = np.uint64(0xFF51AFD7ED558CCD | 1)  # odd


def _shingle_flat(
    texts: pa.Array, k: int, mul: np.uint64, add: np.uint64
) -> tuple[np.ndarray, np.ndarray, int]:
    """One Arrow batch of texts -> deduped (doc_idx, shingle_hash) arrays.

    Returns (sdoc, sh, n_rows): per-shingle doc index (sorted) and the
    distinct shingle hashes (uint64), sorted (doc, unsigned hash). The
    kernel shared by the array-emitting and count-only UDF variants —
    one implementation so the two can never drift."""
    n_rows = len(texts)
    bufs = [
        ("" if t is None else t).lower().encode("utf-8") for t in texts.to_pylist()
    ]
    # one buffer; docs separated by a space so tokens never cross docs
    buf = np.frombuffer(b" ".join(bufs), dtype=np.uint8)
    doc_off = np.zeros(n_rows, dtype=np.int64)
    if n_rows > 1:
        np.cumsum(
            np.fromiter((len(b) + 1 for b in bufs[:-1]), np.int64, n_rows - 1),
            out=doc_off[1:],
        )
    ws = np.isin(buf, (32, 9, 10, 13, 11, 12))  # \s
    nonws = ~ws
    starts = np.nonzero(nonws & np.concatenate(([True], ws[:-1])))[0]
    ends = np.nonzero(nonws & np.concatenate((ws[1:], [True])))[0] + 1
    _none = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64), n_rows
    if len(starts) < k:
        return _none
    tdoc = np.searchsorted(doc_off, starts, side="right") - 1
    P, pows = _prefix_poly(buf.astype(np.uint64))
    th = P[ends] - P[starts] * pows[ends - starts]
    # k-gram combine: one matmul over the sliding window of token hashes
    weights = np.array(
        [int(_SHINGLE_COMBINE) ** i % (1 << 64) for i in range(k - 1, -1, -1)],
        dtype=np.uint64,
    )
    win = np.lib.stride_tricks.sliding_window_view(th, k)
    sh = (win @ weights) * mul + add
    valid = tdoc[: len(sh)] == tdoc[k - 1 :]
    sdoc, sh = tdoc[: len(sh)][valid], sh[valid]
    if not len(sh):
        return _none
    order = np.lexsort((sh, sdoc))
    sdoc, sh = sdoc[order], sh[order]
    keep = np.concatenate(([True], (sdoc[1:] != sdoc[:-1]) | (sh[1:] != sh[:-1])))
    return sdoc[keep], sh[keep], n_rows


def _shingle_batch(
    texts: pa.Array, k: int, mul: np.uint64, add: np.uint64
) -> pa.Array:
    """One Arrow batch of texts -> per-row sorted distinct shingle hashes."""
    sdoc, sh, n_rows = _shingle_flat(texts, k, mul, add)
    return lists(np.bincount(sdoc, minlength=n_rows), sh.view(np.int64))


def shingle_hash_params(seed: int) -> tuple[np.uint64, np.uint64]:
    """The (mul, add) shingle-hash draw — ONE derivation shared by
    shingle_hashes and the fused enrich UDF (hashing.make_enrich_udf)
    so the borderline-verify recompute path stays bit-identical with
    the signature path by construction."""
    rng = np.random.default_rng(seed ^ 0x5318)
    mul = np.uint64(int(rng.integers(1, 1 << 62)) * 2 + 1)
    add = np.uint64(int(rng.integers(0, 1 << 63)))
    return mul, add


def shingle_hashes(text: Column | str, k: int, seed: int) -> Column:
    """Column of DISTINCT hashed k-word shingles (array<bigint>), sorted
    in UNSIGNED uint64 order (the emitted array<bigint> view is
    therefore NOT ascending when hashes >= 2^63 map to negative int64 —
    consumers are order-free set operations; do not binary-search these
    arrays). Fewer than k tokens yields an EMPTY array — the analog of
    the reference's dropped trailing partial block
    (src/compressor.c:88-93): explicit, routed to the exact tier only.
    """
    mul, add = shingle_hash_params(seed)

    @arrow_udf("array<bigint>")
    def shingles(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in it:
            yield _shingle_batch(texts, k, mul, add)

    return shingles(F.col(text) if isinstance(text, str) else text)


def gram_rows(df, k: int, seed: int):
    """(doc_id, text) frame -> exploded (doc_id, n, g) gram-membership rows via
    mapInArrow: one row per DISTINCT k-shingle per doc, with the doc's
    distinct-shingle count n riding along.

    The fan-out sibling of shingle_hashes for consumers that explode
    the shingle array anyway (the relational n-gram Jaccard query):
    emitting columnar numpy arrays straight into the Arrow batch skips
    the per-row Python list materialization AND the JVM-side explode
    generator entirely (guide §4.2 — hand whole batches to vectorized
    code). Shares `_shingle_flat`, so the gram set per doc is
    bit-identical to explode(shingle_hashes(...))."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    mul, add = shingle_hash_params(seed)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n", IntegerType()),
            StructField("g", LongType()),
        ]
    )

    def emit(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id")
            sdoc, sh, n_rows = _shingle_flat(batch.column("text"), k, mul, add)
            counts = np.bincount(sdoc, minlength=n_rows)
            yield pa.RecordBatch.from_arrays(
                [
                    array(pa.int64(), values(ids, np.int64)[sdoc], valid(ids)[sdoc]),
                    array(pa.int32(), counts[sdoc].astype(np.int32)),
                    array(pa.int64(), sh.view(np.int64)),
                ],
                names=["doc_id", "n", "g"],
            )

    return df.select("doc_id", "text").mapInArrow(emit, schema)


def make_shingle_count_udf(k: int, seed: int):
    """Arrow UDF: text -> int DISTINCT-shingle count.

    The column-pruned sibling of shingle_hashes for consumers that
    only read `size(shingles)` (e.g. the signature-shape oracle
    surface): Catalyst cannot prune columns through an opaque UDF
    (guide §4.1 applied to UDF *outputs*), so a count-only kernel skips
    the per-row Python list materialization and the array Arrow
    transfer back to the JVM entirely. Shares `_shingle_flat` with the
    array variant — counts are bit-identical to size(shingles) by
    construction."""
    mul, add = shingle_hash_params(seed)

    @arrow_udf("int")
    def shingle_count(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for texts in it:
            sdoc, _sh, n_rows = _shingle_flat(texts, k, mul, add)
            yield array(pa.int32(), np.bincount(sdoc, minlength=n_rows).astype(np.int32))

    return shingle_count
