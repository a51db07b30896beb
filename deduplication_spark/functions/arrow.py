"""Arrow columns <-> numpy buffers at the UDF boundary, without pandas.

The kernels work on flat numpy buffers. These helpers read an Arrow
column's buffers in place (`np.frombuffer`) and build each UDF result
from its (validity, offsets, values) buffers with `pa.Array.from_buffers`,
so no batch passes through per-row Python objects on its way in or out.

They use only pyarrow calls that leave pandas unloaded. In pyarrow 16,
`pa.array`, `pa.chunked_array` and `Array.to_numpy` import pandas as a
side effect (~30 MB per Python worker); `from_buffers`,
`StructArray`/`RecordBatch.from_arrays` over Arrow children and
`to_pylist` do not.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Spark's array<bigint>, as the Arrow UDFs are declared to return it
LONGS = pa.list_(pa.field("element", pa.int64()))


def valid(arr: pa.Array) -> np.ndarray:
    """Per-row validity of `arr` (True where not NULL)."""
    n = len(arr)
    if arr.null_count == 0:
        return np.ones(n, dtype=bool)
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8), bitorder="little")
    return bits[arr.offset : arr.offset + n].astype(bool)


def values(arr: pa.Array, dtype) -> np.ndarray:
    """The values of a fixed-width Arrow array, read in place (read-only;
    NULL slots hold arbitrary values, see `valid`)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=dtype)
    return np.frombuffer(arr.buffers()[1], dtype, count=arr.offset + n)[arr.offset :]


def segments(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A list<bigint> column -> (flat int64 values, per-row lengths). A
    NULL row reads as empty and NULL elements are dropped."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    width = np.int64 if pa.types.is_large_list(arr.type) else np.int32
    off = np.frombuffer(arr.buffers()[1], width, count=arr.offset + n + 1)
    off = off[arr.offset :].astype(np.int64)
    lo, hi = off[0], off[-1]
    child = arr.values
    flat = values(child, np.int64)[lo:hi]
    lengths = np.diff(off)
    keep = valid(child)[lo:hi] & np.repeat(valid(arr), lengths)
    if not keep.all():
        flat = flat[keep]
        lengths = np.bincount(np.repeat(np.arange(n), lengths)[keep], minlength=n)
    return flat, lengths


def _bitmap(ok: np.ndarray | None) -> pa.Buffer | None:
    if ok is None or ok.all():
        return None
    return pa.py_buffer(np.packbits(ok, bitorder="little"))


def array(type_: pa.DataType, data: np.ndarray, ok: np.ndarray | None = None) -> pa.Array:
    """A fixed-width column of `type_` over `data` (its numpy dtype must
    match), NULL where `ok` is False."""
    if type_ == pa.bool_():
        buf = pa.py_buffer(np.packbits(data.astype(bool), bitorder="little"))
    else:
        buf = pa.py_buffer(np.ascontiguousarray(data))
    return pa.Array.from_buffers(type_, len(data), [_bitmap(ok), buf])


def lists(lengths: np.ndarray, flat: np.ndarray, ok: np.ndarray | None = None) -> pa.Array:
    """An array<bigint> column: row i holds the next `lengths[i]` values
    of `flat` (int64), NULL where `ok` is False (give such rows length 0)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(
        LONGS,
        len(lengths),
        [_bitmap(ok), pa.py_buffer(offsets)],
        children=[array(pa.int64(), flat)],
    )
