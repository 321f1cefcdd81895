"""The Arrow kernel boundary: numpy views of the arrays a ``mapInArrow`` /
``arrow_udf`` batch delivers, and Arrow list arrays built back from flat
numpy values.

A StringArray already is one utf-8 data buffer plus row offsets, and a
ListArray one flat values buffer plus row offsets — exactly what the
numpy kernels (textkernel, minhash, simhash, suffixes) work on. Reading
them as views skips the pandas conversion and the per-row
``str.encode`` / ``np.concatenate`` that the pandas boundary needed
(PAPERS.md, "Accelerating Python UDFs in Vectorized Query Execution").
Null slots are coalesced JVM-side (to ``""`` or ``[]``) before the
crossing, so no kernel sees one.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def utf8_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a string array, no copy: row i's utf-8 bytes are
    ``data[offsets[i]:offsets[i + 1]]``. Honours a sliced array's
    ``offset`` and both 32- and 64-bit (large_string) offsets."""
    if len(arr) == 0:
        return np.zeros(1, dtype=np.int64), np.empty(0, dtype=np.uint8)
    _, off_buf, data_buf = arr.buffers()
    off_t = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(off_buf, dtype=off_t)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf else np.empty(0, np.uint8)
    return offsets.astype(np.int64), data


def list_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, row lengths) of a list array, values without a copy."""
    offsets = arr.offsets.to_numpy().astype(np.int64)
    flat = arr.values.to_numpy(zero_copy_only=True)[offsets[0] : offsets[-1]]
    return flat, np.diff(offsets)


def ragged(rows: list[np.ndarray], dtype) -> tuple[np.ndarray, np.ndarray]:
    """Per-row arrays of ``dtype`` -> (flat values, row lengths), the list
    layout; no rows gives an empty ``dtype`` array."""
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    return np.concatenate([np.empty(0, dtype=dtype), *rows]), lens


def list_array(flat: np.ndarray, lens: np.ndarray) -> pa.ListArray:
    """Flat values + row lengths -> an Arrow list array (32-bit offsets;
    the int32 conversion raises rather than wraps on overflow)."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), pa.array(flat))


def matrix_rows(m: np.ndarray) -> pa.ListArray:
    """An (n, w) matrix -> an Arrow list array of its n rows."""
    return list_array(m.reshape(-1), np.full(len(m), m.shape[1], dtype=np.int64))
