"""Vectorized 64-bit hashing kernels (numpy and Arrow, no per-row Python).

``fnv64`` is the engine's canonical URL hash: a column-vectorized FNV-1a
over a padded byte matrix, finalized with a splitmix64 mix of the length
(so zero-padding cannot collide with real prefixes). The same function is
used by the Spark pandas UDFs and by the serial reference oracle, which is
what makes the golden seen-set fixtures bit-exact.

Reference analog: the reference dedups URLs/names by exact string identity
in Python lists (/root/reference/youtube/get_youtube_v1.2.py:126-136,
/root/reference/twitter/twitter_comment.py:68-77); we dedup by 64-bit hash
of the canonical URL, with an exact rescue join for Bloom false positives.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_U64 = np.uint64
_FNV_OFFSET = _U64(0xCBF29CE484222325)
_FNV_PRIME = _U64(0x100000001B3)
_SM_GAMMA = _U64(0x9E3779B97F4A7C15)
_SM_M1 = _U64(0xBF58476D1CE4E5B9)
_SM_M2 = _U64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 arrays."""
    x = x.astype(_U64, copy=True)
    with np.errstate(over="ignore"):
        x += _SM_GAMMA
        x = (x ^ (x >> _U64(30))) * _SM_M1
        x = (x ^ (x >> _U64(27))) * _SM_M2
        x = x ^ (x >> _U64(31))
    return x


def _flat_utf8(arr: pa.Array, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat bytes, starts, lens) views over a large_string Arrow array."""
    off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
    offsets = np.frombuffer(off_buf, np.int64, n + 1, arr.offset * 8)
    lens = offsets[1:] - offsets[:-1]
    data = np.frombuffer(data_buf, np.uint8) if data_buf else np.zeros(0, np.uint8)
    flat = data[offsets[0]: offsets[-1]]
    starts = (offsets[:-1] - offsets[0]).astype(np.int64)
    return flat, starts, lens.astype(np.int64)


def _byte_matrix(values) -> tuple[np.ndarray, np.ndarray]:
    """Pack a string column (pd.Series OR pyarrow string array) into a
    zero-padded (n, max_len) uint8 matrix.

    Fast path: one Arrow conversion yields a single contiguous UTF-8
    buffer + offsets (no per-row bytes objects, no driver-side join);
    the padded matrix is then one fancy-index scatter. An Arrow array
    input skips the conversion entirely (the applyInArrow kernels hand
    columns straight through). Mixed-type input that Arrow rejects takes
    the pandas fallback, which produces identical bytes (UTF-8 both ways).
    """
    n = len(values)
    if n == 0:
        return np.zeros((0, 0), np.uint8), np.zeros(0, np.int64)
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        arr = values.combine_chunks() if isinstance(values, pa.ChunkedArray) else values
        arr = pc.cast(pc.fill_null(arr, ""), pa.large_string())
        flat, starts, lens = _flat_utf8(arr, n)
    else:
        try:
            s = values if values.dtype == object else values.astype(object)
            arr = pa.array(
                s.to_numpy(dtype=object, copy=False),
                type=pa.large_string(), from_pandas=True,
            )
            if arr.null_count:
                arr = pc.fill_null(arr, "")
            flat, starts, lens = _flat_utf8(arr, n)
        except (pa.ArrowInvalid, pa.ArrowTypeError, TypeError):
            flat = None
    if flat is None:
        enc = values.fillna("").astype(str).str.encode("utf-8")
        lens = enc.str.len().to_numpy(np.int64)
        flat = np.frombuffer(b"".join(enc.to_numpy()), np.uint8)
        starts = np.cumsum(lens) - lens
    width = int(lens.max()) if lens.size else 0
    mat = np.zeros((n, max(width, 1)), np.uint8)
    total = int(lens.sum())
    if total:
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(total) - np.repeat(starts, lens)
        mat[rows, cols] = flat
    return mat, lens


def fnv64(values: pd.Series, seed: int = 0) -> np.ndarray:
    """FNV-1a-64 of each string, column-vectorized; returns int64.

    Loop is over the max byte-width (tens of iterations), each a batch
    numpy op — vectorized across rows, never per-row Python. Rows are
    processed in descending-length order so the still-active set at every
    column is a contiguous prefix: each step is an in-place slice update
    (no per-column masks/allocations — ~4x over the np.where form, same
    bits out).

    ``seed`` != 0 mixes an independent offset basis (splitmix of the
    seed XOR'd into the FNV init state), giving a second independent
    hash lane over the same bytes; seed=0 is bit-identical to classic
    FNV-1a + length finalizer.
    """
    mat, lens = _byte_matrix(values)
    n = mat.shape[0]
    order = np.argsort(-lens, kind="stable")
    smat = mat[order]
    slens = lens[order]
    init = _FNV_OFFSET
    if seed:
        init = _FNV_OFFSET ^ splitmix64(np.array([seed], _U64))[0]
    h = np.full(n, init, _U64)
    with np.errstate(over="ignore"):
        for j in range(mat.shape[1]):
            # rows are length-sorted descending: actives are rows [0, k)
            k = int(np.searchsorted(-slens, -(j + 1), side="right"))
            if k == 0:
                break
            hk = h[:k]
            hk ^= smat[:k, j]
            hk *= _FNV_PRIME
        out = np.empty(n, _U64)
        out[order] = h
        out ^= splitmix64(lens.astype(_U64))
    return out.view(np.int64)


def fnv64_lanes(values: pd.Series, seed2: int) -> tuple[np.ndarray, np.ndarray]:
    """Two independent fnv64 lanes (seed 0 and ``seed2``) over ONE byte
    matrix and ONE column loop — bit-identical to calling
    ``fnv64(values)`` and ``fnv64(values, seed=seed2)``, at roughly half
    the cost (the Arrow conversion + padded-matrix scatter dominates and
    is shared; verified equal in tests/test_kernels.py)."""
    mat, lens = _byte_matrix(values)
    n = mat.shape[0]
    order = np.argsort(-lens, kind="stable")
    smat = mat[order]
    slens = lens[order]
    init2 = _FNV_OFFSET ^ splitmix64(np.array([seed2], _U64))[0]
    h1 = np.full(n, _FNV_OFFSET, _U64)
    h2 = np.full(n, init2, _U64)
    with np.errstate(over="ignore"):
        for j in range(mat.shape[1]):
            k = int(np.searchsorted(-slens, -(j + 1), side="right"))
            if k == 0:
                break
            col = smat[:k, j]
            hk = h1[:k]
            hk ^= col
            hk *= _FNV_PRIME
            hk2 = h2[:k]
            hk2 ^= col
            hk2 *= _FNV_PRIME
        fin = splitmix64(lens.astype(_U64))
        out1 = np.empty(n, _U64)
        out1[order] = h1
        out1 ^= fin
        out2 = np.empty(n, _U64)
        out2[order] = h2
        out2 ^= fin
    return out1.view(np.int64), out2.view(np.int64)


def fnv64_i64(keys: np.ndarray, salt: int = 0) -> np.ndarray:
    """Mix an int64 array into a fresh 64-bit space (for Bloom k-hashing)."""
    return splitmix64(keys.astype(np.int64).view(_U64) ^ _U64(salt & 0xFFFFFFFFFFFFFFFF)).view(
        np.int64
    )


def pmod_bucket(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """Non-negative modulo bucket assignment, same semantics as Spark pmod."""
    return (hashes.view(_U64) % _U64(n_buckets)).astype(np.int32)
