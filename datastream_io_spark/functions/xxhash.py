"""Driver-side XXH64 matching Spark's ``F.xxhash64`` bit-for-bit.

The index layout buckets terms with ``pmod(xxhash64(term), n_buckets)``
(JVM-side at build time). Computing the SAME bucket on the driver from
the query terms alone lets the dictionary lookup (Q2) list only the
``term_bucket=K`` partition directories it needs — without this, a
query had to scan every dict file just to learn its own buckets.

Standard xxHash64 (Collet, public domain, https://xxhash.com), seed 42
(Spark's fixed seed for ``xxhash64``); strings are hashed as their
UTF-8 bytes exactly like Spark's UTF8String path. Equality with the JVM
implementation is pinned in tests/test_plans.py over ASCII, UTF-8
multibyte, and every length-class branch (<4, <8, <32, ≥32 bytes).

:func:`xxhash64_many` is the same hash over a whole Arrow string/binary
array at once (numpy lanes, one seed per value). The build uses it for
the term buckets of every term it writes and, with the seed chained
column to column, for the ``F.xxhash64(repo, path, commit)`` split of
every staged document, without a Spark job. :func:`term_bucket` stays
scalar: the query path hashes a handful of terms, where numpy's
per-call overhead would exceed the hashing.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MASK = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit xxHash64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v = (vs[j] + lane * _P2) & _MASK
                vs[j] = (_rotl(v, 31) * _P1) & _MASK
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = ((h * _P1) + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        h ^= (_rotl((lane * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h ^= (lane * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxhash64_str(s: str, seed: int = 42) -> int:
    """Signed value identical to Spark's ``F.xxhash64(string_col)``."""
    u = xxhash64_bytes(s.encode("utf-8"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


_N1, _N2, _N3, _N4, _N5 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4,
                                                     _P5))


def _nrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _nround(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _nrotl(acc + lane * _N2, 31) * _N1


def _hash_rows(m: np.ndarray, n: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each row of the zero-padded byte matrix ``m`` (width a
    multiple of 8), ``n`` real bytes per row. Rows advance in lockstep:
    every step is one numpy op over the rows that still have input for
    it, read through ``<u8`` / ``<u4`` views of the matrix."""
    w8 = m.view("<u8")
    w4 = m.view("<u4")
    stripes = n // 32
    h = seed + _N5
    big = np.flatnonzero(stripes > 0)
    if big.size:
        s = seed[big]
        acc = [s + _N1 + _N2, s + _N2, s.copy(), s - _N1]
        for k in range(int(stripes[big].max())):
            live = stripes[big] > k
            for j in range(4):
                acc[j] = np.where(live, _nround(acc[j], w8[big, 4 * k + j]),
                                  acc[j])
        hb = (_nrotl(acc[0], 1) + _nrotl(acc[1], 7) + _nrotl(acc[2], 12)
              + _nrotl(acc[3], 18))
        for v in acc:
            hb = (hb ^ _nround(np.zeros_like(v), v)) * _N1 + _N4
        h[big] = hb
    h += n.astype(np.uint64)
    word = 4 * stripes            # next unread 8-byte word of each row
    n8 = (n - 32 * stripes) // 8  # 8-byte lanes left (0-3)
    for j in range(3):
        r = np.flatnonzero(n8 > j)
        lane = w8[r, word[r] + j]
        hr = h[r] ^ _nround(np.zeros_like(lane), lane)
        h[r] = _nrotl(hr, 27) * _N1 + _N4
    byte = 8 * (word + n8)
    r = np.flatnonzero(n - byte >= 4)
    hr = h[r] ^ (w4[r, byte[r] // 4].astype(np.uint64) * _N1)
    h[r] = _nrotl(hr, 23) * _N2 + _N3
    byte[r] += 4
    for j in range(3):
        r = np.flatnonzero(n - byte > j)
        hr = h[r] ^ (m[r, byte[r] + j].astype(np.uint64) * _N5)
        h[r] = _nrotl(hr, 11) * _N1
    h ^= h >> np.uint64(33)
    h *= _N2
    h ^= h >> np.uint64(29)
    h *= _N3
    h ^= h >> np.uint64(32)
    return h


def xxhash64_many(values, seeds=42) -> np.ndarray:
    """Unsigned XXH64 of every value of a string or binary Arrow array
    (strings as their UTF-8 bytes), each with its own seed (``seeds``: a
    scalar or one per value). A null value returns its seed unchanged,
    so ``h = xxhash64_many(c, h)`` over columns c1, c2, ... chains like
    Spark's multi-column ``F.xxhash64(c1, c2, ...)``;
    ``.view(np.int64)`` is Spark's signed value. Values are grouped by
    length into zero-padded byte matrices of power-of-two width, so the
    padding stays under 2× the input bytes."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if pa.types.is_large_string(values.type) or pa.types.is_large_binary(
            values.type):
        values = values.cast(pa.large_binary())
        off_t = np.int64
    else:
        values = values.cast(pa.binary())
        off_t = np.int32
    count = len(values)
    out = np.broadcast_to(np.asarray(seeds).astype(np.uint64),
                          (count,)).copy()
    if count == 0:
        return out
    _, obuf, dbuf = values.buffers()
    off = np.frombuffer(obuf, off_t)[values.offset:values.offset + count + 1]
    off = off.astype(np.int64)
    data = (np.frombuffer(dbuf, np.uint8) if dbuf is not None
            else np.zeros(0, np.uint8))
    lens = np.diff(off)
    valid = np.flatnonzero(values.is_valid().to_numpy(zero_copy_only=False))
    # width class: the power of two ≥ the value's 8-byte words
    words = np.maximum((lens[valid] + 7) // 8, 1)
    width = 1 << np.ceil(np.log2(words)).astype(np.int64)
    for w in np.unique(width):
        rows = valid[width == w]
        n = lens[rows]
        m = np.zeros((rows.size, 8 * int(w)), np.uint8)
        total = int(n.sum())
        if total:
            row = np.repeat(np.arange(rows.size), n)
            col = np.arange(total) - np.repeat(np.cumsum(n) - n, n)
            m[row, col] = data[np.repeat(off[rows], n) + col]
        out[rows] = _hash_rows(m, n, out[rows])
    return out


def term_bucket(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)`` — the index bucket scheme."""
    return xxhash64_str(term) % n_buckets
