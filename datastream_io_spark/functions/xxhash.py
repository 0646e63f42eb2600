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
:func:`xxhash64_cols` chains the seed through several columns like the
multi-column ``F.xxhash64(c1, c2, ...)``, which assigns a document key
its build split without a Spark job.
"""

from __future__ import annotations

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


def xxhash64_cols(values, seed: int = 42) -> int:
    """Signed value identical to Spark's multi-column
    ``F.xxhash64(c1, c2, ...)`` over string columns, given each value's
    UTF-8 bytes (or None): each non-null value is hashed with the
    previous hash as its seed; a null leaves the hash unchanged."""
    h = seed
    for v in values:
        if v is not None:
            h = xxhash64_bytes(v, h)
    h &= _MASK
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """``pmod(xxhash64(term), n_buckets)`` — the index bucket scheme."""
    return xxhash64_str(term) % n_buckets
