"""Spark-compatible XXH64 outside the engine (numpy-vectorized).

Spark's ``xxhash64`` expression is plain XXH64 (Collet's public
algorithm, also implemented in Spark's ``XXH64.java``) with seed 42
and per-argument chaining: ``hash = 42; for arg: hash = XXH64(arg,
seed=hash)`` where longs hash as one 8-byte block, ints as one 4-byte
block, and strings as their UTF-8 bytes.  Re-deriving it here is what
lets the MinHash/SimHash sketch queries carry REAL DuckDB oracles:
the sketch (the only engine-specific part) is recomputed
independently and frozen into the SQL, and DuckDB does the relational
verification work itself (the frozen-sketch oracle: the
``llmdata/dedup.py`` sketches, re-derived and frozen by
``llmdata/sketch_oracle.py``).

Every function takes/returns ``numpy.uint64`` (two's-complement view
of Spark's signed long); :func:`to_signed` converts for comparison
with collected Spark values.  Parity with the engine is pinned by
``tests/test_llmdata.py::test_xxh64_matches_spark`` on strings,
longs, ints, and chained forms.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_SEED = np.uint64(42)

_ERR = np.geterr()


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def hash_long(v, seed) -> np.ndarray:
    """XXH64 of one 8-byte little-endian block == Spark hashLong.
    ``v``/``seed``: uint64 scalars or arrays (broadcast)."""
    with np.errstate(over="ignore"):
        v = np.asarray(v, dtype=np.uint64)
        seed = np.asarray(seed, dtype=np.uint64)
        h = seed + _P5 + np.uint64(8)
        h = h ^ (_rotl(v * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def hash_int(v, seed) -> np.ndarray:
    """XXH64 of one 4-byte block == Spark hashInt (int argument)."""
    with np.errstate(over="ignore"):
        v = np.asarray(v, dtype=np.uint64) & np.uint64(0xFFFFFFFF)
        seed = np.asarray(seed, dtype=np.uint64)
        h = seed + _P5 + np.uint64(4)
        h = h ^ (v * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 over a byte string (scalar; standard algorithm, the form
    Spark applies to UTF-8 string arguments).  Returns uint64 as int."""
    mask = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & mask

    def fmix(h):
        h ^= h >> 33
        h = (h * int(_P2)) & mask
        h ^= h >> 29
        h = (h * int(_P3)) & mask
        h ^= h >> 32
        return h

    p1, p2, p3, p4, p5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))
    def rnd(acc, k1):
        acc = (acc + k1 * p2) & mask
        return (rotl(acc, 31) * p1) & mask

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + p1 + p2) & mask
        v2 = (seed + p2) & mask
        v3 = seed & mask
        v4 = (seed - p1) & mask
        while i + 32 <= n:
            v1 = rnd(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = rnd(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = rnd(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = rnd(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & mask
        for v in (v1, v2, v3, v4):
            h ^= rnd(0, v)
            h = (h * p1 + p4) & mask
    else:
        h = (seed + p5) & mask
    h = (h + n) & mask
    while i + 8 <= n:
        h ^= rnd(0, int.from_bytes(data[i : i + 8], "little"))
        h = (rotl(h, 27) * p1 + p4) & mask
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * p1) & mask
        h = (rotl(h, 23) * p2 + p3) & mask
        i += 4
    while i < n:
        h ^= (data[i] * p5) & mask
        h = (rotl(h, 11) * p1) & mask
        i += 1
    return fmix_scalar(h)


def fmix_scalar(h: int) -> int:
    mask = (1 << 64) - 1
    h ^= h >> 33
    h = (h * int(_P2)) & mask
    h ^= h >> 29
    h = (h * int(_P3)) & mask
    h ^= h >> 32
    return h


def hash_string(s: str, seed: int = int(SPARK_SEED)) -> int:
    """Spark ``xxhash64(string_col)`` (UTF-8 bytes, seed 42)."""
    return hash_bytes(s.encode("utf-8"), seed)


def to_signed(u) -> np.ndarray:
    """uint64 two's-complement view → int64 (Spark's long)."""
    return np.asarray(u, dtype=np.uint64).astype(np.int64)


def chain_longs(values: list) -> int:
    """Spark ``xxhash64(l1, l2, ...)`` over long arguments: the seed
    chains through each block."""
    h = int(SPARK_SEED)
    for v in values:
        h = int(hash_long(np.uint64(v & ((1 << 64) - 1)), np.uint64(h)))
    return h
