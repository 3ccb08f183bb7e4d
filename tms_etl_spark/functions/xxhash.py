"""Pure-Python twin of Spark's ``xxhash64`` expression.

Spark's ``F.xxhash64(c1, c2, ...)`` applies the public XXH64
small-input path per column, chaining the running hash as the next
column's seed (seed 42 to start) — see
``org.apache.spark.sql.catalyst.expressions.XxHash64`` /
``o.a.s.sql.catalyst.expressions.XXH64`` (Apache Spark source,
``hashInt``/``fmix``). Re-implementing it driver-side
lets operators that derive *deterministic pseudo-randomness* from
xxhash64 (LSH hyperplanes, MinHash coefficients) compute the same
values for a literal (e.g. an ANN query vector) in plain Python —
no Spark job for the query side of a lookup.

``test_xxhash64_matches_spark`` pins bit-equality against the real
expression.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _hash_int(value: int, seed: int) -> int:
    """XXH64 of one 4-byte int (Spark hashes IntegerType this way)."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_ints(*values: int, seed: int = 42) -> int:
    """``F.xxhash64(lit(v1), lit(v2), ...)`` for int32 literals:
    per-value XXH64 with the running hash as the next seed. Returns
    Spark's signed 64-bit result."""
    h = seed & _M64
    for v in values:
        h = _hash_int(v, h)
    return _signed(h)


def srem(a: int, m: int) -> int:
    """Java/Spark ``%`` (truncated remainder: sign follows the
    dividend) — Python's ``%`` is floored and differs for a < 0."""
    return -((-a) % m) if a < 0 else a % m
