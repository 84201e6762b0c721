"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` bit-for-bit.

Spark hashes a string column's UTF-8 bytes with the standard XXH64
algorithm (seed 42 by default). This module re-derives XXH64 from the
public specification (Yann Collet's xxHash) so Python-side kernels —
the Arrow classifier inference, test oracles — can share the SAME
feature/bucket ids as JVM Column expressions instead of maintaining a
parallel md5 contract. Verified against Spark output over ASCII,
unicode, empty, and >32-byte inputs (test_quality_classifier).
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_SEED = 42  # F.xxhash64's seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes) -> int:
    """Unsigned XXH64 of ``data`` under Spark's seed, 42."""
    seed = _SEED
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8],
                                      "little")
                v = (vs[j] + lane * _P2) & _M
                vs[j] = (_rotl(v, 31) * _P1) & _M
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((lane * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes) -> int:
    """Two's-complement signed view — exactly what F.xxhash64 emits
    as a Spark bigint."""
    h = xxh64(data)
    return h - (1 << 64) if h >= (1 << 63) else h
