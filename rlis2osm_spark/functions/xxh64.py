"""Pure-Python XXH64 (public hash, xxhash.com spec) — the independent
oracle-side twin of Spark's ``F.xxhash64`` (which hashes a column's bytes
with XXH64, default seed 42; see Spark's XxHash64 expression docs).

Used ONLY to build expected-output oracles for the xxhash64-backed engine
operators (MinHash-LSH, SimHash): the oracle runs this CPython code over a
deterministically DERIVED input, Spark runs its JVM implementation — two
independent code paths that must agree byte-for-byte.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` -> unsigned 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k1 = _round(0, int.from_bytes(data[i:i + 8], "little"))
        h ^= k1
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes) -> int:
    """XXH64 (seed 42, Spark's) -> signed 64-bit (Spark's LongType view of
    the same bits)."""
    h = xxh64(data)
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str) -> int:
    """Signed XXH64 of a string's UTF-8 bytes — Spark ``xxhash64(col)``."""
    return xxh64_signed(s.encode("utf-8"))
