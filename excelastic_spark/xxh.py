"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression.

The engine buckets terms with ``pmod(xxhash64(term), n_buckets)`` (build.py
bucket_expr) — evaluated JVM-side in executors at build time. The QUERY
side, however, was launching a one-row Spark job per first-seen term just
to learn its bucket (SnapshotState.buckets_for), putting a multi-ms JVM
round-trip on the cold-query path of an otherwise Spark-free head-node
lookup. This module computes the identical hash driver-side.

XXH64 is a public algorithm (Yann Collet, github.com/Cyan4973/xxHash,
BSD-2) and Spark's implementation
(org.apache.spark.sql.catalyst.expressions.XXH64) follows the reference
spec with seed 42 over the string's UTF-8 bytes. Exactness vs the Spark
expression is property-tested (tests/test_xxh.py) including unicode and
all tail lengths — the test IS the contract; if Spark ever diverged, the
gate and plan tests would catch it via bucket mismatches.

Strings are short (query terms), so per-call Python cost is ~us; this is
NOT used on per-posting paths.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed``; returns the UNSIGNED 64-bit value."""
    n = len(data)
    idx = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while idx + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[idx : idx + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[idx + 8 : idx + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[idx + 16 : idx + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[idx + 24 : idx + 32], "little"))
            idx += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while idx + 8 <= n:
        h ^= _round(0, int.from_bytes(data[idx : idx + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        idx += 8
    if idx + 4 <= n:
        h ^= (int.from_bytes(data[idx : idx + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        idx += 4
    while idx < n:
        h ^= (data[idx] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        idx += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxhash64_signed(data: bytes, seed: int = 42) -> int:
    """Spark's xxhash64 returns a SIGNED long; two's-complement view."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of build.bucket_expr:
    ``pmod(xxhash64(term), n_buckets)`` with Spark/Java pmod semantics."""
    h = xxhash64_signed(term.encode("utf-8"))
    return ((h % n_buckets) + n_buckets) % n_buckets
