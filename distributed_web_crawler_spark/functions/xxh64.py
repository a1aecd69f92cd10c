"""Pure-Python mirror of Spark's ``xxhash64`` expression (XXH64, seed 42).

Independent golden-model arithmetic for oracles over hash-seeded operators
(the WDS shard assignment, the training mix's shard keys): DuckDB cannot
evaluate Spark's xxhash64, but a verified Python mirror can compute the
expected hashes, which the oracle SQL then consumes as literal VALUES
while re-doing the relational part independently in SQL.

Algorithm: reference XXH64 (public spec, github.com/Cyan4973/xxHash;
Spark's port is sql/catalyst XXH64.java — reference class, not copied:
this is the spec algorithm in Python ints). Spark specifics mirrored here:
- column values hash by type: int → 4-byte LE block, long → 8-byte LE
  block, string/binary → the UTF-8 byte stream;
- multi-column ``xxhash64(c1, c2, …)`` chains: the hash of column k seeds
  column k+1; the initial seed is 42;
- the result is Java's signed long.

Property-tested against Spark itself in tests/test_xxh64_mirror.py
(hypothesis fuzz over strings/longs/ints and multi-column chains).
"""

from __future__ import annotations

import struct

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string (unsigned result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (_rotl((v1 + k1 * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + k2 * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + k3 * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + k4 * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M, 31) * _P1) & _M)) * _P1
                 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ ((_rotl((k1 * _P2) & _M, 31) * _P1) & _M), 27)
              * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((k1 * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return _fmix(h)


def hash_long(v: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl(((v & _M) * _P2) & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def hash_int(v: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _signed(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def xxhash64(*values, seed: int = SPARK_SEED) -> int:
    """Mirror of ``F.xxhash64(*cols)``: chained per-value hashing, signed
    64-bit result. Value dispatch by Python type: int in int32 range with
    ``int32=True`` hashes as a 4-byte block (Spark IntegerType literals),
    plain ints as LongType, str/bytes as the byte stream. Pass
    ``("i32", n)`` tuples to force IntegerType hashing of a value."""
    h = seed
    for v in values:
        if isinstance(v, tuple) and len(v) == 2 and v[0] == "i32":
            h = hash_int(v[1], h)
        elif isinstance(v, bool):
            raise TypeError("boolean hashing not mirrored")
        elif isinstance(v, int):
            h = hash_long(v, h)
        elif isinstance(v, str):
            h = hash_bytes(v.encode("utf-8"), h)
        elif isinstance(v, (bytes, bytearray)):
            h = hash_bytes(bytes(v), h)
        elif v is None:
            continue  # Spark skips null columns (hash unchanged)
        else:
            raise TypeError(f"unsupported type {type(v)}")
    return _signed(h)
