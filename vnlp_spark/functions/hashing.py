"""Pure-python XXH64 matching Spark's ``F.xxhash64`` bit-for-bit.

Spark's hash expression (catalyst XxHash64, seed 42) is the engine's
deterministic id primitive — entity ids are ``xxhash64(canon_key, type)``
(operators/entity_resolution.py).  The DuckDB correctness oracle cannot
compute Spark's flavor of xxhash64 natively, so the fixture generator
uses THIS implementation (validated bit-for-bit against Spark in
tests/test_hashing.py) to pin (canon_key, type) -> entity_id maps the
oracle SQL can join.

Algorithm: the public XXH64 (Yann Collet, BSD) exactly as Spark's
``org.apache.spark.sql.catalyst.expressions.XXH64`` implements it —
little-endian words, and the int/long fast paths Spark uses for numeric
columns.  Multi-column semantics match ``HashExpression``: the running
hash seeds the next column's hash; null columns leave it unchanged.
"""
from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (unsigned 64-bit result)."""
    seed &= _M
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= length - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j: i + 8 * j + 8], "little")
                v = _rotl((v + k * _P2) & _M, 31)
                v = (v * _P1) & _M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = ((h * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while i <= length - 8:
        k = int.from_bytes(data[i: i + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= length - 4:
        k = int.from_bytes(data[i: i + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < length:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def xxh64_long(value: int, seed: int = 42) -> int:
    """Spark's 8-byte fast path (XXH64.hashLong) for long/timestamp cols."""
    seed &= _M
    value &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value * _P2) & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def xxh64_int(value: int, seed: int = 42) -> int:
    """Spark's 4-byte fast path (XXH64.hashInt) for int/date cols."""
    seed &= _M
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _to_signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64(*cols) -> int:
    """``F.xxhash64(*cols)`` in pure python (signed 64-bit, like Spark).

    Column typing follows the python value: ``str`` hashes as UTF-8 bytes,
    ``int`` as a Spark long, ``("int", v)`` tuples force the 4-byte int
    path, ``bytes`` as binary, ``None`` is skipped (null semantics).
    """
    h = 42  # Spark's hash seed
    for c in cols:
        if c is None:
            continue
        if isinstance(c, tuple) and len(c) == 2 and c[0] == "int":
            h = xxh64_int(c[1], h)
        elif isinstance(c, str):
            h = xxh64_bytes(c.encode("utf-8"), h)
        elif isinstance(c, bytes):
            h = xxh64_bytes(c, h)
        elif isinstance(c, int):
            h = xxh64_long(c, h)
        else:
            raise TypeError(f"unsupported column type {type(c)!r}")
    return _to_signed(h)
