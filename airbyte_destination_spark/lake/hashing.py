"""Spark's two key hashes, computed in Python with no JVM call.

`key_hashes(dt)(v)` is `(F.hash(col), F.xxhash64(col))` (Murmur3_x86_32
and XXH64, both seed 42) for one non-NULL value `v` of Spark type `dt`.
Bucket placement is `pmod(murmur3, n)` (`table.bucket_expr`) and the
per-file blooms hold xxhash64 (`bloom.py`), so point-lookup routing
needs both per probe key; computing them here spares every lookup its
py4j round trips.

The per-type dispatch follows Spark's `HashExpression`:
- boolean, byte, short, int and date hash as an int (`hashInt`);
- long, timestamp and timestamp_ntz hash as a long (`hashLong`);
- float and double hash their IEEE bits after -0.0 becomes 0.0 (Java's
  `floatToIntBits`/`doubleToLongBits` also fold every NaN into one);
- decimal with precision <= 18 hashes its unscaled long, wider decimals
  the unscaled value's two's-complement big-endian bytes;
- string (UTF-8) and binary hash their bytes. Spark's Murmur3 string
  hash (`hashUnsafeBytes`) mixes each tail byte alone, sign-extended,
  so it differs from the reference Murmur3 on lengths not divisible
  by 4; XXH64 is the reference algorithm.

Any other type raises TypeError. tests/test_hashing.py pins both hashes
to Spark over random values of every accepted type.
"""

from __future__ import annotations

import decimal
import struct

from pyspark.sql import types as T

_SEED = 42
_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF

_INT, _LONG, _BYTES = 0, 1, 2
_DEC = decimal.Context(prec=100)  # exact for every decimal(38, s)
_RANGES = {
    T.ByteType: 1 << 7, T.ShortType: 1 << 15, T.IntegerType: 1 << 31,
    T.LongType: 1 << 63,
}


def _signed(x: int, bits: int) -> int:
    return x - (1 << bits) if x >> (bits - 1) else x


# ----------------------------------------------------- Murmur3_x86_32

def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k: int) -> int:
    return (_rotl32((k * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h: int, k: int) -> int:
    return (_rotl32(h ^ k, 13) * 5 + 0xE6546B64) & _M32


def _fmix32(h: int, n: int) -> int:
    h ^= n
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _M32
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _M32
    return _signed(h ^ (h >> 16), 32)


def _m3_bytes(b: bytes) -> int:
    aligned = len(b) & ~3
    h = _SEED
    for (w,) in struct.iter_unpack("<I", b[:aligned]):
        h = _mix_h1(h, _mix_k1(w))
    for byte in b[aligned:]:  # one sign-extended byte per round
        h = _mix_h1(h, _mix_k1(byte | 0xFFFFFF00 if byte & 0x80 else byte))
    return _fmix32(h, len(b))


def _murmur3(kind: int, x) -> int:
    if kind == _INT:
        return _fmix32(_mix_h1(_SEED, _mix_k1(x & _M32)), 4)
    if kind == _LONG:
        u = x & _M64
        h = _mix_h1(_mix_h1(_SEED, _mix_k1(u & _M32)), _mix_k1(u >> 32))
        return _fmix32(h, 8)
    return _m3_bytes(x)


# --------------------------------------------------------------- XXH64

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _xx_word(h: int, lane: int) -> int:
    h ^= _xx_round(0, lane)
    return (_rotl64(h, 27) * _P1 + _P4) & _M64


def _xx_half(h: int, half: int) -> int:
    h ^= (half * _P1) & _M64
    return (_rotl64(h, 23) * _P2 + _P3) & _M64


def _xx_fmix(h: int) -> int:
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return _signed(h ^ (h >> 32), 64)


def _xx_bytes(b: bytes) -> int:
    n, off = len(b), 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _M64, _SEED + _P2, _SEED, (_SEED - _P1) & _M64]
        while off + 32 <= n:  # the 32-byte stripe loop
            lanes = struct.unpack_from("<4Q", b, off)
            v = [_xx_round(a, lane) for a, lane in zip(v, lanes)]
            off += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xx_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = _SEED + _P5
    h = (h + n) & _M64
    while off + 8 <= n:
        h = _xx_word(h, struct.unpack_from("<Q", b, off)[0])
        off += 8
    if off + 4 <= n:
        h = _xx_half(h, struct.unpack_from("<I", b, off)[0])
        off += 4
    for byte in b[off:]:
        h ^= (byte * _P5) & _M64
        h = (_rotl64(h, 11) * _P1) & _M64
    return _xx_fmix(h)


def _xxhash64(kind: int, x) -> int:
    if kind == _INT:
        return _xx_fmix(_xx_half((_SEED + _P5 + 4) & _M64, x & _M32))
    if kind == _LONG:
        return _xx_fmix(_xx_word((_SEED + _P5 + 8) & _M64, x & _M64))
    return _xx_bytes(x)


# ---------------------------------------------------- per-type dispatch

def _integral(v, bound: int) -> int:
    if isinstance(v, bool) or not isinstance(v, int):
        raise TypeError(f"expected an int, got {v!r}")
    if not -bound <= v < bound:
        raise ValueError(f"{v} is out of range for the key type")
    return v


def _encoder(dt: T.DataType):
    """value -> (kind, payload) for Spark type `dt`, as Spark's hash
    dispatch sees the value; TypeError for a type it does not hash."""
    if isinstance(dt, tuple(_RANGES)):
        bound = _RANGES[type(dt)]
        kind = _LONG if isinstance(dt, T.LongType) else _INT
        return lambda v: (kind, _integral(v, bound))
    if isinstance(dt, T.BooleanType):
        return lambda v: (_INT, int(bool(v)))
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        # PySpark's own conversion (a naive TimestampType value is local
        # time, a naive TimestampNTZType value is wall-clock UTC)
        kind = _INT if isinstance(dt, T.DateType) else _LONG
        return lambda v: (kind, dt.toInternal(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # Java's floatToIntBits / doubleToLongBits after Spark folds -0.0
        # into 0.0; every NaN has one bit pattern
        kind, fmt, nan = (
            (_INT, "<f", 0x7FC00000) if isinstance(dt, T.FloatType)
            else (_LONG, "<d", 0x7FF8000000000000)
        )

        def ieee(v):
            v = float(v) or 0.0
            if v != v:
                return kind, nan
            return kind, int.from_bytes(struct.pack(fmt, v), "little", signed=True)

        return ieee
    if isinstance(dt, T.DecimalType):
        def dec(v):
            # cast to the column's scale as Spark does (HALF_UP)
            d = decimal.Decimal(v).scaleb(dt.scale, _DEC)
            u = int(d.to_integral_value(decimal.ROUND_HALF_UP, _DEC))
            if abs(u) >= 10 ** dt.precision:
                raise ValueError(f"{v} does not fit {dt.simpleString()}")
            if dt.precision <= 18:
                return _LONG, u
            # Java's BigInteger.toByteArray: minimal two's complement
            n = (u if u >= 0 else ~u).bit_length() // 8 + 1
            return _BYTES, u.to_bytes(n, "big", signed=True)
        return dec
    if isinstance(dt, T.StringType) and dt.collation == "UTF8_BINARY":
        return lambda v: (_BYTES, v.encode("utf-8"))
    if isinstance(dt, T.BinaryType):
        return lambda v: (_BYTES, bytes(v))
    raise TypeError(f"key type {dt.simpleString()} is not hashed on the driver")


def key_hashes(dt: T.DataType):
    """value -> (murmur3, xxhash64) for non-NULL values of Spark type
    `dt`; raises TypeError at once if `dt` is not a hashed type."""
    enc = _encoder(dt)

    def both(v) -> tuple[int, int]:
        kind, x = enc(v)
        return _murmur3(kind, x), _xxhash64(kind, x)

    return both
