"""lake/hashing.py against Spark: the driver-side Murmur3 and XXH64 must
equal `F.hash`, `F.xxhash64` and the bucket rule `pmod(F.hash, n)` on
every value of every key type the module accepts — point-lookup routing
trusts them to pick the buckets and bloom bits the writes used."""

import datetime
import decimal
import math
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import hashing

BUCKETS = (1, 7, 32)
# one char per UTF-8 width: 1 (with NUL), 2, 3 and 4 bytes
CHARS = ["a", "Z", "0", "\x00", "é", "ß", "€", "語", "😀", "𝄞"]


def _ints(rng, bits, n=200):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return [lo, hi, lo + 1, hi - 1, 0, -1, 1] + [
        rng.randint(lo, hi) for _ in range(n)
    ]


def _strings(rng):
    out = [""] + [c for c in CHARS] + ["".join(CHARS)]
    for _ in range(300):
        out.append("".join(rng.choice(CHARS) for _ in range(rng.randint(0, 40))))
    # every byte length from 0 to 80: each length mod 4, past one stripe
    out += ["a" * n for n in range(81)]
    return out


def _values(rng, dt):
    if isinstance(dt, T.BooleanType):
        return [True, False]
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _ints(rng, {1: 8, 2: 16, 4: 32, 8: 64}[
            {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8}[type(dt)]
        ])
    if isinstance(dt, T.DateType):
        base = datetime.date(1, 1, 1).toordinal()
        span = datetime.date(9999, 12, 31).toordinal() - base
        return [datetime.date(1970, 1, 1), datetime.date(1969, 12, 31)] + [
            datetime.date.fromordinal(base + rng.randint(0, span)) for _ in range(200)
        ]
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        epoch = datetime.datetime(1970, 1, 1)
        out = [epoch, epoch - datetime.timedelta(microseconds=1)]
        for _ in range(200):  # naive datetimes, 1900-2100, microseconds
            out.append(epoch + datetime.timedelta(
                seconds=rng.randint(-70 * 365 * 86400, 130 * 365 * 86400),
                microseconds=rng.randint(0, 999_999),
            ))
        if isinstance(dt, T.TimestampType):
            utc = datetime.timezone.utc
            out += [v.replace(tzinfo=utc) for v in out[:20]]
        return out
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        big = 3.4e38 if isinstance(dt, T.FloatType) else 1.7e308
        out = [0.0, -0.0, 1.0, -1.0, math.inf, -math.inf, math.nan, big, -big,
               1e-45 if isinstance(dt, T.FloatType) else 5e-324]
        return out + [rng.uniform(-1e6, 1e6) for _ in range(100)] + [
            rng.uniform(-1, 1) * 10 ** rng.randint(-30, 30) for _ in range(100)
        ]
    if isinstance(dt, T.DecimalType):
        top = 10 ** dt.precision - 1
        units = [0, 1, -1, top, -top, 127, 128, -128, -129, 255, 256] + [
            rng.randint(-top, top) for _ in range(200)
        ] + [-rng.randint(0, 10 ** rng.randint(1, dt.precision) - 1) for _ in range(50)]
        return [decimal.Decimal(f"{u}E-{dt.scale}") for u in units]  # exact
    if isinstance(dt, T.StringType):
        return _strings(rng)
    if isinstance(dt, T.BinaryType):
        return [b"", b"\x00", b"\x80", b"\xff\xff\xff"] + [
            bytes(rng.randint(0, 255) for _ in range(rng.randint(0, 80)))
            for _ in range(200)
        ]
    raise AssertionError(dt)


TYPES = [
    T.BooleanType(), T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
    T.DateType(), T.TimestampType(), T.TimestampNTZType(), T.FloatType(),
    T.DoubleType(), T.DecimalType(10, 2), T.DecimalType(18, 0),
    T.DecimalType(19, 3), T.DecimalType(38, 10), T.StringType(), T.BinaryType(),
]


@pytest.mark.parametrize("dt", TYPES, ids=lambda dt: dt.simpleString())
def test_hashes_match_spark(spark, dt):
    rng = random.Random(f"hash-{dt.simpleString()}")
    values = _values(rng, dt)
    df = spark.createDataFrame(
        list(enumerate(values)),
        T.StructType([T.StructField("i", T.IntegerType()), T.StructField("v", dt)]),
    )
    got = {
        r[0]: tuple(r[1:])
        for r in df.select(
            "i", F.hash("v"), F.xxhash64("v"),
            *[F.pmod(F.hash("v"), F.lit(n)) for n in BUCKETS],
        ).collect()
    }
    hashes = hashing.key_hashes(dt)
    mismatches = []
    for i, v in enumerate(values):
        m3, xx = hashes(v)
        mine = (m3, xx, *[m3 % n for n in BUCKETS])
        if mine != got[i]:
            mismatches.append((v, mine, got[i]))
    assert mismatches == [], mismatches[:5]
    assert len(got) == len(values)


@pytest.mark.parametrize(
    "dt",
    [T.ArrayType(T.LongType()), T.StructType([T.StructField("a", T.LongType())]),
     T.StringType("UTF8_LCASE"), T.NullType()],
    ids=lambda dt: dt.simpleString(),
)
def test_unhashed_types_raise(dt):
    with pytest.raises(TypeError):
        hashing.key_hashes(dt)


def test_integral_probe_values_are_checked():
    with pytest.raises(ValueError):
        hashing.key_hashes(T.IntegerType())(1 << 31)
    with pytest.raises(TypeError):
        hashing.key_hashes(T.LongType())("5")
