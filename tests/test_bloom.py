"""Per-file bloom-filter file skipping (lake/bloom.py + LakeTable
.build_bloom_index/read_keys): pruning on the CDC-natural shape where
zone maps can't help, per-key completeness under the MOR fold,
fail-open on unindexed files, and incremental maintenance."""

import random

import numpy as np
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake import bloom as B

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("v", T.LongType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)
S = "doc_id long, v long, payload string, op string"


def _mk_table(spark, path, n_epochs=6, per_epoch=300, strategy="mor"):
    t = LakeTable(str(path))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=4, merge_strategy=strategy)
    rnd = random.Random(7)
    keys_by_epoch = []
    for i in range(n_epochs):
        # random keys over a wide universe: every file spans ~the whole
        # key space, so (kmin, kmax) zone maps keep everything
        ks = rnd.sample(range(100_000), per_epoch)
        keys_by_epoch.append(ks)
        t.merge(
            spark.createDataFrame([(k, i, f"p{i}-{k}", "I") for k in ks], S),
            epoch_id=f"e-{i}",
        )
    return t, keys_by_epoch


def test_bloom_prunes_where_zone_maps_cannot(spark, tmp_path):
    t, keys_by_epoch = _mk_table(spark, tmp_path / "t")
    entries = [e for fs in t.manifest()["buckets"].values() for e in fs]
    # a key living in exactly one epoch
    only_first = next(
        k for k in keys_by_epoch[0]
        if not any(k in ks for ks in keys_by_epoch[1:])
    )
    before = len(t.files_for_keys(spark, [only_first]))
    built = t.build_bloom_index(spark, fpp=0.001)
    assert built == len(entries)
    after = t.files_for_keys(spark, [only_first])
    assert len(after) < before and len(after) <= 2, (before, len(after))
    rows = t.read_keys(spark, [only_first]).collect()
    assert [r["doc_id"] for r in rows] == [only_first]
    # absent key: opens (almost) nothing, returns nothing
    assert len(t.files_for_keys(spark, [123_456_789])) <= 1
    assert t.read_keys(spark, [123_456_789]).count() == 0


def test_new_files_fail_open_and_incremental_build(spark, tmp_path):
    t, keys_by_epoch = _mk_table(spark, tmp_path / "t", n_epochs=3)
    assert t.build_bloom_index(spark) > 0
    assert t.build_bloom_index(spark) == 0  # nothing missing
    k = keys_by_epoch[0][0]
    # post-build update + tombstone land in UNINDEXED files; the probe
    # must still see them (fail-open) and the fold must apply them
    t.merge(spark.createDataFrame([(k, 50, "NEW", "U")], S), epoch_id="u")
    assert t.read_keys(spark, [k]).first()["payload"] == "NEW"
    t.merge(spark.createDataFrame([(k, 60, None, "D")], S), epoch_id="d")
    assert t.read_keys(spark, [k]).count() == 0
    # incremental pass indexes exactly the two new epochs' files
    built = t.build_bloom_index(spark)
    assert built >= 2
    d = t.describe()
    assert d["files_with_blooms"] == d["n_data_files"]
    # still correct after full coverage (tombstone file now bloomed too)
    assert t.read_keys(spark, [k]).count() == 0


def test_probe_and_build_hashes_agree(spark, tmp_path):
    """The probe-side python positions must replay the numpy build
    positions bit-for-bit, including signed->unsigned conversion."""
    hs = [0, -1, 2**63 - 1, -(2**63), 123456789, -987654321]
    entry = B.build_bloom_bits(np.array(hs, dtype=np.int64), fpp=0.01)
    be = B.BloomEntry(entry)
    assert all(be.may_contain(h) for h in hs)
    # disjoint UNIFORM hashes (production inputs are xxhash64 outputs)
    # should mostly miss at fpp=1%
    rnd = random.Random(3)
    others = [rnd.getrandbits(64) - 2**63 for _ in range(200)]
    misses = sum(not be.may_contain(h) for h in others if h not in hs)
    assert misses >= 190


def test_bloom_on_cow_strategy(spark, tmp_path):
    t, keys_by_epoch = _mk_table(spark, tmp_path / "t", n_epochs=3, strategy="cow")
    t.build_bloom_index(spark)
    k = keys_by_epoch[1][5]
    rows = t.read_keys(spark, [k]).collect()
    assert [r["doc_id"] for r in rows] == [k]


def test_bloom_survives_rebucket(spark, tmp_path):
    """rebucket() rewrites every file under a new key->bucket mapping:
    old bloom entries are keyed by now-dead paths and must simply fail
    open (correct, un-pruned lookups) until an incremental rebuild
    re-covers the table."""
    t, keys_by_epoch = _mk_table(spark, tmp_path / "t", n_epochs=3)
    t.build_bloom_index(spark)
    k = keys_by_epoch[1][0]
    t.rebucket(spark, 8)
    # stale sidecars: no pruning claims, lookups still exact
    rows = t.read_keys(spark, [k]).collect()
    assert [r["doc_id"] for r in rows] == [k]
    d = t.describe()
    assert d["files_with_blooms"] == 0  # all paths are new
    built = t.build_bloom_index(spark)
    assert built == d["n_data_files"]
    rows = t.read_keys(spark, [k]).collect()
    assert [r["doc_id"] for r in rows] == [k]
    d2 = t.describe()
    assert d2["files_with_blooms"] == d2["n_data_files"]


def test_key_widening_invalidates_stale_blooms(spark, tmp_path):
    """xxhash64(int 8) != xxhash64(long 8), and at 2 buckets int 8 and
    long 8 also route to different buckets: blooms built before a
    key-column widening would be silent FALSE NEGATIVES, and the row
    itself would sit in the wrong bucket. The widening rewrites the
    table under the long key; entries record their build-time key type,
    probes ignore mismatched entries (fail open) and the next
    incremental build re-indexes every file."""
    t = LakeTable(str(tmp_path / "w"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.IntegerType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=2,
        merge_strategy="mor",
    )
    t.merge(
        spark.createDataFrame(
            [(i, 1, "I") for i in range(50)], "doc_id int, v long, op string"
        ),
        epoch_id="e0",
    )
    assert t.build_bloom_index(spark) > 0
    # widen the key via a long-typed batch (schema evolution)
    t.merge(
        spark.createDataFrame(
            [(1_000_000_000_000, 2, "I")], "doc_id long, v long, op string"
        ),
        epoch_id="e1",
    )
    # pre-widening entries are now unusable: lookups must FAIL OPEN and
    # still find the row (a stale entry would silently drop it)
    rows = t.read_keys(spark, [8]).collect()
    assert [r["doc_id"] for r in rows] == [8]
    d = t.describe()
    assert d["files_with_blooms"] == 0  # stale ktype not counted
    rebuilt = t.build_bloom_index(spark)  # ktype mismatch == missing
    assert rebuilt == d["n_data_files"]
    rows = t.read_keys(spark, [8]).collect()
    assert [r["doc_id"] for r in rows] == [8]
    assert t.read_keys(spark, [1_000_000_000_000]).count() == 1


def test_short_to_int_promotion_keeps_blooms(spark, tmp_path):
    """byte, short and int keys hash alike, so a short -> int promotion
    rewrites nothing and every bloom entry stays usable: the entries
    keep counting and keep pruning, and the next build indexes only the
    new file."""
    t = LakeTable(str(tmp_path / "s"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.ShortType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=2,
        merge_strategy="mor",
    )
    for i in range(3):
        # even keys over 0..3000 in every epoch: zone maps keep every
        # file for an odd probe inside the range, only blooms prune
        t.merge(
            spark.createDataFrame(
                [(6 * j + 2 * i, i, "I") for j in range(500)],
                "doc_id smallint, v long, op string",
            ),
            epoch_id=f"e{i}",
        )
    assert t.build_bloom_index(spark) == 6
    absent = [1001, 1501, 2001]
    assert t.files_for_keys(spark, absent) == []
    t.merge(
        spark.createDataFrame([(40_000, 9, "I")], "doc_id int, v long, op string"),
        epoch_id="e-int",
    )
    assert t.schema()["doc_id"].dataType == T.IntegerType()
    d = t.describe()
    assert (d["n_data_files"], d["files_with_blooms"]) == (7, 6)
    assert t.files_for_keys(spark, absent) == []
    assert sorted(r["doc_id"] for r in t.read_keys(spark, [6, 40_000]).collect()) == [6, 40_000]
    assert t.build_bloom_index(spark) == 1
