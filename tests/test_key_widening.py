"""Key-column widening keeps every key in the bucket it routes to.

Buckets are pmod(murmur3(key), n), and Spark hashes an int and the same
value as a long differently: at 4 buckets int 5 sits in bucket 2 and
long 5 in bucket 0. So a merge that promotes a bucket column to long
rewrites the table under the long type in the same commit, and any key
type change other than an integral promotion is refused.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake import hashing
from airbyte_destination_spark.lake import table as lake_table

BATCH = "doc_id {}, v long, s string, op string"


def _table(spark, tmp_path, strategy, key_type=T.IntegerType(), n=4) -> LakeTable:
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", key_type, False),
                T.StructField("v", T.LongType(), False),
                T.StructField("s", T.StringType(), True),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=n,
        merge_strategy=strategy,
    )
    t.merge(
        spark.createDataFrame(
            [(i, 1, f"a{i}", "I") for i in range(8)],
            BATCH.format(key_type.simpleString()),
        ),
        epoch_id="e-0",
    )
    return t


def _widen(spark, t, rows, epoch):
    t.merge(spark.createDataFrame(rows, BATCH.format("long")), epoch_id=epoch)


def _state(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("doc_id", "v", "s").collect())


def _lookup(spark, t, keys, monkeypatch) -> list[tuple]:
    """read_keys on the driver path and on the Spark path; both must
    agree."""
    local = _state(t.read_keys(spark, keys))
    with monkeypatch.context() as mp:
        mp.setattr(lake_table, "_LOOKUP_DRIVER_MAX_BYTES", -1)
        assert _state(t.read_keys(spark, keys)) == local
    return local


def _buckets_holding(t, key) -> set[int]:
    """Buckets whose live files hold a row (live or tombstone) of `key`."""
    return {
        int(b)
        for b, entries in t.manifest()["buckets"].items()
        for e in entries
        if key in pq.read_table(os.path.join(t.root, e["path"]))["doc_id"].to_pylist()
    }


def test_cow_widening_update_replaces_the_old_row(spark, tmp_path):
    """COW merges rewrite only the buckets a batch touches: without the
    rewrite, the update of long 5 lands in bucket 0 and the int row in
    bucket 2 survives beside it."""
    assert hashing.key_hashes(T.IntegerType())(5)[0] % 4 == 2
    assert hashing.key_hashes(T.LongType())(5)[0] % 4 == 0
    t = _table(spark, tmp_path, "cow")
    before = t.current_version()
    _widen(spark, t, [(5, 2, "new5", "U")], "e-1")
    assert t.schema()["doc_id"].dataType == T.LongType()
    assert t.current_version() == before + 1  # one consistent commit
    got = _state(t.read(spark))
    assert [r for r in got if r[0] == 5] == [(5, 2, "new5")]
    assert len(got) == 8
    assert _buckets_holding(t, 5) == {0}
    # time travel to the version before still reads the int rows
    assert (5, 1, "a5") in _state(t.read(spark, version=before))


def test_mor_widening_lookup_finds_pre_widening_rows(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path, "mor")
    _widen(spark, t, [(100, 2, "x", "I")], "e-1")
    assert _lookup(spark, t, [5, 100, 6], monkeypatch) == [
        (5, 1, "a5"), (6, 1, "a6"), (100, 2, "x")
    ]


def test_mor_widening_update_then_compact(spark, tmp_path, monkeypatch):
    """Compaction folds per bucket: it rewrites the bucket holding the
    update (base + delta) and leaves single-file buckets alone, so the
    old row of key 5 must not still sit in another bucket."""
    t = _table(spark, tmp_path, "mor")
    # int 12 sits in bucket 0, so bucket 0 holds two files after the
    # update and compacts, while bucket 2 (int 5's) keeps one file
    t.merge(
        spark.createDataFrame([(12, 1, "a12", "I")], BATCH.format("int")),
        epoch_id="e-1",
    )
    _widen(spark, t, [(5, 2, "new5", "U")], "e-2")
    assert t.compact(spark) is not None
    assert _buckets_holding(t, 5) == {0}
    ro = _state(t.read(spark, read_optimized=True))
    assert [r for r in ro if r[0] == 5] == [(5, 2, "new5")]
    assert [r for r in _state(t.read(spark)) if r[0] == 5] == [(5, 2, "new5")]
    assert _lookup(spark, t, [5], monkeypatch) == [(5, 2, "new5")]


def test_mor_widening_delete_then_purge(spark, tmp_path, monkeypatch):
    """A delete of a pre-widening key whose bucket changes, then
    purge_tombstones: the purge drops the tombstone, which must not
    bring back the old row from its old bucket."""
    t = _table(spark, tmp_path, "mor")
    _widen(spark, t, [(5, 3, None, "D")], "e-1")
    assert 5 not in {r[0] for r in _state(t.read(spark))}
    assert _lookup(spark, t, [5], monkeypatch) == []
    t.purge_tombstones(spark)
    got = _state(t.read(spark))
    assert 5 not in {r[0] for r in got} and len(got) == 7
    assert _lookup(spark, t, [5, 4], monkeypatch) == [(4, 1, "a4")]


def test_backfill_widening_the_key_rewrites_first(spark, tmp_path, monkeypatch):
    """backfill's schema commit evolves through the same rule: after it
    alone (no bucket group run yet) lookups find every row."""
    t = _table(spark, tmp_path, "cow")
    out = t.backfill(spark, {"doc_id": "cast(doc_id as bigint)"}, max_groups=0)
    assert out["schema_evolved"] and not out["complete"]
    assert t.schema()["doc_id"].dataType == T.LongType()
    assert _lookup(spark, t, [5, 2], monkeypatch) == [(2, 1, "a2"), (5, 1, "a5")]


def test_key_type_rules(spark, tmp_path):
    """short -> int keeps every hash, so it rewrites nothing; a change to
    a non-integral type, or the collapse to string, is refused."""
    t = _table(spark, tmp_path, "mor", key_type=T.ShortType())
    paths = {e["path"] for fs in t.manifest()["buckets"].values() for e in fs}
    t.merge(
        spark.createDataFrame([(9, 2, "n9", "I")], BATCH.format("int")),
        epoch_id="e-1",
    )
    assert t.schema()["doc_id"].dataType == T.IntegerType()
    assert paths <= {e["path"] for fs in t.manifest()["buckets"].values() for e in fs}
    assert [r[0] for r in _state(t.read_keys(spark, [3, 9]))] == [3, 9]
    version = t.current_version()
    for other in ("double", "decimal(20,0)", "string"):
        with pytest.raises(ValueError, match=r"'doc_id' cannot change type from int to"):
            t.merge(
                spark.createDataFrame([], BATCH.format(other)), epoch_id=f"bad-{other}"
            )
    assert t.current_version() == version
