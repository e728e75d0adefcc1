"""Parquet field ids: every column of every data file a table writes
carries the id the manifest gives it, ids on incoming frames are
ignored, and tables or sessions that cannot resolve columns by id are
refused instead of read by name."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake.table import _CV_ID, _DELETED_ID

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), False),
        T.StructField("v", T.LongType(), False),
        T.StructField("p", T.StringType(), True),
        T.StructField("q", T.StringType(), True),
    ]
)
B = "k int, v long, p string, q string, op string"


def _assert_file_ids(t: LakeTable) -> int:
    """Every column of every current data file carries the id its
    entry's schema gives its name; returns the number of files."""
    m = t.manifest()
    n = 0
    for entries in m["buckets"].values():
        for e in entries:
            ids = {
                f.name: f.metadata["parquet.field.id"]
                for f in T.StructType.fromJson(m["schemas"][str(e["schema_id"])]).fields
            }
            ids |= {"_deleted": _DELETED_ID, "_cv": _CV_ID}
            schema = pq.read_schema(os.path.join(t.root, e["path"]))
            for f in schema:
                assert int(f.metadata[b"PARQUET:field_id"]) == ids[f.name], (e, f)
            assert "_cv" in schema.names, e  # each row's commit version
            n += 1
    return n


def _state(spark, t) -> dict:
    return {r.k: r.asDict() for r in t.read(spark).collect()}


def test_every_writer_stamps_field_ids(spark, tmp_path):
    mor = LakeTable(str(tmp_path / "mor"))
    mor.create(SCHEMA, ["k"], "v", n_buckets=2, merge_strategy="mor")
    mor.merge(spark.createDataFrame([(i, 1, f"p{i}", "q", "I") for i in range(6)], B), epoch_id="m0")
    mor.rename_column("p", "r")
    rb = "k int, v long, r string, q string, op string"
    mor.merge(spark.createDataFrame([(1, 2, "r1", None, "U"), (2, 2, None, None, "D")], rb), epoch_id="m1")
    mor.merge(spark.createDataFrame([(3, 3, "r3", "q3", "U")], rb), epoch_id="m2")
    assert _assert_file_ids(mor)
    expect = _state(spark, mor)
    for op in (
        lambda: mor.compact_tiered(spark, min_run=2),
        lambda: mor.compact(spark, min_files=1),
        lambda: mor.purge_tombstones(spark),
        lambda: mor.rebucket(spark, 3),
    ):
        assert op() is not None
        assert _assert_file_ids(mor) and _state(spark, mor) == expect
    while not mor.split_buckets(spark, factor=2)["published"]:
        pass
    assert _assert_file_ids(mor) and _state(spark, mor) == expect

    cow = LakeTable(str(tmp_path / "cow"))
    cow.create(SCHEMA, ["k"], "v", n_buckets=2)
    cow.merge(spark.createDataFrame([(i, 1, f"p{i}", "q", "I") for i in range(6)], B), epoch_id="c0")
    cow.drop_column("q")
    cow.append(spark.createDataFrame([(9, 1, "p9")], "k int, v long, p string"))
    cow.overwrite_where(spark, "k = 0")
    cow.backfill(spark, {"n": "k * 2"})
    assert _assert_file_ids(cow)
    # a key widened to long rewrites every file (_rewrite_all)
    cow.merge(
        spark.createDataFrame([(1, 5, "w", 2, "U")], "k long, v long, p string, n int, op string"),
        epoch_id="c1",
    )
    assert cow.schema()["k"].dataType == T.LongType()
    assert _assert_file_ids(cow)
    assert {k: (r["p"], r["n"]) for k, r in _state(spark, cow).items()} == {
        1: ("w", 2), 2: ("p2", 4), 3: ("p3", 6), 4: ("p4", 8), 5: ("p5", 10), 9: ("p9", 18),
    }


def test_merge_of_another_tables_read_ignores_its_ids(spark, tmp_path):
    """A batch read from table `a` carries a's field ids; merged into
    `b` (other column order, other ids) it reads back by b's ids."""
    a = LakeTable(str(tmp_path / "a"))
    a.create(SCHEMA, ["k"], "v", n_buckets=2)
    a.merge(spark.createDataFrame([(i, 1, f"p{i}", f"q{i}", "I") for i in range(4)], B), epoch_id="a0")
    a.rename_column("p", "x")
    b = LakeTable(str(tmp_path / "b"))
    b.create(
        T.StructType([SCHEMA["q"], SCHEMA["k"], T.StructField("x", T.StringType()), SCHEMA["v"]]),
        ["k"], "v", n_buckets=2,
    )
    b.merge(a.read(spark).withColumn("op", F.lit("I")), epoch_id="b0")
    assert _assert_file_ids(b)
    assert _state(spark, b) == _state(spark, a)


def test_manifest_without_field_ids_is_refused(spark, tmp_path):
    """A manifest without the format marker is refused, whether it
    predates field ids or only the stored `_cv` column."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["k"], "v", n_buckets=2)
    path = t._version_path(1)
    with open(path) as f:
        rec = json.load(f)
    del rec["format_version"]
    no_ids = json.loads(json.dumps(rec))
    del no_ids["last_field_id"]
    for sch in no_ids["schemas"].values():
        for f in sch["fields"]:
            f["metadata"] = {}
    for old in (rec, no_ids):
        with open(path, "w") as f:
            json.dump(old, f)
        with pytest.raises(ValueError, match="predates format version 2"):
            LakeTable(t.root).read(spark)


def test_session_without_field_id_reads_is_refused(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["k"], "v", n_buckets=2)
    t.merge(spark.createDataFrame([(1, 1, "p", "q", "I")], B), epoch_id="e0")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    try:
        with pytest.raises(RuntimeError, match="fieldId.read.enabled"):
            t.read(spark)
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    assert t.read(spark).count() == 1


def _plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _stored_cv(t: LakeTable) -> dict:
    """{k: [the `_cv` each current data file stores for k]}."""
    out: dict = {}
    for fs in t.manifest()["buckets"].values():
        for e in fs:
            tbl = pq.read_table(os.path.join(t.root, e["path"]), columns=["k", "_cv"])
            for k, cv in zip(tbl["k"].to_pylist(), tbl["_cv"].to_pylist()):
                out.setdefault(k, []).append(cv)
    return out


def test_restamped_entry_cv_orders_the_mor_fold(spark, tmp_path, monkeypatch):
    """An entry whose `cv` differs from its snapshot dir (a commit
    retry re-stamps rebased delta entries) orders the MOR fold by the
    manifest's `cv` on every read path, and a rescale split and a
    compaction carry that `cv` on as the rows' stored `_cv`. Only a
    read of such an entry's file touches `_metadata.file_path`."""
    from tests.test_point_lookup import _both_paths

    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["k"], "v", n_buckets=1, merge_strategy="mor")
    first = t.merge(spark.createDataFrame([(1, 1, "first", None, "I")], B), epoch_id="e0").version
    t.merge(spark.createDataFrame([(1, 1, "second", None, "U")], B), epoch_id="e1")
    assert t.read(spark).first().p == "second"  # a version tie: the later commit wins
    # no entry is re-stamped: `_cv` is a plain column read
    assert "file_path" not in _plan_text(t.read(spark))
    base = t.current_version()
    m = t.manifest(base)
    m["buckets"] = {
        b: [{**e, "cv": base + 1} if f"snap-{first:08d}-" in e["path"] else e for e in fs]
        for b, fs in m["buckets"].items()
    }
    m["operation"], m["epoch_id"], m["lineage"] = "merge", None, []
    restamped = t._commit(m, base)
    assert "file_path" in _plan_text(t.read(spark))
    assert t.read(spark).first().p == "first"
    assert [r["p"] for r in _both_paths(spark, t, [1], monkeypatch)] == ["first"]
    # the split's rows keep the re-stamped cv, above the second commit's
    while not t.split_buckets(spark, factor=2)["published"]:
        pass
    assert "file_path" not in _plan_text(t.read(spark))
    assert sorted(_stored_cv(t)[1]) == [restamped - 1, restamped]
    assert t.read(spark).first().p == "first"
    assert [r["p"] for r in _both_paths(spark, t, [1], monkeypatch)] == ["first"]
    assert t.compact(spark, min_files=1) is not None
    assert _stored_cv(t) == {1: [restamped]}
    assert t.read(spark).first().p == "first"
    assert [r["p"] for r in _both_paths(spark, t, [1], monkeypatch)] == ["first"]
