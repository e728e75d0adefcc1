"""`lake_changes` Python Data Source (lake/datasource.py): streaming a
MOR table's committed change tail into Structured Streaming — full
tail with tombstones, maintenance-commit skipping, checkpoint-resumed
incremental delivery, schema-evolution alignment, cow refusal."""

import pytest
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("change_lsn", T.LongType(), False),
    ]
)
S = "doc_id string, tokens array<int>, change_lsn long, op string"


@pytest.fixture()
def mor_table(spark, tmp_path):
    spark.dataSource.register(LakeChangesDataSource)
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "change_lsn", n_buckets=4, merge_strategy="mor")
    t.merge(
        spark.createDataFrame([("d1", [1], 1, "I"), ("d2", [2], 2, "I")], S),
        epoch_id="e0",
    )
    t.merge(
        spark.createDataFrame([("d1", [3], 3, "U"), ("d2", None, 4, "D")], S),
        epoch_id="e1",
    )
    return t


def _drain(spark, root, ckpt, got):
    q = (
        spark.readStream.format("lake_changes")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(lambda bdf, eid: got.extend(bdf.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_full_tail_tombstones_and_maintenance_skip(spark, tmp_path, mor_table):
    t = mor_table
    t.compact(spark)  # maintenance commit: must contribute NO rows
    got = []
    _drain(spark, t.root, str(tmp_path / "ck"), got)
    assert len(got) == 4
    by_lsn = {r["change_lsn"]: r for r in got}
    assert by_lsn[4]["_deleted"] is True and by_lsn[4]["doc_id"] == "d2"
    assert by_lsn[3]["tokens"] == [3] and by_lsn[3]["_deleted"] is False
    # versions order the tail; both epochs distinct
    assert by_lsn[1]["_change_version"] < by_lsn[3]["_change_version"]


def test_checkpoint_resume_delivers_only_new_commits(spark, tmp_path, mor_table):
    t = mor_table
    ck = str(tmp_path / "ck")
    got = []
    _drain(spark, t.root, ck, got)
    assert len(got) == 4
    t.merge(spark.createDataFrame([("d9", [9], 9, "I")], S), epoch_id="e2")
    got.clear()
    _drain(spark, t.root, ck, got)
    assert [r["doc_id"] for r in got] == ["d9"]
    # no new commits -> empty batch, not a crash
    got.clear()
    _drain(spark, t.root, ck, got)
    assert got == []


def test_starting_version_skips_history(spark, tmp_path, mor_table):
    t = mor_table
    v1 = t.epoch_commit_version("e0")
    got = []
    q = (
        spark.readStream.format("lake_changes")
        .option("path", t.root)
        .option("startingVersion", str(v1))
        .load()
        .writeStream.foreachBatch(lambda bdf, eid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(r["change_lsn"] for r in got) == [3, 4]  # e1 only


def test_schema_evolution_null_pads_old_files(spark, tmp_path, mor_table):
    t = mor_table
    evolved = "doc_id string, tokens array<int>, change_lsn long, source string, op string"
    t.merge(
        spark.createDataFrame([("d5", [5], 5, "web", "I")], evolved), epoch_id="e2"
    )
    got = []
    _drain(spark, t.root, str(tmp_path / "ck"), got)
    by_lsn = {r["change_lsn"]: r for r in got}
    assert by_lsn[5]["source"] == "web"
    assert by_lsn[1]["source"] is None  # pre-evolution file null-padded


def test_cow_table_refused(spark, tmp_path):
    spark.dataSource.register(LakeChangesDataSource)
    t = LakeTable(str(tmp_path / "cow"))
    t.create(SCHEMA, ["doc_id"], "change_lsn", n_buckets=2, merge_strategy="cow")
    t.merge(spark.createDataFrame([("a", [1], 1, "I")], S), epoch_id="e0")
    with pytest.raises(Exception, match="MOR|mor"):
        (
            spark.readStream.format("lake_changes")
            .option("path", t.root)
            .load()
        )


def test_chained_replication_via_lake_changes(spark, tmp_path, mor_table):
    """Engine-to-engine replication: table B tails table A's committed
    change stream through the lake_changes source and applies it with
    the same exactly-once merge — final states identical, including a
    second incremental hop after new commits land on A."""
    src = mor_table
    dst = LakeTable(str(tmp_path / "dst"))
    dst.create(SCHEMA, ["doc_id"], "change_lsn", n_buckets=4, merge_strategy="mor")
    ck = str(tmp_path / "ck")

    def replicate(bdf, epoch_id):
        batch = bdf.select(
            F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "doc_id",
            "tokens",
            "change_lsn",
        )
        dst.merge(batch, epoch_id=f"rep-{epoch_id}")

    from pyspark.sql import functions as F

    def drain():
        q = (
            spark.readStream.format("lake_changes")
            .option("path", src.root)
            .load()
            .writeStream.foreachBatch(replicate)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    a = {r["doc_id"]: r["tokens"] for r in src.read(spark).collect()}
    b = {r["doc_id"]: r["tokens"] for r in dst.read(spark).collect()}
    assert a == b == {"d1": [3]}
    # incremental hop: new commits on A flow to B on the next drain
    src.merge(
        spark.createDataFrame([("d1", None, 9, "D"), ("d7", [7], 10, "I")], S),
        epoch_id="e2",
    )
    drain()
    a = {r["doc_id"]: r["tokens"] for r in src.read(spark).collect()}
    b = {r["doc_id"]: r["tokens"] for r in dst.read(spark).collect()}
    assert a == b == {"d7": [7]}


def test_checkpoint_commit_is_skipped_by_stream(spark, tmp_path, mor_table):
    """A checkpoint() (full-manifest squash) between data commits is a
    maintenance commit: the change stream crosses it silently and
    delivers exactly the data commits' rows."""
    t = mor_table
    t.checkpoint()
    t.merge(
        spark.createDataFrame([("d3", [9], 9, "I")], S), epoch_id="e2"
    )
    got = []
    _drain(spark, t.root, str(tmp_path / "ck-chk"), got)
    assert sorted(r["change_lsn"] for r in got) == [1, 2, 3, 4, 9]


def test_batch_read_version_window(spark, mor_table):
    """Batch mode: spark.read.format('lake_changes') over an explicit
    version window — Delta's batch CDF shape."""
    t = mor_table
    v0 = t.epoch_commit_version("e0")
    full = (
        spark.read.format("lake_changes").option("path", t.root).load()
    )
    assert full.count() == 4
    windowed = (
        spark.read.format("lake_changes")
        .option("path", t.root)
        .option("startingVersion", str(v0))
        .load()
    )
    assert sorted(r["change_lsn"] for r in windowed.collect()) == [3, 4]
    upto = (
        spark.read.format("lake_changes")
        .option("path", t.root)
        .option("endingVersion", str(v0))
        .load()
    )
    assert sorted(r["change_lsn"] for r in upto.collect()) == [1, 2]


def test_window_across_rescale_publish(spark, mor_table):
    """A `split_buckets` publish (operation "rescale") re-cuts files
    without changing a row: a window crossing it serves the merges on
    both sides and nothing for the rescale itself."""
    t = mor_table
    while not t.split_buckets(spark, factor=2)["published"]:
        pass
    assert t.history()[-1]["operation"] == "rescale"
    assert t.manifest()["n_buckets"] == 8
    t.merge(spark.createDataFrame([("d3", [5], 5, "I")], S), epoch_id="e2")
    got = spark.read.format("lake_changes").option("path", t.root).load().collect()
    assert sorted(r["change_lsn"] for r in got) == [1, 2, 3, 4, 5]
    v_rs = t.epoch_commit_version("e2") - 1
    tail = (
        spark.read.format("lake_changes")
        .option("path", t.root)
        .option("startingVersion", str(v_rs - 1))
        .load()
        .collect()
    )
    assert [(r["doc_id"], r["change_lsn"]) for r in tail] == [("d3", 5)]


def test_expired_offset_fails_loudly_not_silently(spark, tmp_path, monkeypatch):
    """A consumer whose offset fell below retained history must get an
    error demanding re-bootstrap — silently skipping expired commits
    would be replication data loss."""
    from airbyte_destination_spark.lake import table as table_mod

    monkeypatch.setattr(table_mod, "_CHECKPOINT_INTERVAL", 2)
    spark.dataSource.register(LakeChangesDataSource)
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "change_lsn", n_buckets=2, merge_strategy="mor")
    for i in range(8):
        t.merge(
            spark.createDataFrame([(f"d{i}", [i], i, "I")], S), epoch_id=f"e{i}"
        )
    t.expire_snapshots(keep_last=2, grace_seconds=0)
    got = []
    with pytest.raises(Exception, match="re-bootstrap"):
        _drain(spark, t.root, str(tmp_path / "ck"), got)
    # a fresh consumer starting inside retained history works
    q = (
        spark.readStream.format("lake_changes")
        .option("path", t.root)
        .option("startingVersion", str(t.current_version() - 1))
        .load()
        .writeStream.foreachBatch(lambda bdf, eid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(got) == 1


def test_collapsed_column_fails_instead_of_serving_arrow_cast(spark, tmp_path):
    """A double column collapsed to string by merge evolution: read()
    serves Spark's cast of the old double ('1.0'), which pyarrow does
    not make ('1'), so the change feed fails naming the column rather
    than serve a value read() does not."""
    spark.dataSource.register(LakeChangesDataSource)
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("change_lsn", T.LongType(), False),
                T.StructField("x", T.DoubleType(), True),
            ]
        ),
        ["doc_id"], "change_lsn", n_buckets=2, merge_strategy="mor",
    )
    t.merge(
        spark.createDataFrame([("d1", 1, 1.0, "I")], "doc_id string, change_lsn long, x double, op string"),
        epoch_id="e0",
    )
    t.merge(
        spark.createDataFrame([("d2", 2, "two", "I")], "doc_id string, change_lsn long, x string, op string"),
        epoch_id="e1",
    )
    assert {r.doc_id: r.x for r in t.read(spark).collect()} == {"d1": "1.0", "d2": "two"}
    with pytest.raises(Exception, match="cannot serve column 'x'"):
        spark.read.format("lake_changes").option("path", t.root).load().collect()
