"""read_keys' two execution paths and the rule between them.

Probes whose pruned files are small are served on the driver (pyarrow
reads of those files, a LocalRelation result, no Spark job); file sets
over the byte bound take the distributed plan (parquet scan, MOR fold,
broadcast semi join). Both must return the same rows.
"""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake import table as lake_table

WIDE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("payload", T.StringType(), True),
    ]
)
WIDE_BATCH = T.StructType(WIDE.fields + [T.StructField("op", T.StringType(), True)])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _both_paths(spark, t, keys, monkeypatch, arrow=True) -> list[dict]:
    """read_keys under the byte bound and, with the bound below any
    file, on the Spark path; asserts which path ran (the driver path,
    or with `arrow=False` the Spark path both times) and that the two
    agree on every column of every row. Rows compare by repr, so a NaN
    equals a NaN."""
    local = t.read_keys(spark, keys)
    if arrow:
        assert _plan(local).startswith("LocalTableScan"), _plan(local)
    else:
        assert "FileScan parquet" in _plan(local), _plan(local)
    with monkeypatch.context() as mp:
        mp.setattr(lake_table, "_LOOKUP_DRIVER_MAX_BYTES", -1)
        dist = t.read_keys(spark, keys)
    assert "FileScan parquet" in _plan(dist), _plan(dist)
    assert [(f.name, f.dataType) for f in local.schema] == [
        (f.name, f.dataType) for f in dist.schema
    ]
    got = _rows(local)
    assert repr(got) == repr(_rows(dist))
    return got


def _read_rows(spark, t, keys) -> list[dict]:
    """The rows of the full read() whose key is among `keys`."""
    k0 = t.manifest()["key_cols"][0]
    return _rows(t.read(spark).where(F.col(k0).isin(keys)))


def _ts(sec: int) -> datetime.datetime:
    return datetime.datetime(2024, 3, 1, 12, 0, 0) + datetime.timedelta(
        seconds=sec, microseconds=sec * 7
    )


def _wide_rows(spark, rows):
    return spark.createDataFrame(rows, WIDE_BATCH)


def test_mor_base_deltas_tombstone_paths_agree(spark, tmp_path, monkeypatch):
    """Compacted base + delta files + a tombstone, with blooms: absent
    keys, duplicate probe keys, a deleted key and a stale update all
    resolve identically on both paths."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(WIDE, ["doc_id"], "v", n_buckets=2, merge_strategy="mor")
    for e in range(2):
        t.merge(
            _wide_rows(spark, [
                (f"k{i}", e, _ts(i + e), [f"t{i}", f"e{e}"], f"p{e}-{i}", "U")
                for i in range(e, 20, 2)
            ]),
            epoch_id=f"e-{e}",
        )
    assert t.compact(spark) is not None
    t.merge(
        _wide_rows(spark, [
            ("k1", 5, _ts(50), ["new"], "NEW", "U"),
            ("k2", 5, None, None, None, "D"),
            ("k30", 5, _ts(30), [], None, "I"),
            ("k3", None, _ts(3), ["null-version"], "nv", "U"),
        ]),
        epoch_id="e-2",
    )
    t.merge(_wide_rows(spark, [("k4", -1, _ts(4), ["stale"], "STALE", "U")]), epoch_id="e-3")
    t.build_bloom_index(spark)
    m = t.manifest()
    assert any(e.get("base") for fs in m["buckets"].values() for e in fs)
    assert any(not e.get("base") for fs in m["buckets"].values() for e in fs)

    got = _both_paths(
        spark, t, ["k1", "k2", "k3", "k4", "k30", "absent", "k1", "k30"], monkeypatch
    )
    by_key = {r["doc_id"]: r for r in got}
    assert sorted(by_key) == ["k1", "k3", "k30", "k4"]
    assert len(got) == 4  # duplicate probe keys return one row per key
    assert by_key["k1"]["payload"] == "NEW" and by_key["k1"]["tags"] == ["new"]
    assert by_key["k1"]["ts"] == _ts(50)
    assert by_key["k3"]["payload"] == "p1-3"  # a NULL version loses
    assert by_key["k4"]["payload"] == "p0-4"  # a stale version loses
    assert by_key["k30"]["tags"] == []
    assert _both_paths(spark, t, ["k2", "absent"], monkeypatch) == []
    assert _rows(t.read_keys(spark, [])) == []


def test_tiered_compaction_stored_cv_paths_agree(spark, tmp_path, monkeypatch):
    """Tiered-compaction output keeps each row's original commit version
    as a stored `_cv` column; a version tie across commits resolves by
    it on both paths."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
            T.StructField("payload", T.StringType(), True),
        ]
    )
    s = "doc_id string, v long, payload string, op string"
    t = LakeTable(str(tmp_path / "t"))
    t.create(schema, ["doc_id"], "v", n_buckets=1, merge_strategy="mor")
    t.merge(spark.createDataFrame([("A", 5, "x", "U"), ("B", 1, "b0", "U")], s), epoch_id="e-0")
    t.merge(spark.createDataFrame([("A", 5, "y", "U"), ("B", 2, "b1", "U")], s), epoch_id="e-1")
    big = [("A", 5, "z", "U")] + [(f"pad{i}", 1, "p" * 64, "U") for i in range(4000)]
    t.merge(spark.createDataFrame(big, s), epoch_id="e-2")
    assert t.compact_tiered(spark, min_run=2, tier_factor=4.0) is not None
    stored = set()
    for fs in t.manifest()["buckets"].values():
        for e in fs:
            tbl = pq.read_table(os.path.join(t.root, e["path"]), columns=["payload", "_cv"])
            stored |= set(zip(tbl["payload"].to_pylist(), tbl["_cv"].to_pylist()))
    assert {("y", 3), ("b1", 3), ("z", 4)} <= stored  # the merged rows keep theirs
    got = _both_paths(spark, t, ["A", "B", "pad7", "nope"], monkeypatch)
    assert [(r["doc_id"], r["payload"]) for r in got] == [
        ("A", "z"), ("B", "b1"), ("pad7", "p" * 64)
    ]


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_schema_change_paths_agree(spark, tmp_path, monkeypatch, strategy):
    """Files under older schema ids: a rename, a drop, an initial
    default and an int->long widening are applied identically by the
    shared alignment on both paths."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
            T.StructField("n", T.IntegerType(), True),
            T.StructField("old", T.StringType(), True),
            T.StructField("gone", T.StringType(), True),
        ]
    )
    t = LakeTable(str(tmp_path / "t"))
    t.create(schema, ["doc_id"], "v", n_buckets=2, merge_strategy=strategy)
    t.merge(
        spark.createDataFrame(
            [(f"d{i}", 1, i, f"o{i}", f"g{i}", "I") for i in range(8)],
            "doc_id string, v long, n int, old string, gone string, op string",
        ),
        epoch_id="e-0",
    )
    t.rename_column("old", "renamed")
    t.drop_column("gone")
    t.add_column("extra", T.StringType(), initial_default="dflt")
    t.merge(
        spark.createDataFrame(
            [("d1", 2, 1 << 40, "r1", None, "U"), ("d9", 2, -(1 << 40), "r9", "x9", "I")],
            "doc_id string, v long, n long, renamed string, extra string, op string",
        ),
        epoch_id="e-1",
    )
    assert t.schema()["n"].dataType == T.LongType()
    got = _both_paths(spark, t, ["d0", "d1", "d9", "d5"], monkeypatch)
    assert [tuple(r.values()) for r in got] == [
        ("d0", 1, 0, "o0", "dflt"),
        ("d1", 2, 1 << 40, "r1", None),
        ("d5", 1, 5, "o5", "dflt"),
        ("d9", 2, -(1 << 40), "r9", "x9"),
    ]


def test_cow_append_duplicate_keys_paths_agree(spark, tmp_path, monkeypatch):
    """COW reads never fold: append-mode files hold duplicate keys, and
    both paths return every one of those rows."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(WIDE, ["doc_id"], "v", n_buckets=2)
    cols = "doc_id string, v long, ts timestamp, tags array<string>, payload string"
    for e in range(3):
        t.append(
            spark.createDataFrame(
                [("a", e, _ts(e), [str(e)], f"a{e}"), ("b", 1, None, None, "b")], cols
            )
        )
    got = _both_paths(spark, t, ["a", "b", "a", "zz"], monkeypatch)
    assert sorted(r["payload"] for r in got) == ["a0", "a1", "a2", "b", "b", "b"]


def _bloom_mor_table(spark, tmp_path) -> LakeTable:
    t = LakeTable(str(tmp_path / "t"))
    t.create(WIDE, ["doc_id"], "v", n_buckets=4, merge_strategy="mor")
    for e in range(3):
        t.merge(
            _wide_rows(spark, [
                (f"k{i}", e, _ts(i), [f"e{e}"], f"p{e}-{i}", "U")
                for i in range(e * 100, e * 100 + 300)
            ]),
            epoch_id=f"e-{e}",
        )
    t.merge(_wide_rows(spark, [("k5", 9, None, None, None, "D")]), epoch_id="e-3")
    t.build_bloom_index(spark)
    return t


def test_small_lookup_starts_no_spark_job(spark, tmp_path):
    """read_keys of <=16 keys on a MOR table with blooms, selected and
    collected, starts no Spark job and executes as a LocalTableScan."""
    t = _bloom_mor_table(spark, tmp_path)
    keys = [f"k{i}" for i in range(0, 450, 30)] + ["k5"]
    assert len(keys) <= 16
    sc = spark.sparkContext
    sc.setJobGroup("point-lookup", "point-lookup")
    try:
        df = t.read_keys(spark, keys).select("doc_id", "v", "payload")
        rows = df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("point-lookup")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"point lookup launched Spark jobs: {jobs}"
    assert _plan(df).startswith("LocalTableScan"), _plan(df)
    got = {r.doc_id: (r.v, r.payload) for r in rows}
    assert "k5" not in got  # tombstoned
    assert got["k30"] == (0, "p0-30") and got["k120"] == (1, "p1-120")
    assert got["k240"] == (2, "p2-240")
    assert len(got) == len(keys) - 1


def test_path_rule_byte_bound(spark, tmp_path, monkeypatch):
    """The driver path runs when the kept files sum to at most
    _LOOKUP_DRIVER_MAX_BYTES, however many keys the probe holds; one
    byte less, or an entry without a recorded size, takes the
    distributed plan."""

    def local(keys) -> bool:
        return _plan(t.read_keys(spark, keys)).startswith("LocalTableScan")

    t = _bloom_mor_table(spark, tmp_path)
    probe = ["k1", "k250"]
    kept = sum(e["bytes"] for e in t.files_for_keys(spark, probe))
    with monkeypatch.context() as mp:
        mp.setattr(lake_table, "_LOOKUP_DRIVER_MAX_BYTES", kept)
        assert local(probe)
        mp.setattr(lake_table, "_LOOKUP_DRIVER_MAX_BYTES", kept - 1)
        assert not local(probe)
    t.files_for_keys(spark, probe)[0].pop("bytes")
    assert not local(probe)
    assert sorted(r.doc_id for r in t.read_keys(spark, probe).collect()) == probe


def test_long_probe_paths_agree(spark, tmp_path, monkeypatch):
    """A probe longer than the literal-IN cap (the secondary-index
    lookup's shape) is served on the driver when its files are small,
    and returns what the distributed plan returns without the IN."""
    t = _bloom_mor_table(spark, tmp_path)
    keys = [f"k{i}" for i in range(lake_table._ISIN_MAX_KEYS + 20)]
    keys += ["absent"] + keys[:10]
    assert len(set(keys)) > lake_table._ISIN_MAX_KEYS
    got = _both_paths(spark, t, keys, monkeypatch)
    assert len(got) == len(set(keys)) - 2  # k5 tombstoned, one absent


def test_key_widening_paths_agree(spark, tmp_path, monkeypatch):
    """An int key widened to long: files written before the widening
    store int32 keys, and a probe mixing an old key with keys beyond
    the int32 range reads them identically on both paths. One bucket,
    so old and new keys route to the same files; MOR, so the base file
    written before the widening stays live beside the delta."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.IntegerType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("s", T.StringType(), True),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=1,
        merge_strategy="mor",
    )
    t.merge(
        spark.createDataFrame(
            [(i, 1, f"a{i}", "I") for i in range(6)],
            "doc_id int, v long, s string, op string",
        ),
        epoch_id="e-0",
    )
    big = (1 << 31) + 5
    t.merge(
        spark.createDataFrame(
            [(big, 2, "big", "I"), (3, 2, "b3", "U")],
            "doc_id long, v long, s string, op string",
        ),
        epoch_id="e-1",
    )
    assert t.schema()["doc_id"].dataType == T.LongType()
    stored = {
        pq.read_schema(os.path.join(t.root, e["path"])).field("doc_id").type
        for e in t.manifest()["buckets"]["0"]
    }
    assert stored == {pa.int32(), pa.int64()}
    got = _both_paths(spark, t, [1, 3, big, 1 << 40, -(1 << 40)], monkeypatch)
    assert sorted(tuple(r.values()) for r in got) == [
        (1, 1, "a1"), (3, 2, "b3"), (big, 2, "big")
    ]


def test_null_probe_keys_match_nothing(spark, tmp_path):
    """A NULL probe key is dropped before routing: read_keys and
    read_prefix with a None among the keys return what the same calls
    without it return, and the read_keys call stays job-free."""
    t = _bloom_mor_table(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("null-probe", "null-probe")
    try:
        with_null = _rows(t.read_keys(spark, [None, "k7"]))
        jobs = sc.statusTracker().getJobIdsForGroup("null-probe")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"point lookup launched Spark jobs: {jobs}"
    assert with_null == _rows(t.read_keys(spark, ["k7"]))
    assert [r["doc_id"] for r in with_null] == ["k7"]
    assert _rows(t.read_keys(spark, [None])) == []
    assert _rows(t.read_prefix(spark, [None, "k7"])) == _rows(
        t.read_prefix(spark, ["k7"])
    )
    assert [r["doc_id"] for r in _rows(t.read_prefix(spark, [None, "k7"]))] == ["k7"]


def test_key_routing_makes_no_py4j_call(spark, tmp_path, monkeypatch):
    """files_for_keys on a warm MOR table with blooms (routing, zone
    maps and bloom probes) sends no command through the py4j gateway:
    the probe keys are hashed in Python (lake/hashing.py)."""
    t = _bloom_mor_table(spark, tmp_path)
    keys = [f"k{i}" for i in range(0, 450, 30)] + ["k5", "absent"]
    warm = t.files_for_keys(spark, keys)
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    spark.conf.get("spark.sql.shuffle.partitions")  # the wrapper counts
    assert sent, "the gateway wrapper saw no command"
    sent.clear()
    files = t.files_for_keys(spark, keys)
    assert sent == [], f"key routing sent {len(sent)} py4j commands"
    assert files == warm and files


def test_nan_version_wins_mor_fold(spark, tmp_path, monkeypatch):
    """Spark orders a NaN version above every number: a key merged at
    5.0 and then at NaN reads the NaN row on both paths, as read()
    does; a NULL version stays below both."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("v", T.DoubleType(), True),
                T.StructField("s", T.StringType(), True),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=1,
        merge_strategy="mor",
    )
    nan = float("nan")
    s = "doc_id string, v double, s string, op string"
    t.merge(
        spark.createDataFrame(
            [("a", 5.0, "five", "U"), ("b", nan, "b-nan", "U"), ("c", 1.0, "one", "U")], s
        ),
        epoch_id="e-0",
    )
    t.merge(
        spark.createDataFrame(
            [("a", nan, "nan", "U"), ("b", 7.0, "seven", "U"), ("c", None, "null", "U")], s
        ),
        epoch_id="e-1",
    )
    keys = ["a", "b", "c"]
    got = _both_paths(spark, t, keys, monkeypatch)
    assert repr(got) == repr(_read_rows(spark, t, keys))
    assert [(r["doc_id"], r["s"]) for r in got] == [
        ("a", "nan"), ("b", "b-nan"), ("c", "one")
    ]


def test_lookup_sends_one_local_relation(spark, tmp_path, monkeypatch):
    """A warm driver-path read_keys whose kept files span two schema ids
    sends exactly one toDataFrame and no collectToPython through the
    py4j gateway before the caller collects: the files are read,
    aligned and folded in Arrow."""
    t = _bloom_mor_table(spark, tmp_path)
    t.add_column("extra", T.StringType(), initial_default="dflt")
    t.merge(
        spark.createDataFrame(
            [("k1", 7, _ts(1), ["x"], "p7-1", "x1", "U")],
            T.StructType(
                WIDE.fields
                + [
                    T.StructField("extra", T.StringType(), True),
                    T.StructField("op", T.StringType(), True),
                ]
            ),
        ),
        epoch_id="e-4",
    )
    t.build_bloom_index(spark)
    keys = ["k1", "k2", "k150", "k5"]
    assert len({e["schema_id"] for e in t.files_for_keys(spark, keys)}) == 2
    t.read_keys(spark, keys).collect()  # warm
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(client, "send_command", counting)
        df = t.read_keys(spark, keys)
    calls = [c.split("\n")[2] for c in sent if c.startswith("c\n")]
    assert "collectToPython" not in calls, calls
    assert calls.count("toDataFrame") == 1, calls
    assert {r.doc_id: (r.v, r.payload, r.extra) for r in df.collect()} == {
        "k1": (7, "p7-1", "x1"),
        "k2": (0, "p0-2", "dflt"),
        "k150": (1, "p1-150", "dflt"),
    }


def test_row_group_pruning_paths_agree(spark, tmp_path, monkeypatch):
    """A key-sorted compacted file of many row groups: a one-key probe
    reads only the row group whose key min/max holds the key, and keys
    at row-group edges read as on the Spark path and in read()."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.IntegerType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("s", T.StringType(), True),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=1,
        merge_strategy="mor",
    )
    for e in range(2):
        t.merge(
            spark.createDataFrame(
                [(i, e, f"s{e}-{i}", "U") for i in range(e, 2000, 2)],
                "doc_id int, v long, s string, op string",
            ),
            epoch_id=f"e-{e}",
        )
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    hadoop.set("parquet.block.size", "4096")
    try:
        assert t.compact(spark) is not None
    finally:
        hadoop.unset("parquet.block.size")
    (entry,) = t.manifest()["buckets"]["0"]
    md = pq.ParquetFile(os.path.join(t.root, entry["path"])).metadata
    assert md.num_row_groups >= 4
    bounds = [
        (md.row_group(i).column(0).statistics.min, md.row_group(i).column(0).statistics.max)
        for i in range(md.num_row_groups)
    ]
    reads = []
    read_row_groups = pq.ParquetFile.read_row_groups

    def counting(self, row_groups, *args, **kwargs):
        reads.append(list(row_groups))
        return read_row_groups(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counting)
    lo, hi = bounds[2]
    assert [r["doc_id"] for r in _rows(t.read_keys(spark, [(lo + hi) // 2]))] == [
        (lo + hi) // 2
    ]
    assert reads == [[2]]
    edges = sorted({k for b in bounds for k in (b[0], b[1], b[1] + 1)} | {-1})
    got = _both_paths(spark, t, edges, monkeypatch)
    assert repr(got) == repr(_read_rows(spark, t, edges))
    assert sorted(r["doc_id"] for r in got) == [k for k in edges if 0 <= k < 2000]



@pytest.mark.parametrize(
    "dt, stored, probe",
    [
        (
            T.DateType(),
            [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)],
            [datetime.date(2024, 1, 2), datetime.date(2023, 1, 1)],
        ),
        (T.TimestampType(), [_ts(1), _ts(2)], [_ts(2), _ts(3)]),
        (
            T.DecimalType(10, 2),
            [decimal.Decimal("1.25"), decimal.Decimal("-3.50")],
            [decimal.Decimal("-3.50"), decimal.Decimal("9.99")],
        ),
        (T.DoubleType(), [-0.0, 1.5, 2.25], [0.0, 2.25, 3.0]),
    ],
    ids=["date", "timestamp", "decimal", "double"],
)
def test_key_types_paths_agree(spark, tmp_path, monkeypatch, dt, stored, probe):
    """Probe keys convert to the key column's Arrow type as PySpark
    converts them, and a -0.0 key matches a 0.0 probe as Spark's
    equality has it: both paths read what read() reads."""
    t = LakeTable(str(tmp_path / "t"))
    schema = T.StructType(
        [T.StructField("k", dt, False), T.StructField("s", T.StringType(), True)]
    )
    t.create(schema, ["k"], None, n_buckets=2)
    for e in range(2):
        t.append(spark.createDataFrame([(k, f"e{e}-{i}") for i, k in enumerate(stored)], schema))
    got = _both_paths(spark, t, probe, monkeypatch)
    assert repr(got) == repr(_read_rows(spark, t, probe))
    assert len(got) == 2 * sum(k in stored for k in probe)  # -0.0 == 0.0



def test_nan_key_paths_agree(spark, tmp_path, monkeypatch):
    """A NaN key matches a NaN probe, as Spark's equality has it: the
    zone maps keep every file for a NaN probe (it compares false with
    any bound), so both paths return the row read() holds, with and
    without blooms."""
    t = LakeTable(str(tmp_path / "t"))
    schema = T.StructType(
        [T.StructField("k", T.DoubleType(), False), T.StructField("s", T.StringType(), True)]
    )
    t.create(schema, ["k"], None, n_buckets=1)
    t.append(spark.createDataFrame([(float("nan"), "nan"), (1.0, "one")], schema))
    probe = [float("nan"), 1.0]
    for _ in range(2):
        assert len(t.files_for_keys(spark, [float("nan")])) == 1
        got = _both_paths(spark, t, probe, monkeypatch)
        assert repr(got) == repr(_read_rows(spark, t, probe))
        assert sorted(r["s"] for r in got) == ["nan", "one"]
        t.build_bloom_index(spark)


def _one_bucket_mor(tmp_path, fields) -> LakeTable:
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
            ]
            + fields
        ),
        ["doc_id"],
        "v",
        n_buckets=1,
        merge_strategy="mor",
    )
    return t


def test_collapsed_column_takes_spark_path(spark, tmp_path, monkeypatch):
    """An int column collapsed to string by an incompatible batch: the
    int->string cast is Spark's to make, so the lookup takes the Spark
    path and reads what read() reads."""
    t = _one_bucket_mor(tmp_path, [T.StructField("n", T.IntegerType(), True)])
    t.merge(
        spark.createDataFrame(
            [(f"d{i}", 1, i * 11, "I") for i in range(4)],
            "doc_id string, v long, n int, op string",
        ),
        epoch_id="e-0",
    )
    t.merge(
        spark.createDataFrame(
            [("d1", 2, True, "U")], "doc_id string, v long, n boolean, op string"
        ),
        epoch_id="e-1",
    )
    assert t.schema()["n"].dataType == T.StringType()
    keys = ["d0", "d1", "d3"]
    got = _both_paths(spark, t, keys, monkeypatch, arrow=False)
    assert repr(got) == repr(_read_rows(spark, t, keys))
    assert [r["n"] for r in got] == ["0", "true", "33"]


def test_numeric_widening_paths_agree(spark, tmp_path, monkeypatch):
    """long->double holding a value above 2^53 and int->float holding
    one above 2^24: pyarrow rounds to nearest as Spark's casts do, so
    the driver path serves them and matches the Spark path and read()."""
    t = _one_bucket_mor(
        tmp_path,
        [
            T.StructField("big", T.LongType(), True),
            T.StructField("small", T.IntegerType(), True),
        ],
    )
    t.merge(
        spark.createDataFrame(
            [("a", 1, (1 << 53) + 1, (1 << 24) + 1, "I"), ("b", 1, -3, 5, "I")],
            "doc_id string, v long, big long, small int, op string",
        ),
        epoch_id="e-0",
    )
    t.merge(
        spark.createDataFrame(
            [("c", 1, 0.5, 1.5, "I")],
            "doc_id string, v long, big double, small float, op string",
        ),
        epoch_id="e-1",
    )
    assert t.schema()["big"].dataType == T.DoubleType()
    assert t.schema()["small"].dataType == T.FloatType()
    keys = ["a", "b", "c"]
    got = _both_paths(spark, t, keys, monkeypatch)
    assert repr(got) == repr(_read_rows(spark, t, keys))
    assert (got[0]["big"], got[0]["small"]) == (float(1 << 53), float(1 << 24))


# one castable JSON literal per (target type, literal kind); Spark casts
# no int, float or bool to date, and no bool to timestamp
_DEFAULT_TARGETS = {
    "int": (T.IntegerType(), "7"),
    "float": (T.FloatType(), "2.5"),
    "double": (T.DoubleType(), "2.5"),
    "dec": (T.DecimalType(10, 2), "3.25"),
    "string": (T.StringType(), "s"),
    "boolean": (T.BooleanType(), "true"),
    "date": (T.DateType(), "2024-03-01"),
    "ts": (T.TimestampType(), "2024-03-01 12:00:00"),
}
_SAME_KIND = {("int", "int"), ("float", "float"), ("double", "float"),
              ("string", "str"), ("boolean", "bool")}


def test_initial_default_kinds_paths_agree(spark, tmp_path, monkeypatch):
    """add_column defaults of every JSON literal kind against every
    target type Spark casts it to: a literal of the target's kind is
    filled in Arrow, any other takes the Spark path; both read what
    read() reads."""
    t = _one_bucket_mor(tmp_path, [])
    t.merge(
        spark.createDataFrame(
            [("a", 1, "I"), ("b", 2, "I")], "doc_id string, v long, op string"
        ),
        epoch_id="e-0",
    )
    cases = []
    for tn, (dt, text) in _DEFAULT_TARGETS.items():
        for kind, lit in (("str", text), ("int", 7), ("float", 2.1), ("bool", True)):
            if tn == "date" and kind != "str" or tn == "ts" and kind == "bool":
                continue
            cases.append((f"c_{tn}_{kind}", dt, lit, (tn, kind) in _SAME_KIND))
    for name, dt, lit, same in cases:
        assert (lake_table._arrow_default(lit, dt) is not None) == same, name
    keys = ["a", "b"]
    for arrow in (True, False):
        for name, dt, lit, same in cases:
            if same == arrow:
                t.add_column(name, dt, initial_default=lit)
        got = _both_paths(spark, t, keys, monkeypatch, arrow=arrow)
        assert repr(got) == repr(_read_rows(spark, t, keys))
    assert got[0]["c_float_float"] == pytest.approx(2.1, rel=1e-7)
    assert got[0]["c_int_str"] == 7 and got[0]["c_date_str"] == datetime.date(2024, 3, 1)
