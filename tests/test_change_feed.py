"""`table_changes` across every kind of commit, for COW and MOR tables
with and without a version column, in both `pre_images` shapes.

Each (strategy, version column) case shares one table whose history
walks through plain merges, every metadata-only schema change, value
and key widening, maintenance rewrites and a rollback that discards a
schema change. Windows without a schema change are checked against a
Python diff of the two collected snapshots; windows across evolution
pin hand-written rows. All windows of one test are collected in one
Spark job (each serialized to JSON in its own after-schema).
"""

import functools
import json

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark import protocol as P
from airbyte_destination_spark.destination import Destination
from airbyte_destination_spark.lake import LakeTable

PRE, POST = "update_preimage", "update_postimage"


def _merge(spark, t, rows, ddl, epoch) -> int:
    return t.merge(spark.createDataFrame(rows, ddl + ", op string"), epoch_id=epoch).version


def _build(spark, root, strategy, ver) -> tuple[LakeTable, dict[str, int]]:
    """The shared history; the dict maps each step to its version."""
    t = LakeTable(root)
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.IntegerType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("s", T.StringType(), True),
                T.StructField("n", T.IntegerType(), True),
            ]
        ),
        ["doc_id"],
        ver,
        n_buckets=4,
        merge_strategy=strategy,
    )
    V = {}
    d0 = "doc_id int, v long, s string, n int"
    V["base"] = _merge(spark, t, [(i, 1, f"a{i}", i, "I") for i in range(8)], d0, "e0")
    _merge(
        spark, t,
        [(1, 2, "b1", 1, "U"), (2, 2, "a2", 2, "D"), (8, 2, "a8", 8, "I"),
         (9, 2, "a9", 9, "I")],
        d0, "e1",
    )
    V["plain2"] = _merge(spark, t, [(9, 3, "a9", 9, "D"), (3, 3, "b3", 3, "U")], d0, "e2")
    t.add_column("c", T.StringType())
    t.add_column("d", T.IntegerType(), initial_default=7)
    V["rename"] = t.rename_column("s", "t")
    V["upd"] = _merge(
        spark, t, [(3, 4, "b3", 3, "c3", 7, "U"), (4, 4, "t4", 4, None, 9, "U")],
        "doc_id int, v long, t string, n int, c string, d int", "e3",
    )
    t.drop_column("c")
    V["readd"] = t.add_column("c", T.StringType())
    d1 = "doc_id {}, v long, t string, n bigint, d int, c string"
    V["upd2"] = _merge(
        spark, t, [(3, 5, "b3", 3, 7, "new3", "U"), (5, 5, "a5", 50, 7, None, "U")],
        d1.format("int"), "e4",
    )
    t.rebucket(spark, 8)
    t.compact(spark, min_files=1)
    V["compact"] = t.current_version()
    d2 = d1.format("bigint")
    V["widen_key"] = _merge(spark, t, [(6, 6, "t6", 6, 7, None, "U")], d2, "e5")
    V["add_e"] = t.add_column("e", T.StringType())
    V["upd_e"] = _merge(
        spark, t,
        [(0, 7, "t0", 0, 7, None, "e0", "U"), (10, 7, "t10", 10, 7, None, "e10", "I")],
        d2 + ", e string", "e6",
    )
    V["rollback"] = t.rollback(V["widen_key"])
    V["add_f"] = t.add_column("f", T.IntegerType())
    return t, V


# windows whose two snapshots share one schema: checked against the diff
# of the collected snapshots (9 is inserted and deleted inside
# base:plain2; upd2:compact crosses a rebucket and a compaction)
PLAIN = [("base", "plain2"), ("upd2", "compact")]
# (v_from, v_to) -> the pre_images=True rows, in the v_to schema
EVOLUTION = {
    # metadata-only add, add with an initial default, rename, and drop
    # + re-add change no row
    ("plain2", "rename"): [],
    ("upd", "readd"): [],
    # across add, initial default and rename: the pre-image reads NULL,
    # the default, and the old value under the new name
    ("plain2", "upd"): [
        (3, PRE, 3, "b3", 3, None, 7), (3, POST, 4, "b3", 3, "c3", 7),
        (4, PRE, 1, "a4", 4, None, 7), (4, POST, 4, "t4", 4, None, 9),
    ],
    # across drop + re-add (the pre-image is NULL, never the dropped
    # column's prior life) and a value int -> long
    ("upd", "upd2"): [
        (3, PRE, 4, "b3", 3, 7, None), (3, POST, 5, "b3", 3, 7, "new3"),
        (5, PRE, 1, "a5", 5, 7, None), (5, POST, 5, "a5", 50, 7, None),
    ],
    # key int -> long: the commit rewrites every file and reports only
    # the key it updates
    ("compact", "widen_key"): [
        (6, PRE, 1, "a6", 6, 7, None), (6, POST, 6, "t6", 6, 7, None),
    ],
    # a rollback that discards an added column (e), then an add that
    # reuses its schema id (f)
    ("upd_e", "rollback"): [
        (0, PRE, 7, "t0", 0, 7, None), (0, POST, 1, "a0", 0, 7, None),
        (10, "delete", 7, "t10", 10, 7, None),
    ],
    ("upd_e", "add_f"): [
        (0, PRE, 7, "t0", 0, 7, None, None), (0, POST, 1, "a0", 0, 7, None, None),
        (10, "delete", 7, "t10", 10, 7, None, None),
    ],
}


def _rows_by_name(frames: dict) -> dict:
    """Collect every frame in one job: {name: sorted rows as tuples}."""
    parts = [
        df.select(F.lit(i).alias("w"), F.to_json(F.struct(*df.columns)).alias("j"))
        for i, df in enumerate(frames.values())
    ]
    names, dfs = list(frames), list(frames.values())
    out: dict = {name: [] for name in frames}
    for r in functools.reduce(DataFrame.unionByName, parts).collect():
        d = json.loads(r.j)
        out[names[r.w]].append(tuple(d.get(c) for c in dfs[r.w].columns))
    return {name: sorted(rows, key=repr) for name, rows in out.items()}


@pytest.fixture(
    scope="module",
    params=[("cow", "v"), ("cow", None), ("mor", "v"), ("mor", None)],
    ids=["cow-version", "cow-no-version", "mor-version", "mor-no-version"],
)
def case(request, spark, tmp_path_factory):
    """(table, versions, collected rows): each window's feed in both
    shapes under (v_from, v_to, pre_images), and each snapshot a PLAIN
    window reads under its step name."""
    strategy, ver = request.param
    root = str(tmp_path_factory.mktemp(f"cdf-{strategy}-{ver}") / "t")
    t, V = _build(spark, root, strategy, ver)
    frames = {
        (a, b, pre): t.table_changes(spark, V[a], V[b], pre_images=pre)
        for a, b in PLAIN + list(EVOLUTION)
        for pre in (True, False)
    }
    frames.update(
        {v: t.read(spark, version=V[v]) for v in {v for w in PLAIN for v in w}}
    )
    return t, V, _rows_by_name(frames)


def _without_pre_images(rows: list[tuple]) -> list[tuple]:
    """The pre_images=False shape of pre_images=True rows."""
    return sorted(
        ((r[0], "update", *r[2:]) if r[1] == POST else r for r in rows if r[1] != PRE),
        key=repr,
    )


def _check(got: dict, expected: dict) -> None:
    for (a, b), rows in expected.items():
        want = sorted(rows, key=repr)
        assert got[(a, b, True)] == want, (a, b)
        assert got[(a, b, False)] == _without_pre_images(want), (a, b)


def test_plain_windows_match_snapshot_diff(case):
    _, _, got = case
    expected = {}
    for a, b in PLAIN:
        before = {r[0]: r[1:] for r in got[a]}
        after = {r[0]: r[1:] for r in got[b]}
        rows = []
        for k in before.keys() | after.keys():
            if k not in before:
                rows.append((k, "insert", *after[k]))
            elif k not in after:
                rows.append((k, "delete", *before[k]))
            elif before[k] != after[k]:
                rows += [(k, PRE, *before[k]), (k, POST, *after[k])]
        expected[(a, b)] = rows
    assert {r[0] for r in expected[("base", "plain2")]} == {1, 2, 3, 8}
    _check(got, expected)


def test_evolution_windows(case):
    _, _, got = case
    _check(got, EVOLUTION)


def test_windows_cross_what_they_claim(spark, case):
    """The key widening rewrote every file, the value and key columns
    come out long, and the re-add after the rollback reused the
    discarded schema id."""
    t, V, _ = case
    paths = [
        {e["path"] for fs in t.manifest(V[v])["buckets"].values() for e in fs}
        for v in ("compact", "widen_key")
    ]
    assert paths[0] and not paths[0] & paths[1]
    schema = t.table_changes(spark, V["upd"], V["widen_key"]).schema
    assert schema["doc_id"].dataType == schema["n"].dataType == T.LongType()
    assert t.manifest(V["add_f"])["schema_id"] == t.manifest(V["add_e"])["schema_id"]


def test_append_stream_reports_each_record_as_insert(spark, tmp_path):
    """A Destination append table is keyed on the raw record id, so the
    feed is defined on it: every appended record, a repeated payload
    included, is one insert."""
    stream = {
        "sync_mode": "full_refresh",
        "destination_sync_mode": "append",
        "stream": {
            "name": "log",
            "json_schema": {
                "type": "object",
                "properties": {"id": {"type": "integer"}, "name": {"type": "string"}},
            },
        },
    }
    catalog = P.ConfiguredCatalog.from_dict({"streams": [stream]})
    dest = Destination(spark, P.Config(warehouse=str(tmp_path / "wh"), n_buckets=4))

    def sync(records):
        lines = [
            json.dumps(
                {"type": "RECORD",
                 "record": {"stream": "log", "emitted_at": ts, "data": {"id": i, "name": s}}}
            )
            for ts, i, s in records
        ]
        dest.write(catalog, spark.createDataFrame([(x,) for x in lines], "value string"))

    sync([(100, 1, "x"), (101, 2, "y"), (101, 2, "y")])
    t = LakeTable(str(tmp_path / "wh" / catalog.streams[0].table_name))
    v1 = t.current_version()
    sync([(102, 1, "x"), (103, 3, "z")])
    first = t.history()[0]["version"]
    for v_from, want in ((v1, [(1, "x"), (3, "z")]),
                         (first, [(1, "x"), (1, "x"), (2, "y"), (2, "y"), (3, "z")])):
        rows = t.table_changes(spark, v_from).collect()
        assert {r.change_type for r in rows} == {"insert"}
        assert len({r[P.RAW_ID_COL] for r in rows}) == len(rows)
        assert sorted((r.id, r.name) for r in rows) == want
