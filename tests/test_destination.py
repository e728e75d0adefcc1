"""Destination write-path parity with the reference's e2e expectations
(/root/reference/e2e/main_test.go:47-106): overwrite keeps duplicate
payloads as distinct raw-id rows; append_dedup keeps one row per key with
the latest cursor; overwrite mode clears prior-sync rows on resync."""

import json

import pytest

from airbyte_destination_spark import protocol as P
from airbyte_destination_spark.destination import Destination, check, spec

CATALOG = {
    "streams": [
        {
            "sync_mode": "full_refresh",
            "destination_sync_mode": "overwrite",
            "stream": {
                "name": "airlines_ow",
                "json_schema": {
                    "type": "object",
                    "properties": {"id": {"type": "integer"}, "name": {"type": "string"}},
                },
            },
        },
        {
            "sync_mode": "incremental",
            "cursor_field": ["updated_at"],
            "primary_key": [["id"]],
            "destination_sync_mode": "append_dedup",
            "stream": {
                "name": "airlines_dedup",
                "json_schema": {
                    "type": "object",
                    "properties": {
                        "id": {"type": "integer"},
                        "name": {"type": ["null", "string"]},
                        "updated_at": {"type": "string", "format": "date-time"},
                    },
                },
            },
        },
    ]
}


def _rec(stream, emitted, **data):
    return json.dumps(
        {"type": "RECORD", "record": {"stream": stream, "emitted_at": emitted, "data": data}}
    )


def _state(n):
    return json.dumps({"type": "STATE", "state": {"id": n}})


# 8 overwrite records, one payload repeated verbatim (ids 7) — both must
# land because their record index differs; 3 dedup records where key 1
# gets a later updated_at ("sunwing" -> "porter")
LINES = [
    _rec("airlines_ow", 1705379716, id=1, name="northern"),
    _rec("airlines_ow", 1705379715, id=2, name="eastern"),
    _state(1),
    _rec("airlines_ow", 1705379714, id=3, name="western"),
    _rec("airlines_dedup", 1705379707, id=0, name="flair", updated_at="2024-03-19T18:05:49.000Z"),
    _rec("airlines_ow", 1705379713, id=4, name="southern"),
    _rec("airlines_ow", 1705379712, id=5, name="central"),
    _state(2),
    _rec("airlines_ow", 1705379711, id=6, name="polar"),
    _rec("airlines_ow", 1705379710, id=7, name="island"),
    _state(3),
    _rec("airlines_ow", 1705379710, id=7, name="island"),
    _rec("airlines_dedup", 1705379710, id=1, name="sunwing", updated_at="2024-03-18T18:05:49.000Z"),
    _rec("airlines_dedup", 1705379711, id=1, name="porter", updated_at="2024-03-19T18:05:49.000Z"),
]


@pytest.fixture()
def dest(spark, tmp_path):
    return Destination(spark, P.Config(warehouse=str(tmp_path / "wh"), n_buckets=4))


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_write_modes_final_state(spark, dest):
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    result = dest.write(catalog, _lines_df(spark, LINES))
    assert len(result.states) == 3

    ow = dest.read_table("airlines_ow")
    # 8 rows incl. the repeated id=7 payload, 4 columns (e2e/main_test.go:69-83)
    assert ow.count() == 8
    assert set(ow.columns) == {"id", "name", "_airbyte_raw_id", "_airbyte_extracted_at"}
    assert ow.where("id = 7").count() == 2
    assert ow.select("_airbyte_raw_id").distinct().count() == 8

    dd = dest.read_table("airlines_dedup").orderBy("id").collect()
    # 2 rows, later updated_at wins (e2e/main_test.go:86-105)
    assert [(r.id, r.name) for r in dd] == [(0, "flair"), (1, "porter")]


def test_overwrite_resync_clears_previous(spark, dest):
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    dest.write(catalog, _lines_df(spark, LINES))
    resync = [_rec("airlines_ow", 1705400000, id=100, name="fresh")]
    dest.write(catalog, _lines_df(spark, resync), sync_start_ms=1705390000000)
    ow = dest.read_table("airlines_ow").collect()
    assert [(r.id, r.name) for r in ow] == [(100, "fresh")]


def test_dedup_requires_primary_key(spark, dest):
    bad = P.ConfiguredCatalog.from_dict(
        {
            "streams": [
                {
                    "destination_sync_mode": "append_dedup",
                    "stream": {"name": "x", "json_schema": {"properties": {}}},
                }
            ]
        }
    )
    with pytest.raises(ValueError, match="primary key"):
        dest.write(bad, _lines_df(spark, [_state(1)]))


def test_malformed_line_aborts(spark, dest):
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    with pytest.raises(ValueError, match="failed to parse"):
        dest.write(catalog, _lines_df(spark, ["this is not json"]))


def test_spec_and_check(spark, tmp_path):
    s = spec()
    assert s["supportsIncremental"] is True
    assert set(s["supported_destination_sync_modes"]) == {
        "overwrite",
        "append",
        "append_dedup",
    }
    ok, msg = check(spark, P.Config(warehouse=str(tmp_path / "wh2")))
    assert ok, msg


def test_raw_id_matches_reference_recipe(spark, dest):
    """The destination's raw id must equal the reference recipe applied to
    (namespace='', stream, record_index, emitted_at) — index counts RECORD
    messages only, across ALL streams, in input order."""
    import hashlib

    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    dest.write(catalog, _lines_df(spark, LINES))

    def ref_raw_id(ns, stream, idx, emitted):
        h = hashlib.sha256("\x00".join([ns, stream, str(idx), str(emitted)]).encode()).hexdigest()
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    # record index of the first line is 0 (STATE lines don't count)
    ow = {r.id: r for r in dest.read_table("airlines_ow").collect()}
    assert ow[1]["_airbyte_raw_id"] == ref_raw_id("", "airlines_ow", 0, 1705379716)
    assert ow[3]["_airbyte_raw_id"] == ref_raw_id("", "airlines_ow", 2, 1705379714)


def test_state_echo_carries_destination_stats(spark, dest):
    """Echoed STATE must set destinationStats.recordCount =
    sourceStats.recordCount (destination.go:417-419) — the platform's
    checkpoint accounting reads it on every sync."""
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    lines = [
        _rec("airlines_ow", 1705379716, id=1, name="northern"),
        json.dumps(
            {"type": "STATE", "state": {"id": 1, "sourceStats": {"recordCount": 1.0}}}
        ),
        json.dumps({"type": "STATE", "state": {"id": 2}}),  # no sourceStats
    ]
    result = dest.write(catalog, _lines_df(spark, lines))
    echoed = [json.loads(s)["state"] for s in result.states]
    assert echoed[0]["destinationStats"] == {"recordCount": 1.0}
    assert echoed[0]["sourceStats"] == {"recordCount": 1.0}
    assert echoed[1]["destinationStats"] == {"recordCount": 0}


def test_mode_key_compat_rejected(spark, dest):
    """destination.go:246-254: append_dedup cannot target a raw-id-keyed
    table; append cannot target a custom-keyed table."""
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    dest.write(catalog, _lines_df(spark, LINES))  # creates both tables

    def with_mode(name, mode, extra=None):
        stream_cfg = {
            "destination_sync_mode": mode,
            "stream": {
                "name": name,
                "json_schema": CATALOG["streams"][0]["stream"]["json_schema"],
            },
        }
        stream_cfg.update(extra or {})
        return P.ConfiguredCatalog.from_dict({"streams": [stream_cfg]})

    # airlines_ow exists keyed on _airbyte_raw_id -> dedup must reject
    bad_dedup = with_mode(
        "airlines_ow", "append_dedup", {"primary_key": [["id"]], "cursor_field": []}
    )
    with pytest.raises(ValueError, match="append_dedup .* not compatible"):
        dest.write(bad_dedup, _lines_df(spark, [_rec("airlines_ow", 1, id=9, name="x")]))

    # airlines_dedup exists keyed on id -> plain append must reject
    bad_append = with_mode("airlines_dedup", "append")
    with pytest.raises(ValueError, match="append .* not compatible"):
        dest.write(
            bad_append, _lines_df(spark, [_rec("airlines_dedup", 1, id=9, name="x")])
        )


def test_full_reset_drops_tables(spark, dest):
    """destination.go:181-184,262-268: a sync where every stream is
    overwrite and zero records arrive is a platform reset -> cascade
    delete of all stream tables."""
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    dest.write(catalog, _lines_df(spark, LINES))
    assert dest._table(catalog.streams[0]).exists()

    reset_cfg = json.loads(json.dumps(CATALOG))
    for s in reset_cfg["streams"]:
        s["destination_sync_mode"] = "overwrite"
    reset_catalog = P.ConfiguredCatalog.from_dict(reset_cfg)
    result = dest.write(reset_catalog, _lines_df(spark, [_state(1)]))
    assert result.full_reset is True
    assert not dest._table(catalog.streams[0]).exists()
    assert not dest._table(catalog.streams[1]).exists()

    # a NON-reset sync (records present) must not drop anything
    result2 = dest.write(reset_catalog, _lines_df(spark, LINES[:2]))
    assert result2.full_reset is False
    assert dest._table(catalog.streams[0]).exists()


def test_state_heavy_sync_streams_echo(spark, dest):
    """A sync with 10^4 STATE lines: with `on_state`, echoes stream
    through the callback (toLocalIterator pulls one partition at a
    time) and NOTHING accumulates in WriteResult.states — the driver
    never holds the full state set. Order and stats-echo semantics are
    preserved, and the echo happens after the records landed
    (flush-before-state)."""
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    lines = [_rec("airlines_ow", 1705379716, id=1, name="northern")]
    lines += [
        json.dumps(
            {
                "type": "STATE",
                "state": {"id": n, "sourceStats": {"recordCount": 1.0}},
            }
        )
        for n in range(10_000)
    ]
    got = []
    result = dest.write(catalog, _lines_df(spark, lines), on_state=got.append)
    assert result.states == []  # streamed, not accumulated
    assert result.n_states == 10_000 and len(got) == 10_000
    ids = [json.loads(s)["state"]["id"] for s in got]
    assert ids == list(range(10_000))  # wire order preserved
    first = json.loads(got[0])["state"]
    assert first["destinationStats"] == {"recordCount": 1.0}
    assert dest.read_table("airlines_ow").count() == 1


def test_state_types_echo_opaque_with_stats(spark, dest):
    """STREAM / GLOBAL / LEGACY state messages (protocol.go:92-115) all
    echo with their payload intact and destinationStats injected — the
    reference treats state_type opaquely (echo-after-flush only) and so
    do we; this pins that parity."""
    catalog = P.ConfiguredCatalog.from_dict(CATALOG)
    lines = [
        _rec("airlines_ow", 1705379716, id=1, name="northern"),
        json.dumps({"type": "STATE", "state": {
            "type": "STREAM",
            "stream": {"stream_descriptor": {"name": "airlines_ow"},
                        "stream_state": {"cursor": 7}},
            "sourceStats": {"recordCount": 1.0}}}),
        json.dumps({"type": "STATE", "state": {
            "type": "GLOBAL",
            "global": {"shared_state": {"lsn": 123},
                        "stream_states": [{"stream_descriptor": {"name": "airlines_ow"},
                                           "stream_state": {"cursor": 8}}]}}}),
        json.dumps({"type": "STATE", "state": {"id": 9}}),  # LEGACY-ish
    ]
    result = dest.write(catalog, _lines_df(spark, lines))
    echoed = [json.loads(s)["state"] for s in result.states]
    assert echoed[0]["type"] == "STREAM"
    assert echoed[0]["stream"]["stream_state"] == {"cursor": 7}
    assert echoed[0]["destinationStats"] == {"recordCount": 1.0}
    assert echoed[1]["type"] == "GLOBAL"
    assert echoed[1]["global"]["shared_state"] == {"lsn": 123}
    assert echoed[1]["destinationStats"] == {"recordCount": 0}
    assert echoed[2]["id"] == 9 and echoed[2]["destinationStats"] == {"recordCount": 0}


def test_fused_index_path_no_persist_no_single_partition(spark):
    """The wire path's record index must come from the zero-persist
    fused pass: no InMemoryTableScan (nothing cached), no
    SinglePartition exchange, and exact 0..n-1 input-order indexes even
    with non-RECORD lines interleaved."""
    from airbyte_destination_spark.destination import (
        _indexed_records,
        _validated_offsets,
    )
    from airbyte_destination_spark.plans import executed_plan
    from pyspark.sql import functions as F

    lines = []
    for i in range(40):
        lines.append(_rec("s", 1705379716, id=i, name=f"n{i}"))
        if i % 4 == 0:
            lines.append(_state(i))
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    typed = df.select(
        F.col("value"),
        F.get_json_object("value", "$.type").alias("type"),
        F.get_json_object("value", "$.record.stream").alias("stream"),
        F.get_json_object("value", "$.record.namespace").alias("namespace"),
    )
    offsets, n = _validated_offsets(typed)
    assert n == 40
    recs = _indexed_records(typed, offsets)
    plan = executed_plan(recs)
    assert "InMemoryTableScan" not in plan, plan
    assert "SinglePartition" not in plan, plan
    got = sorted(r._record_index for r in recs.select("_record_index").collect())
    assert got == list(range(40))
    # input order is the index order: record payload i sits at index i
    by_idx = {
        r._record_index: json.loads(r.value)["record"]["data"]["id"]
        for r in recs.collect()
    }
    assert by_idx == {i: i for i in range(40)}


def test_shuffled_input_auto_pins_one_materialization(spark, tmp_path):
    """An input with an Exchange upstream (repartition) has
    job-dependent row->partition assignment under AQE — write() must
    detect it and pin ONE materialization so record indexes stay a
    permutation of 0..n-1 (observed failure without the pin: duplicate
    and missing indexes)."""
    catalog = P.ConfiguredCatalog.from_dict(
        {"streams": [CATALOG["streams"][0]]}
    )
    lines = [_rec("airlines_ow", 1705379716, id=i, name=f"n{i}") for i in range(60)]
    df = _lines_df(spark, lines).repartition(7)
    dest = Destination(spark, P.Config(warehouse=str(tmp_path / "wh"), n_buckets=4))
    result = dest.write(catalog, df)
    assert result.tables["airlines_ow"] == 60
    tbl = dest.read_table("airlines_ow")
    # unique indexes -> unique raw ids -> 60 distinct rows survive
    assert tbl.select(P.RAW_ID_COL).distinct().count() == 60


def test_multi_stream_concurrent_write_matches_serial(spark, tmp_path):
    """4 independent streams written concurrently (the per-stream
    ThreadPool) must produce exactly the per-stream rows a serial apply
    would — same tables, same rows, same dedup outcome."""
    streams = []
    lines = []
    for k in range(4):
        streams.append(
            {
                "sync_mode": "incremental",
                "cursor_field": ["updated_at"],
                "primary_key": [["id"]],
                "destination_sync_mode": "append_dedup",
                "stream": {
                    "name": f"st{k}",
                    "json_schema": {
                        "type": "object",
                        "properties": {
                            "id": {"type": "integer"},
                            "name": {"type": ["null", "string"]},
                            "updated_at": {"type": "string", "format": "date-time"},
                        },
                    },
                },
            }
        )
    for i in range(30):
        k = i % 4
        # two versions per key: later updated_at must win in every stream
        lines.append(
            _rec(f"st{k}", 1705379700 + i, id=i // 4, name=f"old{i}",
                 updated_at=f"2024-03-18T18:05:{i % 50 + 10}.000Z")
        )
        lines.append(
            _rec(f"st{k}", 1705379800 + i, id=i // 4, name=f"new{i}",
                 updated_at=f"2024-03-19T18:05:{i % 50 + 10}.000Z")
        )
    catalog = P.ConfiguredCatalog.from_dict({"streams": streams})
    dest = Destination(spark, P.Config(warehouse=str(tmp_path / "wh"), n_buckets=4))
    result = dest.write(catalog, _lines_df(spark, lines))

    for k in range(4):
        expected = {}
        for i in range(30):
            if i % 4 != k:
                continue
            expected[i // 4] = f"new{i}"  # LWW by updated_at
        got = {
            r.id: r.name for r in dest.read_table(f"st{k}").collect()
        }
        assert got == expected, (k, got, expected)
        assert result.tables[f"st{k}"] == len(expected)


def test_append_dedup_cursor_ties(spark, dest):
    """Both LWW tie rules of an append_dedup sync: inside one sync, two
    records of one key with an equal cursor keep the greater raw id; a
    later sync that re-sends the stored cursor value replaces the stored
    row, even when its own raw id is smaller."""
    from pyspark.sql import functions as F

    from airbyte_destination_spark.functions.enrich import raw_id_expr

    def raw_id(index, emitted):
        return (
            spark.range(1)
            .select(raw_id_expr("", "airlines_dedup", F.lit(index), F.lit(emitted)))
            .first()[0]
        )

    catalog = P.ConfiguredCatalog.from_dict({"streams": [CATALOG["streams"][1]]})
    ts = "2024-03-19T18:05:49.000Z"
    dest.write(
        catalog,
        _lines_df(spark, [
            _rec("airlines_dedup", 1705379710, id=1, name="a", updated_at=ts),
            _rec("airlines_dedup", 1705379710, id=1, name="b", updated_at=ts),
        ]),
    )
    ids = {"a": raw_id(0, 1705379710), "b": raw_id(1, 1705379710)}
    winner = max(ids, key=ids.get)
    rows = dest.read_table("airlines_dedup").collect()
    assert [(r.id, r.name, r[P.RAW_ID_COL]) for r in rows] == [(1, winner, ids[winner])]

    # a resend whose raw id sorts below the stored one still wins
    emitted = next(e for e in range(1705379711, 1705379800) if raw_id(0, e) < ids[winner])
    dest.write(
        catalog, _lines_df(spark, [_rec("airlines_dedup", emitted, id=1, name="c", updated_at=ts)])
    )
    rows = dest.read_table("airlines_dedup").collect()
    assert [(r.id, r.name, r[P.RAW_ID_COL]) for r in rows] == [(1, "c", raw_id(0, emitted))]


def test_catalog_merge_engine_aggregate_stream(spark, dest):
    """TableSettings-analog engine selection from the catalog: an
    append_dedup stream with merge_engine='aggregate' SUMS its declared
    column across events per key (SummingMergeTree shape) instead of
    keeping only the last row."""
    catalog = P.ConfiguredCatalog.from_dict(
        {
            "streams": [
                {
                    "sync_mode": "incremental",
                    "cursor_field": ["seq"],
                    "primary_key": [["id"]],
                    "destination_sync_mode": "append_dedup",
                    "merge_engine": "aggregate",
                    "agg_spec": {"amount": "sum"},
                    "stream": {
                        "name": "totals",
                        "json_schema": {
                            "type": "object",
                            "properties": {
                                "id": {"type": "integer"},
                                "amount": {"type": "integer"},
                                "seq": {"type": "integer"},
                            },
                        },
                    },
                }
            ]
        }
    )
    lines = [
        _rec("totals", 1, id=1, amount=10, seq=1),
        _rec("totals", 2, id=1, amount=5, seq=2),
        _rec("totals", 3, id=2, amount=7, seq=3),
        _state(1),
        _rec("totals", 4, id=1, amount=1, seq=4),
    ]
    dest.write(catalog, _lines_df(spark, lines))
    rows = {r.id: (r.amount, r.seq) for r in dest.read_table("totals").collect()}
    assert rows == {1: (16, 4), 2: (7, 3)}


def test_catalog_merge_engine_validation(spark, dest):
    with pytest.raises(ValueError, match="merge_engine"):
        P.ConfiguredCatalog.from_dict(
            {
                "streams": [
                    {
                        "destination_sync_mode": "append",
                        "merge_engine": "aggregate",
                        "agg_spec": {"x": "sum"},
                        "stream": {"name": "bad", "json_schema": {"properties": {}}},
                    }
                ]
            }
        ).streams[0].validate()
    with pytest.raises(ValueError, match="agg_spec"):
        P.ConfiguredCatalog.from_dict(
            {
                "streams": [
                    {
                        "destination_sync_mode": "append_dedup",
                        "primary_key": [["id"]],
                        "merge_engine": "aggregate",
                        "stream": {
                            "name": "bad2",
                            "json_schema": {"properties": {"id": {"type": "integer"}}},
                        },
                    }
                ]
            }
        ).streams[0].validate()
