"""LakeTable semantics: merge, deletes, replay, evolution, filtered delete."""

import pytest
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.lake import table as lake_table

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("change_lsn", T.LongType(), False),
    ]
)
BATCH_SCHEMA = "doc_id string, tokens array<int>, change_lsn long, op string"


@pytest.fixture()
def table(tmp_table_root):
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    return t


def test_merge_lww_and_delete(spark, table):
    b1 = spark.createDataFrame(
        [("a", [1], 1, "I"), ("b", [2], 2, "I"), ("a", [3], 3, "U")], BATCH_SCHEMA
    )
    table.merge(b1, epoch_id="e0")
    state = {r.doc_id: r.tokens for r in table.read(spark).collect()}
    assert state == {"a": [3], "b": [2]}

    # delete b; stale update for a (lsn 2 < 3) must lose against table state
    b2 = spark.createDataFrame([("b", None, 4, "D"), ("a", [9], 2, "U")], BATCH_SCHEMA)
    table.merge(b2, epoch_id="e1")
    state = {r.doc_id: r.tokens for r in table.read(spark).collect()}
    assert state == {"a": [3]}


def test_same_key_i_d_i_one_batch(spark, table):
    b = spark.createDataFrame(
        [("x", [1], 10, "I"), ("x", None, 11, "D"), ("x", [2], 12, "I")], BATCH_SCHEMA
    )
    table.merge(b)
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].tokens == [2]


def test_tombstone_blocks_late_older_update(spark, table):
    """A delete in batch N must leave a versioned tombstone so an OLDER
    update arriving in batch N+1 cannot resurrect the key
    (ReplacingMergeTree(ver, is_deleted) semantics). Found by the
    hypothesis property test."""
    table.merge(spark.createDataFrame([("k", None, 100, "D")], BATCH_SCHEMA), epoch_id="e0")
    table.merge(spark.createDataFrame([("k", [1], 5, "I")], BATCH_SCHEMA), epoch_id="e1")
    assert table.read(spark).count() == 0
    # a NEWER insert does win over the tombstone
    table.merge(spark.createDataFrame([("k", [2], 200, "I")], BATCH_SCHEMA), epoch_id="e2")
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].tokens == [2]
    # purge removes tombstones without changing the visible state
    table.merge(spark.createDataFrame([("gone", None, 300, "D")], BATCH_SCHEMA), epoch_id="e3")
    table.purge_tombstones(spark)
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].tokens == [2]


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_purge_tombstones_rewrites_only_holding_buckets(
    spark, tmp_table_root, strategy
):
    """Purge must rewrite ONLY buckets holding tombstone rows; clean
    buckets keep their exact files, and a tombstone-free table is a
    version-preserving no-op."""
    t = LakeTable(tmp_table_root)
    t.create(
        SCHEMA,
        key_cols=["doc_id"],
        version_col="change_lsn",
        n_buckets=8,
        merge_strategy=strategy,
    )
    rows = [(f"k{i}", [i], i, "I") for i in range(1, 33)]
    t.merge(spark.createDataFrame(rows, BATCH_SCHEMA), epoch_id="e0")

    def paths():
        return {
            b: [e["path"] for e in fs] for b, fs in t.manifest()["buckets"].items()
        }

    # no tombstones anywhere: no-op, version unchanged
    v0 = t.current_version()
    assert t.purge_tombstones(spark) == v0
    assert t.current_version() == v0

    t.merge(
        spark.createDataFrame([("k7", None, 100, "D")], BATCH_SCHEMA), epoch_id="e1"
    )
    before = paths()
    t.purge_tombstones(spark)
    after = paths()
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1, (changed, before, after)
    state = {r.doc_id for r in t.read(spark).collect()}
    assert state == {f"k{i}" for i in range(1, 33)} - {"k7"}
    # purged: an older insert can now resurrect (documented trade;
    # purge is only safe past the source watermark)
    # and a second purge is a no-op again
    v1 = t.current_version()
    assert t.purge_tombstones(spark) == v1


def test_epoch_replay_is_noop(spark, table):
    b = spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA)
    s1 = table.merge(b, epoch_id="e")
    s2 = table.merge(b, epoch_id="e")
    assert not s1.skipped and s2.skipped
    assert table.read(spark).count() == 1
    assert table.current_version() == s1.version


def test_append_keeps_duplicates(spark, table):
    """append sync mode: duplicates land as separate rows
    (reference e2e expects 8 rows incl. a repeated id=7 payload,
    /root/reference/e2e/main_test.go:69-83)."""
    b = spark.createDataFrame([("a", [1], 1), ("a", [1], 1)], BATCH_SCHEMA.replace(", op string", ""))
    table.append(b)
    assert table.read(spark).count() == 2


def test_schema_evolution_add_and_widen(spark, table):
    table.merge(spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA))
    evolved = spark.createDataFrame(
        [("b", [2], 2, "I", "en", 5)],
        "doc_id string, tokens array<int>, change_lsn long, op string, lang string, score long",
    )
    table.merge(evolved)
    df = table.read(spark)
    assert set(df.columns) == {"doc_id", "tokens", "change_lsn", "lang", "score"}
    rows = {r.doc_id: r for r in df.collect()}
    assert rows["a"].lang is None and rows["b"].lang == "en"


def test_overwrite_where(spark, table):
    table.merge(
        spark.createDataFrame([("a", [1], 1, "I"), ("b", [2], 2, "I")], BATCH_SCHEMA)
    )
    table.overwrite_where(spark, "change_lsn <= 1")
    rows = table.read(spark).collect()
    assert [r.doc_id for r in rows] == ["b"]


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_overwrite_where_rewrites_only_matching_buckets(
    spark, tmp_table_root, strategy
):
    """A selective delete must rewrite ONLY the buckets containing
    matches: every other bucket keeps its exact file entries (at 100 TB
    this is the difference between a retention delete and a full table
    rewrite). A no-match predicate rewrites nothing."""
    t = LakeTable(tmp_table_root)
    t.create(
        SCHEMA,
        key_cols=["doc_id"],
        version_col="change_lsn",
        n_buckets=8,
        merge_strategy=strategy,
    )
    rows = [(f"k{i}", [i], i, "I") for i in range(1, 33)]
    t.merge(spark.createDataFrame(rows, BATCH_SCHEMA), epoch_id="e0")

    def paths():
        return {
            b: [e["path"] for e in fs] for b, fs in t.manifest()["buckets"].items()
        }

    before = paths()
    # delete one key: exactly that key's bucket is dirty
    stats = t.overwrite_where(spark, "doc_id = 'k7'")
    assert stats.buckets_touched == 1
    after = paths()
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1, (changed, before, after)
    state = {r.doc_id for r in t.read(spark).collect()}
    assert state == {f"k{i}" for i in range(1, 33)} - {"k7"}

    # no-match predicate: zero rewrites, files identical, rows intact
    stats = t.overwrite_where(spark, "change_lsn > 1000")
    assert stats.buckets_touched == 0
    assert paths() == after
    assert len(t.read(spark).collect()) == 31


def test_missing_key_column_rejected(spark, table):
    bad = spark.createDataFrame([(1,)], "change_lsn long")
    with pytest.raises(ValueError, match="key column"):
        table.merge(bad)


def test_lineage_rows(spark, table):
    b = spark.createDataFrame([("a", [1], 5, "I"), ("b", [2], 7, "I")], BATCH_SCHEMA)
    table.merge(b, epoch_id="e0")
    rows = table.lineage_rows()
    assert sum(r["rows_applied"] for r in rows) == 2
    assert all(r["epoch_id"] == "e0" for r in rows)
    assert min(r["lsn_min"] for r in rows) == 5
    assert max(r["lsn_max"] for r in rows) == 7


def test_table_changes_net_semantics(spark, tmp_table_root):
    """CDF between snapshots: insert/update/delete classified on the
    visible state diff; a key that appears AND dies inside the window
    emits nothing (net semantics); payload is post-image except for
    deletes (pre-image)."""
    from pyspark.sql import types as T

    t = LakeTable(tmp_table_root)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("change_lsn", T.LongType(), False),
        ]
    )
    bs = "doc_id string, tokens array<int>, change_lsn long, op string"
    t.create(schema, ["doc_id"], "change_lsn", n_buckets=4)
    v0 = t.merge(
        spark.createDataFrame(
            [("keep", [1], 1, "I"), ("upd", [2], 2, "I"), ("gone", [3], 3, "I")], bs
        ),
        epoch_id="w-0",
    ).version
    t.merge(
        spark.createDataFrame(
            [("upd", [9], 10, "U"), ("gone", None, 11, "D"),
             ("new", [4], 12, "I"), ("flash", [5], 13, "I")], bs
        ),
        epoch_id="w-1",
    )
    t.merge(spark.createDataFrame([("flash", None, 14, "D")], bs), epoch_id="w-2")

    got = {r.doc_id: r for r in t.table_changes(spark, v_from=v0).collect()}
    assert set(got) == {"upd", "gone", "new"}  # keep unchanged, flash net-zero
    assert got["new"].change_type == "insert" and got["new"].tokens == [4]
    assert got["upd"].change_type == "update" and got["upd"].tokens == [9]
    assert got["gone"].change_type == "delete" and got["gone"].tokens == [3]
    assert got["gone"].change_lsn == 3  # pre-image for deletes
    # explicit v_to: window ending before the flash delete sees it alive
    vs = [h["version"] for h in t.history() if h["operation"] == "merge"]
    mid = t.table_changes(spark, v_from=v0, v_to=vs[1])
    assert {r.doc_id for r in mid.collect()} == {"upd", "gone", "new", "flash"}


def test_compact_writes_key_sorted_files(spark, tmp_table_root):
    """Maintenance rewrites (compact) emit key-ordered parquet files so
    row-group min/max stats are selective; data is unchanged."""
    import glob

    import pyarrow.parquet as pq

    t = LakeTable(tmp_table_root)
    t.create(
        SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=2,
        merge_strategy="mor",  # deltas accumulate -> compact has work
    )
    # two merges in reverse-key order -> >=2 files/bucket, unsorted rows
    rows1 = [(f"k{i:03d}", [i], i, "I") for i in range(99, 49, -1)]
    rows2 = [(f"k{i:03d}", [i], 100 + i, "U") for i in range(49, -1, -1)]
    t.merge(spark.createDataFrame(rows1, BATCH_SCHEMA), epoch_id="e0")
    t.merge(spark.createDataFrame(rows2, BATCH_SCHEMA), epoch_id="e1")
    before = sorted((r.doc_id, r.tokens) for r in t.read(spark).collect())
    assert t.compact(spark, min_files=2) is not None
    after = sorted((r.doc_id, r.tokens) for r in t.read(spark).collect())
    assert after == before
    m = t.manifest()
    live = {f["path"] for fs in m["buckets"].values() for f in fs}
    checked = 0
    for p in glob.glob(f"{tmp_table_root}/data/snap-*/*/*.parquet"):
        rel = p.split(f"{tmp_table_root}/", 1)[1]
        if rel not in live:
            continue
        col = pq.read_table(p, columns=["doc_id"]).column("doc_id").to_pylist()
        assert col == sorted(col), f"{rel} not key-sorted"
        checked += 1
    assert checked >= 2  # both buckets rewritten
    # point lookup over the sorted files still exact
    got = {r.doc_id for r in t.read_keys(spark, ["k007", "k077"]).collect()}
    assert got == {"k007", "k077"}


# ---------------------------------------------------------------- rebucket


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_rebucket_preserves_state_and_semantics(spark, tmp_table_root, strategy):
    """Bucket-count evolution: grow 4 -> 16 mid-stream. The rewrite must
    keep live rows AND tombstones (late older updates still lose), the
    next merge must route keys by the NEW mapping, and read_keys must
    prune with the new bucket count."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn",
             n_buckets=4, merge_strategy=strategy)
    t.merge(spark.createDataFrame(
        [("a", [1], 1, "I"), ("b", [2], 2, "I"), ("dead", None, 50, "D")],
        BATCH_SCHEMA), epoch_id="e0")
    v_pre = t.merge(spark.createDataFrame(
        [("a", [3], 3, "U"), ("c", [4], 4, "I")], BATCH_SCHEMA),
        epoch_id="e1").version

    v_rb = t.rebucket(spark, 16)
    assert v_rb == v_pre + 1
    assert t.manifest()["n_buckets"] == 16
    # no-op when already at the target
    assert t.rebucket(spark, 16) == v_rb

    # state unchanged by the rewrite
    state = {r.doc_id: r.tokens for r in t.read(spark).collect()}
    assert state == {"a": [3], "b": [2], "c": [4]}
    # tombstone survived: a LATE OLDER update must still lose
    t.merge(spark.createDataFrame([("dead", [9], 10, "U")], BATCH_SCHEMA),
            epoch_id="e2")
    assert "dead" not in {r.doc_id for r in t.read(spark).collect()}
    # post-rebucket merges route by the new mapping and stay readable
    t.merge(spark.createDataFrame(
        [("a", [7], 7, "U"), ("d", [8], 8, "I")], BATCH_SCHEMA), epoch_id="e3")
    state = {r.doc_id: r.tokens for r in t.read(spark).collect()}
    assert state == {"a": [7], "b": [2], "c": [4], "d": [8]}
    # point lookups prune under the NEW count and still find every key
    got = {r.doc_id for r in t.read_keys(spark, ["a", "b", "c", "d"]).collect()}
    assert got == {"a", "b", "c", "d"}
    # time travel to the pre-rebucket version uses ITS mapping/file map
    old = {r.doc_id: r.tokens for r in t.read(spark, version=v_pre).collect()}
    assert old == {"a": [3], "b": [2], "c": [4]}


def test_table_changes_across_rebucket_boundary(spark, tmp_table_root):
    """A CDF window spanning the rebucket rewrite reports only LOGICAL
    changes — the physical reshuffle of every file is invisible."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    v0 = t.merge(spark.createDataFrame(
        [("a", [1], 1, "I"), ("b", [2], 2, "I")], BATCH_SCHEMA),
        epoch_id="e0").version
    t.rebucket(spark, 8)
    t.merge(spark.createDataFrame(
        [("a", [5], 5, "U"), ("c", [6], 6, "I")], BATCH_SCHEMA), epoch_id="e1")
    ch = {(r.doc_id, r.change_type) for r in
          t.table_changes(spark, v_from=v0).collect()}
    assert ch == {("a", "update"), ("c", "insert")}


def test_zone_map_file_pruning_point_lookup(spark, tmp_path, monkeypatch):
    """Manifest entries carry (kmin, kmax) footer bounds; read_keys
    prunes FILES inside the candidate buckets with them — on an
    un-compacted MOR table with time-correlated keys a point lookup
    opens O(files containing the key), not O(epochs). The MOR LWW fold
    stays correct because pruning is per-key complete (updates and
    tombstones of a probed key always land in kept files)."""
    t = LakeTable(str(tmp_path / "zm"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("payload", T.StringType(), True),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=4,
        merge_strategy="mor",
    )
    s = "doc_id long, v long, payload string, op string"
    for i in range(4):  # disjoint key ranges per epoch (CDC-shaped)
        t.merge(
            spark.createDataFrame(
                [(i * 1000 + j, i * 10, f"p{i}-{j}", "I") for j in range(50)], s
            ),
            epoch_id=f"e-{i}",
        )
    m = t.manifest()
    entries = [e for fs in m["buckets"].values() for e in fs]
    assert all("kmin" in e and "kmax" in e for e in entries), entries[:2]
    probe = [2042, 2007]
    cand = t.files_for_keys(spark, probe)
    assert len(cand) < len(entries) // 2, (len(cand), len(entries))
    # a small lookup is served on the driver: a LocalRelation, no scan
    lookup = t.read_keys(spark, probe)
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    # the Spark path (kept files over the driver byte bound): the third
    # layer's literal IN predicate must reach the parquet scan so
    # row-group min/max stats prune inside the kept files
    with monkeypatch.context() as mp:
        mp.setattr(lake_table, "_LOOKUP_DRIVER_MAX_BYTES", -1)
        lookup = t.read_keys(spark, probe)
        plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan, plan
    got = sorted((r.doc_id, r.payload) for r in lookup.collect())
    assert got == [(2007, "p2-7"), (2042, "p2-42")], got
    # later update + tombstone of the probed keys must win through the fold
    t.merge(
        spark.createDataFrame([(2042, 99, "NEW", "U"), (2007, 99, None, "D")], s),
        epoch_id="e-9",
    )
    got = sorted((r.doc_id, r.payload) for r in t.read_keys(spark, probe).collect())
    assert got == [(2042, "NEW")], got


def test_zone_map_entries_without_stats_fail_open(spark, tmp_path):
    """Pre-zone-map manifests (entries lacking kmin/kmax) and
    type-mismatched bounds keep the file — pruning is an optimization,
    never a correctness gate."""
    t = LakeTable(str(tmp_path / "legacy"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
    )
    t.merge(
        spark.createDataFrame([("a", 1, "I"), ("b", 1, "I")], "k string, v long, op string"),
        epoch_id="x-0",
    )
    # simulate a legacy manifest: strip the stats in-place
    m = t.manifest()
    for fs in m["buckets"].values():
        for e in fs:
            e.pop("kmin", None)
            e.pop("kmax", None)
    assert len(t.files_for_keys(spark, ["a"])) >= 1
    got = [r.k for r in t.read_keys(spark, ["a"]).collect()]
    assert got == ["a"], got


def test_point_lookup_keeps_rows_after_a_file_without_hits(spark, tmp_path):
    """Three kept files of one schema id, the middle one holding no probe
    key: the driver path's per-file reads concatenate to record batches
    [1, 0, 1], and spark.createDataFrame(pa.Table) drops every batch
    after an empty one unless the chunks are combined first."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=1,
        merge_strategy="mor",
    )
    s = "k string, v long, op string"
    for i, ks in enumerate([("a", "z"), ("b", "y"), ("c", "x")]):
        t.merge(
            spark.createDataFrame([(k, i, "I") for k in ks], s), epoch_id=f"e-{i}"
        )
    assert len(t.files_for_keys(spark, ["a", "c"])) == 3
    got = sorted((r.k, r.v) for r in t.read_keys(spark, ["a", "c"]).collect())
    assert got == [("a", 0), ("c", 2)], got


def test_scan_bounds_pruning_cow_append(spark, tmp_path):
    """Data-skipping scan on an append-shaped COW event table: files
    whose declared stats_cols bounds miss the window are never opened;
    results equal the unpruned filter."""
    t = LakeTable(str(tmp_path / "ev"))
    t.create(
        T.StructType(
            [
                T.StructField("event_id", T.LongType(), False),
                T.StructField("change_lsn", T.LongType(), False),
                T.StructField("val", T.StringType(), True),
            ]
        ),
        ["event_id"],
        "change_lsn",
        n_buckets=4,
        stats_cols=["change_lsn"],
    )
    for e in range(5):  # lsn correlates with epoch (CDC-shaped)
        t.append(
            spark.createDataFrame(
                [(e * 1000 + j, e * 100 + j % 100, f"v{e}") for j in range(200)],
                "event_id long, change_lsn long, val string",
            ),
            epoch_id=f"a-{e}",
        )
    total = sum(len(fs) for fs in t.manifest()["buckets"].values())
    cand = t.files_for_bounds({"change_lsn": (250, 299)})
    assert len(cand) <= total // 2, (len(cand), total)
    got = t.scan(spark, {"change_lsn": (250, 299)})
    want = t.read(spark).where("change_lsn between 250 and 299")
    assert got.count() == want.count() > 0


def test_scan_mor_nonkey_bound_never_resurrects_stale_image(spark, tmp_path):
    """MOR safety rule: a non-key bound must not prune files (an older
    in-range image elsewhere would win the fold) and must filter the
    CURRENT image post-fold."""
    t = LakeTable(str(tmp_path / "m"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("amount", T.LongType(), True),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
        merge_strategy="mor",
        stats_cols=["amount"],
    )
    s = "k long, v long, amount long, op string"
    t.merge(spark.createDataFrame([(1, 1, 5, "I"), (2, 1, 5, "I")], s), epoch_id="m-0")
    t.merge(spark.createDataFrame([(1, 2, 50, "U")], s), epoch_id="m-1")
    got = sorted((r.k, r.amount) for r in t.scan(spark, {"amount": (0, 10)}).collect())
    assert got == [(2, 5)], got  # k=1's stale amount=5 must not come back
    got = sorted((r.k, r.amount) for r in t.scan(spark, {"amount": (40, 60)}).collect())
    assert got == [(1, 50)], got
    # non-key bounds keep every file on MOR ...
    total = sum(len(fs) for fs in t.manifest()["buckets"].values())
    assert len(t.files_for_bounds({"amount": (0, 10)})) == total
    # ... while first-key-column bounds still prune (per-key complete)
    t.merge(
        spark.createDataFrame([(1000 + i, 3, 7, "I") for i in range(50)], s),
        epoch_id="m-2",
    )
    total = sum(len(fs) for fs in t.manifest()["buckets"].values())
    assert len(t.files_for_bounds({"k": (1, 2)})) < total


def test_wap_stage_audit_publish(spark, tmp_table_root):
    """Write-audit-publish: a staged merge is invisible until publish;
    read_staged serves the audit; publish commits atomically and
    records the epoch exactly-once."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    t.merge(spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA), epoch_id="w-0")
    v0 = t.current_version()

    st = t.merge(
        spark.createDataFrame([("a", [9], 5, "U"), ("b", [2], 6, "I")], BATCH_SCHEMA),
        epoch_id="w-1",
        stage="release-1",
    )
    assert st.version == -1
    assert t.current_version() == v0  # nothing visible changed
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [1]}
    assert not t.is_epoch_applied("w-1")
    # audit the staged state
    staged = {r.doc_id: r.tokens for r in t.read_staged(spark, "release-1").collect()}
    assert staged == {"a": [9], "b": [2]}
    assert t.staged_ids() == ["release-1"]

    v1 = t.publish("release-1")
    assert v1 == v0 + 1
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [9], "b": [2]}
    assert t.is_epoch_applied("w-1")
    assert t.staged_ids() == []


def test_wap_publish_conflict_and_abort(spark, tmp_table_root):
    """A commit landing after the stage invalidates it: publish raises
    CommitConflict, abort removes ONLY the staged snapshot dirs."""
    import glob

    from airbyte_destination_spark.lake.table import CommitConflict

    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    t.merge(spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA), epoch_id="c-0")
    t.merge(
        spark.createDataFrame([("a", [7], 3, "U")], BATCH_SCHEMA),
        epoch_id="c-1",
        stage="release-2",
    )
    # concurrent writer advances the table past the staged base
    t.merge(spark.createDataFrame([("c", [5], 4, "I")], BATCH_SCHEMA), epoch_id="c-2")
    with pytest.raises(CommitConflict):
        t.publish("release-2")
    n_before = len(glob.glob(f"{tmp_table_root}/data/snap-*"))
    t.abort("release-2")
    assert len(glob.glob(f"{tmp_table_root}/data/snap-*")) < n_before
    # committed state untouched by the abort
    got = {r.doc_id: r.tokens for r in t.read(spark).collect()}
    assert got == {"a": [1], "c": [5]}
    assert t.staged_ids() == []
    # the conflicted epoch never became applied -> a re-stage can run it
    assert not t.is_epoch_applied("c-1")


def test_wap_staged_dirs_survive_expiry(spark, tmp_table_root):
    """expire_snapshots must never GC a staged (unpublished) snapshot
    dir, even after the table advances past the staged base."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=2)
    t.merge(spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA), epoch_id="g-0")
    t.merge(
        spark.createDataFrame([("a", [2], 2, "U")], BATCH_SCHEMA),
        epoch_id="g-stage",
        stage="slow-release",
    )
    rec = t._read_staged("slow-release")
    staged_snaps = {
        e["path"].split("/")[1]
        for fs in rec["buckets"].values()
        for e in fs
        if e["path"].startswith("data")
    }
    for i in range(3):  # advance well past the staged base
        t.merge(
            spark.createDataFrame([(f"k{i}", [i], 10 + i, "I")], BATCH_SCHEMA),
            epoch_id=f"g-{i + 1}",
        )
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    import os

    for snap in staged_snaps:
        assert os.path.isdir(f"{tmp_table_root}/data/{snap}"), snap
    # the staging is still auditable after expiry
    staged = {r.doc_id: r.tokens for r in t.read_staged(spark, "slow-release").collect()}
    assert staged["a"] == [2]


def test_rollback_restores_state_and_reopens_epochs(spark, tmp_table_root):
    """rollback(v) is a metadata-only restore committed as a NEW
    version; epoch markers revert with it, so replaying the undone
    change log reconverges (exactly-once interplay)."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    b1 = spark.createDataFrame([("a", [1], 1, "I"), ("b", [2], 2, "I")], BATCH_SCHEMA)
    b2 = spark.createDataFrame([("a", [9], 5, "U"), ("b", None, 6, "D")], BATCH_SCHEMA)
    v1 = t.merge(b1, epoch_id="r-0").version
    t.merge(b2, epoch_id="r-1")
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [9]}

    v_rb = t.rollback(v1)
    assert v_rb == t.current_version()
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [1], "b": [2]}
    # the rolled-back snapshot stays readable as history
    assert t.read(spark, version=v_rb - 1).count() == 1
    # the undone epoch was re-admitted: replay converges to the same end
    assert not t.is_epoch_applied("r-1")
    t.merge(b2, epoch_id="r-1")
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [9]}
    with pytest.raises(ValueError):
        t.rollback(t.current_version() + 1)


def test_rollback_commit_records_no_epoch(spark, tmp_table_root):
    """A rollback applies no epoch, so its commit records epoch_id=None.
    A copied id would make epoch_commit_version() resolve the rolled-to
    epoch to the rollback commit, whose lineage is empty, and rollup or
    metrics recovery would read that instead of the real data commit."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=2)
    v1 = t.merge(
        spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA), epoch_id="E1"
    ).version
    assert v1 == 2
    t.merge(spark.createDataFrame([("a", [2], 2, "U")], BATCH_SCHEMA), epoch_id="E2")
    t.rollback(v1)
    assert t.history()[-1]["epoch_id"] is None
    assert t.epoch_commit_version("E1") == 2
    assert t.is_epoch_applied("E1") and not t.is_epoch_applied("E2")


def test_incremental_consumer_poll_ack(spark, tmp_table_root):
    """poll_changes/ack: bootstrap poll sees the snapshot as inserts;
    subsequent polls see only the net CDF since the acked offset; an
    unacked poll re-delivers the identical window."""
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=4)
    t.merge(spark.createDataFrame([("a", [1], 1, "I"), ("b", [2], 2, "I")], BATCH_SCHEMA))

    df, v1 = t.poll_changes(spark, "sink-1")
    got = {(r.doc_id, r.change_type) for r in df.collect()}
    assert got == {("a", "insert"), ("b", "insert")}
    # not acked yet -> same window again
    df2, v1b = t.poll_changes(spark, "sink-1")
    assert v1b == v1
    assert {(r.doc_id, r.change_type) for r in df2.collect()} == got
    t.ack("sink-1", v1)
    assert t.poll_changes(spark, "sink-1") == (None, v1)

    t.merge(
        spark.createDataFrame(
            [("a", [7], 5, "U"), ("b", None, 6, "D"), ("c", [3], 7, "I")], BATCH_SCHEMA
        )
    )
    df3, v2 = t.poll_changes(spark, "sink-1")
    got3 = {(r.doc_id, r.change_type) for r in df3.collect()}
    assert got3 == {("a", "update"), ("b", "delete"), ("c", "insert")}
    t.ack("sink-1", v2)
    # a second consumer starts from scratch independently
    dfx, _ = t.poll_changes(spark, "sink-2")
    assert {(r.doc_id, r.change_type) for r in dfx.collect()} == {
        ("a", "insert"),
        ("c", "insert"),
    }
    with pytest.raises(ValueError):
        t.ack("sink-1", v1)  # offsets never move backwards


def test_wap_publish_crash_retry_self_heals(spark, tmp_table_root):
    """A publish that dies between its commit and the staged-record
    unlink must succeed (not wedge on CommitConflict) when retried:
    the committed version record carries the staging's wap_id."""
    import shutil

    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=2)
    t.merge(spark.createDataFrame([("a", [1], 1, "I")], BATCH_SCHEMA), epoch_id="h-0")
    t.merge(
        spark.createDataFrame([("a", [5], 9, "U")], BATCH_SCHEMA),
        epoch_id="h-1",
        stage="crashy",
    )
    staged_path = t._staged_path("crashy")
    keep = staged_path + ".bak"
    shutil.copy(staged_path, keep)
    v = t.publish("crashy")
    # simulate the crash: the staged record survived the first publish
    shutil.copy(keep, staged_path)
    assert t.publish("crashy") == v  # retry self-heals, same version
    assert t.staged_ids() == []
    assert {r.doc_id: r.tokens for r in t.read(spark).collect()} == {"a": [5]}


def test_describe_reports_health(spark, tmp_table_root):
    t = LakeTable(tmp_table_root)
    t.create(SCHEMA, key_cols=["doc_id"], version_col="change_lsn", n_buckets=2,
             merge_strategy="mor")
    t.merge(spark.createDataFrame([("a", [1], 1, "I"), ("b", [2], 2, "I")], BATCH_SCHEMA), epoch_id="d-0")
    t.merge(spark.createDataFrame([("a", [3], 3, "U")], BATCH_SCHEMA), epoch_id="d-1", stage="pending")
    d = t.describe()
    assert d["merge_strategy"] == "mor" and d["n_buckets"] == 2
    assert d["n_data_files"] >= 1 and d["data_bytes"] > 0
    assert d["files_with_zone_maps"] == d["n_data_files"]
    assert d["applied_epochs"] == 1 and d["staged"] == ["pending"]
    assert d["max_files_per_bucket"] >= 1


def test_range_clustered_compaction_restores_data_skipping(spark, tmp_path):
    """Plain compaction collapses a bucket into one all-spanning file;
    compact(cluster_by=..., max_records_per_file=...) cuts the sorted
    stream into contiguous-range files so scan(bounds) skips compacted
    data again."""
    t = LakeTable(str(tmp_path / "rc"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("ms", T.LongType(), True),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
        stats_cols=["ms"],  # COW: reads don't fold -> any-column pruning
    )
    s = "k long, ms long, v long"
    # 4 append epochs whose ms values INTERLEAVE (k % 400 scrambles
    # ranges) — pre-compaction epoch files are NOT ms-selective
    for e in range(4):
        rows = [(e * 1000 + i, (e * 1000 + i) % 400 * 10, e) for i in range(250)]
        t.append(spark.createDataFrame(rows, s), epoch_id=f"rc-{e}")
    v = t.compact(spark, cluster_by=["ms"], max_records_per_file=200)
    assert v is not None
    total = sum(len(fs) for fs in t.manifest()["buckets"].values())
    assert total > 2  # the cap split each bucket into several files
    cand = t.files_for_bounds({"ms": (0, 500)})
    assert len(cand) < total, (len(cand), total)
    got = t.scan(spark, {"ms": (0, 500)}).count()
    want = t.read(spark).where("ms between 0 and 500").count()
    assert got == want > 0


def test_checkpoint_enables_expiry_and_preserves_replay_guard(spark, tmp_path):
    """checkpoint() commits a FULL manifest record (rewrite_manifests
    analog) at the PRODUCTION interval setting: it creates an expiry
    boundary on demand, state and epoch replay protection survive, and
    time travel below the boundary raises after expiry."""
    t = LakeTable(str(tmp_path / "ckpt"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
    )
    S = "k long, v long, op string"
    for i in range(3):
        t.merge(spark.createDataFrame([(i, i, "I")], S), epoch_id=f"e{i}")
    v_early = t.current_version()  # v4, delta record
    cv = t.checkpoint()  # v5, full record
    assert not t._read_raw(cv).get("delta")
    t.merge(spark.createDataFrame([(9, 9, "I")], S), epoch_id="e9")
    # replay protection rides the checkpoint: an already-applied epoch
    # must still be skipped after the squash
    before = t.current_version()
    t.merge(spark.createDataFrame([(1, 777, "U")], S), epoch_id="e1")
    assert t.current_version() == before
    out = t.expire_snapshots(keep_last=t.current_version() - cv, grace_seconds=0)
    assert out["boundary"] == cv and out["expired_versions"] == cv - 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 9]
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=v_early).count()


def test_snapshot_tags_pin_reads_and_expiry(spark, tmp_path, monkeypatch):
    """Iceberg-style tags: read(tag=) resolves the pinned snapshot,
    re-tagging moves the name, and expire_snapshots retains history
    back to the oldest tag (a tagged version stays readable after an
    expiry that would otherwise have dropped it)."""
    from airbyte_destination_spark.lake import table as table_mod

    # dense full checkpoints so a tiny history is actually expirable
    monkeypatch.setattr(table_mod, "_CHECKPOINT_INTERVAL", 2)
    t = LakeTable(str(tmp_path / "tags"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
    )
    S = "k long, v long, op string"
    versions = []
    for i in range(8):
        t.merge(spark.createDataFrame([(i, i, "I")], S), epoch_id=f"e{i}")
        versions.append(t.current_version())
    t.tag("release-1", versions[1])
    assert t.tags() == {"release-1": versions[1]}
    assert t.read(spark, tag="release-1").count() == 2
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.resolve_tag("nope")
    with _pytest.raises(ValueError):
        t.tag("bad", versions[-1] + 10)
    # aggressive expiry would drop versions[1] without the tag pin
    out = t.expire_snapshots(keep_last=2, grace_seconds=0)
    assert t.read(spark, tag="release-1").count() == 2  # still readable
    # moving the tag forward frees old history for the next expiry
    t.tag("release-1", versions[6])
    t.expire_snapshots(keep_last=1, grace_seconds=0)
    assert t.read(spark, tag="release-1").count() == 7
    with _pytest.raises(FileNotFoundError):
        t.read(spark, version=versions[1]).count()
    t.drop_tag("release-1")
    assert t.tags() == {}


def test_point_lookup_key_routing_launches_no_spark_job(spark, tmp_path):
    """Routing a probe key list to buckets (read_keys/_keys_by_bucket)
    hashes the keys on the driver (lake/hashing.py) — it must not
    launch a Spark job (it once paid a full distinct+collect job per
    point lookup)."""
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "t"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=4,
    )
    m = t.manifest()
    schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
    sc = spark.sparkContext
    sc.setJobGroup("probe-routing", "probe-routing")
    by_bucket, hashes = t._keys_by_bucket(m, schema, [1, 2, 3, 2])
    jobs = sc.statusTracker().getJobIdsForGroup("probe-routing")
    sc.setJobGroup(None, None)
    assert sum(len(v) for v in by_bucket.values()) == 3  # deduped
    assert jobs == [], f"probe routing launched Spark jobs: {jobs}"
