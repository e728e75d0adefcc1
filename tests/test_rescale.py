"""Online bucket rescale (`split_buckets`): zero-shuffle paced campaign.

The at-scale bucket-count evolution path. `rebucket` (tested in
test_lake.py) rewrites the whole table in one shuffled job; at 10^10
rows that is a single monolithic O(table) shuffle no one schedules.
`split_buckets` exploits the consistent-hashing property of
pmod(hash, N) -> pmod(hash, N*factor) — every row of old bucket b lands
in {b, b+N, ...} — so the rewrite is a MAP-ONLY re-cut of each bucket's
files, paceable in small groups, resumable, and safe under concurrent
ingest (stale buckets are re-split before the single publish commit).
Mirrors Iceberg's bucket-spec evolution, which relies on the same
modular-arithmetic containment.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.plans import count_exchanges

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("change_lsn", T.LongType(), False),
    ]
)
BATCH = "doc_id string, tokens array<int>, change_lsn long, op string"


def _mk(spark, root, strategy="mor", n_buckets=4):
    t = LakeTable(os.path.join(root, f"t_{strategy}"))
    t.create(
        SCHEMA,
        key_cols=["doc_id"],
        version_col="change_lsn",
        n_buckets=n_buckets,
        merge_strategy=strategy,
    )
    rows = [(f"d{i}", [i, i + 1], i, "I") for i in range(300)]
    t.merge(spark.createDataFrame(rows, BATCH), epoch_id="e0")
    upd = [(f"d{i}", [i * 10], 1000 + i, "U") for i in range(0, 300, 7)]
    dele = [(f"d{i}", None, 2000 + i, "D") for i in range(0, 300, 13)]
    t.merge(spark.createDataFrame(upd + dele, BATCH), epoch_id="e1")
    return t


def _state(spark, t, version=None):
    return {r.doc_id: r.tokens for r in t.read(spark, version=version).collect()}


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_split_preserves_state_and_layout_semantics(spark, tmp_table_root, strategy):
    t = _mk(spark, tmp_table_root, strategy)
    before = _state(spark, t)
    pre_head = t.current_version()

    # paced: one 2-bucket group per call until the campaign publishes
    res, calls = {"published": False}, 0
    while not res["published"]:
        res = t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
        calls += 1
        assert calls <= 10
    assert calls == 2  # 4 buckets / group_size 2, publish rides the last call

    m = t.manifest(t.current_version())
    assert m["n_buckets"] == 8 and m["operation"] == "rescale"
    assert _state(spark, t) == before
    # key-pruned point read works under the new mapping
    got = t.read_keys(spark, ["d3"]).collect()
    assert len(got) == 1 and got[0].tokens == [3, 4]
    # later merges write under the new layout
    t.merge(spark.createDataFrame([("d3", [99], 9999, "U")], BATCH), epoch_id="e2")
    assert t.read_keys(spark, ["d3"]).collect()[0].tokens == [99]
    # time travel to the pre-rescale head reads under the OLD mapping
    assert _state(spark, t, version=pre_head) == before
    # the staged campaign record is gone after publish
    assert not os.path.exists(t._staged_path("rescale-default"))


def test_split_plan_is_map_only(spark, tmp_table_root):
    """The whole point: the re-cut never shuffles. Zero (non-broadcast)
    exchanges in the physical plan of a split group covering ALL
    buckets — scan, project bucket id, write."""
    t = _mk(spark, tmp_table_root)
    m = t.manifest(t.current_version())
    target = T.StructType(
        T.StructType.fromJson(m["schemas"][str(m["schema_id"])]).fields
        + [T.StructField("_ab_deleted", T.BooleanType(), True)]
    )
    by_base = {}
    for fs in m["buckets"].values():
        for e in fs:
            by_base.setdefault(bool(e.get("base")), []).append(e)
    plan = t._split_plan(spark, m, by_base, target, m["n_buckets"] * 2)
    assert plan is not None
    assert count_exchanges(plan) == 0


def test_concurrent_commit_marks_buckets_stale_and_catches_up(spark, tmp_table_root):
    """A merge landing mid-campaign invalidates exactly the buckets it
    touched; the next call re-splits them before publish, so the
    published layout reflects the LATEST data."""
    t = _mk(spark, tmp_table_root)
    r1 = t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
    assert not r1["published"] and r1["split"] == 2 and r1["pending"] == 2

    # a writer races in, touching every bucket (incl. the 2 already split)
    upd2 = [(f"d{i}", [555], 9000 + i, "U") for i in range(0, 300, 3)]
    t.merge(spark.createDataFrame(upd2, BATCH), epoch_id="e2")
    before = _state(spark, t)

    # next call must report the already-done buckets as STALE and
    # re-split them before the campaign can publish
    r2 = t.split_buckets(spark, factor=2, max_groups=0, group_size=2)
    assert not r2["published"] and r2["stale"] == 2 and r2["pending"] == 2

    res, calls = {"published": False}, 0
    while not res["published"]:
        res = t.split_buckets(spark, factor=2, max_groups=4, group_size=2)
        calls += 1
        assert calls <= 6
    assert t.manifest(t.current_version())["n_buckets"] == 8
    assert _state(spark, t) == before
    assert t.read_keys(spark, ["d3"]).collect()[0].tokens == [555]


def test_resume_from_partial_campaign_record(spark, tmp_table_root):
    """Crash-resume: a half-split campaign continues from its staged
    record — already-split fresh buckets are NOT re-split."""
    t = _mk(spark, tmp_table_root)
    t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
    rec = t._read_staged("rescale-default")
    done_before = set(rec["done"])
    assert len(done_before) == 2
    # a new LakeTable handle (fresh process) picks the campaign up
    t2 = LakeTable(t.root)
    res = t2.split_buckets(spark, factor=2, max_groups=4, group_size=2)
    assert res["published"] and res["split"] == 2  # only the remaining 2


def test_rescale_record_rejected_by_wap_api_and_vice_versa(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
    with pytest.raises(ValueError, match="rescale campaign"):
        t.publish("rescale-default")
    with pytest.raises(ValueError, match="rescale campaign"):
        t.read_staged(spark, "rescale-default")
    with pytest.raises(ValueError, match="rescale campaign"):
        t.abort("rescale-default")
    # abort_rescale drops the record and its files
    rec = t._read_staged("rescale-default")
    snaps = {
        e["path"].split(os.sep)[1]
        for fs in rec["buckets"].values()
        for e in fs
    }
    assert snaps
    t.abort_rescale()
    assert not os.path.exists(t._staged_path("rescale-default"))
    for snap in snaps:
        assert not os.path.exists(os.path.join(t.root, "data", snap))
    # table unharmed, old layout intact
    assert t.manifest(t.current_version())["n_buckets"] == 4
    assert len(_state(spark, t)) == t.read(spark).count()


def test_expiry_pins_campaign_dirs(spark, tmp_table_root):
    """A mid-campaign expire_snapshots must not collect the campaign's
    split files: the staged record's `buckets` map pins them exactly
    like any WAP staging. The campaign then publishes from intact
    files."""
    t = _mk(spark, tmp_table_root)
    t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
    before = _state(spark, t)
    # churn some history so expiry has something to walk, then expire
    # aggressively (no grace — the campaign dirs must be pinned by the
    # record, not saved by mtime)
    t.merge(spark.createDataFrame([("d1", [7], 8000, "U")], BATCH), epoch_id="e2")
    before["d1"] = [7]
    t.expire_snapshots(keep_last=1, grace_seconds=0.0)
    rec = t._read_staged("rescale-default")
    for fs in rec["buckets"].values():
        for e in fs:
            assert os.path.exists(os.path.join(t.root, e["path"])), e["path"]
    res = {"published": False}
    while not res["published"]:
        res = t.split_buckets(spark, factor=2, max_groups=4, group_size=2)
    assert _state(spark, t) == before


def test_factor_validation_and_mismatch(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    with pytest.raises(ValueError, match="factor"):
        t.split_buckets(spark, factor=1)
    t.split_buckets(spark, factor=2, max_groups=1, group_size=2)
    with pytest.raises(ValueError, match="abort_rescale"):
        t.split_buckets(spark, factor=3)


def test_split_entries_keep_zone_maps_and_sizes(spark, tmp_table_root):
    """Split entries carry the same `bytes` and `stats` a write records:
    scan(bounds) prunes the re-cut files on a stats_cols column as it
    did before the split, and a small read_keys after the rescale still
    reads on the driver, starting no Spark job."""
    t = LakeTable(os.path.join(tmp_table_root, "t_stats"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("ts", T.LongType(), True),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
        stats_cols=["ts"],  # COW: scan(bounds) prunes on any stats column
    )
    for e in range(3):  # disjoint ts range per epoch
        rows = [(e * 100 + i, e * 1000 + i, e) for i in range(100)]
        t.append(spark.createDataFrame(rows, "k long, ts long, v long"), epoch_id=f"s-{e}")
    window = {"ts": (1000, 1099)}

    def rows(entries) -> list:
        out = []
        for e in entries:
            tbl = pq.read_table(os.path.join(t.root, e["path"]), columns=["k", "ts"])
            out += zip(tbl["k"].to_pylist(), tbl["ts"].to_pylist())
        return sorted(out)

    before = rows(t.files_for_bounds(window))
    assert [ts for _, ts in before] == list(range(1000, 1100))

    while not t.split_buckets(spark, factor=2)["published"]:
        pass
    m = t.manifest()
    entries = [e for fs in m["buckets"].values() for e in fs]
    assert m["n_buckets"] == 4 and entries
    for e in entries:
        assert e["bytes"] > 0 and "ts" in e["stats"], e
    kept = t.files_for_bounds(window)
    assert rows(kept) == before
    assert len(kept) < len(entries)
    assert t.scan(spark, window).count() == 100

    sc = spark.sparkContext
    sc.setJobGroup("split-lookup", "split-lookup")
    try:
        rows = t.read_keys(spark, [5, 150, 299]).select("k", "ts").collect()
        jobs = sc.statusTracker().getJobIdsForGroup("split-lookup")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"lookup after the rescale launched Spark jobs: {jobs}"
    assert sorted((r.k, r.ts) for r in rows) == [(5, 5), (150, 1050), (299, 2099)]
