"""Merge-on-read strategy: O(batch) delta appends, fold-at-read,
compaction — ClickHouse ReplacingMergeTree's shape (the reference's
actual storage engine)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.sources.changegen import write_change_log
from airbyte_destination_spark.streaming.pipeline import IngestConfig, run_ingest_batches
from tests.oracle import assert_equal_state

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
    t.create(SCHEMA, ["doc_id"], "change_lsn", n_buckets=4, merge_strategy="mor")
    return t


def test_mor_merge_never_reads_existing(spark, table):
    """Delta files accumulate; file count grows per merge (no rewrite)."""
    for i in range(3):
        b = spark.createDataFrame([("a", [i], i, "U")], BATCH_SCHEMA)
        table.merge(b, epoch_id=f"e{i}")
    m = table.manifest()
    n_files = sum(len(fs) for fs in m["buckets"].values())
    assert n_files == 3  # one delta per merge, nothing rewritten
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].tokens == [2]  # fold picks max lsn


def test_mor_lww_and_delete_and_late_update(spark, table):
    table.merge(
        spark.createDataFrame(
            [("a", [1], 1, "I"), ("b", [2], 2, "I"), ("a", [3], 3, "U")], BATCH_SCHEMA
        ),
        epoch_id="e0",
    )
    table.merge(
        spark.createDataFrame([("b", None, 4, "D"), ("a", [9], 2, "U")], BATCH_SCHEMA),
        epoch_id="e1",
    )
    state = {r.doc_id: r.tokens for r in table.read(spark).collect()}
    assert state == {"a": [3]}
    # late OLDER update after the delete: the tombstone delta must win
    table.merge(spark.createDataFrame([("b", [7], 1, "U")], BATCH_SCHEMA), epoch_id="e2")
    assert table.read(spark).where("doc_id='b'").count() == 0


def test_mor_compact_folds_then_state_unchanged(spark, table):
    for i in range(4):
        table.merge(
            spark.createDataFrame([("k", [i], i, "U"), (f"d{i}", [i], 10 + i, "I")], BATCH_SCHEMA),
            epoch_id=f"e{i}",
        )
    before = sorted(
        (r.doc_id, tuple(r.tokens), r.change_lsn) for r in table.read(spark).collect()
    )
    v = table.compact(spark)
    assert v is not None
    m = table.manifest()
    assert all(len(fs) <= 1 for fs in m["buckets"].values())
    after = sorted(
        (r.doc_id, tuple(r.tokens), r.change_lsn) for r in table.read(spark).collect()
    )
    assert before == after
    assert table.compact(spark) is None  # nothing left to fold


def test_mor_equal_version_latest_commit_wins(spark, table):
    """Two commits carrying the SAME version for a key: the later commit
    wins (_cv tiebreak) — ReplacingMergeTree keeps the last-inserted row
    among equal versions."""
    table.merge(spark.createDataFrame([("x", [1], 5, "U")], BATCH_SCHEMA), epoch_id="e0")
    table.merge(spark.createDataFrame([("x", [2], 5, "U")], BATCH_SCHEMA), epoch_id="e1")
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0].tokens == [2]


def test_mor_full_replay_matches_oracle(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    dirs = write_change_log(spark, log_dir, 4000, 300, n_batches=4, seed=21)
    t = LakeTable(str(tmp_path / "t"))
    cfg = IngestConfig(n_buckets=8, merge_strategy="mor")
    run_ingest_batches(spark, dirs, t, cfg)
    assert_equal_state(t.read(spark), f"{log_dir}/batch-*/*.parquet")
    t.compact(spark)
    assert_equal_state(t.read(spark), f"{log_dir}/batch-*/*.parquet")
    t.purge_tombstones(spark)
    assert_equal_state(t.read(spark), f"{log_dir}/batch-*/*.parquet")


def test_mor_read_keys_and_overwrite_where(spark, table):
    table.merge(
        spark.createDataFrame(
            [("a", [1], 1, "I"), ("a", [2], 2, "U"), ("c", [3], 3, "I")], BATCH_SCHEMA
        ),
        epoch_id="e0",
    )
    got = table.read_keys(spark, ["a"]).collect()
    assert len(got) == 1 and got[0].tokens == [2]
    table.overwrite_where(spark, "change_lsn <= 2")
    assert [r.doc_id for r in table.read(spark).collect()] == ["c"]


def test_auto_compact_bounds_file_count(spark, tmp_path):
    """With auto_compact_files set, per-bucket delta-file counts stay
    bounded across many small MOR epochs and the final state is
    unchanged."""
    from airbyte_destination_spark.lake import LakeTable
    from airbyte_destination_spark.streaming.pipeline import IngestConfig, apply_change_batch

    cfg = IngestConfig(n_buckets=2, merge_strategy="mor", auto_compact_files=4, validate=False)
    table = LakeTable(str(tmp_path / "t"))
    for i in range(12):
        batch = spark.createDataFrame(
            [(f"d{j}", [i * 10 + j], i * 100 + j, 1000 + i, "U") for j in range(8)],
            "doc_id string, tokens array<int>, change_lsn long, emitted_at long, op string",
        )
        apply_change_batch(table, batch, f"e{i}", cfg)
    m = table.manifest()
    max_files = max(len(fs) for fs in m["buckets"].values())
    assert max_files < 4 + 1, f"auto-compact did not bound file count: {max_files}"
    # final state: every doc at its last version
    rows = {r.doc_id: r.change_lsn for r in table.read(spark).collect()}
    assert rows == {f"d{j}": 1100 + j for j in range(8)}


def test_optimize_one_call_maintenance(spark, table):
    """optimize() = compact + (optional purge) + expire: deltas fold,
    state unchanged, metadata bounded."""
    for i in range(6):
        b = spark.createDataFrame(
            [(f"k{j}", [i * 10 + j], i * 10 + j, "U") for j in range(3)], BATCH_SCHEMA
        )
        table.merge(b, epoch_id=f"opt-{i:03d}")
    before = {r.doc_id: r.tokens for r in table.read(spark).collect()}
    res = table.optimize(spark, min_files=2, keep_last=3, bloom=True, analyze=True)
    assert res["compacted_version"] is not None
    after = {r.doc_id: r.tokens for r in table.read(spark).collect()}
    assert after == before
    m = table.manifest()
    assert all(len(fs) <= 1 for fs in m["buckets"].values())  # deltas folded
    assert table.is_epoch_applied("opt-000") and table.is_epoch_applied("opt-005")
    # the optional maintenance riders ran: blooms cover the rewritten
    # files and stats are fresh
    assert res["blooms_built"] > 0 and res["row_count"] == len(after)
    d = table.describe()
    assert d["files_with_blooms"] == d["n_data_files"]
    assert d["stats"]["versions_stale"] == 0


def test_read_optimized_view(spark, tmp_path):
    """Hudi-style RO view: after compaction the fold-free read equals
    the full read; deltas landed after it are invisible (bounded
    staleness) until the next compact; the plan carries no aggregate."""
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "ro"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.LongType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("p", T.StringType(), True),
            ]
        ),
        ["k"],
        "v",
        n_buckets=4,
        merge_strategy="mor",
    )
    S = "k long, v long, p string, op string"
    t.merge(spark.createDataFrame([(i, 1, f"a{i}", "I") for i in range(40)], S), epoch_id="e0")
    t.merge(
        spark.createDataFrame(
            [(1, 2, "UPD", "U"), (2, 2, None, "D"), (99, 2, "NEW", "I")], S
        ),
        epoch_id="e1",
    )
    t.compact(spark, min_files=1)
    full = sorted(tuple(r) for r in t.read(spark).collect())
    ro = sorted(tuple(r) for r in t.read(spark, read_optimized=True).collect())
    assert ro == full  # all buckets based: identical state
    # fold-free: no aggregate exchange in the RO plan
    plan = t.read(spark, read_optimized=True)._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan and "HashAggregate" not in plan, plan
    # staleness contract: a post-compaction delta is NOT visible in RO
    t.merge(spark.createDataFrame([(1, 3, "NEWER", "U")], S), epoch_id="e2")
    ro2 = {r["k"]: r["p"] for r in t.read(spark, read_optimized=True).collect()}
    assert ro2[1] == "UPD"  # still the compacted image
    assert {r["k"]: r["p"] for r in t.read(spark).collect()}[1] == "NEWER"
    # next compact folds it in
    t.compact(spark, min_files=1)
    ro3 = {r["k"]: r["p"] for r in t.read(spark, read_optimized=True).collect()}
    assert ro3[1] == "NEWER"


def test_mor_bounds_bound_from_footers(spark, table, monkeypatch):
    """A MOR merge binds each new delta file's zone-map bounds from its
    own parquet footer, so they are exactly the min and max of the keys
    the file holds, and they prune point lookups."""
    from airbyte_destination_spark.lake import table as tmod

    calls = []
    orig = tmod._file_col_stats

    def spy(path, cols):
        calls.append(path)
        return orig(path, cols)

    monkeypatch.setattr(tmod, "_file_col_stats", spy)
    table.merge(
        spark.createDataFrame(
            [("a", [1], 1, "I"), ("m", [2], 2, "I"), ("z", [3], 3, "I"), ("q", None, 4, "D")],
            BATCH_SCHEMA,
        ),
        epoch_id="e0",
    )
    ents = [e for fs in table.manifest()["buckets"].values() for e in fs]
    paths = [os.path.join(table.root, e["path"]) for e in ents]
    assert ents and sorted(calls) == sorted(paths)  # one footer read per new file
    for e, path in zip(ents, paths):
        keys = pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
        assert (e["kmin"], e["kmax"]) == (min(keys), max(keys))
    # the bounds prune: a probe key below every kmin opens no file
    assert table.read_keys(spark, ["0-below-all"]).count() == 0
    assert {r.doc_id for r in table.read_keys(spark, ["m"]).collect()} == {"m"}
