"""Size-tiered (LSM-style) compaction: merge runs of similar-sized
files per bucket. Every row keeps its stored commit version `_cv`
through the merge, so an arbitrary SUBSET of a bucket's files can merge
without reordering MOR's (version, commit-version) total order.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.sources.changegen import write_change_log
from airbyte_destination_spark.streaming.pipeline import (
    IngestConfig,
    run_ingest_batches,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.LongType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(d, v, p, op) for d, v, p, op in rows],
        T.StructType(SCHEMA.fields + [T.StructField("op", T.StringType(), True)]),
    )


def _stored(table, entries=None):
    """(doc_id, payload, _cv) of every row the given entries' files
    (default: every current file) store."""
    if entries is None:
        entries = [e for fs in table.manifest()["buckets"].values() for e in fs]
    rows = set()
    for e in entries:
        tbl = pq.read_table(
            os.path.join(table.root, e["path"]), columns=["doc_id", "payload", "_cv"]
        )
        rows |= set(zip(*(tbl[c].to_pylist() for c in tbl.column_names)))
    return rows


def _visible(table, spark):
    return {
        r["doc_id"]: (r["v"], r["payload"])
        for r in table.read(spark).collect()
    }


def test_subset_merge_preserves_version_tie_order(spark, tmp_path):
    """THE ordering regression the stored `_cv` guards: key A carries
    the SAME version in three commits (cv 2 < 3 < 4); visible payload is
    the cv-4 row. Tiered compaction merges only the two SMALL files (cv
    2,3) — if the merged output were stamped with the compaction's own
    commit version (5), the cv-3 row would suddenly outrank the cv-4 row
    and the visible payload would flip. Stored per-row _cv keeps the
    original order."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=1, merge_strategy="mor")
    t.merge(_batch(spark, [("A", 5, "x", "U")]), epoch_id="e-0")       # cv 2
    t.merge(_batch(spark, [("A", 5, "y", "U")]), epoch_id="e-1")       # cv 3
    big = [("A", 5, "z", "U")] + [
        (f"pad{i}", 1, "p" * 64, "U") for i in range(4000)
    ]
    t.merge(_batch(spark, big), epoch_id="e-2")                        # cv 4
    assert _visible(t, spark)["A"] == (5, "z")

    res = t.compact_tiered(spark, min_run=2, tier_factor=4.0)
    assert res is not None and res["files_merged"] == 2
    # the big cv-4 file was NOT rewritten
    # the merged file keeps the cv-3 row's commit version, below cv 4
    assert ("A", "y", 3) in _stored(t) and ("A", "z", 4) in _stored(t)
    assert _visible(t, spark)["A"] == (5, "z")  # order preserved


def test_tiered_equals_untouched_and_full_compact(spark, tmp_path):
    """Random CDC workload: periodic tiered compaction must be invisible
    to readers — equal to the never-compacted table AND to a full
    compact() afterwards."""
    d = str(tmp_path / "log")
    dirs = write_change_log(spark, d, 4000, 300, n_batches=6, seed=31)
    cfg = IngestConfig(n_buckets=4, merge_strategy="mor", auto_compact_files=None)
    plain = LakeTable(str(tmp_path / "plain"))
    run_ingest_batches(spark, dirs, plain, cfg)
    tiered = LakeTable(str(tmp_path / "tiered"))
    for i, p in enumerate(dirs):
        from airbyte_destination_spark.streaming.pipeline import apply_change_batch

        apply_change_batch(tiered, spark.read.parquet(p), f"ingest-{i:06d}", cfg)
        if i % 2 == 1:
            tiered.compact_tiered(spark, min_run=2)
    cols = sorted(plain.read(spark).columns)
    a = plain.read(spark).select(*cols)
    b = tiered.read(spark).select(*cols)
    assert a.exceptAll(b).count() == 0 and a.count() == b.count()
    # a full compact over tiered output re-folds it and agrees
    tiered.compact(spark, min_files=2)
    c = tiered.read(spark).select(*cols)
    assert a.exceptAll(c).count() == 0 and a.count() == c.count()


def test_base_file_untouched_under_sustained_deltas(spark, tmp_path):
    """The write-amplification claim: small delta runs merge among
    themselves; the bucket's big base file is never rewritten until a
    run grows into its size class."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=1, merge_strategy="mor")
    base_rows = [(f"d{i}", 1, "x" * 128, "U") for i in range(20000)]
    merged = {t.merge(_batch(spark, base_rows), epoch_id="seed-0").version}
    base_path = t.manifest()["buckets"]["0"][0]["path"]
    v = 2
    for i in range(8):
        merged.add(t.merge(
            _batch(spark, [(f"d{j}", v, f"u{i}", "U") for j in range(i, 50 + i)]),
            epoch_id=f"seed-{i + 1}",
        ).version)
        v += 1
        if (i + 1) % 4 == 0:
            res = t.compact_tiered(spark, min_run=3)
            assert res is not None
    paths = [e["path"] for e in t.manifest()["buckets"]["0"]]
    assert base_path in paths  # base never rewritten
    assert len(paths) < 9  # deltas folded
    # every entry records bytes, and every row keeps the commit version
    # of the merge that wrote it, never a compaction's
    for e in t.manifest()["buckets"]["0"]:
        assert "bytes" in e
        assert {cv for _, _, cv in _stored(t, [e])} <= merged


def test_tombstone_still_guards_after_subset_merge(spark, tmp_path):
    """A tombstone merged into a tiered file keeps guarding against
    late OLDER updates (its version rides the fold; its original cv is
    stored)."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=1, merge_strategy="mor")
    t.merge(_batch(spark, [("A", 3, "x", "U")]), epoch_id="e-0")
    t.merge(_batch(spark, [("A", 7, None, "D")]), epoch_id="e-1")
    big = [(f"pad{i}", 1, "p" * 64, "U") for i in range(4000)]
    t.merge(_batch(spark, big), epoch_id="e-2")
    res = t.compact_tiered(spark, min_run=2, tier_factor=4.0)
    assert res is not None
    assert "A" not in _visible(t, spark)
    # late older update arrives AFTER the compaction — still loses
    t.merge(_batch(spark, [("A", 5, "late", "U")]), epoch_id="e-3")
    assert "A" not in _visible(t, spark)


def test_append_mode_bin_packs_without_dedup(spark, tmp_path):
    """Non-MOR tables skip the LWW fold: duplicates are data in append
    mode, so tiered compaction only bin-packs the files."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], None, n_buckets=1)
    df = spark.createDataFrame([("A", 1, "x"), ("A", 1, "x")], SCHEMA)
    for i in range(4):
        t.append(df, epoch_id=f"a-{i}")
    assert t.read(spark).count() == 8
    res = t.compact_tiered(spark, min_run=2)
    assert res is not None
    assert t.read(spark).count() == 8  # duplicates survive


def test_noop_when_no_qualifying_run(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=1, merge_strategy="mor")
    t.merge(_batch(spark, [("A", 1, "x", "U")]), epoch_id="e-0")
    assert t.compact_tiered(spark, min_run=4) is None


def test_rescale_preserves_stored_cv_version_ties(spark, tmp_path):
    """compact_tiered x split_buckets: the rescale re-cut must carry
    each row's stored _cv VERBATIM, never re-stamp rows with an entry's
    own cv. The tiered entry's cv is the COMPACTION's commit version —
    higher than the unmerged cv-4 delta — so a re-stamp would let the
    stale cv-3 row outrank the cv-4 winner after publish (the reorder
    hazard the stored _cv prevents, now across the rescale
    boundary)."""
    t = LakeTable(str(tmp_path / "t"))
    t.create(SCHEMA, ["doc_id"], "v", n_buckets=2, merge_strategy="mor")
    t.merge(_batch(spark, [("A", 5, "x", "U")]), epoch_id="e-0")  # cv 2
    t.merge(_batch(spark, [("A", 5, "y", "U")]), epoch_id="e-1")  # cv 3
    big = [("A", 5, "z", "U")] + [
        (f"pad{i}", 1, "p" * 64, "U") for i in range(4000)
    ]
    t.merge(_batch(spark, big), epoch_id="e-2")                   # cv 4
    res = t.compact_tiered(spark, min_run=2, tier_factor=4.0)
    assert res is not None
    assert ("A", "y", 3) in _stored(t)
    assert _visible(t, spark)["A"] == (5, "z")

    r, calls = {"published": False}, 0
    while not r["published"]:
        r = t.split_buckets(spark, factor=2)
        calls += 1
        assert calls <= 5
    m = t.manifest(t.current_version())
    assert m["n_buckets"] == 4 and m["operation"] == "rescale"
    # the re-cut files keep every row's commit version
    assert {("A", "y", 3), ("A", "z", 4)} <= _stored(t)
    # and the version tie still resolves to the cv-4 winner
    assert _visible(t, spark)["A"] == (5, "z")
    # full state intact (spot: the pads survived the re-cut)
    assert len(_visible(t, spark)) == 4001
