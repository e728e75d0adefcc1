"""End-to-end CDC replay: changegen -> ingest -> final state == DuckDB oracle.

This is the engine's core correctness gate (SURVEY.md §5): replay a
deterministic synthetic change log, assert per-row token-array equality
against an independent single-threaded reducer, then prove resume and
parallelism-independence.
"""

import pytest

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.sources.changegen import write_change_log
from airbyte_destination_spark.streaming.pipeline import (
    IngestConfig,
    run_ingest_batches,
    run_ingest_stream,
)
from tests.oracle import assert_equal_state

N_EVENTS, N_DOCS = 4000, 300


@pytest.fixture()
def changelog(spark, tmp_path):
    d = str(tmp_path / "log")
    dirs = write_change_log(spark, d, N_EVENTS, N_DOCS, n_batches=4, seed=11)
    return d, dirs


def test_replay_matches_oracle(spark, tmp_path, changelog):
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    stats = run_ingest_batches(spark, dirs, table, IngestConfig(n_buckets=8))
    assert all(not s.skipped for s in stats)
    n = assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")
    assert n > 0


def test_resume_after_partial_replay(spark, tmp_path, changelog):
    """Crash-resume: replaying from the start skips applied epochs and the
    final state is identical — exactly-once, the reference's
    flush-before-state-echo upgraded (destination.go:403-420)."""
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    cfg = IngestConfig(n_buckets=8)
    run_ingest_batches(spark, dirs[:2], table, cfg)  # "crash" after 2 epochs
    v_mid = table.current_version()
    stats = run_ingest_batches(spark, dirs, table, cfg)  # restart from zero
    assert [s.skipped for s in stats] == [True, True, False, False]
    assert table.current_version() > v_mid
    assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")


def test_streaming_ingest_matches_oracle(spark, tmp_path, changelog):
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    q = run_ingest_stream(
        spark,
        log_dir + "/batch-*",
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=IngestConfig(n_buckets=8),
    )
    q.awaitTermination(timeout=300)
    assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")


def test_quarantine_split(spark, tmp_path):
    """Malformed rows (n_tok mismatch) are quarantined, not applied and
    not fatal — upgrade of the reference's abort-on-first-error
    (destination.go:396-400)."""
    rows = [
        ("RECORD", "s", "", "I", 1, 1000, ("d1", [1, 2], 2, "web"), None),
        ("RECORD", "s", "", "I", 2, 1001, ("d2", [1, 2], 99, "web"), None),  # bad n_tok
    ]
    schema = (
        "type string, stream string, namespace string, op string, change_lsn long,"
        " emitted_at long, data struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>,"
        " state string"
    )
    batch = spark.createDataFrame(rows, schema)
    table = LakeTable(str(tmp_path / "t"))
    from airbyte_destination_spark.streaming.pipeline import apply_change_batch

    qroot = str(tmp_path / "quarantine")
    apply_change_batch(table, batch, "e0", IngestConfig(n_buckets=4, quarantine_root=qroot))
    assert [r.doc_id for r in table.read(spark).collect()] == ["d1"]
    qdf = spark.read.parquet(qroot + "/epoch=e0")
    assert qdf.count() == 1 and qdf.first()["_reject_reason"] == "n_tok_mismatch"


@pytest.mark.parametrize("stale_checks", [1, 2])
def test_ensure_table_adopts_a_racing_create(spark, tmp_path, stale_checks):
    """Two consumers racing on a new table both see it missing; the
    loser's create fails — FileExistsError when create's own check
    already sees the table (1 stale check), CommitConflict when both
    reach the commit (2) — and must use the winner's table."""
    from airbyte_destination_spark.streaming.pipeline import _ensure_table

    batch = spark.createDataFrame([("d1", 1, "I")], "doc_id string, change_lsn long, op string")
    cfg = IngestConfig(n_buckets=4)
    path = str(tmp_path / "t")
    _ensure_table(LakeTable(path), batch, cfg)
    loser = LakeTable(path)
    stale = [False] * stale_checks
    loser.exists = lambda: stale.pop() if stale else LakeTable.exists(loser)
    _ensure_table(loser, batch, cfg)
    assert LakeTable(path).current_version() == 1


def test_byte_bounded_epochs(spark, tmp_path, changelog):
    """O7: with max_bytes_per_trigger set, a multi-file log splits into
    multiple bounded epochs (the reference's 1,047,000-byte flush rule
    mapped to per-trigger input bounds) and the final state still
    matches the oracle."""
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    q = run_ingest_stream(
        spark,
        log_dir + "/batch-*",
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=IngestConfig(n_buckets=8, max_bytes_per_trigger=1),  # 1 byte -> 1 file/epoch
    )
    q.awaitTermination(timeout=300)
    n_epochs = table.n_applied_epochs()
    assert n_epochs > 1, "byte bound did not split the log into multiple epochs"
    assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")


def test_deferred_enrich_ids_match_eager(spark, tmp_path, changelog):
    """The LWW pipeline computes the raw-id sha256 after the merge's
    reduce, on winners only; the stored ids must equal the eager recipe
    (enrich_records) applied to the LWW winners of the log — a row's id
    depends only on its own fields."""
    from pyspark.sql import functions as F

    from airbyte_destination_spark import protocol as P
    from airbyte_destination_spark.functions.enrich import enrich_records
    from airbyte_destination_spark.operators.dedup import lww_reduce
    from airbyte_destination_spark.sources.changelog import records_only

    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    run_ingest_batches(spark, dirs, table, IngestConfig(n_buckets=8))
    cols = ["doc_id", P.RAW_ID_COL, P.EXTRACTED_AT_COL]
    winners = lww_reduce(
        records_only(spark.read.parquet(f"{log_dir}/batch-*")), ["doc_id"], ["change_lsn"]
    ).where(F.col("op") != "D")
    want = sorted(map(tuple, enrich_records(winners).select(*cols).collect()))
    got = sorted(map(tuple, table.read(spark).select(*cols).collect()))
    assert got == want and len(got) > 0


def _write_numeric_log(spark, root, n_batches=3):
    """Hand-built change log for the non-LWW engines: (doc_id, amount,
    note, tokens) where amount accumulates, note is sparsely written,
    tokens is null on most updates (partial-image shape)."""
    from pyspark.sql import functions as F

    dirs = []
    rows = []
    lsn = 0
    for b in range(n_batches):
        batch_rows = []
        for k in range(40):
            lsn += 1
            if b == 1 and k % 10 == 0:
                batch_rows.append((f"d{k:03d}", None, None, None, lsn, "D"))
            else:
                batch_rows.append(
                    (
                        f"d{k:03d}",
                        (k + b) * 10,
                        f"n{b}" if (k + b) % 3 == 0 else None,
                        [k, b] if b == 0 else None,
                        lsn,
                        "I" if b == 0 else "U",
                    )
                )
        rows.extend(batch_rows)
        d = f"{root}/b{b}"
        spark.createDataFrame(
            batch_rows,
            "doc_id string, amount long, note string, tokens array<int>, "
            "change_lsn long, op string",
        ).withColumn("n_tok", F.size("tokens")).repartition(2).write.parquet(d)
        dirs.append(d)
    full = spark.createDataFrame(
        rows,
        "doc_id string, amount long, note string, tokens array<int>, "
        "change_lsn long, op string",
    ).withColumn("n_tok", F.size("tokens"))
    return dirs, full


def test_ingest_reduce_aggregate_matches_one_shot(spark, tmp_path):
    """run_ingest_batches(reduce='aggregate') across epochs equals the
    one-shot declared-aggregate fold of the whole log — the engine's
    stored-row-re-enters-the-fold invariant riding the real pipeline
    (validate split, enrichment, epoch markers)."""
    from pyspark.sql import functions as F

    from airbyte_destination_spark.operators.dedup import aggregate_reduce

    dirs, full = _write_numeric_log(spark, str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "t"))
    cfg = IngestConfig(
        n_buckets=4,
        reduce="aggregate",
        agg_spec={"amount": "sum"},
        validate=True,  # null-token upserts must pass through, not quarantine
    )
    run_ingest_batches(spark, dirs, table, cfg)
    got = {
        r.doc_id: (r.amount, r.note, list(r.tokens) if r.tokens else None)
        for r in table.read(spark).collect()
    }
    want = {
        r.doc_id: (r.amount, r.note, list(r.tokens) if r.tokens else None)
        for r in aggregate_reduce(
            full.drop("n_tok", "_airbyte_raw_id"),
            ["doc_id"],
            "change_lsn",
            {"amount": "sum"},
        )
        .where(F.col("op") == "U")
        .collect()
    }
    assert got == want
    # replay is a no-op (exactly-once markers hold for this engine too)
    v = table.current_version()
    run_ingest_batches(spark, dirs, table, cfg)
    assert table.current_version() == v


def test_ingest_reduce_partial_inherits_and_validates(spark, tmp_path):
    """reduce='partial' through the pipeline: null tokens on an upsert
    inherit the stored array instead of being quarantined; a delete
    then a re-insert resets inheritance."""
    from pyspark.sql import functions as F

    from airbyte_destination_spark.operators.dedup import partial_update_reduce

    dirs, full = _write_numeric_log(spark, str(tmp_path / "log"))
    table = LakeTable(str(tmp_path / "t"))
    cfg = IngestConfig(n_buckets=4, reduce="partial")
    run_ingest_batches(spark, dirs, table, cfg)
    got = {
        r.doc_id: (r.amount, list(r.tokens) if r.tokens else None)
        for r in table.read(spark).collect()
    }
    want = {
        r.doc_id: (r.amount, list(r.tokens) if r.tokens else None)
        for r in partial_update_reduce(
            full.drop("n_tok"), ["doc_id"], "change_lsn"
        )
        .where(F.col("op") == "U")
        .collect()
    }
    assert got == want
    # undeleted keys inherited their batch-0 tokens through null updates
    assert want["d001"][1] == [1, 0]


def test_bloom_maintenance_rides_ingest(spark, tmp_path, changelog):
    """bloom=True builds per-file key blooms after every epoch: full
    coverage at the end, point lookups prune + stay correct, and a
    crash-resume replay leaves coverage intact (incremental build finds
    nothing missing for skipped epochs)."""
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    cfg = IngestConfig(n_buckets=8, merge_strategy="mor")
    run_ingest_batches(spark, dirs[:2], table, cfg, bloom=True)
    d = table.describe()
    assert d["files_with_blooms"] == d["n_data_files"] > 0
    run_ingest_batches(spark, dirs, table, cfg, bloom=True)  # resume
    d = table.describe()
    assert d["files_with_blooms"] == d["n_data_files"]
    assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")
    # a probed key folds correctly through bloom-pruned MOR reads
    k = table.read(spark).limit(1).first()["doc_id"]
    rows = table.read_keys(spark, [k]).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == k


def test_metrics_table_rider(spark, tmp_path, changelog):
    """Per-partition lineage rows land in a METRICS lake table (the
    north-star contract), exactly once: a crash-resume replay adds no
    duplicate rows, per-epoch sums reproduce the input batch sizes, and
    the epoch_id-bucketed layout serves per-epoch reads via
    read_prefix."""
    from airbyte_destination_spark.streaming.pipeline import ensure_metrics_table

    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    metrics = LakeTable(str(tmp_path / "metrics"))
    cfg = IngestConfig(n_buckets=8)
    run_ingest_batches(spark, dirs[:2], table, cfg, metrics=metrics)
    n_rows_mid = metrics.read(spark).count()
    assert n_rows_mid > 0
    run_ingest_batches(spark, dirs, table, cfg, metrics=metrics)  # resume
    mdf = metrics.read(spark)
    # exactly once: the two replayed epochs added nothing
    assert mdf.where(mdf.epoch_id.isin("ingest-000000", "ingest-000001")).count() == n_rows_mid
    # per-epoch applied-row sums == input batch sizes
    import pyspark.sql.functions as F

    got = {
        r["epoch_id"]: r["n"]
        for r in mdf.groupBy("epoch_id").agg(F.sum("rows_applied").alias("n")).collect()
    }
    for i, d in enumerate(dirs):
        assert got[f"ingest-{i:06d}"] == spark.read.parquet(d).count()
    # lsn ranges nest inside each batch's actual bounds
    for i, d in enumerate(dirs):
        lo, hi = spark.read.parquet(d).agg(
            F.min("change_lsn"), F.max("change_lsn")
        ).first()
        row = (
            mdf.where(mdf.epoch_id == f"ingest-{i:06d}")
            .agg(F.min("lsn_min"), F.max("lsn_max"))
            .first()
        )
        assert row[0] >= lo and row[1] <= hi
    # prefix read: one epoch's rows without scanning the others
    one = metrics.read_prefix(spark, ["ingest-000002"])
    assert one.count() == mdf.where(mdf.epoch_id == "ingest-000002").count() > 0


def test_metrics_crash_window_recovery(spark, tmp_path, changelog):
    """Crash BETWEEN the data commit and the metrics append: the next
    replay sees the data epoch as applied (skipped) but must recover
    the lineage from the data table's commit record and emit the
    missing metrics rows — then a further replay adds nothing."""
    log_dir, dirs = changelog
    table = LakeTable(str(tmp_path / "t"))
    metrics = LakeTable(str(tmp_path / "metrics"))
    cfg = IngestConfig(n_buckets=8)
    # simulate the crash: apply epoch 0 with NO metrics table attached
    run_ingest_batches(spark, dirs[:1], table, cfg)
    assert not metrics.exists()
    # resume WITH metrics: epoch 0 is skipped, metrics must backfill
    run_ingest_batches(spark, dirs[:1], table, cfg, metrics=metrics)
    import pyspark.sql.functions as F

    n0 = (
        metrics.read(spark)
        .where(F.col("epoch_id") == "ingest-000000")
        .agg(F.sum("rows_applied"))
        .first()[0]
    )
    assert n0 == spark.read.parquet(dirs[0]).count()
    total = metrics.read(spark).count()
    run_ingest_batches(spark, dirs[:1], table, cfg, metrics=metrics)
    assert metrics.read(spark).count() == total  # idempotent
