"""The CDC apply pipeline (the reference's `write` path, Spark-native).

Reference control flow (/root/reference/internal/connector/destination.go:384-470):
serial scan -> enrich -> route -> bounded buffer -> POST -> STATE flush.
Ours: micro-batch DataFrame -> validate (Arrow UDF) -> enrich (codegen
exprs) -> LakeTable.merge (one max_by last-writer-wins reduce over batch
plus stored rows, bucket-pruned copy-on-write) -> epoch manifest commit.

Exactly-once: every micro-batch carries a deterministic epoch id; the
merge is a no-op when the table snapshot already records that epoch
(LakeTable.is_epoch_applied — explicit map plus folded per-prefix
watermarks, so markers stay O(1) over 10^5 epochs). Structured
Streaming's checkpoint gives
resume; the epoch marker makes re-delivered batches idempotent — the
flush-before-state-echo protocol of the reference (destination.go:403-420)
upgraded from at-least-once to exactly-once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark import protocol as P
from airbyte_destination_spark.functions.enrich import enrich_records, raw_id_expr
from airbyte_destination_spark.functions.validate import validate_tokens
from airbyte_destination_spark.lake import CommitConflict, LakeTable, MergeStats
from airbyte_destination_spark.sources.changelog import records_only


@dataclass
class IngestConfig:
    key_cols: list[str] = field(default_factory=lambda: ["doc_id"])
    version_col: str = "change_lsn"
    n_buckets: int = 32
    # "cow": eager merge, reads are plain scans; "mor": O(batch) delta
    # appends, reads fold, compact() amortizes (ReplacingMergeTree-style)
    merge_strategy: str = "cow"
    # merge engine: "lww" (whole-row last-writer-wins, the
    # ReplacingMergeTree default), "partial" (partial-image updates —
    # NULL batch columns inherit the stored value), or "aggregate"
    # (per-column declared folds from agg_spec — SummingMergeTree).
    # The merge's own max_by is the only reduce on every engine. LWW
    # batches carrying `emitted_at` defer the _airbyte_raw_id sha256
    # until after that reduce: the id derives from (namespace, stream,
    # version, extracted_at), all of which survive it, so only winning
    # rows pay the hash. Non-LWW engines enrich eagerly (every event
    # contributes, so there is no discarded-row hash to save);
    # null-token upserts bypass token validation there (NULL means
    # "column not written" for these engines).
    reduce: str = "lww"
    agg_spec: dict | None = None  # required when reduce == "aggregate"
    validate: bool = True
    quarantine_root: str | None = None
    # micro-batch bound (O7). The reference flushes a buffer at
    # 1,047,000 bytes or 500 records per POST (destination.go:29,435);
    # a Spark trigger is a distributed batch, so the per-trigger byte
    # bound is that constant scaled by the partition fan-out (default
    # 64x ~= one reference-sized flush per core on a 64-slot stage).
    # Spark's file source enforces maxBytesPerTrigger at file
    # granularity: an epoch closes once the next file would cross it.
    # None: no per-trigger bound.
    max_bytes_per_trigger: int | None = 64 * 1_047_000
    # MOR read amplification bound: after a merge, any bucket holding
    # >= this many delta files is folded (ReplacingMergeTree's
    # background merge as an inline policy). None disables; COW tables
    # never accumulate deltas so the policy is a no-op there.
    auto_compact_files: int | None = 16
    # "full": compact() rewrites the whole qualifying bucket (base file
    # included) — O(bucket) per fold, best read amplification.
    # "tiered": compact_tiered() merges only runs of similar-sized
    # files (LSM shape) — O(log(table/delta)) write amplification at
    # sustained ingest; the bucket's base file is rewritten only when a
    # merged run grows into its size class.
    compact_policy: str = "full"


def _prepare_batch(batch: DataFrame, cfg: IngestConfig):
    """envelope -> validated, enriched rows ready to merge (the merge
    itself reduces them per key)."""
    if "data" in batch.columns:
        batch = records_only(batch)

    if cfg.validate and "tokens" in batch.columns:
        # deletes legitimately carry a null payload — only validate upserts
        deletes = batch.where(F.col("op") == "D")
        upserts = batch.where((F.col("op").isNull()) | (F.col("op") != "D"))
        if cfg.reduce != "lww":
            # partial/aggregate: NULL tokens on an upsert means "column
            # not written this event", not a malformed record
            passthrough = upserts.where(F.col("tokens").isNull())
            upserts = upserts.where(F.col("tokens").isNotNull())
            deletes = deletes.unionByName(passthrough)
        valid, quarantined = validate_tokens(upserts)
        batch = valid.unionByName(deletes)
    else:
        quarantined = None

    for c in ("namespace", "stream"):
        if c not in batch.columns:
            batch = batch.withColumn(c, F.lit(""))
    defer = "emitted_at" in batch.columns and cfg.reduce == "lww"
    if defer:
        # only the cheap cast now; the raw-id sha256 runs post-reduce on
        # winners (see IngestConfig.reduce)
        batch = batch.withColumn(
            P.EXTRACTED_AT_COL, F.timestamp_millis(F.col("emitted_at"))
        )
    elif "emitted_at" in batch.columns:
        batch = enrich_records(batch, index_col=cfg.version_col)
    # else: bare change log without the Airbyte envelope timestamp — the
    # raw-id recipe needs emitted_at, so system columns are skipped

    carries = ("namespace", "stream") if defer else ()
    drop = [
        c
        for c in ("stream", "namespace", "emitted_at")
        if c in batch.columns and c not in carries
    ]
    return batch.drop(*drop), quarantined, carries


def _ensure_table(
    table: LakeTable, merged: DataFrame, cfg: IngestConfig, carries: tuple[str, ...] = ()
) -> None:
    if table.exists():
        return
    skip = {"op", *carries}
    fields = [f for f in merged.schema.fields if f.name not in skip]
    if carries and P.RAW_ID_COL not in {f.name for f in fields}:
        # deferred enrichment: the id column exists in the table
        # schema even though batches only materialize it post-reduce
        fields.append(T.StructField(P.RAW_ID_COL, T.StringType(), True))
    try:
        table.create(
            T.StructType(fields),
            cfg.key_cols,
            cfg.version_col,
            n_buckets=cfg.n_buckets,
            merge_strategy=cfg.merge_strategy,
            agg_spec=cfg.agg_spec if cfg.reduce == "aggregate" else None,
        )
    except (FileExistsError, CommitConflict):
        # another consumer (thread or process) created the table between
        # our exists() check and our create commit; roll its create
        # forward if it has not flipped LATEST yet, then use that table
        table._recover_orphan()
        if not table.exists():
            raise


def apply_change_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: str | list[str],
    cfg: IngestConfig | None = None,
) -> MergeStats:
    """Apply one micro-batch of change events to the table, exactly once.

    The merge and any inline compaction run under the session's own
    settings; none of them changes a session conf."""
    cfg = cfg or IngestConfig()
    # cheap pre-check before any work: replayed epoch -> skip. epoch_id
    # may be a LIST of ids committing atomically (sharded consumer);
    # skip only when every id is applied — partial overlap is surfaced
    # by the merge itself (see lake.table._epochs_applied_state).
    ids = [epoch_id] if isinstance(epoch_id, str) else list(epoch_id)
    if table.exists() and all(table.is_epoch_applied(e) for e in ids):
        return MergeStats(
            ",".join(ids), table.current_version(), 0, 0, 0, skipped=True
        )

    prepared, quarantined, carries = _prepare_batch(batch, cfg)
    _ensure_table(table, prepared, cfg, carries)

    n_quarantined = 0
    if quarantined is not None and cfg.quarantine_root:
        # epoch_id may be a list (sharded atomic group) — one quarantine
        # dir per group, named by the joined display form
        eid = epoch_id if isinstance(epoch_id, str) else ",".join(epoch_id)
        qdir = os.path.join(cfg.quarantine_root, f"epoch={eid}")
        quarantined.write.mode("overwrite").parquet(qdir)
        # count what was just written from the parquet footers,
        # driver-side (no Spark job; quarantine dirs are one small file
        # tree per epoch) so MergeStats can report received vs applied
        import pyarrow.parquet as pq

        n_quarantined = sum(
            pq.read_metadata(os.path.join(qdir, f)).num_rows
            for f in os.listdir(qdir)
            if f.endswith(".parquet")
        )
        if n_quarantined == 0:
            # keep the dead-letter root meaning "actual dead letters":
            # a clean epoch leaves no dir for replay_quarantine to sweep
            import shutil

            shutil.rmtree(qdir, ignore_errors=True)

    # lineage pre-pass on the RAW key+version projection: it prunes to
    # two thin parquet columns, where aggregating `prepared` would
    # re-run validate+enrich and drag the token payload into the scan
    # (measured ~3x the lineage-job time per epoch). Counts are
    # therefore "records received" per bucket — the reference's
    # destinationStats.recordCount semantics (destination.go:417-419).
    flat = records_only(batch) if "data" in batch.columns else batch
    lin_cols = [*cfg.key_cols, cfg.version_col]
    lineage_df = (
        flat.select(*lin_cols) if set(lin_cols) <= set(flat.columns) else None
    )
    post_reduce = None
    if carries:
        def post_reduce(winners: DataFrame) -> DataFrame:
            # winning batch rows have a null id (the table side keeps its
            # stored one); derive it from the carried identity fields —
            # identical to the eager value, since a row's raw-id depends
            # only on its own (ns, stream, index, emitted_at)
            return winners.withColumn(
                P.RAW_ID_COL,
                F.coalesce(
                    F.col(P.RAW_ID_COL),
                    raw_id_expr(
                        F.col("namespace"),
                        F.col("stream"),
                        F.col(cfg.version_col),
                        F.unix_millis(F.col(P.EXTRACTED_AT_COL)),
                    ),
                ),
            )

    stats = table.merge(
        prepared, epoch_id=epoch_id, lineage_df=lineage_df,
        post_reduce=post_reduce, carry_cols=carries, reduce=cfg.reduce,
    )
    stats.rows_quarantined = n_quarantined
    if cfg.merge_strategy == "mor" and cfg.auto_compact_files:
        if cfg.compact_policy == "tiered":
            table.compact_tiered(
                batch.sparkSession, min_run=cfg.auto_compact_files
            )
        else:
            table.compact(batch.sparkSession, min_files=cfg.auto_compact_files)
    return stats


def replay_quarantine(
    table: LakeTable,
    spark: SparkSession,
    cfg: IngestConfig,
    repair_fn=None,
) -> dict[str, MergeStats]:
    """Repair-and-replay the dead-letter queue — closes O9's quarantine
    path into a loop (the reference only LOGS per-event rejects,
    destination.go:485-489; a production pipeline re-ingests them once
    the cause is fixed).

    Each unconsumed quarantined epoch under ``cfg.quarantine_root`` is
    read back, passed through ``repair_fn`` (e.g. recompute ``n_tok``
    after a writer bug), and re-applied through ``apply_change_batch``
    under the derived epoch id ``<epoch>.qreplay`` — the SAME
    exactly-once machinery as live ingest, so a crashed or repeated
    replay never double-applies. Rows that STILL fail validation
    re-quarantine under the derived epoch, where a later sweep with a
    better ``repair_fn`` finds them (ids grow a ``.qreplay`` suffix per
    attempt — the retry count is readable off the directory name).

    Rows keep their ORIGINAL ``version_col``, so a repaired old version
    can never overwrite a newer live version: last-writer-wins resolves
    replays identically in either arrival order (the same argument that
    covers late data, SURVEY §2 O11). Holds for the aggregate engine
    too — a replayed contribution folds in exactly once.

    Consumption marker: ``_REPLAYED`` is written into the source dir
    AFTER the merge commit, and marked dirs are skipped by later
    sweeps. A crash between commit and marker re-reads the dir next
    sweep, the epoch marker turns the merge into a no-op, and the
    marker lands — exactly once either way.

    Returns {derived_epoch_id: MergeStats} for the epochs swept.
    """
    import glob

    out: dict[str, MergeStats] = {}
    root = cfg.quarantine_root
    if not root or not os.path.isdir(root):
        return out
    for qdir in sorted(glob.glob(os.path.join(root, "epoch=*"))):
        marker = os.path.join(qdir, "_REPLAYED")
        if os.path.exists(marker):
            continue
        epoch = os.path.basename(qdir)[len("epoch="):]
        rows = spark.read.parquet(qdir).drop("_reject_reason")
        if repair_fn is not None:
            rows = repair_fn(rows)
        derived = f"{epoch}.qreplay"
        stats = apply_change_batch(table, rows, derived, cfg)
        with open(marker, "w") as f:
            f.write(derived + "\n")
        out[derived] = stats
    return out


def snapshot_sync(
    table: LakeTable,
    snapshot: DataFrame,
    epoch_id: str,
    cfg: IngestConfig | None = None,
    delete_lsn: int | None = None,
) -> MergeStats:
    """Full-resync via snapshot diff — Debezium's initial/blocking
    snapshot, or SQL MERGE's WHEN NOT MATCHED BY SOURCE THEN DELETE —
    as an O(changed rows) operation: compute the MINIMAL change batch
    that moves the table's current state to `snapshot` and apply it
    through the normal exactly-once merge path. Never rewrites the
    table: at 100 TB, a resync that changed 0.1% of rows costs 0.1% of
    an overwrite (plus one diff join), and replayed epochs still no-op
    via the epoch marker.

    Diff = ONE key-keyed full-outer shuffle join between the snapshot
    and the current state; change detection is a null-safe struct
    equality over the snapshot's value columns (exact — no hash
    collisions), computed as a projection on the join output. Columns
    the snapshot adds (schema evolution) read as NULL on the current
    side; current-side types are cast to the snapshot's (widened)
    types so comparison is type-exact. Unchanged rows are dropped
    BEFORE the merge, so the MOR write is O(diff), not O(table).

    LWW contract: upserts keep the snapshot's own `version_col` value,
    so a table row that is AHEAD of the snapshot (stored lsn higher)
    correctly survives — a resync never regresses newer data. Deletes
    carry `delete_lsn` (default: max snapshot lsn + 1, the right value
    whenever the table only ever ingested lsns the snapshot has seen).
    """
    cfg = cfg or IngestConfig()
    spark = snapshot.sparkSession
    keys, ver = cfg.key_cols, cfg.version_col
    if ver not in snapshot.columns:
        raise ValueError(
            f"snapshot must carry the version column {ver!r}; attach the "
            "source's snapshot lsn/ts so LWW can order resyncs against "
            "live changes"
        )
    if not table.exists():  # bootstrap: the whole snapshot is the diff
        return apply_change_batch(
            table, snapshot.withColumn("op", F.lit("I")), epoch_id, cfg
        )
    if table.is_epoch_applied(epoch_id):  # skip before paying the diff join
        return MergeStats(epoch_id, table.current_version(), 0, 0, 0, skipped=True)

    if delete_lsn is None:
        mx = snapshot.agg(F.max(ver)).first()[0]
        delete_lsn = (mx if mx is not None else 0) + 1
    diff = _snapshot_diff(snapshot, table.read(spark), keys, ver, delete_lsn)
    # materialize the (small) diff before the merge mutates the table:
    # the merge job plans its own read of the same table, and under MOR
    # a lazy diff would fold the delta stack a second time inside the
    # write job
    return apply_change_batch(
        table, diff.localCheckpoint(eager=True), epoch_id, cfg
    )


def _snapshot_diff(
    snapshot: DataFrame,
    cur: DataFrame,
    keys: list[str],
    ver: str,
    delete_lsn,
) -> DataFrame:
    """The minimal I/U/D change batch moving `cur` to `snapshot`: ONE
    key-keyed full-outer join + a conditional projection + one filter —
    NOT an I/U branch unioned with a D branch, which would plan the
    join twice (exchange reuse saves the shuffle but the probe still
    runs both times)."""
    vals = [c for c in snapshot.columns if c not in (*keys, ver)]
    snap_types = dict(snapshot.dtypes)
    cur_side = [
        (F.col(c) if c in cur.columns else F.lit(None))
        .cast(snap_types[c])
        .alias("_c_" + c)
        for c in vals
    ]
    c_ = cur.select(*keys, *cur_side, F.lit(True).alias("_cp"))
    s_ = snapshot.select(
        *keys,
        F.col(ver).alias("_slsn"),
        *[F.col(c).alias("_s_" + c) for c in vals],
        F.lit(True).alias("_sp"),
    )
    j = s_.join(c_, list(keys), "full_outer")
    same = F.struct(*[F.col("_s_" + c) for c in vals]).eqNullSafe(
        F.struct(*[F.col("_c_" + c) for c in vals])
    )
    op = (
        F.when(F.col("_sp").isNull(), F.lit("D"))
        .when(F.col("_cp").isNull(), F.lit("I"))
        .when(~same, F.lit("U"))  # else NULL = unchanged, filtered below
    )
    is_d = F.col("_sp").isNull()
    return j.select(
        *keys,
        F.when(is_d, F.lit(delete_lsn))
        .otherwise(F.col("_slsn"))
        .cast(snap_types[ver])
        .alias(ver),
        *[
            F.when(is_d, F.lit(None))
            .otherwise(F.col("_s_" + c))
            .cast(snap_types[c])
            .alias(c)
            for c in vals
        ],
        op.alias("op"),
    ).where(op.isNotNull())


def run_ingest_batches(
    spark: SparkSession,
    batch_paths: list[str],
    table: LakeTable,
    cfg: IngestConfig | None = None,
    job_name: str = "ingest",
    rollup: LakeTable | None = None,
    rollup_spec=None,
    indexes: list | None = None,
    bloom: bool = False,
    bloom_fpp: float = 0.01,
    metrics: LakeTable | None = None,
) -> list[MergeStats]:
    """Replay an at-rest change log (list of parquet dirs in lsn order).

    Resume semantics: epoch ids are deterministic (`job-<i>`), so a
    rerun after a crash skips every batch the table already absorbed and
    continues from the first unapplied one — checkpoint-free resume, the
    checkpoint IS the table snapshot.

    With `rollup`/`rollup_spec` set, a derived aggregate table is
    maintained from each epoch's change feed under the same
    exactly-once markers (operators/incremental.apply_with_rollup).

    `indexes`: list of (index_table, indexed_column) pairs (created
    with operators/secondary_index.create_index) refreshed after every
    applied epoch — secondary-index maintenance rides the ingest loop,
    each refresh exactly-once via its consumer offset + epoch marker.

    `bloom`: build per-file key blooms (LakeTable.build_bloom_index)
    after every applied epoch. The build is incremental — it scans
    ONLY the epoch's new files (idempotent: a resumed replay whose
    epoch was already applied finds nothing missing) — so point-lookup
    pruning stays fresh at O(new files) maintenance cost per batch.
    """
    cfg = cfg or IngestConfig()
    stats = []
    schema = None  # infer once; later batches skip the footer-scan job
    for i, path in enumerate(batch_paths):
        reader = spark.read if schema is None else spark.read.schema(schema)
        batch = reader.parquet(path)
        schema = batch.schema
        stats.append(_apply(table, batch, f"{job_name}-{i:06d}", cfg, rollup, rollup_spec))
        _refresh_indexes(spark, table, indexes)
        if bloom:
            table.build_bloom_index(spark, fpp=bloom_fpp)
        _emit_metrics(spark, metrics, stats[-1], table)
    return stats


def _refresh_indexes(spark, table, indexes) -> None:
    if not indexes:
        return
    from airbyte_destination_spark.operators.secondary_index import refresh_index

    for idx, col in indexes:
        refresh_index(spark, table, idx, col)


METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.StringType(), False),
        T.StructField("commit_version", T.LongType(), False),
        T.StructField("partition_id", T.LongType(), False),
        T.StructField("lsn_min", T.LongType(), True),
        T.StructField("lsn_max", T.LongType(), True),
        T.StructField("rows_applied", T.LongType(), False),
        # nullable: crash-window RECOVERY re-reads lineage from the data
        # table's commit record, which does not carry the quarantine
        # count — null says "unknown", never a fabricated 0
        T.StructField("rows_quarantined", T.LongType(), True),
    ]
)


def ensure_metrics_table(metrics: LakeTable, n_buckets: int = 8) -> LakeTable:
    """Create the per-partition lineage metrics table (the north-star
    contract: (partition_id, lsn_range, rows_applied) rows per commit).
    Keyed (epoch_id, partition_id), bucketed on epoch_id so one epoch's
    rows cluster together and `read_prefix` serves per-epoch queries."""
    if not metrics.exists():
        metrics.create(
            METRICS_SCHEMA,
            ["epoch_id", "partition_id"],
            None,
            n_buckets=n_buckets,
            bucket_cols=["epoch_id"],
        )
    return metrics


def _emit_metrics(spark, metrics: LakeTable, stats: MergeStats, table: LakeTable) -> None:
    """Append one epoch's lineage rows to the metrics table, exactly
    once: the append rides the SAME epoch-marker machinery as the data
    commit (epoch id `metrics-<epoch>`). The two commits are not
    atomic, so the crash window between them is closed by RECOVERY,
    the same shape as incremental.apply_with_rollup: when the data
    epoch was already applied (stats.skipped) but the metrics marker
    is absent, the lineage rows are re-read from the data table's own
    commit record (epoch_commit_version -> record's lineage) and
    emitted now; a truly replayed epoch finds its marker present and
    the append skips inside merge(). Rows are tiny (one per touched
    bucket) — a metadata-dominated commit, not a data job."""
    if metrics is None or stats.epoch_id is None:
        return
    lineage = stats.lineage
    version = stats.version
    quarantined = int(stats.rows_quarantined)
    if stats.skipped:
        if metrics.exists() and metrics.is_epoch_applied(f"metrics-{stats.epoch_id}"):
            return  # both sides landed: a plain replay
        v = table.epoch_commit_version(stats.epoch_id)
        if v is None:
            return
        lineage = table._read_raw(v).get("lineage") or []
        version = v
        # the commit record carries lineage but not the quarantine
        # count; null says "unknown" rather than a fabricated 0
        quarantined = None
    if not lineage:
        return
    ensure_metrics_table(metrics)
    rows = [
        (
            stats.epoch_id,
            version,
            int(l["partition_id"]),
            l.get("lsn_min"),
            l.get("lsn_max"),
            int(l["rows_applied"]),
            quarantined,
        )
        for l in lineage
    ]
    df = spark.createDataFrame(rows, METRICS_SCHEMA)
    metrics.append(df, epoch_id=f"metrics-{stats.epoch_id}")


def _apply(table, batch, epoch_id, cfg, rollup, rollup_spec) -> MergeStats:
    if rollup is None:
        return apply_change_batch(table, batch, epoch_id, cfg)
    from airbyte_destination_spark.operators.incremental import apply_with_rollup

    return apply_with_rollup(table, rollup, batch, epoch_id, cfg, rollup_spec)


def run_ingest_stream(
    spark: SparkSession,
    log_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    cfg: IngestConfig | None = None,
    data_schema: T.StructType | None = None,
    job_name: str = "stream",
    available_now: bool = True,
    rollup: LakeTable | None = None,
    rollup_spec=None,
    indexes: list | None = None,
    bloom: bool = False,
    bloom_fpp: float = 0.01,
    metrics: LakeTable | None = None,
):
    """Structured Streaming front-end: tail a growing parquet change-log
    directory, applying each micro-batch through the same exactly-once
    path. `availableNow` drains what exists and stops (the reference's
    end-of-stdin final flush, destination.go:457-467); without it the
    query keeps tailing."""
    cfg = cfg or IngestConfig()
    if data_schema is None:
        data_schema = spark.read.parquet(log_dir).schema
    reader = spark.readStream.schema(data_schema)
    if cfg.max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", str(cfg.max_bytes_per_trigger))
    stream = reader.parquet(log_dir)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        st = _apply(table, batch_df, f"{job_name}-{epoch_id:06d}", cfg, rollup, rollup_spec)
        _refresh_indexes(batch_df.sparkSession, table, indexes)
        if bloom:
            table.build_bloom_index(batch_df.sparkSession, fpp=bloom_fpp)
        _emit_metrics(batch_df.sparkSession, metrics, st, table)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(job_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
