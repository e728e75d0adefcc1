"""Destination front-end: spec / check / write over a ConfiguredCatalog.

Spark-native re-expression of the reference's top-level connector
(/root/reference/internal/connector/destination.go). The `write` path:

    NDJSON lines -> route by type (get_json_object)   [O3]
      STATE  -> echoed after all preceding records are committed [O8]
      RECORD -> from_json per stream schema -> enrich [O2,O4,O5]
        overwrite     : DELETE extracted_at <= sync start, then append [O13]
        append        : append, duplicates kept                        [O12]
        append_dedup  : merge, LWW by (pk, cursor, raw id)             [O11]

Deviation from the reference, by design: the reference flushes buffers
at each STATE barrier because it streams serially; a batch engine
commits every record before echoing any state — a strictly stronger
guarantee of the same protocol (flush-before-state-echo,
destination.go:403-420). The high-volume CDC path with per-epoch
exactly-once lives in streaming/pipeline.py.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbyte_destination_spark import protocol as P
from airbyte_destination_spark.functions.enrich import raw_id_expr
from airbyte_destination_spark.lake import LakeTable


@dataclass
class WriteResult:
    tables: dict[str, int] = field(default_factory=dict)  # table -> rows written
    states: list[str] = field(default_factory=list)  # echoed state blobs (in order)
    n_states: int = 0  # echoed count (states list is empty when streamed)
    quarantined: int = 0
    full_reset: bool = False  # all-overwrite + 0 records -> tables dropped


def spec() -> dict:
    """Connector spec (destination.go:87-129 parity surface): declares
    supported sync modes and the config schema."""
    return {
        "documentationUrl": "https://spark.apache.org/docs/latest/",
        "supported_destination_sync_modes": [
            P.MODE_OVERWRITE,
            P.MODE_APPEND,
            P.MODE_APPEND_DEDUP,
        ],
        "supportsIncremental": True,
        "connectionSpecification": {
            "$schema": "http://json-schema.org/draft-07/schema#",
            "title": "Spark Lake Destination Spec",
            "type": "object",
            "required": ["warehouse"],
            "properties": {
                "warehouse": {"type": "string", "description": "lake warehouse root path"},
                "n_buckets": {"type": "integer", "default": 32},
            },
        },
    }


def check(spark: SparkSession, config: P.Config) -> tuple[bool, str]:
    """Can we reach the warehouse and run a trivial job?
    (destination.go:131-156: config + auth probe)."""
    try:
        os.makedirs(config.warehouse, exist_ok=True)
        probe = os.path.join(config.warehouse, "_check_probe")
        spark.range(1).write.mode("overwrite").parquet(probe)
        spark.read.parquet(probe).count()
        return True, "SUCCEEDED"
    except Exception as e:  # noqa: BLE001
        return False, f"FAILED: {e}"


# monotonically_increasing_id()'s documented bit layout: upper 31 bits
# carry the partition id, lower 33 the row number within the partition.
_SEQ_MASK = (1 << 33) - 1


def _validated_offsets(typed: DataFrame) -> tuple[dict[int, int], int]:
    """ONE pass over the sync's messages: per-partition malformed and
    RECORD counts (map-side combined; the control-plane result is
    #partitions rows). This single job is the parse-validation gate
    (destination.go:396-400 — malformed line aborts the sync before any
    DDL/data work) AND the source of the record-index offsets AND the
    record count — the wire path no longer persists the input or runs a
    separate malformed pre-scan. Only the failure path pays a second
    scan (to fetch one offending line for the error message).

    Returns ({pid: exclusive record offset in pid order}, n_records)."""
    parts = sorted(
        (r["_pid"], r["bad"], r["n"])
        for r in typed.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(
            F.count(F.when(F.col("type").isNull(), True)).alias("bad"),
            F.count(F.when(F.col("type") == P.TYPE_RECORD, True)).alias("n"),
        )
        .collect()
    )
    if sum(b for _, b, _ in parts):
        bad = typed.where(F.col("type").isNull()).limit(1).collect()
        raise ValueError(f"failed to parse message: {bad[0]['value']!r}")
    offsets, acc = {}, 0
    for pid, _, n in parts:
        offsets[pid] = acc
        acc += n
    return offsets, acc


def _indexed_records(typed: DataFrame, offsets: dict[int, int]) -> DataFrame:
    """RECORD rows with their 0-based global input-order index — the
    reference's recordIndex (destination.go:393,423,453) — derived
    WITHOUT persisting the input: index = the partition's exclusive
    offset (from `_validated_offsets`) + the row's sequence within its
    partition, where the sequence is the low 33 bits of
    monotonically_increasing_id applied AFTER the RECORD filter (a
    `where` on a scan removes rows but never changes the partition
    layout, so partition ids line up with the offsets pass).

    Invariant: the source must reproduce identical partitioning and row
    order across jobs — file scans and local relations do. Destination.write
    pins one materialization of any input whose plan has an Exchange
    (its row->partition assignment is job-dependent); the validation
    pass doubles as the cache fill, so no extra job appears either way."""
    recs = typed.where(F.col("type") == P.TYPE_RECORD)
    if not offsets:
        return recs.withColumn("_record_index", F.lit(0).cast("long"))
    off_map = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    return recs.withColumn(
        "_record_index",
        off_map[F.spark_partition_id()]
        + F.monotonically_increasing_id().bitwiseAND(F.lit(_SEQ_MASK)),
    )


def _echo_state(line: str) -> str:
    """Echo a STATE message with destination stats filled in: the
    platform's checkpoint accounting requires
    destinationStats.recordCount = sourceStats.recordCount
    (destination.go:417-419; struct airbyte/protocol.go:92-115)."""
    msg = json.loads(line)
    st = msg.get("state") or {}
    src = (st.get("sourceStats") or {}).get("recordCount", 0)
    st["destinationStats"] = {"recordCount": src}
    msg["state"] = st
    return json.dumps(msg)


class Destination:
    def __init__(self, spark: SparkSession, config: P.Config):
        self.spark = spark
        self.config = config

    def _table(self, stream: P.ConfiguredStream) -> LakeTable:
        return LakeTable(os.path.join(self.config.warehouse, stream.table_name))

    def write(
        self,
        catalog: P.ConfiguredCatalog,
        lines: DataFrame | str,
        sync_start_ms: int | None = None,
        on_state=None,
    ) -> WriteResult:
        """Apply one sync's NDJSON message stream to the warehouse.

        `on_state` (optional callable): when given, echoed STATE lines
        stream through it one at a time (toLocalIterator pulls one
        partition to the driver at a time) instead of accumulating in
        WriteResult.states — a pathological state-heavy sync keeps the
        driver's memory flat. Echo happens AFTER the data is applied,
        preserving the reference's flush-before-state checkpoint
        protocol (destination.go:403-420).

        The sync is NOT persisted for plain sources: validation, record
        count, and record-index offsets come out of ONE aggregate pass
        (`_validated_offsets`), and per-stream jobs re-scan the source
        (cheap projection; a file scan or local relation reproduces
        identical partitioning every job — the record-index
        invariant). An Exchange upstream of the message scan
        (repartition / join / agg) makes row->partition assignment
        job-dependent under AQE, so such inputs get ONE pinned
        materialization — the validation pass doubles as the cache
        fill, no extra job either way.

        Streams write CONCURRENTLY — each stream targets its own
        independent LakeTable, so their Spark jobs overlap instead of
        serializing driver-side (the reference processes one stdin
        record at a time; a batch engine has no such ordering need)."""
        spark = self.spark
        for s in catalog.streams:
            s.validate()

        if isinstance(lines, str):
            lines = spark.read.text(lines)

        typed = lines.select(
            F.col("value"),
            F.get_json_object("value", "$.type").alias("type"),
            F.get_json_object("value", "$.record.stream").alias("stream"),
            F.get_json_object("value", "$.record.namespace").alias("namespace"),
        )
        pinned = "Exchange" in typed._jdf.queryExecution().executedPlan().toString()
        if pinned:
            typed = typed.persist()

        # ONE pass: malformed gate (destination.go:396-400) + record
        # count + index offsets; raises before any DDL/data work
        offsets, n_records = _validated_offsets(typed)
        records = _indexed_records(typed, offsets)

        result = WriteResult()
        with ThreadPoolExecutor(max_workers=max(1, min(len(catalog.streams), 4))) as pool:
            futs = [
                (s.table_name, pool.submit(self._write_stream, s, records, sync_start_ms))
                for s in catalog.streams
            ]
            for name, fut in futs:
                result.tables[name] = fut.result()

        # STATE echo after the data landed (flush-before-state)
        state_src = typed.where(F.col("type") == P.TYPE_STATE).select("value")
        if on_state is not None:
            for r in state_src.toLocalIterator():
                on_state(_echo_state(r["value"]))
                result.n_states += 1
        else:
            result.states = [
                _echo_state(r["value"]) for r in state_src.collect()
            ]
            result.n_states = len(result.states)

        if pinned:
            typed.unpersist()

        # Full-reset detection (destination.go:181-184,262-268): a sync
        # where EVERY stream is overwrite and ZERO records arrive is the
        # platform's reset signal — cascade-drop so the tables can be
        # recreated under the new sync mode.
        is_full_reset = bool(catalog.streams) and all(
            s.destination_sync_mode == P.MODE_OVERWRITE for s in catalog.streams
        )
        if is_full_reset and n_records == 0:
            self.drop_all(catalog)
            result.full_reset = True
        return result

    def _write_stream(
        self, s: P.ConfiguredStream, records: DataFrame, sync_start_ms: int | None
    ) -> int:
        spark = self.spark
        data_schema = s.spark_schema(include_system=False)
        table_schema = s.spark_schema(include_system=True)
        ns = s.namespace or ""

        mine = records.where(
            (F.col("stream") == s.name) & (F.coalesce(F.col("namespace"), F.lit("")) == ns)
        )
        wire = P.airbyte_wire_schema(data_schema)
        parsed = mine.select(
            F.col("_record_index"),
            F.from_json(F.col("value"), wire).alias("msg"),
        ).select(
            F.col("_record_index"),
            F.col("msg.record.emitted_at").alias("_emitted_at"),
            F.col("msg.record.data.*"),
        )

        enriched = parsed.withColumn(
            P.RAW_ID_COL,
            raw_id_expr(ns, s.name, F.col("_record_index"), F.col("_emitted_at")),
        ).withColumn(
            # the reference passes emitted_at through unscaled
            # (destination.go:424); fixtures carry epoch seconds
            P.EXTRACTED_AT_COL,
            F.timestamp_seconds(F.col("_emitted_at")),
        )

        table = self._table(s)
        if s.destination_sync_mode == P.MODE_APPEND_DEDUP:
            key_cols, ver_col = s.key_cols, s.version_col
        else:
            # append/overwrite tables are keyed on the raw id
            # (destination.go:329-335): every record is a distinct row
            key_cols, ver_col = [P.RAW_ID_COL], P.EXTRACTED_AT_COL

        if table.exists():
            # mode x existing-table-key compatibility
            # (destination.go:246-254): an append_dedup sync cannot
            # target a raw-id-keyed table (dup rows would collapse
            # arbitrarily), and an append sync cannot target a
            # custom-keyed table (its merge would dedup).
            existing_keys = table.manifest().get("key_cols", [])
            raw_keyed = existing_keys == [P.RAW_ID_COL]
            if raw_keyed and s.destination_sync_mode == P.MODE_APPEND_DEDUP:
                raise ValueError(
                    f"append_dedup destination sync mode is not compatible with "
                    f"table {s.table_name!r} keyed on {P.RAW_ID_COL}"
                )
            if not raw_keyed and s.destination_sync_mode == P.MODE_APPEND:
                raise ValueError(
                    f"append destination sync mode is not compatible with "
                    f"table {s.table_name!r} keyed on {existing_keys}"
                )

        if not table.exists():
            table.create(
                table_schema, key_cols, ver_col, n_buckets=self.config.n_buckets,
                agg_spec=s.agg_spec if s.merge_engine == "aggregate" else None,
            )  # O14 (+TableSettings-analog engine selection)
        elif s.destination_sync_mode == P.MODE_OVERWRITE:
            # O13: DeletionJob(extracted_at <= sync start) equivalent
            ts = (sync_start_ms / 1000.0) if sync_start_ms else None
            pred = (
                f"{P.EXTRACTED_AT_COL} <= timestamp_seconds({ts})"
                if ts is not None
                else "true"
            )
            table.overwrite_where(spark, pred)

        out = enriched.drop("_record_index", "_emitted_at")
        if s.destination_sync_mode == P.MODE_APPEND_DEDUP:
            if s.merge_engine != "lww":
                # partial/aggregate engines fold EVERY event
                stats = table.merge(out, reduce=s.merge_engine)
            else:
                # the merge's max_by is the only reduce: a cursor tie
                # inside the sync goes to the greatest raw id, and a sync
                # row beats a stored row with the same cursor. Lineage
                # counts one row per key — the rows this sync writes.
                per_key = out.groupBy(*key_cols).agg(F.max(ver_col).alias(ver_col))
                stats = table.merge(out, tiebreak_cols=[P.RAW_ID_COL], lineage_df=per_key)
        else:
            stats = table.append(out)
        return stats.rows_upserted

    def read_table(self, table_name: str) -> DataFrame:
        return LakeTable(os.path.join(self.config.warehouse, table_name)).read(self.spark)

    def drop_all(self, catalog: P.ConfiguredCatalog) -> None:
        """Full-reset cascade delete (destination.go:516-574) — O16."""
        for s in catalog.streams:
            self._table(s).drop()


def run_spec() -> str:
    return json.dumps({"type": "SPEC", "spec": spec()})
