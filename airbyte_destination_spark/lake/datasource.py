"""`lake_changes` — a Spark Python Data Source (the pyspark 4
`pyspark.sql.datasource` API) exposing a lake table's committed change
stream to Structured Streaming:

    spark.dataSource.register(LakeChangesDataSource)
    df = (spark.readStream.format("lake_changes")
          .option("path", table_root)
          .load())

Each micro-batch delivers the rows committed by the data commits
(operation merge/append) in a version window — the raw change tail
(winning upserts AND tombstones, `_deleted` marks deletes), i.e. the
Delta CDF / Hudi incremental-query shape at the storage layer. This is
the composition point for downstream pipelines: a second engine (or a
derived-table job) can tail a lake table exactly like it tails the
original binlog.

Scale shape:
- Offsets are table versions — a monotone long read from the LATEST
  pointer; no data is touched at offset-resolution time.
- `partitions()` is metadata-only: one InputPartition per data FILE
  committed in the window (files are immutable; the manifest's `cv`
  stamp identifies each commit's files). Spark distributes partitions
  across executors.
- `read()` runs executor-side on plain pyarrow — batched columnar
  reads, no per-row Python — aligning each file to the stream schema
  by parquet field id with the plan `read_keys`' driver path uses
  (`_arrow_align_plan`): a renamed column reads its old bytes, a
  dropped and re-added one reads its initial default or NULL from
  files of its former life, widened types are upcast. A file that
  needs a cast or a default pyarrow does not make exactly as Spark
  does (e.g. a column collapsed to string) fails the micro-batch with
  an error naming the column, rather than serve a value `read()` does
  not.

Semantics notes:
- MERGE-ON-READ tables only: a MOR commit's delta files contain
  exactly the batch's winning rows + tombstones, so the file set IS
  the change batch. A COW merge rewrites whole buckets (old rows mixed
  with new), so per-commit row attribution would be wrong — the
  source refuses cow tables rather than emitting garbage.
- Maintenance commits (compact / compact_tiered / purge_tombstones /
  rebucket / the `split_buckets` publish, operation "rescale")
  rewrite or drop files without logical changes; their versions are
  SKIPPED, like Delta CDF skipping OPTIMIZE. A rescale re-cuts each
  row into its new bucket's file with its `_cv` and base flag, and
  publishes only when every split bucket still matches the head
  manifest, so it changes no row. Rollback and delete_where do change
  rows and fail the window.
- Within one micro-batch, rows from multiple versions may interleave;
  `_change_version` orders them and the table's version_col orders
  within a key (the same contract the merge fold itself uses).
- The stream's schema is fixed at query START (standard Structured
  Streaming): files written under OLDER schemas are aligned up
  (null-pad / upcast); columns ADDED to the table mid-stream are not
  visible until the query restarts with the new schema — same
  contract as Delta's streaming source.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import types as T

from airbyte_destination_spark.lake.table import (
    _DELETED_FIELD,
    _FIELD_ID,
    _arrow_align_plan,
    _arrow_aligned,
    _file_fields,
)
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_META_COLS = [
    T.StructField("_change_version", T.LongType(), False),
    T.StructField("_deleted", T.BooleanType(), True),
]
_DATA_OPS = ("merge", "append")
# physical rewrites / metadata squashes with NO logical changes — safe
# to skip silently (checkpoint commits no data files at all: its
# entries keep their original commit versions)
_MAINTENANCE_OPS = (
    "compact", "compact_tiered", "purge_tombstones", "rebucket", "rescale",
    "create", "checkpoint",
)


@dataclass
class _FilePartition(InputPartition):
    path: str
    version: int
    target_schema_json: str
    # the file's `_arrow_align_plan` against the target, as JSON:
    # [[file field (StructField JSON) or null, initial default], ...]
    plan_json: str


class LakeChangesDataSource(DataSource):
    """See module docstring. Options:

    - `path` (required): table root directory.
    - `startingVersion` (default 0): deliver commits AFTER this
      version (0 = from the beginning).
    """

    @classmethod
    def name(cls) -> str:
        return "lake_changes"

    def _table(self):
        from airbyte_destination_spark.lake import LakeTable

        root = self.options.get("path")
        if not root:
            raise ValueError("lake_changes requires .option('path', <table root>)")
        return LakeTable(root)

    def schema(self) -> T.StructType:
        t = self._table()
        m = t.manifest()
        if m.get("merge_strategy", "cow") != "mor":
            raise ValueError(
                "lake_changes streams MOR tables only (a COW merge rewrites "
                "whole buckets, so per-commit row attribution is undefined)"
            )
        base = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        return T.StructType(base.fields + _META_COLS)

    def streamReader(self, schema: T.StructType) -> "LakeChangesStreamReader":
        return LakeChangesStreamReader(
            self._table(), schema, int(self.options.get("startingversion", 0))
        )

    def reader(self, schema: T.StructType) -> "LakeChangesBatchReader":
        """Batch mode (`spark.read.format("lake_changes")`): the change
        tail of one version window — Delta's batch CDF shape. Options:
        `startingVersion` (exclusive, default 0), `endingVersion`
        (inclusive, default: current)."""
        t = self._table()
        cur = t.current_version()
        end = self.options.get("endingversion")
        end_v = int(end) if end is not None else cur
        if end_v > cur:
            raise ValueError(
                f"endingVersion {end_v} is beyond the table's current "
                f"version {cur}"
            )
        return LakeChangesBatchReader(
            t, schema, int(self.options.get("startingversion", 0)), end_v
        )


class LakeChangesBatchReader(DataSourceReader):
    def __init__(self, table, schema: T.StructType, start: int, end: int):
        self._sr = LakeChangesStreamReader(table, schema, start)
        self._start = start
        self._end = end

    def partitions(self):
        return self._sr.partitions(
            {"version": self._start}, {"version": self._end}
        )

    def read(self, partition):
        return self._sr.read(partition)


class LakeChangesStreamReader(DataSourceStreamReader):
    def __init__(self, table, schema: T.StructType, starting_version: int):
        self._t = table
        self._schema = schema
        self._start = starting_version

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": self._t.current_version()}

    def partitions(self, start: dict, end: dict):
        parts: list[_FilePartition] = []
        end_v = int(end["version"])
        # the stream schema's columns take the field ids of the
        # WINDOW-END schema's columns of their names: the stale-schema
        # guard below rejects windows whose bound schema predates a
        # rename or drop inside them, so a bound name is that column
        m_end = self._t.manifest(end_v) if end_v >= 1 else {}
        ids = (
            {
                f["name"]: f["metadata"][_FIELD_ID]
                for f in m_end["schemas"][str(m_end["schema_id"])]["fields"]
            }
            if m_end
            else {}
        )
        meta = {f.name for f in _META_COLS}
        bound_is_current = (
            {f.name for f in self._schema.fields} - meta
        ) == set(ids)
        ids[_DELETED_FIELD.name] = _DELETED_FIELD.metadata[_FIELD_ID]
        target = T.StructType(
            [
                T.StructField(f.name, f.dataType, f.nullable, {_FIELD_ID: ids[f.name]})
                if f.name in ids
                else f
                for f in self._schema.fields
            ]
        )
        target_json = json.dumps(target.jsonValue())
        defaults_end = m_end.get("defaults") or {}
        for v in range(int(start["version"]) + 1, end_v + 1):
            try:
                raw = self._t._read_raw(v)
            except FileNotFoundError:
                # history below the offset was expired: serving the
                # window would SILENTLY drop those commits' changes —
                # fail loudly instead (Delta's streaming source does
                # the same); the consumer must re-bootstrap from a
                # snapshot or a startingVersion inside retained history
                raise RuntimeError(
                    f"lake_changes offset {start['version']} is below the "
                    f"retained history of {self._t.root} (version {v} "
                    "expired); re-bootstrap the consumer"
                ) from None
            op = raw.get("operation") or ""
            if op in _MAINTENANCE_OPS:
                continue  # physical rewrite: no logical changes
            if op.startswith("add_column("):
                # metadata-only; a consumer bound pre-add simply never
                # projects the new column — no row changed, safe skip
                continue
            if op.startswith(("drop_column(", "rename(")):
                # metadata-only schema transitions. A consumer whose
                # bound schema matches the WINDOW-END state crosses
                # them like maintenance (files resolve by field id, so
                # they serve end-state names); a consumer bound to any
                # OTHER state is stale — silently serving it would
                # misname or null columns (Delta CDF's schema-change
                # discipline: fail loudly).
                if not bound_is_current:
                    raise RuntimeError(
                        f"lake_changes stream schema is stale: commit "
                        f"{v} of {self._t.root} is a column {op}; "
                        "restart the stream to bind the current schema"
                    )
                continue  # no data files commit at these versions
            if op not in _DATA_OPS:
                # delete_where / rollback ARE logical changes, but a
                # bucket rewrite can't attribute rows to the commit —
                # silently skipping would make a replica diverge (keep
                # GDPR-deleted rows forever). Fail like the COW case.
                raise RuntimeError(
                    f"lake_changes cannot stream commit {v} "
                    f"(operation {op!r}) of {self._t.root}: it changes "
                    "rows without per-commit attribution; re-bootstrap "
                    "the consumer from a snapshot past it"
                )
            m = self._t.manifest(v)
            plans: dict[str, str] = {}
            for entries in m["buckets"].values():
                for e in entries:
                    if int(e.get("cv", 0)) != v:
                        continue
                    sid = str(e["schema_id"])
                    if sid not in plans:
                        plan, bad = _arrow_align_plan(
                            _file_fields(m["schemas"], sid), target, defaults_end
                        )
                        if plan is None:
                            raise RuntimeError(
                                f"lake_changes cannot serve column {bad!r} of "
                                f"commit {v} of {self._t.root}: its files hold "
                                "it at a type (or lack it with a default) "
                                "that pyarrow does not convert exactly as "
                                "Spark does; read it with "
                                "LakeTable.table_changes instead"
                            )
                        plans[sid] = json.dumps(
                            [[f and f.jsonValue(), dv] for f, dv in plan]
                        )
                    parts.append(
                        _FilePartition(
                            path=os.path.join(self._t.root, e["path"]),
                            version=v,
                            target_schema_json=target_json,
                            plan_json=plans[sid],
                        )
                    )
        # Spark requires a non-empty partition list; a sentinel with no
        # path yields zero rows for an empty window
        return parts or [_FilePartition("", 0, "", "")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        return _read_aligned(partition)

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint owns progress; table files are immutable


def _read_aligned(partition: _FilePartition):
    """Executor-side: read one immutable parquet file with pyarrow and
    align it to the stream schema by the partition's plan
    (`_arrow_aligned`), stamp `_change_version`, and read `_deleted`
    as false for files that do not hold it (append output)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    target = T.StructType.fromJson(json.loads(partition.target_schema_json))
    plan = [
        (f and T.StructField.fromJson(f), dv)
        for f, dv in json.loads(partition.plan_json)
    ]
    with pq.ParquetFile(partition.path, coerce_int96_timestamp_unit="us") as pf:
        on_disk = set(pf.schema_arrow.names)
        tbl = pf.read(columns=[f.name for f, _ in plan if f and f.name in on_disk])
    out = _arrow_aligned(tbl, plan, target, {"_change_version": partition.version})
    i = out.schema.get_field_index("_deleted")
    out = out.set_column(i, out.schema.field(i), pc.fill_null(out.column(i), False))
    yield from out.to_batches(max_chunksize=1 << 16)
