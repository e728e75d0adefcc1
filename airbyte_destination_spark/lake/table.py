"""LakeTable — bucketed copy-on-write table with atomic snapshot commits.

Storage layout (all under the table root):

    _meta/version-00000001.json   immutable commit records
    _meta/LATEST                  pointer file (atomic rename commit)
    data/snap-<version>-<nonce>/_b=<bucket>/*.parquet

A resolved snapshot manifest records, per hash bucket, the list of data
files (with the schema id each file was written under), the full schema
history, applied epoch ids (exactly-once markers), and lineage rows.
On disk most commit records are DELTAS (touched buckets + new epoch
markers only) against the previous version, with a full manifest every
_CHECKPOINT_INTERVAL versions — commits stay O(touched), not O(table),
over 10^4-10^5 epochs (the Iceberg manifest-list idea, flattened).

MERGE rewrites only the buckets a change batch touches; all other
buckets carry their previous files forward — the same copy-on-write
strategy Iceberg uses with `PARTITIONED BY (bucket(N, key))`.

Reference semantics being reproduced: ClickHouse ReplacingMergeTree
(Ver=cursor, ORDER BY primary key) configured at
/root/reference/internal/connector/destination.go:337-351 — per key,
the row with the greatest version wins; here the reduce is eager
(window row_number at merge time) so reads always see final state.
"""

from __future__ import annotations

import json
import os
import re
import random
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake.hashing import key_hashes
from airbyte_destination_spark.lake.schema import align_to_schema, merge_schemas

_META = "_meta"
_LATEST = "LATEST"
_BUCKET_COL = "_b"
# tombstone marker column persisted in data files (not in the user
# schema). ReplacingMergeTree(ver, is_deleted) semantics: a delete keeps
# a versioned tombstone row so later-arriving OLDER updates still lose;
# reads filter tombstones out; purge_tombstones() reclaims them.
_DELETED_COL = "_deleted"
# transient sort key for z-order compaction; dropped before the write
_ZORDER_COL = "_zorder"
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class CommitConflict(Exception):
    """Another writer committed the version we tried to write."""


def _file_col_stats(path: str, cols: list[str]) -> dict[str, tuple]:
    """{col: (min, max)} for `cols` from the parquet FOOTER of one data
    file — a metadata-only read (no row decoding), the Iceberg pattern
    of binding per-file column bounds into the manifest at commit time.
    On a real cluster these bounds come back with the write-task
    metrics; a driver-side footer read per new file (≈ one per touched
    bucket per commit) is the local[] equivalent and costs about
    0.09 ms of CPU per file (32 files of a 20k-event MOR epoch,
    `plans/stored_cv/footer_bind.txt`).

    A column is omitted (no pruning possible for this file) when it is
    missing, any row group lacks min/max stats, or the values are not
    JSON-round-trippable scalars (str/int/float). Parquet string stats
    are byte-wise UTF-8 bounds == codepoint order, so Python comparison
    against probe values is exact; writers that truncate long binary
    stats keep them valid *bounds*, which is all pruning needs.
    """
    out: dict[str, tuple] = {}
    try:
        import pyarrow.parquet as pq

        # read_metadata parses just the footer — no ParquetFile/handle
        # construction
        md = pq.read_metadata(path)
        if md.num_row_groups == 0:
            return out
        rg0 = md.row_group(0)
        idx_by_col = {
            rg0.column(i).path_in_schema: i for i in range(md.num_columns)
        }
        ok = (str, int, float)
        for col in cols:
            idx = idx_by_col.get(col)
            if idx is None:
                continue
            mn = mx = None
            complete = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    complete = False
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if (
                complete
                and isinstance(mn, ok)
                and isinstance(mx, ok)
                and not isinstance(mn, bool)
            ):
                out[col] = (mn, mx)
    except Exception:  # noqa: BLE001 — stats are an optimization only
        return {}
    return out


# ------------------------------------------------------- manifest scaling
#
# A long-running sync commits one snapshot per epoch: 10^10 events at
# ~10^6-event epochs is 10^4-10^5 commits. Rewriting the FULL manifest
# (every bucket's file list + every applied epoch id) per commit is
# O(table) metadata work per epoch — the same wall Iceberg hits and
# solves with manifest lists + snapshot expiry. Here:
#
#  * DELTA manifests: a commit records only the buckets it changed
#    (full-list replacement per touched bucket) plus new epoch markers;
#    every _CHECKPOINT_INTERVAL-th version is a full self-contained
#    manifest, so reconstructing any version walks at most that many
#    small delta files (cached per LakeTable instance).
#  * EPOCH WATERMARKS: exactly-once markers with ordered ids
#    ("<prefix>-<n>") fold losslessly into a per-prefix high watermark —
#    `applied_epochs` stays O(out-of-order tail), not O(history). An
#    epoch is applied iff it is in the explicit map OR its suffix is
#    <= its prefix's watermark; contiguous suffixes fold on every
#    commit, so a single-writer stream keeps the map empty.

_CHECKPOINT_INTERVAL = 32

# optimistic-concurrency retry budget. Every conflicted attempt re-reads
# the new base and re-runs the write, so attempts are not cheap — but a
# FIXED small budget with no backoff thrashes under sustained contention
# (N writers re-read and re-collide in lockstep; observed: a compactor
# loop racing 4 writers starved one writer out of 5 straight attempts).
_COMMIT_ATTEMPTS = 8


def _conflict_backoff(attempt: int) -> None:
    """Jittered exponential backoff between conflicted commit attempts
    (full jitter, capped at 1 s): desynchronizes contending writers so
    the retry budget buys progress instead of lockstep re-collisions."""
    time.sleep(random.uniform(0.0, min(0.02 * (2 ** attempt), 1.0)))
_EPOCH_RE = re.compile(r"(.*)-(\d+)\Z")
# the version in a data file's path: its snapshot dir's
_DIR_CV = re.compile(r".*/snap-([0-9]+)-[^/]*/_b=")
# delta-record bookkeeping keys (never part of a resolved manifest)
_DELTA_KEYS = ("delta", "buckets_set", "buckets_del", "schemas_add",
               "epochs_add", "epochs_del")


def _split_epoch(epoch_id: str):
    m = _EPOCH_RE.fullmatch(epoch_id)
    return (m.group(1), int(m.group(2))) if m else None


def _epoch_applied(m: dict, epoch_id: str) -> bool:
    if epoch_id in m.get("applied_epochs", {}):
        return True
    p = _split_epoch(epoch_id)
    return p is not None and p[1] <= m.get("epoch_watermarks", {}).get(p[0], -1)


def _epoch_list(epoch_id) -> list[str]:
    """Normalize merge()'s epoch_id argument: None, one id, or a list of
    ids that must commit ATOMICALLY (one manifest swap marks them all —
    the sharded-consumer shape, where one micro-batch covers many log
    shards and the per-shard offset frontier must advance all-or-nothing
    with the data)."""
    if epoch_id is None:
        return []
    return [epoch_id] if isinstance(epoch_id, str) else list(epoch_id)


def _epochs_applied_state(m: dict, epoch_ids: list[str]) -> str:
    """'all' / 'none' / 'partial' applied-state of an epoch-id set.
    'partial' can only arise from two writers committing DIFFERENT
    groupings of the same ids — a configuration error (consumers of one
    log must agree on chunk boundaries), surfaced rather than guessed
    at: skipping would lose the unapplied ids' data, applying would
    double-apply the rest."""
    n = sum(1 for e in epoch_ids if _epoch_applied(m, e))
    return "all" if n == len(epoch_ids) else ("none" if n == 0 else "partial")


def _fold_epochs(applied: dict, watermarks: dict) -> tuple[dict, dict]:
    """Advance each prefix's watermark over contiguous suffixes and drop
    the folded explicit entries. Lossless: applied-set membership is
    unchanged, only its representation shrinks."""
    wms = dict(watermarks)
    by_prefix: dict[str, dict[int, str]] = {}
    out: dict = {}
    for k, v in applied.items():
        p = _split_epoch(k)
        if p is None:
            out[k] = v
        else:
            by_prefix.setdefault(p[0], {})[p[1]] = k
    for prefix, suffixes in by_prefix.items():
        wm = wms.get(prefix, -1)
        while wm + 1 in suffixes:
            wm += 1
        if wm >= 0:
            wms[prefix] = wm
        for s, k in suffixes.items():
            if s > wm:
                out[k] = applied[k]
    return out, wms


def _delta_record(base: dict, full: dict) -> dict:
    """The commit record for `full` relative to its parent `base`:
    scalars verbatim (they're tiny), buckets/schemas/epochs as diffs."""
    d = {k: v for k, v in full.items()
         if k not in ("buckets", "schemas", "applied_epochs")}
    d["delta"] = True
    bset = {k: v for k, v in full["buckets"].items()
            if base["buckets"].get(k) != v}
    bdel = [k for k in base["buckets"] if k not in full["buckets"]]
    d["buckets_set"] = bset
    if bdel:
        d["buckets_del"] = bdel
    sadd = {k: v for k, v in full["schemas"].items() if k not in base["schemas"]}
    if sadd:
        d["schemas_add"] = sadd
    eadd = {k: v for k, v in full["applied_epochs"].items()
            if k not in base["applied_epochs"]}
    edel = [k for k in base["applied_epochs"]
            if k not in full["applied_epochs"]]
    if eadd:
        d["epochs_add"] = eadd
    if edel:
        d["epochs_del"] = edel
    return d


# parquet field ids. Every top-level column of every manifest schema
# carries one (`parquet.field.id` metadata, numbered from 1; the
# manifest's `last_field_id` is the highest ever given): a rename or a
# widening keeps the id, a drop retires it, and an add takes the next
# one. Every data file carries them, so readers resolve columns by id,
# not by name (Iceberg's column projection). The engine columns data
# files may hold take reserved ids at the top of the int32 range.
_FIELD_ID = "parquet.field.id"
_DELETED_ID = 2**31 - 2
_CV_ID = 2**31 - 3


_DELETED_FIELD = T.StructField(_DELETED_COL, T.BooleanType(), True, {_FIELD_ID: _DELETED_ID})
_CV_FIELD = T.StructField("_cv", T.LongType(), True, {_FIELD_ID: _CV_ID})
# the manifest's `format_version`: 2 = every data file holds parquet
# field ids and each row's `_cv`. `create` writes it; a table without
# it (written before either) is refused when opened.
_FORMAT_VERSION = 2


def _restamped(e: dict) -> bool:
    """Whether manifest entry `e` is a lost commit race's delta that
    `_rebase_append_commit` re-stamped: its `cv` differs from its own
    snapshot dir's version, which every writer gives its entries. Its
    rows' `_cv` reads as the entry's `cv`, not as the stored column."""
    return int(e["cv"]) != int(_DIR_CV.match(e["path"]).group(1))


def _number_fields(m: dict, schema: T.StructType, prev: T.StructType | None) -> T.StructType:
    """`schema` with the manifest's field ids: a field keeps the id of
    the `prev` field of its name, a new field takes the next id (and
    advances `m["last_field_id"]`). Any other metadata, and any id the
    incoming schema carried, is dropped."""
    ids = {f.name: f.metadata[_FIELD_ID] for f in prev.fields} if prev else {}
    out = []
    for f in schema.fields:
        fid = ids.get(f.name)
        if fid is None:
            fid = m["last_field_id"] = m["last_field_id"] + 1
        out.append(T.StructField(f.name, f.dataType, f.nullable, {_FIELD_ID: fid}))
    return T.StructType(out)


def _reads_as(src: T.DataType, dst: T.DataType) -> bool:
    """Whether Spark's parquet reader (vectorized and row-based alike)
    reads a `src` column as `dst` with Spark's cast value: the casts
    `_arrow_cast_exact` allows, and arrays, maps and structs of them,
    except int/long to float and long to double. Files holding a
    column it does not read as its target type (those, and `_widen`'s
    collapse to string) are read at their own type and cast (`_scan`)."""
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return _reads_as(src.elementType, dst.elementType)
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        return _reads_as(src.keyType, dst.keyType) and _reads_as(
            src.valueType, dst.valueType
        )
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        have = {f.name: f.dataType for f in src.fields}
        return all(_reads_as(have[f.name], f.dataType) for f in dst.fields if f.name in have)
    return _arrow_cast_exact(src, dst) and not (
        isinstance(src, _INTEGRAL) and isinstance(dst, T.FloatType)
        or isinstance(src, T.LongType) and isinstance(dst, T.DoubleType)
    )


# the Spark types each JSON literal kind of an initial default casts to
# (Spark's ANSI cast rules for a bool, int, float or str literal)
_FROM_ANY = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BooleanType)
_DEFAULT_CASTS = {
    bool: _FROM_ANY,
    int: _FROM_ANY + (T.TimestampType,),
    float: _FROM_ANY + (T.TimestampType,),
    str: _FROM_ANY + (T.DateType, T.TimestampType, T.TimestampNTZType, T.BinaryType),
}


def _default_sql(dv, dt: T.DataType) -> str:
    """Initial default `dv` (a JSON literal) as the SQL text of
    `F.lit(dv).cast(dt)`: the `EXISTS_DEFAULT` the parquet reader fills
    into files that lack the column. Raises ValueError when Spark
    cannot cast such a literal to `dt`."""
    kind = type(dv)
    if kind not in _DEFAULT_CASTS or not isinstance(dt, _DEFAULT_CASTS[kind]):
        raise ValueError(
            f"initial default {dv!r} cannot be cast to {dt.simpleString()}"
        )
    if kind is bool:
        lit = "true" if dv else "false"
    elif kind is int:
        lit = f"{dv}L" if -(2**63) <= dv < 2**63 else str(dv)
    elif kind is float:
        lit = f"CAST('{dv!r}' AS DOUBLE)"
    else:
        lit = "'" + dv.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"CAST({lit} AS {dt.simpleString()})"


def _resolve_delta(parent: dict, d: dict) -> dict:
    m = {k: v for k, v in d.items() if k not in _DELTA_KEYS}
    buckets = dict(parent["buckets"])
    buckets.update(d.get("buckets_set", {}))
    for k in d.get("buckets_del", []):
        buckets.pop(k, None)
    m["buckets"] = buckets
    schemas = dict(parent["schemas"])
    schemas.update(d.get("schemas_add", {}))
    m["schemas"] = schemas
    applied = dict(parent["applied_epochs"])
    applied.update(d.get("epochs_add", {}))
    for k in d.get("epochs_del", []):
        applied.pop(k, None)
    m["applied_epochs"] = applied
    return m


@dataclass
class MergeStats:
    epoch_id: str | None
    version: int
    rows_upserted: int
    rows_deleted: int
    buckets_touched: int
    skipped: bool = False  # epoch had already been applied
    lineage: list[dict] = field(default_factory=list)
    # lineage/rows_upserted count records RECEIVED per bucket (the
    # reference's destinationStats.recordCount, destination.go:417-419);
    # when validation quarantines rows, this records how many of those
    # received rows were diverted and never merged.
    rows_quarantined: int = 0


def _stat_cols(m: dict) -> list[str]:
    """Columns whose per-file bounds a manifest entry records: the
    first key column (as kmin/kmax), then the declared stats_cols."""
    k0 = m["key_cols"][0]
    return [k0] + [c for c in m.get("stats_cols", []) if c != k0]


def _mor_fold(m: dict, df: DataFrame) -> DataFrame:
    """For MOR tables, `df` (rows with `_cv`) folded to each key's
    winner, the greatest (version, _cv), tombstones kept; else `df`."""
    if m.get("merge_strategy", "cow") != "mor":
        return df
    from airbyte_destination_spark.operators.dedup import lww_reduce_agg

    ver = m["version_col"]
    return lww_reduce_agg(df, m["key_cols"], ([ver] if ver else []) + ["_cv"])


def _live(df: DataFrame) -> DataFrame:
    """`df` (rows with `_deleted` and `_cv`) without its tombstone rows
    and those two columns: the visible rows."""
    return df.where(~F.coalesce(F.col(_DELETED_COL), F.lit(False))).drop(
        _DELETED_COL, "_cv"
    )


def _with_field_ids(df: DataFrame, m: dict) -> DataFrame:
    """`df` about to be written as data files of `m`: its columns of
    the current schema, `_deleted` and `_cv` take the table's parquet
    field ids (replacing any an incoming frame carried); other columns
    (partition columns) pass through. The projection is built on the
    JVM objects directly: through `Column.alias(metadata=)` it took
    about 16 py4j round trips per column, here 4."""
    ids = {
        f.name: f.metadata[_FIELD_ID]
        for f in T.StructType.fromJson(m["schemas"][str(m["schema_id"])]).fields
        + [_DELETED_FIELD, _CV_FIELD]
    }
    jvm, jdf = df.sparkSession.sparkContext._jvm, df._jdf
    meta = jvm.org.apache.spark.sql.types.Metadata
    cols = [
        getattr(jdf.col(c), "as")(c, meta.fromJson(json.dumps({_FIELD_ID: ids[c]})))
        if c in ids
        else jdf.col(c)
        for c in df.columns
    ]
    return DataFrame(jdf.select(jvm.PythonUtils.toSeq(cols)), df.sparkSession)


def _entry_bounds(entry: dict, col: str, key0: str):
    """This file's (min, max) for `col` from its manifest entry, or
    None when the entry carries no bounds for it."""
    if col == key0 and "kmin" in entry:
        return entry["kmin"], entry["kmax"]
    s = entry.get("stats", {}).get(col)
    return (s[0], s[1]) if s else None


def _bounds_pred(bounds: dict[str, tuple], key0: str):
    """file_pred keeping a file iff, for every bounded column with
    recorded stats, [file_min, file_max] overlaps [lo, hi] (either end
    None = unbounded). Files without stats for a column — and
    type-mismatched bounds — fail open."""

    def pred(b: int, entry: dict) -> bool:
        for col, (lo, hi) in bounds.items():
            fr = _entry_bounds(entry, col, key0)
            if fr is None:
                continue
            try:
                if (lo is not None and fr[1] < lo) or (
                    hi is not None and fr[0] > hi
                ):
                    return False
            except TypeError:
                continue
        return True

    return pred


def _bucket_cols(m: dict) -> list[str]:
    """The columns the bucket hash is computed over — a subset of the
    key columns (default: all of them). A proper subset makes the
    layout prefix-addressable: `read_prefix` prunes buckets from the
    subset's values alone (the secondary-index layout, where the index
    table is keyed (value, base_key) but bucketed on value only).
    Clustering on a subset still satisfies the merge fold's
    ClusteredDistribution over the full key (coarser partitioning), so
    the one-exchange merge shape is unchanged."""
    return m.get("bucket_cols") or m["key_cols"]


def _rehash_cols(m: dict, current: T.StructType, merged: T.StructType) -> list[str]:
    """The bucket columns whose hash changes from `current` to `merged`
    (schema evolution). A key column may change type only by an
    integral promotion: byte, short and int all hash as an int in
    Spark, so promotions among them keep every key's bucket, while a
    promotion to long moves keys (unless there is one bucket). Any
    other change — to float, double, decimal, or the collapse to
    string — would change key equality and raises ValueError."""
    out = []
    for c in m["key_cols"]:
        old, new = current[c].dataType, merged[c].dataType
        if old == new:
            continue
        if not (isinstance(old, _INTEGRAL) and isinstance(new, _INTEGRAL)):
            raise ValueError(
                f"key column {c!r} cannot change type from "
                f"{old.simpleString()} to {new.simpleString()}"
            )
        if isinstance(new, T.LongType) and c in _bucket_cols(m) and m["n_buckets"] > 1:
            out.append(c)
    return out


def _zone_map_pred(keys_by_bucket: dict[int, list]):
    """file_pred keeping a file iff it lacks zone-map bounds or some
    probe key of its bucket falls inside them. A NaN probe key keeps
    every file (it compares false with any bound, and parquet bounds
    leave NaN out). Type-mismatched bounds (manifest written by an
    older schema) fail open — keep the file."""

    def pred(b: int, entry: dict) -> bool:
        if "kmin" not in entry:
            return True
        try:
            return any(
                k is not None
                and (k != k or entry["kmin"] <= k <= entry["kmax"])
                for k in keys_by_bucket.get(b, ())
            )
        except TypeError:
            return True

    return pred


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a row: pmod(murmur3_hash(keys), N).

    Deliberately the SAME function Spark's HashPartitioning uses
    (Murmur3, seed 42), so after `repartition(g, *key_cols)` with `g`
    dividing N, shuffle partition p holds exactly the buckets b with
    b mod g == p (`_by_bucket`) — the merge's aggregation exchange
    doubles as bucket placement and the bucketed write needs no second
    exchange. Verified: pmod(hash(k), N) == spark_partition_id() under
    repartition(N, k).
    """
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def _write_partitions(n_buckets: int, shuffle_partitions: int) -> int:
    """The task count of a bucketed write: the smallest divisor of
    `n_buckets` that is at least min(shuffle_partitions, n_buckets).
    It divides n_buckets, so a row's partition pmod(hash, g) is its
    bucket pmod(hash, n_buckets) mod g: each bucket lands whole in one
    task. With shuffle_partitions >= n_buckets it is n_buckets, one
    task per bucket."""
    lo = min(shuffle_partitions, n_buckets)
    return next(g for g in range(lo, n_buckets + 1) if n_buckets % g == 0)


def _by_bucket(df: DataFrame, m: dict) -> DataFrame:
    """`df` hash-partitioned on `m`'s bucket columns into
    `_write_partitions` tasks: each bucket whole in one task, so a
    bucketed write of it makes one file per bucket in about as many
    tasks as the session has shuffle partitions, not one task per
    bucket (each write task pays a fixed cost: it decodes the job's
    serialized Hadoop configuration). The bucket columns are a subset
    of the key, so an LWW, partial or aggregate fold over the key
    reuses this exchange, and adaptive execution never coalesces a
    REPARTITION_BY_NUM exchange."""
    g = _write_partitions(
        m["n_buckets"], int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )
    return df.repartition(g, *[F.col(c) for c in _bucket_cols(m)])


# Longest probe list pushed to a parquet scan as a literal IN (read_keys'
# Spark path, read_prefix); longer lists would bloat the plan with a
# kilobyte literal and rely on the semi join alone.
_ISIN_MAX_KEYS = 256
# read_keys reads its kept files on the driver with pyarrow, launching no
# Spark job, when their manifest sizes sum to at most this; an entry
# without a recorded size counts as over. The bound is driver memory:
# pyarrow decodes each kept row group whole before filtering, so a
# lookup's peak follows its kept row groups, a whole file when the file
# has one (measured when whole files were read: driver RSS +0.22 GB for
# one 62 MB file, +0.91 GB for one 247 MB file). Below it the driver
# path also took less CPU and wall time than the distributed plan at
# every size measured (up to 309 MB of kept files and 10k keys,
# local[4]).
_LOOKUP_DRIVER_MAX_BYTES = 64 << 20


def _route_keys(keys: list, key_dt, n_buckets: int) -> list[tuple]:
    """[(key, bucket, xxhash64)] for a probe key list: NULLs dropped (a
    NULL key matches nothing), duplicates dropped, each key's bucket
    `pmod(murmur3, n_buckets)` as `bucket_expr` places it and its
    xxhash64 as the bloom build hashes it — both computed by
    lake/hashing.py on the driver, so routing makes no JVM call. A key
    type the module does not hash raises TypeError here, before any
    file is read."""
    hashes = key_hashes(key_dt)
    out = []
    seen = set()
    for k in keys:
        if k is None or k in seen:
            continue
        seen.add(k)
        m3, xx = hashes(k)
        out.append((k, m3 % n_buckets, xx))
    return out


def _local_df(spark: SparkSession, tbl, schema: T.StructType) -> DataFrame:
    """`tbl` (a pyarrow Table) as a LocalRelation DataFrame. Chunks are
    combined first: spark.createDataFrame(pa.Table) drops every record
    batch after a zero-row one (chunks [2, 0, 3] come back as 2 rows),
    and per-file reads concatenated into one table yield such
    batches."""
    return spark.createDataFrame(tbl.combine_chunks(), schema)


def _arrow_cast_exact(src: T.DataType, dst: T.DataType) -> bool:
    """Whether pyarrow's cast of a `src` column to `dst` gives exactly
    Spark's values: identity; integral to wider integral; integral or
    float to float/double (cast with safe=False, IEEE round-to-nearest
    as Java's primitive conversions); decimal to a decimal with no fewer
    integer or fraction digits."""
    if src == dst:
        return True
    if isinstance(src, _INTEGRAL) and isinstance(dst, _INTEGRAL):
        return _INTEGRAL.index(type(src)) <= _INTEGRAL.index(type(dst))
    if isinstance(dst, (T.FloatType, T.DoubleType)):
        return isinstance(src, _INTEGRAL + (T.FloatType,))
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    return False


def _arrow_default(dv, dt: T.DataType):
    """Initial default `dv` (a JSON literal) as a pyarrow scalar of
    Spark type `dt`, or None unless the literal already has `dt`'s kind:
    a bool for boolean, an int that fits an integral type, a float for
    float/double (rounded as Java does), a str for string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dv, bool):
        ok = isinstance(dt, T.BooleanType)
    elif isinstance(dv, int):
        ok = isinstance(dt, _INTEGRAL)
    elif isinstance(dv, float):
        ok = isinstance(dt, (T.FloatType, T.DoubleType))
    else:
        ok = isinstance(dv, str) and isinstance(dt, T.StringType)
    if not ok:
        return None
    at = to_arrow_type(dt)
    if isinstance(dv, float):
        return pa.array([dv]).cast(at, safe=False)[0]
    try:
        return pa.scalar(dv, at)
    except (pa.ArrowInvalid, OverflowError):
        return None  # an int beyond the type's range: Spark's cast decides


def _file_fields(schemas: dict, sid: str) -> list[T.StructField]:
    """The columns, with their field ids, a data file written under
    schema `sid` may hold: that schema's, the `_deleted` tombstone flag
    and each row's commit version `_cv`."""
    return T.StructType.fromJson(schemas[sid]).fields + [_DELETED_FIELD, _CV_FIELD]


def _arrow_align_plan(file_fields, target: T.StructType, defaults: dict):
    """How pyarrow aligns a data file holding `file_fields` to `target`,
    matching columns by parquet field id: one (file field, initial
    default) per target field — the file's field with the target
    field's id, else the target field's default from `defaults`, else
    neither (`_arrow_aligned` fills the caller's value or NULLs).
    Returns (plan, None), or (None, name) for the first target column
    whose cast or default pyarrow does not make exactly as Spark does."""
    have = {f.metadata[_FIELD_ID]: f for f in file_fields}
    plan = []
    for f in target.fields:
        src = have.get(f.metadata.get(_FIELD_ID))
        dv = None if src is not None else defaults.get(f.name)
        if (src is not None and not _arrow_cast_exact(src.dataType, f.dataType)) or (
            dv is not None and _arrow_default(dv, f.dataType) is None
        ):
            return None, f.name
        plan.append((src, dv))
    return plan, None


def _arrow_aligned(tbl, plan: list, target: T.StructType, fill: dict):
    """pyarrow table `tbl` (a data file's columns by on-disk name)
    aligned to `target` by `plan` (`_arrow_align_plan`): each column
    cast to its target type, defaults filled, and a field the file
    lacks (or a column its schema names but it does not hold, such as
    `_deleted` in append output) filled with `fill[name]` when given,
    else NULLs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

    schema = to_arrow_schema(target)
    n = tbl.num_rows
    cols = []
    for (src, dv), f, at in zip(plan, target.fields, schema.types):
        if src is not None and src.name in tbl.column_names:
            col = tbl[src.name].cast(to_arrow_type(src.dataType))
            if col.type != at:
                col = col.cast(at, safe=not pa.types.is_floating(at))
        elif dv is not None:
            col = pa.repeat(_arrow_default(dv, f.dataType), n)
        elif f.name in fill:
            col = pa.repeat(pa.scalar(fill[f.name], at), n)
        else:
            col = pa.nulls(n, at)
        cols.append(col)
    return pa.Table.from_arrays(cols, schema=schema)


def _probe_array(probe: list, key_dt: T.DataType, key_at):
    """The probe keys as a pyarrow array of the key column's Arrow type
    `key_at`, converted as PySpark converts them (a naive timestamp is
    local time), with -0.0 folded into 0.0 as Spark's float equality
    has it."""
    import pyarrow as pa

    if isinstance(key_dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        raw = pa.int32() if isinstance(key_dt, T.DateType) else pa.int64()
        return pa.array([key_dt.toInternal(k) for k in probe], raw).cast(key_at)
    if isinstance(key_dt, (T.FloatType, T.DoubleType)):
        return pa.array([float(k) + 0.0 for k in probe]).cast(key_at, safe=False)
    return pa.array(probe, key_at)


def _row_groups_for(md, col: str, probe: list) -> list[int]:
    """The row groups of a parquet file (footer `md`) whose min/max
    statistics of column `col` can hold some probe key. A row group
    without statistics, or with statistics that do not compare with
    the keys, is kept."""
    import pyarrow as pa

    j = next(
        (i for i in range(md.num_columns) if md.schema.column(i).path == col), None
    )
    out = []
    for i in range(md.num_row_groups):
        st = None if j is None else md.row_group(i).column(j).statistics
        try:
            if st is not None and st.has_min_max:
                lo, hi = st.min, st.max
                # skip only when every key is provably outside (a NaN
                # key compares false both ways and keeps the group)
                if all(k < lo or k > hi for k in probe):
                    continue
        except (TypeError, ValueError, pa.ArrowException):
            pass
        out.append(i)
    return out


def _lww_last(tbl, k0: str, ver: str | None):
    """The last row per key of pyarrow table `tbl` (which holds `_cv`)
    in `lww_reduce_agg`'s order: ascending (version, _cv), a NULL
    version below any value and, as Spark orders floats, NaN above
    every number."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sort = tbl
    keys = [(k0, "ascending")]
    if ver:
        if pa.types.is_floating(tbl[ver].type):
            # sort_indices puts NaN with the NULLs; a NULL version's
            # flag stays NULL, below both
            sort = sort.append_column("_nan", pc.is_nan(tbl[ver]))
            keys.append(("_nan", "ascending"))
        keys.append((ver, "ascending"))
    keys.append(("_cv", "ascending"))
    order = pc.sort_indices(sort, sort_keys=keys, null_placement="at_start")
    k = tbl[k0].take(order)
    n = len(k)
    last = pc.not_equal(k.slice(0, n - 1), k.slice(1))
    return tbl.take(order.filter(pa.concat_arrays(last.chunks + [pa.array([True])])))


class LakeTable:
    """Handle to one table. Cheap to construct; state lives on disk."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, _META)
        # resolved-manifest cache: versions are immutable once written,
        # so entries never invalidate; bounded to the recent tail
        self._mcache: dict[int, dict] = {}

    # ------------------------------------------------------------- meta io

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, _LATEST))

    def _version_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"version-{v:08d}.json")

    def current_version(self) -> int:
        try:
            with open(os.path.join(self.meta_dir, _LATEST)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _read_raw(self, v: int) -> dict:
        """The commit record as written — a full manifest or a delta."""
        with open(self._version_path(v)) as f:
            return json.load(f)

    def _resolved(self, v: int) -> dict:
        """Reconstruct version v by applying delta records onto the
        nearest full checkpoint manifest (<= _CHECKPOINT_INTERVAL hops,
        usually 1 thanks to the cache). Do NOT mutate the result."""
        hit = self._mcache.get(v)
        if hit is not None:
            return hit
        raw = self._read_raw(v)
        if raw.get("delta"):
            raw = _resolve_delta(self._resolved(v - 1), raw)
        if raw.get("format_version") != _FORMAT_VERSION:
            raise ValueError(
                f"table {self.root} predates format version {_FORMAT_VERSION} "
                f"(version {v} records {raw.get('format_version')}): this "
                "engine needs parquet field ids and a `_cv` column in every "
                "data file and cannot read it"
            )
        self._mcache[v] = raw
        if len(self._mcache) > 8:  # keep the recent tail only
            for old in sorted(self._mcache)[:-4]:
                self._mcache.pop(old, None)  # tolerant of racing threads
        return raw

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        m = self._resolved(v)
        # callers mutate top-level containers in place — hand out copies
        # so the cache stays pristine (inner file lists are only ever
        # replaced wholesale, never mutated, so sharing them is safe)
        return {
            **m,
            "buckets": dict(m["buckets"]),
            "schemas": dict(m["schemas"]),
            "applied_epochs": dict(m["applied_epochs"]),
            "epoch_watermarks": dict(m.get("epoch_watermarks", {})),
        }

    def schema(self) -> T.StructType:
        m = self.manifest()
        return T.StructType.fromJson(m["schemas"][str(m["schema_id"])])

    def properties(self) -> dict:
        return self.manifest().get("properties", {})

    def applied_epochs(self) -> dict:
        """epoch_id -> version, for the UNFOLDED tail only (out-of-order
        or non-parseable ids). Contiguous ordered epochs live in
        `epoch_watermarks` — use is_epoch_applied() for membership."""
        return self.manifest().get("applied_epochs", {})

    def is_epoch_applied(self, epoch_id: str) -> bool:
        """Exactly-once check: has this epoch already been committed?"""
        return _epoch_applied(self.manifest(), epoch_id)

    def n_applied_epochs(self) -> int:
        """Total applied epochs = folded watermark spans + explicit tail."""
        m = self.manifest()
        return sum(w + 1 for w in m.get("epoch_watermarks", {}).values()) + len(
            m.get("applied_epochs", {})
        )

    def epoch_commit_version(self, epoch_id: str) -> int | None:
        """The version committed by `epoch_id`, or None if unknown (never
        applied, or its commit record was GC'd by expire_snapshots).
        Walks raw commit records newest-first — the cold crash-recovery
        path for derived-table maintenance (see operators/incremental),
        not something the hot loop calls."""
        for v in range(self.current_version(), 0, -1):
            try:
                rec = self._read_raw(v).get("epoch_id")
            except FileNotFoundError:
                break  # older records are expired; nothing earlier survives
            # multi-epoch atomic commits record a LIST of ids; match a
            # member, or the joined display form MergeStats carries
            if rec == epoch_id or (
                isinstance(rec, list)
                and (epoch_id in rec or epoch_id == ",".join(rec))
            ):
                return v
        return None

    def history(self) -> list[dict]:
        out = []
        for v in range(1, self.current_version() + 1):
            # per-commit scalars live verbatim in every record (delta or
            # full) — raw reads keep history O(versions), not O(v * K)
            try:
                m = self._read_raw(v)
            except FileNotFoundError:  # expired by expire_snapshots
                continue
            out.append(
                {
                    "version": v,
                    "operation": m.get("operation"),
                    "epoch_id": m.get("epoch_id"),
                    "committed_at": m.get("committed_at"),
                }
            )
        return out

    def lineage_rows(self) -> list[dict]:
        """All lineage rows across history: one per (commit, bucket)."""
        rows = []
        for v in range(1, self.current_version() + 1):
            try:
                rows.extend(self._read_raw(v).get("lineage", []))
            except FileNotFoundError:  # expired by expire_snapshots
                continue
        return rows

    # ------------------------------------------------------------- commit

    def _recover_orphan(self) -> None:
        """Roll forward a commit whose writer died between publishing
        the version record and flipping LATEST. Without this, the
        orphaned record makes every later commit of that version number
        raise CommitConflict forever — the table bricks. Version
        records are published atomically (see _commit), so an existing
        record is always complete and finishing the pointer flip is
        safe; if the original writer is merely slow, both flips write
        the same value (idempotent). Writers call this at the top of
        every optimistic attempt.

        Two defenses against racing/torn state: (1) the record is
        json-parsed before the flip — a record torn by power loss is
        never rolled forward as LATEST. Because _commit fsyncs the temp
        file BEFORE the atomic os.link, an unparseable version file can
        only be pre-fsync power-loss debris that no reader ever saw, so
        it is deleted (leaving it would brick every writer: link →
        FileExistsError → CommitConflict forever). (2) LATEST is
        re-read immediately before the replace and the flip is skipped
        if another writer already advanced the pointer at or past v+1 —
        otherwise a slow recovery could overwrite a newer LATEST with
        an older value and concurrent readers would transiently observe
        an older snapshot (monotonic-read violation)."""
        while True:
            v = self.current_version()
            path = self._version_path(v + 1)
            if not os.path.exists(path):
                return
            try:
                with open(path) as f:
                    json.load(f)
            except FileNotFoundError:
                continue  # another recovery/expiry raced us; re-read LATEST
            except json.JSONDecodeError:
                try:
                    os.unlink(path)  # torn pre-fsync debris, never visible
                except FileNotFoundError:
                    pass
                continue
            tmp = os.path.join(self.meta_dir, f".latest.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(v + 1))
                f.flush()
                os.fsync(f.fileno())
            if self.current_version() >= v + 1:  # another writer got there
                os.unlink(tmp)
                continue
            os.replace(tmp, os.path.join(self.meta_dir, _LATEST))

    def _commit(self, manifest: dict, expected_base: int, force_full: bool = False) -> int:
        """Optimistic-concurrency commit: exclusively create the next
        version file, then atomically flip the LATEST pointer.

        The record written is a DELTA relative to the parent version
        (touched buckets + new epoch markers only) except every
        _CHECKPOINT_INTERVAL-th version, which is written full — a
        commit is O(touched buckets) metadata, not O(table), and
        `applied_epochs` is folded into per-prefix watermarks first so
        exactly-once markers stay O(1) for an ordered stream."""
        os.makedirs(self.meta_dir, exist_ok=True)
        new_v = expected_base + 1
        manifest["version"] = new_v
        manifest["committed_at"] = time.time()
        manifest["applied_epochs"], manifest["epoch_watermarks"] = _fold_epochs(
            manifest.get("applied_epochs", {}),
            manifest.get("epoch_watermarks", {}),
        )
        record = manifest
        if not force_full and expected_base >= 1 and new_v % _CHECKPOINT_INTERVAL != 0:
            record = _delta_record(self._resolved(expected_base), manifest)
        path = self._version_path(new_v)
        # publish the commit record ATOMICALLY-AND-EXCLUSIVELY: write a
        # private temp then hard-link it into place. link() fails if the
        # name exists (the optimistic-concurrency conflict check, like
        # open("x")) and, unlike open("x") + write, a crash mid-write
        # can never leave a HALF-WRITTEN version file behind — any
        # version file that exists is complete, which is what makes the
        # orphan roll-forward in _recover_orphan() safe.
        tmpv = os.path.join(self.meta_dir, f".v.{uuid.uuid4().hex}")
        with open(tmpv, "w") as f:
            json.dump(record, f)
            f.flush()
            os.fsync(f.fileno())  # record durable BEFORE it becomes visible
        try:
            os.link(tmpv, path)
        except FileExistsError as e:
            raise CommitConflict(f"version {new_v} already exists at {self.root}") from e
        finally:
            os.unlink(tmpv)
        # fsync the directory so the link itself survives power loss —
        # "any version file that exists is complete" must hold across
        # system crashes, not just process crashes, for _recover_orphan's
        # roll-forward to stay safe.
        dfd = os.open(self.meta_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        tmp = os.path.join(self.meta_dir, f".latest.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(new_v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.meta_dir, _LATEST))  # atomic
        # seed the cache with what we just committed (manifest() copies)
        self._mcache[new_v] = {
            **manifest,
            "buckets": dict(manifest["buckets"]),
            "schemas": dict(manifest["schemas"]),
            "applied_epochs": dict(manifest["applied_epochs"]),
            "epoch_watermarks": dict(manifest["epoch_watermarks"]),
        }
        return new_v

    # ------------------------------------------------------------- create

    def create(
        self,
        schema: T.StructType,
        key_cols: list[str],
        version_col: str | None,
        n_buckets: int = 32,
        properties: dict | None = None,
        merge_strategy: str = "cow",
        agg_spec: dict | None = None,
        stats_cols: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ) -> None:
        """`bucket_cols`: subset of `key_cols` the bucket hash uses
        (default: all). A proper subset makes the layout
        prefix-addressable — `read_prefix` prunes buckets from the
        subset's values alone (secondary-index layout) — while the
        merge still co-locates full keys (coarser partitioning
        satisfies the fold's clustering).

        `stats_cols`: extra columns whose per-file (min, max) bounds
        are bound into the manifest at every commit (the first key
        column always is); `scan(bounds=...)` skips files with them.

        merge_strategy:
        - "cow" (copy-on-write): each merge eagerly reduces batch +
          touched buckets and rewrites them; reads are plain scans.
        - "mor" (merge-on-read): each merge only appends the batch's
          per-key winners as delta files — no read/rewrite of existing
          data, so ingest cost is O(batch) regardless of table size;
          reads reduce base+deltas per key (greatest (version,
          commit_version) wins) and `compact()` folds deltas back down.
          This is ClickHouse ReplacingMergeTree's architecture — the
          reference's storage engine (destination.go:337-351): inserts
          are cheap appends, background merges fold, readers see the
          final state (we reduce at read instead of requiring FINAL).
        """
        if self.exists():
            raise FileExistsError(f"table {self.root} already exists")
        for c in key_cols:
            if c not in schema.fieldNames():
                raise ValueError(f"key column {c!r} not in schema")
        if version_col is not None and version_col not in schema.fieldNames():
            raise ValueError(f"version column {version_col!r} not in schema")
        if merge_strategy not in ("cow", "mor"):
            raise ValueError(f"unknown merge_strategy {merge_strategy!r}")
        for c in stats_cols or []:
            if c not in schema.fieldNames():
                raise ValueError(f"stats column {c!r} not in schema")
        if bucket_cols is not None:
            if not bucket_cols or any(c not in key_cols for c in bucket_cols):
                raise ValueError(
                    f"bucket_cols {bucket_cols!r} must be a non-empty subset "
                    f"of key_cols {key_cols!r}"
                )
        if agg_spec is not None:
            # aggregation merge engine DDL (ClickHouse SummingMergeTree /
            # Paimon aggregation analog) — bound at CREATE so every merge
            # folds with the same functions; see operators/dedup.AGG_FNS
            from airbyte_destination_spark.operators.dedup import AGG_FNS

            for c, fn in agg_spec.items():
                if fn not in AGG_FNS:
                    raise ValueError(f"unknown aggregate fn {fn!r} for column {c!r}")
                if c not in schema.fieldNames():
                    raise ValueError(f"agg_spec column {c!r} not in schema")
                if c in key_cols or c == version_col:
                    raise ValueError(f"agg_spec column {c!r} is a key/version column")
            if version_col is None:
                raise ValueError("agg_spec requires a version column")
            if merge_strategy != "cow":
                raise ValueError(
                    "agg_spec requires a COW table — MOR delta files fold with "
                    "LWW at read time, which would drop partial aggregates"
                )
        manifest = {"format_version": _FORMAT_VERSION, "last_field_id": 0}
        manifest |= {
            "merge_strategy": merge_strategy,
            "schema_id": 0,
            "schemas": {"0": _number_fields(manifest, schema, None).jsonValue()},
            "key_cols": key_cols,
            "version_col": version_col,
            "n_buckets": n_buckets,
            "bucket_fn": "murmur3_pmod",  # == Spark HashPartitioning
            "buckets": {},
            "applied_epochs": {},
            "epoch_watermarks": {},
            "properties": properties or {},
            "agg_spec": agg_spec,
            "stats_cols": list(stats_cols or []),
            "bucket_cols": list(bucket_cols) if bucket_cols else None,
            "operation": "create",
            "lineage": [],
        }
        self._commit(manifest, 0)

    def drop(self) -> None:
        """DROP TABLE PURGE — the reference's cascade delete
        (/root/reference/internal/connector/destination.go:516-574) is a
        polled cloud API; here it is one recursive remove."""
        shutil.rmtree(self.root, ignore_errors=True)

    # ------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        read_optimized: bool = False,
        tag: str | None = None,
    ) -> DataFrame:
        """Current table state as a DataFrame (bucket column excluded).

        Every file is read in one scan at the table's current schema,
        columns resolved by parquet field id (`_scan`) — this is how
        renamed, added, defaulted and widened columns read back without
        rewriting history.

        `read_optimized=True` (MOR tables; the Hudi RO-view shape):
        skip the per-key LWW fold entirely and read only each bucket's
        BASE files — the fully-folded output of the last maintenance
        rewrite (compact / purge_tombstones / rebucket), which is
        key-unique by construction. Deltas landed after the rewrite
        are NOT visible: the view trades bounded staleness for a
        fold-free scan (no aggregate exchange in the plan). A bucket
        never rewritten contributes nothing until its first
        compaction, exactly like a Hudi bucket before its first base
        file (a lone un-rewritten file is NOT served: append-mode
        files legitimately carry duplicate keys, so "single file" does
        not imply key-unique). No-op for COW tables (reads never
        fold).

        `tag="name"` reads the snapshot a tag pins (exclusive with
        `version`)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self.resolve_tag(tag)
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        all_buckets = [int(b) for b in m["buckets"]]
        if read_optimized and m.get("merge_strategy", "cow") == "mor":
            allowed: set[str] = set()
            for fs in m["buckets"].values():
                allowed.update(e["path"] for e in fs if e.get("base"))
            return _live(
                self._read_buckets(
                    spark, m, all_buckets, schema,
                    file_pred=lambda b, e: e["path"] in allowed,
                )
            )
        return self._resolve(spark, m, all_buckets, schema)

    def _resolve(
        self,
        spark: SparkSession,
        m: dict,
        buckets: list[int],
        schema: T.StructType,
        file_pred=None,
    ) -> DataFrame:
        """Final visible state of the given buckets: MOR tables fold
        base+deltas per key (greatest (version, commit) wins), then
        tombstones are filtered for both strategies.

        `file_pred(bucket, entry) -> bool` optionally skips data files
        before the scan. Safe under the MOR fold only for predicates
        that are *per-key complete* — every file that can contain a
        probed key must be kept (zone-map pruning is; see read_keys)."""
        return _live(
            _mor_fold(m, self._read_buckets(spark, m, buckets, schema, file_pred=file_pred))
        )

    def _folded(
        self,
        spark: SparkSession,
        m: dict,
        buckets: list[int],
        schema: T.StructType,
        file_pred=None,
    ) -> DataFrame:
        """The rows of the given buckets ready for a bucketed rewrite
        (`_write_bucketed`): partitioned by `_by_bucket`, MOR deltas
        folded per key over that same exchange (tombstones and `_cv`
        kept), with `_BUCKET_COL`. One shuffle for the fold and the
        write."""
        df = _by_bucket(self._read_buckets(spark, m, buckets, schema, file_pred=file_pred), m)
        return self._with_bucket(_mor_fold(m, df), m)

    def read_keys(self, spark: SparkSession, keys: list) -> DataFrame:
        """Point lookups with three pruning layers: (1) bucket pruning
        — only the buckets the keys hash to are scanned (1/n_buckets of
        the table per key); (2) zone-map FILE pruning inside each
        candidate bucket — a file is opened only if some probe key
        falls inside its manifest (kmin, kmax) bounds, and, when a
        per-file key bloom exists (lake/bloom.py), only if some probe
        key MAY be present; (3) ROW-GROUP pruning inside the kept files
        by their parquet min/max statistics. Zone maps win on
        key-clustered files (sorted compaction); blooms win on the
        CDC-natural shape where every epoch's file spans the whole key
        space and ranges prune nothing. Together they keep point
        lookups O(files containing the key) on an un-compacted MOR
        table. Safe under the MOR LWW fold because every layer is
        per-key complete (any file that CAN contain a probed key is
        kept; blooms have no false negatives).

        Two execution paths return the same rows:
        - DRIVER path, when the kept files' manifest sizes sum to at
          most _LOOKUP_DRIVER_MAX_BYTES, however many keys the probe
          holds: one Arrow pass on the driver. Each kept file's row
          groups whose key min/max can hold a probe key (layer 3) are
          read with pyarrow, filtered to the probe keys, aligned to the
          current schema by field id as `_scan` aligns them, folded per
          key for MOR tables in `lww_reduce_agg`'s order, and returned
          as ONE LocalRelation. No Spark job runs (keys are routed by
          lake/hashing.py, with no JVM call), and the caller's
          select/collect over the result stays job-free — a short
          query does not pay the distributed pipeline's fixed start-up
          cost. A kept file that needs a cast or a default pyarrow
          does not make exactly as Spark does (`_arrow_align_plan`)
          sends the probe to the Spark path.
        - SPARK path otherwise (file sets too big for one machine): a
          parquet scan of the kept files, a pushed literal IN for
          layer 3 (key lists up to _ISIN_MAX_KEYS), the MOR fold, and
          a broadcast semi join against the probe keys.

        Single-column keys only; `keys` is a list of key values, and a
        NULL among them matches nothing.
        """
        m = self.manifest()
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        key_cols = m["key_cols"]
        if len(key_cols) != 1:
            raise ValueError("read_keys supports single-column keys")
        keys_by_bucket, kept = self._lookup_files(m, schema, keys)
        probe = [k for ks in keys_by_bucket.values() for k in ks]  # distinct
        if sum(e.get("bytes", float("inf")) for e in kept) <= _LOOKUP_DRIVER_MAX_BYTES:
            local = self._read_keys_local(spark, m, schema, probe, kept)
            if local is not None:
                return local
        paths = {e["path"] for e in kept}
        pruned = self._resolve(
            spark, m, sorted(keys_by_bucket), schema,
            file_pred=lambda b, e: e["path"] in paths,
        )
        if len(probe) <= _ISIN_MAX_KEYS:
            # third pruning layer: a literal IN predicate reaches the
            # parquet scan as a pushed filter, so ROW GROUPS inside the
            # kept files are skipped by their min/max stats (selective
            # after sorted compaction keys every file). The semi join
            # stays authoritative; the filter is a redundant narrowing,
            # applied pre-fold which is safe for the same per-key-
            # completeness reason as file pruning.
            pruned = pruned.where(F.col(key_cols[0]).isin(probe))
        kdf = spark.createDataFrame(
            [(k,) for k in probe], T.StructType([schema[key_cols[0]]])
        )
        return pruned.join(F.broadcast(kdf), key_cols, "left_semi")

    def _read_keys_local(
        self,
        spark: SparkSession,
        m: dict,
        schema: T.StructType,
        probe: list,
        kept: list[dict],
    ) -> DataFrame | None:
        """read_keys' driver path, one Arrow pass: the kept files' row
        groups that can hold a probe key read with pyarrow, their rows
        filtered to the probe keys and aligned by `_arrow_align_plan`,
        folded per key with `lww_reduce_agg`'s order for MOR tables
        (`_lww_last`), tombstones dropped, and the survivors returned
        by one `createDataFrame`. None, before any file is read, when
        a kept file cannot be aligned exactly in Arrow or the version
        column does not sort in Arrow."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

        k0, ver = m["key_cols"][0], m["version_col"]
        mor = m.get("merge_strategy", "cow") == "mor"
        if mor and ver and isinstance(
            schema[ver].dataType, (T.ArrayType, T.MapType, T.StructType)
        ):
            return None
        target = T.StructType(schema.fields + [_DELETED_FIELD, _CV_FIELD])
        defaults = m.get("defaults") or {}
        plans: dict[str, list | None] = {}
        files = []
        for e in kept:
            sid = str(e["schema_id"])
            if sid not in plans:
                plans[sid] = _arrow_align_plan(
                    _file_fields(m["schemas"], sid), target, defaults
                )[0]
            if plans[sid] is None:
                return None
            files.append((e, plans[sid]))
        arrow_target = to_arrow_schema(target)
        key_dt = schema[k0].dataType
        key_at = arrow_target.field(k0).type
        float_key = isinstance(key_dt, (T.FloatType, T.DoubleType))
        probe_arr = _probe_array(probe, key_dt, key_at)
        parts = []
        for e, plan in files:
            path = os.path.join(self.root, e["path"])
            # the key column as this file holds it
            k_src = plan[schema.fieldNames().index(k0)][0]
            # a re-stamped entry's rows take its `cv` (filled below)
            fill = {"_cv": int(e["cv"])} if _restamped(e) else {}
            with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
                rgs = _row_groups_for(pf.metadata, k_src.name, probe)
                on_disk = set(pf.schema_arrow.names) - set(fill)
                names = [f.name for f, _ in plan if f and f.name in on_disk]
                tbl = pf.read_row_groups(rgs, columns=names) if rgs else None
            if tbl is None:
                continue
            # the file's keys at the current key type: files written
            # before an int->long widening hold int32 keys
            kcol = tbl[k_src.name].cast(to_arrow_type(k_src.dataType)).cast(key_at)
            if float_key:
                kcol = pc.add(kcol, pa.scalar(0.0, key_at))  # -0.0 -> 0.0
            tbl = tbl.filter(pc.is_in(kcol, value_set=probe_arr))
            if tbl.num_rows:
                parts.append(_arrow_aligned(tbl, plan, target, fill))
        tbl = pa.concat_tables(parts) if parts else arrow_target.empty_table()
        if mor and tbl.num_rows:
            tbl = _lww_last(tbl, k0, ver)
        # COW reads never fold: append-mode files may hold duplicate
        # keys, and every one of those rows is returned
        tbl = tbl.filter(pc.invert(pc.fill_null(tbl[_DELETED_COL], False)))
        tbl = tbl.select(schema.fieldNames())
        if not tbl.num_rows:
            # createDataFrame of a filtered zero-row table with a
            # nested column raises ArrowInvalid
            tbl = tbl.schema.empty_table()
        return _local_df(spark, tbl, schema)

    def _keys_by_bucket(self, m, schema, keys):
        """(bucket -> keys, bucket -> xxhash64(key)), probe keys
        deduplicated and NULLs dropped (`_route_keys`)."""
        key_cols = m["key_cols"]
        if len(key_cols) != 1:
            raise ValueError("point lookups support single-column keys only")
        keys_by_bucket: dict[int, list] = {}
        hashes_by_bucket: dict[int, list[int]] = {}
        key_dt = schema[key_cols[0]].dataType
        for k, b, h in _route_keys(keys, key_dt, m["n_buckets"]):
            keys_by_bucket.setdefault(b, []).append(k)
            hashes_by_bucket.setdefault(b, []).append(h)
        return keys_by_bucket, hashes_by_bucket

    def scan(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping scan: `bounds` maps column -> (lo, hi)
        inclusive range (either end None = unbounded). Files whose
        manifest bounds cannot overlap a range are never opened; the
        range predicates are then applied to the surviving rows (and
        reach the parquet scan as pushed filters where Catalyst can
        move them).

        Pruning safety depends on the merge strategy:
        - COW: every live row sits in exactly one CURRENT file (reads
          don't fold), so file skipping is safe on ANY column.
        - MOR: reads fold base+deltas per key, and a non-key bound
          could prune the file holding a key's NEWEST image while an
          older in-range image survives elsewhere — the fold would
          then resurrect a stale row. So only first-key-column bounds
          prune files (per-key complete: every file that can contain
          an in-range key is kept); other bounds filter POST-fold only
          (Catalyst cannot push a non-grouping predicate below the
          fold's aggregate, which is exactly the safety we need).

        The classic win: an append-shaped COW event table whose lsn /
        event-time correlates with commit order — a time-window scan
        opens O(files in window), the Iceberg/Delta data-skipping
        shape (stats_cols at create() declares the bounded columns)."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        bounds = dict(bounds or {})
        for c in bounds:
            if c not in schema.fieldNames():
                raise ValueError(f"bounds column {c!r} not in schema")
        k0 = m["key_cols"][0]
        mor = m.get("merge_strategy", "cow") == "mor"
        prunable = {c: r for c, r in bounds.items() if c == k0 or not mor}
        pred = _bounds_pred(prunable, k0) if prunable else None
        all_buckets = [int(b) for b in m["buckets"]]
        out = self._resolve(spark, m, all_buckets, schema, file_pred=pred)
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                out = out.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out.where(F.col(c) <= F.lit(hi))
        return out

    def read_prefix(self, spark: SparkSession, values: list) -> DataFrame:
        """Prefix point lookups for tables bucketed on a single-column
        proper subset of their key (`bucket_cols=[c]`): all rows whose
        bucket column equals any of `values`, with bucket pruning, the
        zone-map file skip (when the bucket column is also the first
        key column — the secondary-index layout), and a pushed IN
        predicate. This is the index-probe read: the table may hold
        many rows per prefix value (one per full key). A NULL value
        matches nothing."""
        m = self.manifest()
        bcols = _bucket_cols(m)
        if len(bcols) != 1:
            raise ValueError("read_prefix requires a single bucket column")
        b0 = bcols[0]
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        by_bucket: dict[int, list] = {}
        for v, b, _h in _route_keys(values, schema[b0].dataType, m["n_buckets"]):
            by_bucket.setdefault(b, []).append(v)
        probe = [v for vs in by_bucket.values() for v in vs]  # distinct
        pred = _zone_map_pred(by_bucket) if b0 == m["key_cols"][0] else None
        out = self._resolve(spark, m, sorted(by_bucket), schema, file_pred=pred)
        if len(probe) <= _ISIN_MAX_KEYS:
            out = out.where(F.col(b0).isin(probe))
        vdf = spark.createDataFrame([(v,) for v in probe], T.StructType([schema[b0]]))
        return out.join(F.broadcast(vdf), [b0], "left_semi")

    def files_for_bounds(self, bounds: dict[str, tuple]) -> list[dict]:
        """The manifest entries scan(bounds) would open — introspection
        for tests/EXPLAIN (applies the same strategy-aware safety
        rule)."""
        m = self.manifest()
        k0 = m["key_cols"][0]
        mor = m.get("merge_strategy", "cow") == "mor"
        prunable = {c: r for c, r in (bounds or {}).items() if c == k0 or not mor}
        pred = _bounds_pred(prunable, k0)
        return [
            e
            for b in sorted(int(x) for x in m["buckets"])
            for e in m["buckets"][str(b)]
            if pred(b, e)
        ]

    def files_for_keys(self, spark: SparkSession, keys: list) -> list[dict]:
        """The manifest entries read_keys would scan for `keys` (after
        bucket + zone-map + bloom pruning) — introspection for
        tests/EXPLAIN. Makes no JVM call; `spark` is unused."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        return self._lookup_files(m, schema, keys)[1]

    def _lookup_files(self, m, schema, keys):
        """(bucket -> distinct probe keys, kept manifest entries): the
        buckets the keys route to, and the files there that zone-map
        and bloom pruning keep."""
        keys_by_bucket, hashes_by_bucket = self._keys_by_bucket(m, schema, keys)
        pred = self._point_lookup_pred(
            keys_by_bucket, hashes_by_bucket,
            key_type=schema[m["key_cols"][0]].dataType.simpleString(),
        )
        kept = [
            e
            for b in sorted(keys_by_bucket)
            for e in m["buckets"].get(str(b), [])
            if pred(b, e)
        ]
        return keys_by_bucket, kept

    def _point_lookup_pred(
        self,
        keys_by_bucket: dict[int, list],
        hashes_by_bucket: dict[int, list[int]],
        key_type: str | None = None,
    ):
        """Combined per-file predicate for point lookups: zone-map
        range check AND bloom membership (lake/bloom.py). Both layers
        are per-key complete — a file that can contain a probed key is
        always kept — so the MOR LWW fold stays exact. Bloom shards
        are loaded for the probed buckets only and entries decode
        lazily (files the zone map already rejected never pay the
        base64+unpackbits). `key_type` drops entries built before a
        key-column widening (their hashes no longer match the probe's
        — a stale entry would be a silent false negative)."""
        from airbyte_destination_spark.lake import bloom as _bloom

        zone = _zone_map_pred(keys_by_bucket)
        raw: dict[str, dict] = {}
        for b in keys_by_bucket:
            raw.update(_bloom.load_shard(self.root, b))
        if not raw:
            return zone
        bl = _bloom.bloom_pred(raw, hashes_by_bucket, key_type=key_type)

        def pred(b: int, entry: dict) -> bool:
            return zone(b, entry) and bl(b, entry)

        return pred

    def build_bloom_index(
        self,
        spark: SparkSession,
        fpp: float = 0.01,
        only_missing: bool = True,
    ) -> int:
        """Build/refresh per-file key blooms (lake/bloom.py sidecars).

        ONE distributed job over the files that need blooms: project
        (xxhash64(key), input_file_name) — an ids-only column, key
        payloads never shuffle — group by file, fold each group's
        hashes into a packed bit array vectorized in numpy. Entries
        land in per-bucket `_meta/bloom/` shards keyed by data-file
        path; data files are immutable so entries never go stale, and
        `only_missing=True` (the default) scans ONLY files without an
        entry — post-ingest maintenance costs O(new files), the same
        amortization as sorted compaction. Returns #files indexed.

        Files written after the last build simply lack entries and
        fail open at probe time; `describe()` reports coverage.

        Entries record the key column's type at build time (`ktype`):
        a key-column WIDENING to long changes xxhash64 of the same
        logical value, so pre-widening entries are unusable — probes
        ignore them (fail open) and this build re-indexes them (a
        ktype whose hashes differ counts as missing). Byte, short and
        int hash alike, so a promotion among them keeps every entry.
        Shard writes also PRUNE entries for files no longer in the
        current manifest, so shard size tracks live files, not table
        history."""
        from airbyte_destination_spark.lake import bloom as _bloom

        m = self.manifest()
        key0 = m["key_cols"][0]
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        cur_field = schema[key0]
        ktype = cur_field.dataType.simpleString()
        # (bucket, relpath) by absolute path for files needing an entry
        shards: dict[int, dict] = {}
        live_paths: dict[int, set] = {}
        rel_by_abs: dict[str, tuple[int, str]] = {}
        for b_str, entries in m["buckets"].items():
            b = int(b_str)
            shards[b] = _bloom.load_shard(self.root, b)
            live_paths[b] = {e["path"] for e in entries}
            for e in entries:
                have = shards[b].get(e["path"]) if only_missing else None
                if have is not None and _bloom.same_hashes(have.get("ktype"), ktype):
                    continue
                ap = os.path.realpath(os.path.join(self.root, e["path"]))
                rel_by_abs[ap] = (b, e["path"])
        if not rel_by_abs:
            return 0
        # one scan at the CURRENT key type (a key only widens by an
        # integral promotion, which the reader makes) so probe hashes
        # match
        hashed = (
            spark.read.schema(T.StructType([cur_field]))
            .parquet(*rel_by_abs)
            .select(F.xxhash64(key0).alias("h"), F.input_file_name().alias("f"))
        )

        def fold(pdf):
            import pandas as pd

            entry = _bloom.build_bloom_bits(pdf["h"].to_numpy(), fpp)
            return pd.DataFrame(
                [
                    {
                        "f": pdf["f"].iloc[0],
                        "n": entry["n"],
                        "m": entry["m"],
                        "k": entry["k"],
                        "bits": entry["bits"],
                    }
                ]
            )

        from urllib.parse import unquote

        built = 0
        touched: set[int] = set()
        for r in (
            hashed.groupBy("f")
            .applyInPandas(fold, "f string, n long, m long, k int, bits string")
            .collect()
        ):
            # input_file_name() returns a percent-encoded file: URI
            abs_path = os.path.realpath(unquote(r["f"].removeprefix("file:")))
            hit = rel_by_abs.get(abs_path)
            if hit is None:
                continue
            b, rel = hit
            shards[b][rel] = {
                "n": r["n"], "m": r["m"], "k": r["k"], "bits": r["bits"],
                "ktype": ktype,
            }
            touched.add(b)
            built += 1
        for b in touched:
            # prune entries whose files left the manifest (compaction /
            # rebucket / expiry): shard size tracks LIVE files
            _bloom.write_shard(
                self.root, b,
                {p: d for p, d in shards[b].items() if p in live_paths[b]},
            )
        return built

    def table_changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """Change data feed (Iceberg/Delta CDF analogue): the net row
        changes between snapshot `v_from` and snapshot `v_to` (default:
        current). Emits one row per key whose VISIBLE state changed:

            change_type = 'insert'  key absent (or deleted) at v_from,
                                    present at v_to — payload = post
            change_type = 'update'  present in both, version advanced —
                                    payload = post
            change_type = 'delete'  present at v_from, gone at v_to —
                                    payload = pre (the last-seen row)

        NET semantics (like Iceberg CDF between non-adjacent snapshots):
        a key inserted and deleted inside the window emits nothing.
        With `pre_images=True` an update emits TWO rows, Delta CDF's
        update_preimage/update_postimage shape, which signed
        incremental aggregate maintenance needs (the -pre +post
        contributions).

        Defined on KEY-UNIQUE snapshots: each side is the table's
        per-key last-writer-wins state. Every `Destination` table is
        one (append and overwrite streams key on the raw record id);
        a LakeTable whose COW files hold duplicate keys reports one
        winner per key and side.

        Plan shape: every data file of EITHER snapshot is read ONCE,
        tagged with literal flags for its membership in the before and
        after file sets, and one key-grouped conditional LWW fold
        (max_by over (version, _cv), the read-side ordering) computes
        both sides' visible winners: one scan and ONE exchange. Files
        both snapshots share (untouched buckets, MOR bases) are scanned
        once. With a version column an update is a version change (one
        (key, version) is one row); without one it is a payload-hash
        change. Tombstone winners make a key invisible on that side,
        like read()'s post-fold filter.

        Both sides come out in the after-snapshot's schema, every
        column resolved by field id, so a metadata-only rename, add,
        default or drop + re-add changes no row and a pre-image reads
        under the current names. A before-only file's schema id is
        looked up in the before-manifest (a rollback may have discarded
        that schema, and a later commit reused the id)."""
        m = self.manifest(v_to)
        mb = self.manifest(v_from)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        key_cols = m["key_cols"]
        ver = m["version_col"]
        cols = schema.fieldNames()
        payload_cols = [c for c in cols if c not in key_cols]
        out_schema = T.StructType(
            [schema[k] for k in key_cols]
            + [T.StructField("change_type", T.StringType(), False)]
            + [schema[c] for c in payload_cols]
        )
        # files split only by what their paths cannot tell: membership
        # in the before and after file sets
        groups: dict[tuple[bool, bool], list[dict]] = {}
        for b in set(m["buckets"]) | set(mb["buckets"]):
            ae = {e["path"]: e for e in m["buckets"].get(b, [])}
            be = {e["path"]: e for e in mb["buckets"].get(b, [])}
            for path, e in {**be, **ae}.items():
                groups.setdefault((path in be, path in ae), []).append(e)
        if not groups:
            return spark.createDataFrame([], out_schema)
        parts = [
            self._scan(
                spark, m, es, T.StructType(schema.fields + [_DELETED_FIELD]),
                schemas=m["schemas"] if in_a else {**m["schemas"], **mb["schemas"]},
            ).withColumns({"_in_b": F.lit(in_b), "_in_a": F.lit(in_a)})
            for (in_b, in_a), es in groups.items()
        ]
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)
        pay = F.struct(
            *[F.col(c) for c in payload_cols],
            F.coalesce(F.col(_DELETED_COL), F.lit(False)).alias("_del"),
        )
        ordc = F.struct(
            *([F.col(ver)] if ver is not None else []), F.col("_cv")
        )
        g = src.groupBy(*key_cols).agg(
            F.max_by(
                F.when(F.col("_in_a"), pay), F.when(F.col("_in_a"), ordc)
            ).alias("_wa"),
            F.max_by(
                F.when(F.col("_in_b"), pay), F.when(F.col("_in_b"), ordc)
            ).alias("_wb"),
        )
        pa = F.col("_wa").isNotNull() & ~F.col("_wa._del")
        pb = F.col("_wb").isNotNull() & ~F.col("_wb._del")
        if ver is not None:
            differs = F.col(f"_wa.{ver}") != F.col(f"_wb.{ver}")
        else:
            differs = F.xxhash64(
                *[F.col(f"_wa.{c}") for c in payload_cols]
            ) != F.xxhash64(*[F.col(f"_wb.{c}") for c in payload_cols])

        def _img(side: str, ct: str):
            return F.struct(
                F.lit(ct).alias("change_type"),
                *[F.col(f"{side}.{c}").alias(c) for c in payload_cols],
            )

        upd = (
            F.array(_img("_wb", "update_preimage"), _img("_wa", "update_postimage"))
            if pre_images
            else F.array(_img("_wa", "update"))
        )
        entries = (
            F.when(pa & ~pb, F.array(_img("_wa", "insert")))
            .when(pb & ~pa, F.array(_img("_wb", "delete")))
            .otherwise(upd)
        )
        return (
            g.where((pa & ~pb) | (pb & ~pa) | (pa & pb & differs))
            .select(*key_cols, F.explode(entries).alias("__c"))
            .select(
                *key_cols,
                F.col("__c.change_type").alias("change_type"),
                *[F.col(f"__c.{c}").alias(c) for c in payload_cols],
            )
        )

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        cluster: str = "range",
    ) -> int | None:
        """Fold MOR delta files (and small-file buildup generally):
        rewrite every bucket holding >= min_files files as one reduced
        file set. Tombstones are RETAINED (they still guard against late
        older updates) — purge_tombstones() reclaims them separately.
        Returns the new version, or None if nothing needed compaction.

        This is the reference storage engine's background merge
        (ReplacingMergeTree merge threads) as an explicit operation.

        `cluster_by` + `max_records_per_file`: RANGE-CLUSTERED
        compaction. Plain compaction collapses a bucket into one file
        spanning the full value range of every column, so the zone-map
        selectivity that un-compacted epoch files had (time-correlated
        lsn/event-time) is destroyed. Sorting each bucket by
        `cluster_by` and capping records per file makes the parquet
        writer cut the sorted stream into CONSECUTIVE files, each
        covering a contiguous value range — scan(bounds) then skips
        compacted files by their manifest bounds again (declare the
        columns in stats_cols). The Iceberg sort-order-rewrite shape,
        one-dimensional.

        `cluster="zorder"` (with >=2 cluster_by columns): sort by the
        bit-interleaved Morton key instead (lake/zorder.py) — each cut
        file's bounding box is tight in EVERY clustered dimension, so
        scan(bounds) prunes files on any of them (Delta OPTIMIZE
        ZORDER BY). Costs one extra min/max aggregation pass to fix
        the rank ranges; the key itself is pure codegen arithmetic."""
        if cluster not in ("range", "zorder"):
            raise ValueError(f"unknown cluster mode {cluster!r}")
        if cluster == "zorder" and not cluster_by:
            # silently falling back to key-sorted compaction would leave
            # the operator believing multi-dimensional pruning exists
            raise ValueError("cluster='zorder' requires cluster_by columns")
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            todo = [int(b) for b, fs in m["buckets"].items() if len(fs) >= min_files]
            if not todo:
                return None
            folded = self._folded(spark, m, todo, schema)
            sort_cols = cluster_by
            if cluster == "zorder" and cluster_by:
                from airbyte_destination_spark.lake.zorder import (
                    column_ranges,
                    zorder_key,
                )

                ranges = column_ranges(folded, cluster_by)
                folded = folded.withColumn(_ZORDER_COL, zorder_key(ranges))
                sort_cols = [_ZORDER_COL]
            new_files = self._write_bucketed(
                folded, m, base + 1,
                sort_keys=cluster_by is None, sort_cols=sort_cols,
                max_records_per_file=max_records_per_file,
                mark_base=True,
            )
            buckets = dict(m["buckets"])
            for b in todo:
                buckets[str(b)] = new_files.get(str(b), [])
            m["buckets"] = buckets
            m["operation"] = "compact"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def compact_tiered(
        self,
        spark: SparkSession,
        min_run: int = 4,
        tier_factor: float = 4.0,
        max_run: int = 32,
    ) -> dict | None:
        """Size-tiered (LSM-style) compaction: per bucket, merge ONE run
        of similar-sized small files into a single file, leaving the
        bucket's large base file(s) alone until the merged deltas grow
        into their size class.

        Why it exists: `compact()` rewrites EVERY file of a qualifying
        bucket — including its base — so sustained MOR ingest pays
        O(bucket bytes) per fold and write amplification grows with the
        table. Size-tiered runs bound amplification at O(log(table /
        delta)) rewrites per ingested byte (the LSM/ClickHouse merge-
        tree shape): deltas merge with deltas, the output re-enters the
        next size tier, and the base is touched only when a run reaches
        it.

        Correctness (the subtle part): MOR read order is
        (version_col, _cv). Merging a SUBSET of a bucket's files must
        not reorder version ties against the unmerged files, which it
        cannot: every row keeps the `_cv` its first write gave it
        through every rewrite (`_write_bucketed`). The within-run LWW
        fold is a partial max per key — associative, so dropping rows
        strictly dominated inside the run can never change the global
        winner. Non-MOR tables (append mode: duplicate keys are data)
        skip the fold and just bin-pack the run.

        Run selection is deterministic: files ascend by (bytes, path);
        the run grows while the next file is <= tier_factor x the run's
        mean size, merges when >= min_run files joined (capped at
        max_run). File sizes come from the manifest (`bytes`, which
        every writer records).

        Returns {"version", "buckets", "files_merged", "bytes_merged"}
        or None when no bucket holds a qualifying run.
        """
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            runs: dict[str, set] = {}
            n_files = 0
            n_bytes = 0
            for b, fs in m["buckets"].items():
                if len(fs) < min_run:
                    continue
                sized = sorted(fs, key=lambda e: (e["bytes"], e["path"]))
                run, total = [sized[0]], sized[0]["bytes"]
                for e in sized[1:]:
                    if len(run) >= max_run:
                        break
                    if e["bytes"] <= tier_factor * (total / len(run)):
                        run.append(e)
                        total += e["bytes"]
                    else:
                        break
                if len(run) >= min_run:
                    runs[b] = {e["path"] for e in run}
                    n_files += len(run)
                    n_bytes += total
            if not runs:
                return None

            def pred(b: int, entry: dict) -> bool:
                return entry["path"] in runs.get(str(b), ())

            todo = sorted(int(b) for b in runs)
            new_files = self._write_bucketed(
                self._folded(spark, m, todo, schema, file_pred=pred),
                m, base + 1, sort_keys=True,
            )
            buckets = dict(m["buckets"])
            for b in runs:
                keep = [e for e in buckets[b] if e["path"] not in runs[b]]
                buckets[b] = keep + new_files.get(b, [])
            m["buckets"] = buckets
            m["operation"] = "compact_tiered"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                v = self._commit(m, base)
                return {
                    "version": v,
                    "buckets": len(runs),
                    "files_merged": n_files,
                    "bytes_merged": n_bytes,
                }
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def purge_tombstones(self, spark: SparkSession) -> int:
        """Maintenance compaction: rewrite the buckets that HOLD
        tombstone rows without them; every other bucket keeps its files
        untouched. Safe once the source can no longer deliver events
        older than the tombstones' versions (e.g. past the log's
        watermark).

        Scale shape: the detection pre-pass scans only the raw
        tombstone-flag column (Catalyst prunes the scan to it plus the
        bucket key), so on a 100 TB table with deletes concentrated in
        recent partitions the rewrite cost is O(buckets containing
        tombstones), not O(table). A bucket with no tombstone row in
        ANY of its raw files (a superseded-then-reinserted key still
        leaves its old tombstone row in a file) is provably unchanged
        by the purge and is skipped. Returns the current version
        unchanged when no bucket holds a tombstone."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            all_buckets = [int(b) for b in m["buckets"]]
            raw = self._read_buckets(spark, m, all_buckets, schema)
            dirty = sorted(
                int(r[0])
                for r in self._with_bucket(
                    raw.where(F.coalesce(F.col(_DELETED_COL), F.lit(False))), m
                )
                .select(_BUCKET_COL)
                .distinct()
                .collect()
            )
            if not dirty:
                return base
            # MOR deltas folded, then tombstone rows dropped; rows keep `_cv`
            live = self._folded(spark, m, dirty, schema)
            live = live.where(~F.coalesce(F.col(_DELETED_COL), F.lit(False)))
            live = live.drop(_DELETED_COL)
            new_files = self._write_bucketed(
                live, m, base + 1, sort_keys=True, mark_base=True
            )
            # a bucket whose every key was deleted writes no file
            m["buckets"] = {
                **m["buckets"],
                **{str(b): new_files.get(str(b), []) for b in dirty},
            }
            m["operation"] = "purge_tombstones"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rebucket(self, spark: SparkSession, n_buckets: int) -> int:
        """Bucket-count evolution — the Iceberg partition-spec-evolution
        analog for this table's hash bucketing. At 10^10 rows a bucket
        count chosen at create time is wrong twice: too few buckets cap
        merge parallelism and grow per-bucket files past executor
        memory; too many drown small tables in file/commit overhead.
        `rebucket` rewrites the table once under a new key->bucket
        mapping and commits it like any other version:

        - the new manifest's `n_buckets` drives every LATER write's
          repartition width and `read_keys` pruning, while time travel
          to older versions keeps using THEIR manifests (each version
          record carries its own n_buckets + file map, so no reader
          ever mixes mappings);
        - MOR delta files are folded in the same pass (a delta written
          under the old mapping must not survive under the new one);
        - tombstones are RETAINED (they still guard against late older
          updates), unlike purge_tombstones;
        - concurrent ingest is safe: commit is optimistic, and a loser
          retries against the winner's manifest.

        Returns the new version (current version if n_buckets already
        matches). The rewrite is one shuffle of the live table — the
        same cost class as purge_tombstones — so it's a maintenance
        operation, not an ingest-path one."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            if n_buckets == m["n_buckets"]:
                return base
            m["n_buckets"] = n_buckets
            m["buckets"] = self._rewrite_all(spark, m, base + 1)
            m["operation"] = "rebucket"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def _rewrite_all(self, spark: SparkSession, m: dict, version: int) -> dict:
        """Every row of `m`'s files read under its current schema, MOR
        deltas folded (tombstones kept), and written back as key-sorted
        base files bucketed by `m`'s bucket function and n_buckets —
        the rewrite `rebucket` and a key widening (`_evolve_if_needed`)
        share. Returns the new {bucket: [file entries]}."""
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        folded = self._folded(spark, m, [int(b) for b in m["buckets"]], schema)
        return self._write_bucketed(folded, m, version, sort_keys=True, mark_base=True)

    # --------------------------------------------------- bucket rescale

    @staticmethod
    def _entry_fp(entries: list[dict]) -> list[list]:
        """Order-insensitive identity of a bucket's entry list — what
        `split_buckets` uses to detect that concurrent commits changed
        a bucket after it was split (delta appends, compaction
        rewrites, purges all change it; metadata-only commits don't)."""
        return sorted(
            [e["path"], int(e.get("cv", 0)), str(e["schema_id"]),
             bool(e.get("base"))]
            for e in entries
        )

    def _update_staged_record(self, staging_id: str, rec: dict) -> None:
        """Overwrite-in-place update of an existing staged record (the
        rescale campaign's progress log). Same fsync discipline as
        _commit; os.replace is atomic so readers (GC pinning) always
        see a complete record. Only the single campaign runner updates
        its record — exclusive CREATION is _write_staged's job."""
        path = self._staged_path(staging_id)
        tmp = os.path.join(self.meta_dir, f".s.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def split_buckets(
        self,
        spark: SparkSession,
        factor: int = 2,
        max_groups: int | None = None,
        group_size: int = 8,
        campaign_id: str = "default",
    ) -> dict:
        """Online bucket-count MULTIPLICATION as a paced, resumable,
        ZERO-SHUFFLE campaign — the at-scale form of `rebucket`.

        Because the layout is pmod(hash(keys), N) and the new count is
        N*factor, every row of old bucket b lands in one of exactly
        `factor` new buckets {b, b+N, b+2N, ...}: splitting is a
        map-only re-cut of each old bucket's files (read, tag
        pmod(hash, N*factor), write partitioned) with NO exchange
        anywhere — the consistent-hashing property Iceberg's
        bucket-spec evolution exploits. Contrast `rebucket`, which
        supports arbitrary counts but pays one full-table shuffle in
        one job.

        Campaign mechanics (resumable, online, concurrent-ingest-safe):
        - progress lives in a staged record (`_meta/staged/
          rescale-<campaign_id>.json`) whose accumulated `buckets` map
          pins the campaign's data dirs against expire_snapshots GC —
          the same pinning every WAP staging gets;
        - each call splits up to `max_groups` groups of `group_size`
          old buckets, each group ONE map-only Spark job over the
          bucket's files as they are (MOR deltas are NOT folded: every
          row keeps its `_cv` and every file its base flag, so
          fold-on-read precedence — and the exactly-once epoch state —
          is untouched);
        - every split bucket records the fingerprint of the source
          entries it split; commits that land DURING the campaign make
          those buckets stale, and the next call re-splits just them
          (O(changed buckets) catch-up, not a restart);
        - when every old bucket is split and fresh against the CURRENT
          manifest, the campaign publishes: one optimistic commit of a
          full manifest with n_buckets *= factor (operation
          "rescale"). A racing writer raises CommitConflict inside the
          publish — the campaign stays staged and the next call
          catches up and retries. Readers never see a mixed layout;
          writers never block; time travel keeps each version's own
          n_buckets.

        Crash mid-group orphans that group's files (unreferenced,
        version-hinted, mtime-graced — ordinary conflicted-writer
        debris the next expiry collects); crash after the record
        update resumes exactly where it stopped. Superseded re-split
        files stay inside still-pinned dirs until the campaign's dirs
        age out after publish — wasted bytes, never wrong reads.

        Returns {"published", "version", "split", "pending", "stale"}.
        Loop `while not split_buckets(...)["published"]` to drive a
        campaign to completion under concurrent ingest.
        """
        if factor < 2 or int(factor) != factor:
            raise ValueError(f"factor must be an integer >= 2, got {factor!r}")
        staging_id = f"rescale-{campaign_id}"
        path = self._staged_path(staging_id)
        self._recover_orphan()
        base = self.current_version()
        m = self.manifest(base)
        if os.path.exists(path):
            rec = self._read_staged(staging_id)
            if not rec.get("rescale"):
                raise ValueError(
                    f"staging id {staging_id!r} exists and is not a "
                    "rescale campaign"
                )
            if rec["factor"] != factor or rec["n_old"] != m["n_buckets"]:
                raise ValueError(
                    f"campaign {campaign_id!r} was started as "
                    f"{rec['n_old']}x{rec['factor']} but the table now has "
                    f"{m['n_buckets']} buckets — abort_rescale() it first"
                )
        else:
            rec = {
                "rescale": True,
                "factor": factor,
                "n_old": m["n_buckets"],
                "n_buckets": m["n_buckets"] * factor,
                "done": {},
                "buckets": {},
                "schemas": dict(m["schemas"]),
            }
            self._write_staged(staging_id, rec, base)
            rec = self._read_staged(staging_id)

        n_old = rec["n_old"]
        # classify every old bucket against the CURRENT manifest
        pending = [
            b for b in range(n_old) if str(b) not in rec["done"]
        ]
        stale = [
            b
            for b in range(n_old)
            if str(b) in rec["done"]
            and rec["done"][str(b)]["fp"]
            != self._entry_fp(m["buckets"].get(str(b), []))
        ]
        work = stale + pending  # stale buckets block publish: do first
        groups = [
            work[i : i + group_size] for i in range(0, len(work), group_size)
        ]
        if max_groups is not None:
            groups = groups[:max_groups]
        n_split = 0
        for grp in groups:
            self._split_group(spark, m, rec, grp, factor)
            self._update_staged_record(staging_id, rec)
            n_split += len(grp)

        # publish when complete and fresh against the LATEST manifest
        self._recover_orphan()
        head = self.current_version()
        hm = self.manifest(head)
        still_stale = [
            b
            for b in range(n_old)
            if str(b) not in rec["done"]
            or rec["done"][str(b)]["fp"]
            != self._entry_fp(hm["buckets"].get(str(b), []))
        ]
        if not still_stale:
            new_m = dict(hm)
            new_m["n_buckets"] = n_old * factor
            new_m["buckets"] = {
                nb: list(entries) for nb, entries in rec["buckets"].items()
            }
            new_m["operation"] = "rescale"
            new_m["epoch_id"] = None
            new_m["lineage"] = []
            try:
                v = self._commit(new_m, head)
                os.unlink(path)
                return {
                    "published": True,
                    "version": v,
                    "split": n_split,
                    "pending": 0,
                    "stale": 0,
                }
            except CommitConflict:
                pass  # a writer raced the publish; next call catches up
        remaining = [b for b in range(n_old) if str(b) not in rec["done"]]
        return {
            "published": False,
            "version": None,
            "split": n_split,
            "pending": len(remaining),
            "stale": len(still_stale) - len(remaining),
        }

    def _split_plan(
        self,
        spark: SparkSession,
        m: dict,
        by_base: dict[bool, list[dict]],
        target: "T.StructType",
        n_new: int,
    ) -> DataFrame | None:
        """The split re-cut as a DataFrame: the files of `by_base`
        ({base flag: [entries]}) read at `target` plus their rows' `_cv`
        (`_scan`), with their base flag as `_sbase` and the NEW bucket id
        pmod(hash(keys), n_new). One scan per base flag, pure projection
        over it — no groupBy/join/repartition anywhere, so the physical
        plan has ZERO exchanges (asserted in tests/test_rescale.py):
        each task reads old-bucket files and writes new-bucket
        partitions directly, which is what makes rescale
        O(table)/map-only rather than O(table)+shuffle like rebucket.
        Every row keeps its `_cv`, so the MOR fold orders the re-cut
        files exactly as it ordered their sources."""
        if not by_base:
            return None
        parts = [
            self._scan(spark, m, es, target).withColumn("_sbase", F.lit(int(isbase)))
            for isbase, es in by_base.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.withColumn(_BUCKET_COL, bucket_expr(_bucket_cols(m), n_new))

    def _split_group(
        self, spark: SparkSession, m: dict, rec: dict, grp: list[int], factor: int
    ) -> None:
        """Split one group of old buckets into the new layout: ONE
        map-only job — no exchange (asserted in tests/test_rescale.py)
        — whose output files keep each source row's `_cv` and, through
        a partitioned sub-dir, its entry's base flag. Output entries
        take their own snapshot dir's version as `cv`."""
        n_old = rec["n_old"]
        n_new = n_old * factor
        cur_schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        target = T.StructType(cur_schema.fields + [_DELETED_FIELD])
        fps: dict[int, list] = {}
        by_base: dict[bool, list[dict]] = {}
        for b in grp:
            entries = m["buckets"].get(str(b), [])
            fps[b] = self._entry_fp(entries)
            for e in entries:
                by_base.setdefault(bool(e.get("base")), []).append(e)
        new_by_old: dict[int, dict[str, list[dict]]] = {b: {} for b in grp}
        out = self._split_plan(spark, m, by_base, target, n_new)
        if out is not None:
            cv = self.current_version() + 1
            rel_snap = os.path.join(
                "data", f"snap-{cv:08d}-rs{uuid.uuid4().hex[:12]}"
            )
            out_dir = os.path.join(self.root, rel_snap)
            _with_field_ids(out, m).write.mode("overwrite").partitionBy(
                _BUCKET_COL, "_sbase"
            ).parquet(out_dir)
            new_entries: list[tuple[int, dict]] = []
            # <out_dir>/_b=<nb>/_sbase=<0|1>/*.parquet
            for d, _, fnames in sorted(os.walk(out_dir)):
                part = dict(
                    seg.split("=", 1) for seg in os.path.relpath(d, out_dir).split(os.sep)
                    if "=" in seg
                )
                for fname in sorted(f for f in fnames if f.endswith(".parquet")):
                    rel = os.path.relpath(os.path.join(d, fname), self.root)
                    entry = {
                        "path": rel,
                        "schema_id": m["schema_id"],
                        "cv": cv,
                        "bytes": os.path.getsize(os.path.join(self.root, rel)),
                    }
                    if part["_sbase"] == "1":
                        entry["base"] = True
                    new_entries.append((int(part[_BUCKET_COL]), entry))
            self._bind_footer_stats(m, [e for _, e in new_entries])
            for nb, entry in new_entries:
                old_b = nb % n_old
                new_by_old[old_b].setdefault(str(nb), []).append(entry)
        for b in grp:
            rec["done"][str(b)] = {"fp": fps[b], "new": new_by_old[b]}
        # rebuild the accumulated new-layout map (GC pinning + publish)
        acc: dict[str, list[dict]] = {}
        for d in rec["done"].values():
            for nb, entries in d["new"].items():
                acc.setdefault(nb, []).extend(entries)
        rec["buckets"] = acc

    def abort_rescale(self, campaign_id: str = "default") -> None:
        """Drop a rescale campaign: delete the campaign's own snapshot
        dirs (they carry an `-rs` nonce no committed version can
        reference) and its staged record."""
        staging_id = f"rescale-{campaign_id}"
        rec = self._read_staged(staging_id)
        if not rec.get("rescale"):
            raise ValueError(f"{staging_id!r} is not a rescale campaign")
        snaps = {
            e["path"].split(os.sep)[1]
            for fs in rec.get("buckets", {}).values()
            for e in fs
        }
        for snap in snaps:
            shutil.rmtree(
                os.path.join(self.root, "data", snap), ignore_errors=True
            )
        os.unlink(self._staged_path(staging_id))

    def optimize(
        self,
        spark: SparkSession,
        min_files: int = 2,
        keep_last: int = 100,
        purge_tombstones: bool = False,
        grace_seconds: float = 3600.0,
        bloom: bool = False,
        analyze: bool = False,
    ) -> dict:
        """One-call table maintenance, the nightly-job surface: fold
        MOR deltas / small files (compact), optionally rewrite
        tombstones away (only safe once the source can no longer
        deliver events older than them), then expire old snapshots and
        GC unreferenced data files. `bloom=True` rebuilds point-lookup
        blooms for the files the rewrites just created (incremental —
        untouched files keep their entries); `analyze=True` refreshes
        table statistics afterwards. Returns a summary of what ran."""
        out: dict = {}
        out["compacted_version"] = self.compact(spark, min_files=min_files)
        if purge_tombstones:
            out["purged_version"] = self.purge_tombstones(spark)
        out.update(
            self.expire_snapshots(keep_last=keep_last, grace_seconds=grace_seconds)
        )
        if bloom:
            out["blooms_built"] = self.build_bloom_index(spark)
        if analyze:
            out["row_count"] = self.analyze(spark)["row_count"]
        return out

    def expire_snapshots(self, keep_last: int = 100, grace_seconds: float = 3600.0) -> dict:
        """Snapshot expiry (the other half of the Iceberg answer to
        metadata growth, next to delta manifests): retire history older
        than the last `keep_last` versions and garbage-collect data
        files no retained version references.

        The expiry BOUNDARY is the newest FULL checkpoint manifest at or
        below (current - keep_last): delta records chain off their
        parent, so everything >= that checkpoint stays reconstructable
        while commit records strictly below it are deleted. Referenced
        data files are accumulated in ONE incremental walk of the
        retained chain (the boundary's resolved file lists, plus every
        later delta's buckets_set) — O(retained) work, no Spark jobs.
        Time travel below the boundary raises afterwards, exactly like
        Iceberg's expire_snapshots. Returns a summary dict.

        Concurrency: safe next to READERS of retained versions (only
        strictly-older immutable files are removed) and next to
        in-flight WRITES: a merge/compact writes its snapshot data dir
        for version cur+1 BEFORE its metadata commit, so the GC below
        never touches a snap dir whose encoded version is above the
        `cur` this expiry observed — an unreferenced higher-versioned
        dir is either an in-flight write (deleting it would corrupt the
        upcoming commit) or an aborted one (the NEXT expiry, run after
        that version number is surpassed, collects it). Do not run two
        expiries at once.

        Note on the conflict-rebase fast-path (_rebase_append_commit):
        a rebasing writer's data dir carries a version HINT that can
        fall at or below `cur` while its commit is still in flight —
        the version-number guard above does not cover it. The
        `grace_seconds` window (default 1 h, measured from the dir's
        mtime) is what protects such dirs; do not run expiry with
        grace_seconds=0 next to live writers.
        """
        cur = self.current_version()
        if cur == 0:
            return {"expired_versions": 0, "deleted_files": 0, "boundary": 0}
        cutoff = max(cur - keep_last, 1)
        # tags pin history: retain at least back to the oldest tagged
        # snapshot (Iceberg refs semantics) — the retained-chain walk
        # below then keeps every data file those versions reference
        tagged = self.tags()
        if tagged:
            cutoff = min(cutoff, min(tagged.values()))
        boundary = None
        for v in range(cutoff, 0, -1):
            try:
                if not self._read_raw(v).get("delta"):
                    boundary = v
                    break
            except FileNotFoundError:
                # a previous, tighter expiry already deleted records at
                # and below v — nothing older survives, so there is no
                # full checkpoint at or below the cutoff: no-op.
                break
        if boundary is None or boundary <= 1:
            return {"expired_versions": 0, "deleted_files": 0, "boundary": boundary or 1}

        # one incremental walk: every data path any retained version uses
        referenced: set[str] = set()
        m = self._resolved(boundary)
        for files in m["buckets"].values():
            referenced.update(e["path"] for e in files)
        for v in range(boundary + 1, cur + 1):
            raw = self._read_raw(v)
            src = raw.get("buckets_set") if raw.get("delta") else raw.get("buckets", {})
            for files in (src or {}).values():
                referenced.update(e["path"] for e in files)
        referenced_snaps = {p.split(os.sep)[1] for p in referenced if p.startswith("data")}
        # staged (write-audit-publish) manifests pin their data dirs
        # until published or aborted — a long-lived staging must survive
        # expiry even after the table advances past its base version
        for sid in self.staged_ids():
            try:
                rec = self._read_staged(sid)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            referenced_snaps.update(
                e["path"].split(os.sep)[1]
                for fs in rec.get("buckets", {}).values()
                for e in fs
                if e["path"].startswith("data")
            )

        expired = 0
        for v in range(1, boundary):
            try:
                os.remove(self._version_path(v))
                expired += 1
            except FileNotFoundError:
                pass
            self._mcache.pop(v, None)
        deleted = 0
        data_dir = os.path.join(self.root, "data")
        if os.path.isdir(data_dir):
            for snap in os.listdir(data_dir):
                if snap in referenced_snaps:
                    continue
                # snap dirs are named snap-<version:08d>-<nonce>; skip
                # any at a version above the observed current — those
                # belong to writes still in flight (data lands before
                # the metadata commit). Unparseable names are skipped
                # too: never delete what we can't identify.
                try:
                    snap_v = int(snap.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if snap_v > cur:
                    continue
                full = os.path.join(data_dir, snap)
                try:
                    if time.time() - os.path.getmtime(full) < grace_seconds:
                        continue  # possibly a conflicted writer mid-write
                except OSError:
                    continue
                shutil.rmtree(full, ignore_errors=True)
                deleted += 1
        return {
            "expired_versions": expired,
            "deleted_files": deleted,  # snapshot dirs removed
            "boundary": boundary,
        }

    def _read_buckets(
        self,
        spark: SparkSession,
        m: dict,
        buckets: list[int],
        schema: T.StructType,
        file_pred=None,
    ) -> DataFrame:
        """Read only the given buckets, aligned to `schema` plus the
        `_deleted` tombstone column (null/false for live rows) and the
        `_cv` commit version MOR reads order by (`_scan`)."""
        entries = [
            e
            for b in buckets
            for e in m["buckets"].get(str(b), [])
            if file_pred is None or file_pred(b, e)
        ]
        return self._scan(
            spark, m, entries, T.StructType(schema.fields + [_DELETED_FIELD])
        )

    def _scan(
        self,
        spark: SparkSession,
        m: dict,
        entries: list[dict],
        target: T.StructType,
        schemas: dict | None = None,
    ) -> DataFrame:
        """The rows of data files `entries` as ONE parquet scan at
        `target` (columns of `m`'s current schema and `_deleted`) plus
        `_cv`, columns resolved by parquet field id: a renamed column
        reads its old bytes, a dropped and re-added one reads NULL or
        its initial default (the reader's `EXISTS_DEFAULT`) from files
        of its former life. A file's schema id is looked up in
        `schemas` (default `m["schemas"]`).

        `_cv` is the stored column, except in re-stamped entries' files
        (`_cv_expr`). Files of a schema id holding a column the reader
        does not read as its target type (`_reads_as`) are scanned in a
        group of their own at that type, cast, and unioned in."""
        if spark.conf.get("spark.sql.parquet.fieldId.read.enabled") != "true":
            raise RuntimeError(
                "lake tables resolve columns by parquet field id: set "
                "spark.sql.parquet.fieldId.read.enabled=true on the session "
                "(airbyte_destination_spark.get_spark does)"
            )
        schemas = schemas or m["schemas"]
        defaults = m.get("defaults") or {}
        out = T.StructType(target.fields + [_CV_FIELD])
        if not entries:
            return spark.createDataFrame([], out)
        # one scan for every file the reader widens to the target, one
        # per schema id holding a column it does not (read at its own
        # type, then cast)
        tgt = {f.metadata.get(_FIELD_ID): f.dataType for f in target.fields}
        casts: dict[str, dict] = {}
        groups: dict[str | None, list[dict]] = {}
        for e in entries:
            sid = str(e["schema_id"])
            if sid not in casts:
                casts[sid] = {
                    f.metadata[_FIELD_ID]: f.dataType
                    for f in T.StructType.fromJson(schemas[sid]).fields
                    if f.metadata[_FIELD_ID] in tgt
                    and not _reads_as(f.dataType, tgt[f.metadata[_FIELD_ID]])
                }
            groups.setdefault(sid if casts[sid] else None, []).append(e)
        # the reader matches columns by id but looks up a file column's
        # requested type, and pushes filters down, by NAME: every column
        # is read under a name no file column holds for another id (the
        # key, version and stats columns never rename or drop, so they
        # keep theirs and their filters still prune row groups)
        fixed = {*m["key_cols"], m["version_col"], *m.get("stats_cols", []), _DELETED_COL}
        parts = []
        for sid, es in groups.items():
            own = casts[sid] if sid is not None else {}
            read = []
            for f in target.fields:
                fid, meta = f.metadata.get(_FIELD_ID), dict(f.metadata)
                if f.name in defaults and fid not in own:
                    meta["EXISTS_DEFAULT"] = _default_sql(defaults[f.name], f.dataType)
                name = f.name if f.name in fixed or fid is None else f"#{fid}"
                read.append(T.StructField(name, own.get(fid, f.dataType), True, meta))
            df = (
                spark.read.schema(T.StructType(read + [_CV_FIELD]))
                .parquet(*[os.path.join(self.root, e["path"]) for e in es])
                .toDF(*target.fieldNames(), "_cv")
            )
            ecv = self._cv_expr(es)
            if ecv is not None:
                df = df.withColumn("_cv", F.expr(ecv))
            parts.append(align_to_schema(df, out) if own else df)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    @staticmethod
    def _cv_expr(entries: list[dict]) -> str | None:
        """`_cv` over a scan of `entries` as SQL: the stored column, but
        a re-stamped entry's `cv` for its file's rows (`_restamped`),
        matched by `_metadata.file_path`. None when no entry is
        re-stamped: the scan then reads `_cv` as a plain column and its
        plan has no `_metadata`."""
        over = " ".join(
            f"WHEN endswith(_metadata.file_path, '/{e['path']}') THEN {int(e['cv'])}"
            for e in entries
            if _restamped(e)
        )
        return f"CASE {over} ELSE _cv END" if over else None

    # ------------------------------------------------------------- write

    def _write_bucketed(
        self,
        df: DataFrame,
        m: dict,
        version_hint: int,
        sort_keys: bool = False,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        mark_base: bool = False,
    ) -> dict[str, list[dict]]:
        """Write df (which must carry _BUCKET_COL) partitioned by bucket;
        return {bucket: [file entries]} with paths relative to root.
        Each entry's `cv` is `version_hint`, its snapshot dir's version.
        Each row's `_cv` is df's own `_cv` column (a rewrite carries the
        value a row's first write gave it), else `version_hint`.

        `df` must be partitioned by `_by_bucket` (callers put it under
        their fold, so the fold and the write share one exchange): each
        bucket is whole in one task, so a snapshot produces one file per
        touched bucket instead of (tasks x buckets) small files — file
        count is what kills both the commit listing and later scans at
        scale. A task holding several buckets writes them one after the
        other (the writer sorts its rows by bucket).

        `sort_keys=True` additionally sorts each task's rows by the key
        columns, so every parquet file comes out key-ordered and its
        row-group min/max statistics become selective: a `read_keys`
        point lookup then skips whole row groups inside the (already
        bucket-pruned) file, and clustered keys compress better. Used
        by the MAINTENANCE writes (compact / purge_tombstones) only —
        the ingest hot path stays sort-free because a per-batch sort
        would tax merge throughput for files that compaction will
        rewrite anyway (the Iceberg/ClickHouse shape: append fast,
        sort on merge)."""
        nonce = uuid.uuid4().hex[:12]
        rel_snap = os.path.join("data", f"snap-{version_hint:08d}-{nonce}")
        out_dir = os.path.join(self.root, rel_snap)
        if sort_cols:
            # range clustering: the sorted stream + per-file record cap
            # makes consecutive files cut contiguous value ranges
            df = df.sortWithinPartitions(_BUCKET_COL, *sort_cols)
            if _ZORDER_COL in sort_cols:
                # the Morton key orders the write but is not part of
                # the table; the projection after the sort preserves
                # row order into the writer
                df = df.drop(_ZORDER_COL)
        elif sort_keys:
            df = df.sortWithinPartitions(_BUCKET_COL, *m["key_cols"])
        if "_cv" not in df.columns:
            df = df.withColumn("_cv", F.lit(version_hint).cast(T.LongType()))
        writer = _with_field_ids(df, m).write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy(_BUCKET_COL).parquet(out_dir)
        new_files: dict[str, list[dict]] = {}
        sid = m["schema_id"]
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith(f"{_BUCKET_COL}="):
                continue
            b = bdir.split("=", 1)[1]
            for fname in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fname.endswith(".parquet"):
                    rel = os.path.join(rel_snap, bdir, fname)
                    entry = {
                        "path": rel,
                        "schema_id": sid,
                        "cv": version_hint,
                        # size in the manifest so maintenance policies
                        # (tiered compaction) never stat data files
                        "bytes": os.path.getsize(os.path.join(self.root, rel)),
                    }
                    if mark_base:
                        # fully-folded maintenance output: key-unique
                        # per bucket, eligible for the RO view
                        entry["base"] = True
                    new_files.setdefault(b, []).append(entry)
        self._bind_footer_stats(m, [e for es in new_files.values() for e in es])
        return new_files

    def _bind_footer_stats(self, m: dict, entries: list[dict]) -> None:
        """Bind zone maps into new file entries from their parquet
        footers: first-key-column bounds as kmin/kmax (read_keys prunes
        FILES with these on top of bucket pruning; selective for MOR
        deltas whose batches cover narrow key ranges, CDC doc_ids
        correlate with time, and for sorted maintenance rewrites) plus
        declared stats_cols bounds as `stats` for scan(). A serial loop:
        32 footers take about 3 ms, a third of a thread pool's wall
        time (`plans/stored_cv/footer_bind.txt`)."""
        k0 = m["key_cols"][0]
        stat_cols = _stat_cols(m)
        for entry in entries:
            stats = _file_col_stats(os.path.join(self.root, entry["path"]), stat_cols)
            if k0 in stats:
                entry["kmin"], entry["kmax"] = stats.pop(k0)
            if stats:
                entry["stats"] = {c: list(v) for c, v in stats.items()}

    def _with_bucket(self, df: DataFrame, m: dict) -> DataFrame:
        return df.withColumn(_BUCKET_COL, bucket_expr(_bucket_cols(m), m["n_buckets"]))

    def _evolve_if_needed(
        self, spark: SparkSession, m: dict, incoming: T.StructType
    ) -> T.StructType:
        """Mutate manifest-in-progress to include evolved schema; return
        it. Key columns may only widen by an integral promotion
        (`_rehash_cols` raises otherwise). A promotion of a bucket
        column to long also rewrites every file of `m` under the new
        type, before the caller writes its rows: Spark hashes an int and
        the same value as a long differently, so without it a key's
        bucket would depend on the type its row was written under (a COW
        merge would leave the old row in its old bucket, and lookups
        would miss it). The rewrite lands in the caller's commit, so
        every committed version is consistent; its files take the base
        version as their `cv`, below the caller's new files, and their
        rows keep their `_cv`."""
        current = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        merged = _number_fields(m, merge_schemas(current, incoming), current)
        if merged != current:
            rehash = _rehash_cols(m, current, merged)
            new_names = {f.name for f in merged.fields} - {
                f.name for f in current.fields
            }
            dropped_ever = {
                c for v in (m.get("drops") or {}).values() for c in v
            }
            bad = new_names & dropped_ever
            if bad:
                # reads resolve by field id, so the re-added column
                # would read NULL from old files; the guard keeps
                # add_column() the one way to reuse a dropped name
                raise ValueError(
                    f"column(s) {sorted(bad)} were dropped from this "
                    "table; re-add explicitly via add_column() so old "
                    "files' prior-life values cannot resurface"
                )
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = merged.jsonValue()
            m["schema_id"] = new_id
            if rehash and any(m["buckets"].values()):
                m["buckets"] = self._rewrite_all(spark, m, m["version"])
        return merged

    def append(self, df: DataFrame, epoch_id: str | None = None) -> MergeStats:
        """Append rows without dedup — the reference's `append` sync mode
        (destination.go:329-335): duplicates are allowed and visible."""
        return self._apply(df, mode="append", epoch_id=epoch_id)

    def merge(
        self,
        batch: DataFrame,
        epoch_id: str | list[str] | None = None,
        tiebreak_cols: list[str] | None = None,
        lineage_df: DataFrame | None = None,
        post_reduce=None,
        carry_cols: tuple[str, ...] = (),
        reduce: str = "lww",
        stage: str | None = None,
    ) -> MergeStats:
        """Last-writer-wins MERGE of a change batch.

        `epoch_id` may be a LIST of ids that commit ATOMICALLY in the
        one manifest swap — the sharded-consumer shape (one micro-batch
        covering many log shards; streaming/sharded.py), where the
        per-shard offset frontier must advance all-or-nothing with the
        data. Replay of a fully-applied group skips; a group that
        PARTIALLY overlaps previously-applied ids raises (consumers of
        one log must agree on chunk boundaries — skipping would lose
        data, re-applying would duplicate it).

        `stage` (optional): a staging id. The merge runs fully — data
        files land, the new manifest is computed — but instead of
        committing, the manifest is written to `_meta/staged/<id>.json`
        pinned to its base version (write-audit-publish, the Iceberg
        WAP pattern). `read_staged()` serves the audit queries,
        `publish()` commits atomically (CommitConflict if the table
        advanced past the base — re-stage), `abort()` drops the staged
        data. Returned MergeStats carries version=-1 (nothing visible
        changed). Staged data dirs are excluded from expire_snapshots
        GC until published or aborted.

        `batch` columns = table data columns + `op` (I/U/D). Per key the
        greatest version wins, including against rows already in the
        table (ReplacingMergeTree(Ver) semantics, destination.go:337-351).
        Rows whose winning op is D are removed. Only buckets containing
        batch keys are rewritten. Ties on the version column go to the
        batch row over the stored one, then (inside the batch) to the
        greatest `tiebreak_cols`.

        `lineage_df` (optional): a cheaper projection to aggregate the
        per-bucket lineage from — it only needs the key + version
        columns, so a caller holding the raw pre-validation batch can
        hand a 2-column scan that never decodes the payload (the
        default aggregates `batch` itself, which re-runs whatever
        pipeline produced it, payload columns included). It must cover
        the same keys as `batch`, since it also decides which buckets
        the merge reads and rewrites.

        `post_reduce` / `carry_cols` (optional): deferred derived
        columns. `carry_cols` names batch columns that are NOT table
        columns but ride through the reduce so `post_reduce(winners)`
        can compute table columns from them AFTER the per-key dedup —
        e.g. a deterministic id hash that is pointless to compute for
        rows the reduce will discard, and wide to shuffle. Carries are
        excluded from schema evolution, null on the existing-table side
        (post_reduce must leave existing rows' stored values intact —
        coalesce on the stored column), and dropped before the write.

        `reduce` selects the merge engine: "lww" (default, whole-row
        last-writer-wins), "partial" (partial-image updates — NULL
        batch columns mean "not written" and inherit the stored value
        per column; see operators/dedup.partial_update_reduce for exact
        semantics and the in-order-batch invariant), or "aggregate"
        (per-column declared aggregate functions from the `agg_spec`
        bound at create() — the SummingMergeTree / Paimon aggregation
        shape; operators/dedup.aggregate_reduce). Both non-LWW engines
        require a COW table with a version column; the stored row
        re-enters the fold as one event at the row's version, so
        ordered epochs (the ingest pipeline's lsn ranges) make the fold
        exact across batches.
        """
        return self._apply(
            batch, mode="merge", epoch_id=epoch_id, tiebreak_cols=tiebreak_cols,
            lineage_df=lineage_df, post_reduce=post_reduce, carry_cols=carry_cols,
            reduce=reduce, stage=stage,
        )

    def overwrite_where(
        self, spark: SparkSession, predicate: str, epoch_id: str | None = None
    ) -> MergeStats:
        """DELETE FROM table WHERE predicate — rewrite of MATCHING
        buckets only. Spark-side equivalent of the reference's
        DeletionJob (destination.go:198-241), synchronous and
        transactional.

        Scale shape: a match pre-pass finds the buckets that contain
        any matching row (a column-pruned scan — Catalyst prunes it to
        the predicate + key/version columns), and only those buckets
        are re-resolved and rewritten; every other bucket keeps its
        existing files untouched in the new manifest. A selective
        retention delete on a 100 TB table therefore costs one pruned
        read plus an O(matching-buckets) write — never an O(table)
        rewrite. Matching buckets are written from FINAL state (MOR
        deltas folded, tombstones compacted away — the reference's
        DeletionJob deletes rows of the visible table)."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
            all_buckets = [int(b) for b in m["buckets"]]
            pred = F.expr(predicate)
            dirty = sorted(
                int(r[0])
                for r in self._with_bucket(
                    self._resolve(spark, m, all_buckets, schema), m
                )
                .where(pred)
                .select(_BUCKET_COL)
                .distinct()
                .collect()
            )
            if dirty:
                kept = _live(self._folded(spark, m, dirty, schema)).where(
                    ~pred | pred.isNull()
                )
                new_files = self._write_bucketed(kept, m, base + 1, mark_base=True)
                # a dirty bucket whose every row matched writes no file
                m["buckets"] = {
                    **m["buckets"],
                    **{str(b): new_files.get(str(b), []) for b in dirty},
                }
            m["operation"] = f"delete_where({predicate})"
            m["epoch_id"] = epoch_id
            m["lineage"] = []
            try:
                v = self._commit(m, base)
                return MergeStats(epoch_id, v, 0, 0, len(dirty))
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def backfill(
        self,
        spark: SparkSession,
        exprs: dict[str, str],
        where: str | None = None,
        epoch_prefix: str = "backfill",
        buckets_per_commit: int = 8,
        max_groups: int | None = None,
    ) -> dict:
        """Online, resumable, bucket-scoped column backfill: set each
        output column to its SQL expression over the row's current
        columns — adding new columns (with an upfront metadata-only
        schema-evolution commit) or recomputing existing ones.

        The production scenario behind it: a schema evolution lands
        (say `n_tok` added to a 10^10-row tokenized-sequences table)
        and historical rows must be populated WITHOUT a table-wide
        atomic rewrite or an ingest pause. So:

        * buckets are rewritten in groups of `buckets_per_commit`,
          each group its own epoch-marked commit — a crashed or
          interrupted backfill resumes by skipping applied epochs,
          exactly the ingest path's exactly-once contract;
        * readers stay online throughout: not-yet-backfilled rows
          read as schema-aligned NULLs (new column) or old values
          (recompute), never as errors, and every commit is atomic;
        * `where` scopes the rewrite to matching rows, and buckets
          with no matching row keep their files untouched (same
          match pre-pass as overwrite_where — a selective backfill
          is O(matching buckets), never O(table));
        * `max_groups` paces the work across maintenance windows
          (run k groups now, resume later) — at 100 TB a backfill is
          an operational campaign, not one job;
        * concurrent ingest is safe: each group commit re-reads the
          manifest and retries on CommitConflict, and a bucket is
          rewritten from its FINAL resolved state (MOR deltas folded,
          tombstones dropped — the same contract as compact()).

        Returns {"groups_done", "groups_skipped", "buckets_rewritten",
        "schema_evolved", "complete"}.

        Epoch ids derive from `epoch_prefix` alone, so re-running with
        the SAME prefix resumes that campaign; a genuinely NEW campaign
        over the same table must use a distinct prefix or it will be
        skipped as already applied.

        An expression over a key column must keep every key's value (a
        widening cast, say): a row's key is its identity and fixes its
        bucket, so the rewrite keeps each row in the bucket it is read
        from.
        """
        # phase 0: metadata-only schema evolution so readers and
        # concurrent writers see the target schema before any rewrite
        cur_schema = self.schema()
        target = (
            spark.createDataFrame([], cur_schema)
            .withColumns({c: F.expr(e) for c, e in exprs.items()})
            .schema
        )
        evolved = False
        schema_epoch = f"{epoch_prefix}-schema"
        changed = [(f.name, f.dataType, f.nullable) for f in target.fields] != [
            (f.name, f.dataType, f.nullable) for f in cur_schema.fields
        ]  # field ids aside
        if changed and not self.is_epoch_applied(schema_epoch):
            for attempt in range(_COMMIT_ATTEMPTS):
                self._recover_orphan()
                base = self.current_version()
                m = self.manifest(base)
                self._evolve_if_needed(spark, m, target)
                m["operation"] = f"backfill_schema({sorted(exprs)})"
                m["epoch_id"] = schema_epoch
                m["applied_epochs"][schema_epoch] = base + 1
                m["lineage"] = []
                try:
                    self._commit(m, base)
                    evolved = True
                    break
                except CommitConflict:
                    if attempt == _COMMIT_ATTEMPTS - 1:
                        raise
                    _conflict_backoff(attempt)

        pred = F.expr(where) if where is not None else None
        done = skipped = rewritten = 0
        groups_total = 0
        all_buckets = sorted(int(b) for b in self.manifest()["buckets"])
        groups = [
            all_buckets[i : i + buckets_per_commit]
            for i in range(0, len(all_buckets), buckets_per_commit)
        ]
        for group in groups:
            groups_total += 1
            epoch = f"{epoch_prefix}-buckets-{group[0]}-{group[-1]}"
            if self.is_epoch_applied(epoch):
                skipped += 1
                continue
            if max_groups is not None and done >= max_groups:
                return {
                    "groups_done": done,
                    "groups_skipped": skipped,
                    "buckets_rewritten": rewritten,
                    "schema_evolved": evolved,
                    "complete": False,
                }
            for attempt in range(_COMMIT_ATTEMPTS):
                self._recover_orphan()
                base = self.current_version()
                m = self.manifest(base)
                schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
                dirty = group
                if pred is not None:
                    dirty = sorted(
                        int(r[0])
                        for r in self._with_bucket(
                            self._resolve(spark, m, group, schema), m
                        )
                        .where(pred)
                        .select(_BUCKET_COL)
                        .distinct()
                        .collect()
                    )
                if dirty:
                    state = _live(self._folded(spark, m, dirty, schema))
                    out = state.withColumns(
                        {
                            c: F.expr(e)
                            if pred is None
                            else F.when(pred, F.expr(e)).otherwise(
                                F.col(c) if c in state.columns else F.lit(None)
                            )
                            for c, e in exprs.items()
                        }
                    )
                    # `_folded`'s bucket column stays valid: no
                    # expression changes a key's value
                    out = align_to_schema(
                        out, T.StructType([*schema.fields, state.schema[_BUCKET_COL]])
                    )
                    new_files = self._write_bucketed(out, m, base + 1, mark_base=True)
                    m["buckets"] = {
                        **m["buckets"],
                        **{str(b): new_files.get(str(b), []) for b in dirty},
                    }
                m["operation"] = f"backfill({sorted(exprs)}, buckets={group})"
                m["epoch_id"] = epoch
                m["applied_epochs"][epoch] = base + 1
                m["lineage"] = []
                try:
                    self._commit(m, base)
                    done += 1
                    rewritten += len(dirty)
                    break
                except CommitConflict:
                    if attempt == _COMMIT_ATTEMPTS - 1:
                        raise
                    _conflict_backoff(attempt)
        return {
            "groups_done": done,
            "groups_skipped": skipped,
            "buckets_rewritten": rewritten,
            "schema_evolved": evolved,
            "complete": True,
        }

    # -------------------------------------------------- observability

    def analyze(self, spark: SparkSession, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE: one distributed scan over the current visible
        state computing row count plus per-column null counts, approx
        NDV (HyperLogLog via approx_count_distinct — executor-side
        sketches, one tiny driver row back), and min/max for orderable
        atomic types. The result is written to `_meta/stats/v<N>.json`
        pinned to the analyzed version — the Iceberg ANALYZE / Spark
        CBO statistics shape — and `describe()` surfaces the latest
        along with its staleness (versions since analyzed)."""
        v = self.current_version()
        m = self.manifest(v)
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        cols = columns or [f.name for f in schema.fields]
        orderable = (
            T.LongType, T.IntegerType, T.ShortType, T.ByteType,
            T.DoubleType, T.FloatType, T.StringType, T.TimestampType,
            T.DateType, T.DecimalType,
        )
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
            if isinstance(schema[c].dataType, orderable):
                aggs.append(F.min(c).alias(f"_min_{c}"))
                aggs.append(F.max(c).alias(f"_max_{c}"))
        # pinned to the version the stats are stamped with — a commit
        # racing the scan must not mislabel the result
        row = self.read(spark, version=v).agg(*aggs).first().asDict()

        def _jsonable(v):
            return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

        stats = {
            "analyzed_version": v,
            "row_count": int(row["_rows"]),
            "columns": {
                c: {
                    "null_count": int(row[f"_nulls_{c}"] or 0),
                    "ndv": int(row[f"_ndv_{c}"]),
                    **(
                        {
                            "min": _jsonable(row.get(f"_min_{c}")),
                            "max": _jsonable(row.get(f"_max_{c}")),
                        }
                        if f"_min_{c}" in row
                        else {}
                    ),
                }
                for c in cols
            },
        }
        out_dir = os.path.join(self.meta_dir, "stats")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"v{stats['analyzed_version']:08d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return stats

    def latest_stats(self) -> dict | None:
        """The most recent analyze() result, or None."""
        out_dir = os.path.join(self.meta_dir, "stats")
        try:
            names = sorted(n for n in os.listdir(out_dir) if n.endswith(".json"))
        except FileNotFoundError:
            return None
        if not names:
            return None
        try:
            with open(os.path.join(out_dir, names[-1])) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def describe(self) -> dict:
        """Table-health snapshot from metadata alone (no data read):
        per-bucket file/byte/delta-depth stats, epoch bookkeeping, and
        maintenance signals (max delta depth drives compact(); stats
        coverage shows how prunable point lookups are)."""
        m = self.manifest()
        from airbyte_destination_spark.lake import bloom as _bloom

        n_files = 0
        n_bytes = 0
        with_stats = 0
        with_bloom = 0
        depth = {}
        schema = T.StructType.fromJson(m["schemas"][str(m["schema_id"])])
        ktype = schema[m["key_cols"][0]].dataType.simpleString()
        for b, fs in m["buckets"].items():
            shard = _bloom.load_shard(self.root, int(b))
            depth[b] = len(fs)
            for e in fs:
                n_files += 1
                with_stats += 1 if "kmin" in e else 0
                # only entries whose hashes match the CURRENT key type
                # are usable at probe time (see build_bloom_index)
                have = shard.get(e["path"])
                if have and _bloom.same_hashes(have.get("ktype"), ktype):
                    with_bloom += 1
                try:
                    n_bytes += os.path.getsize(os.path.join(self.root, e["path"]))
                except OSError:
                    pass
        depths = sorted(depth.values())
        return {
            "version": m.get("version", self.current_version()),
            "merge_strategy": m.get("merge_strategy", "cow"),
            "key_cols": m["key_cols"],
            "bucket_cols": _bucket_cols(m),
            "version_col": m["version_col"],
            "n_buckets": m["n_buckets"],
            "agg_spec": m.get("agg_spec"),
            "stats_cols": m.get("stats_cols", []),
            "n_data_files": n_files,
            "data_bytes": n_bytes,
            "files_with_zone_maps": with_stats,
            "files_with_blooms": with_bloom,
            "max_files_per_bucket": depths[-1] if depths else 0,
            "applied_epochs": self.n_applied_epochs(),
            "staged": self.staged_ids(),
            "schemas": len(m["schemas"]),
            "stats": (
                None
                if (st := self.latest_stats()) is None
                else {
                    "analyzed_version": st["analyzed_version"],
                    "row_count": st["row_count"],
                    "versions_stale": max(
                        0,
                        m.get("version", self.current_version())
                        - st["analyzed_version"],
                    ),
                }
            ),
        }

    # ---------------------------------------------------------- tags

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a snapshot (Iceberg tag): `read(tag=name)` resolves to
        it and `expire_snapshots` retains at least back to the oldest
        tag. One file per tag (`_meta/refs/<name>.json`, fsync +
        atomic replace) so concurrent taggers of different names never
        race a shared record; re-tagging a name moves it (last writer
        wins). Returns the pinned version."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        v = self.current_version() if version is None else int(version)
        if v < 1 or v > self.current_version():
            raise ValueError(f"cannot tag version {v}")
        self.manifest(v)  # raises if already expired
        refs_dir = os.path.join(self.meta_dir, "refs")
        os.makedirs(refs_dir, exist_ok=True)
        path = os.path.join(refs_dir, f"{name}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return v

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self.meta_dir, "refs", f"{name}.json"))
        except FileNotFoundError:
            pass

    def tags(self) -> dict[str, int]:
        refs_dir = os.path.join(self.meta_dir, "refs")
        out: dict[str, int] = {}
        try:
            names = os.listdir(refs_dir)
        except FileNotFoundError:
            return out
        for n in sorted(names):
            if not n.endswith(".json"):
                continue
            try:
                with open(os.path.join(refs_dir, n)) as f:
                    out[n[:-5]] = int(json.load(f)["version"])
            except (OSError, json.JSONDecodeError, KeyError, ValueError):
                continue  # torn/corrupt ref: ignore, never block reads
        return out

    def resolve_tag(self, name: str) -> int:
        v = self.tags().get(name)
        if v is None:
            raise KeyError(f"unknown tag {name!r}")
        return v

    # ------------------------------------------------------ rollback

    def checkpoint(self) -> int:
        """Commit the CURRENT state as a FULL manifest record — the
        Iceberg `rewrite_manifests` analog. Metadata-only: no data
        moves; the new version's record is the resolved state of the
        old one rather than a delta chained off it.

        Two uses at scale: (1) it bounds read/time-travel resolution to
        O(1) hops on demand, independent of where the automatic
        every-`_CHECKPOINT_INTERVAL`-th full record falls; (2) it
        creates an expiry boundary — `expire_snapshots` retires history
        strictly below the newest full record at or under its cutoff,
        so `checkpoint()` + `expire_snapshots(keep_last=k)` is the
        explicit "squash history now" maintenance pair a long-running
        10^10-event ingest schedules between epochs. Epoch markers and
        watermarks ride the record unchanged, so exactly-once replay
        protection is unaffected."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot checkpoint an uncreated table")
            old = self._resolved(base)
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old.items()
                if k not in ("version", "committed_at")
            }
            m["operation"] = "checkpoint"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base, force_full=True)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename — the Iceberg field rename: the
        column keeps its parquet field id, and readers resolve columns
        by id, so old files serve their on-disk column under the new
        name. No data moves.

        Restrictions (raise ValueError): key columns, the version
        column, and declared stats columns keep their names — they are
        woven into bucket routing, MOR ordering, and zone-map pruning.
        `agg_spec` keys follow the rename. Old files' per-file stats
        stay under the old name, so `scan(bounds={new: ...})` fails
        open (keeps) pre-rename files until compaction rewrites them —
        correct, just less selective. Externally-configured secondary
        indexes on the renamed column must be re-pointed by the caller.
        Time travel below the rename shows the old name (each
        snapshot's schema names the ids). A `lake_changes` stream bound before
        the rename fails loudly at the rename commit (schema change ⇒
        re-bootstrap, the Delta CDF discipline)."""
        if old == new:
            raise ValueError("rename to the same name")
        if new.startswith("_"):
            raise ValueError(f"{new!r}: leading underscore is reserved")
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot rename on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            names = [f.name for f in cur.fields]
            if old not in names:
                raise ValueError(f"no column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if any(
                new in ns for ns in (old_m.get("drops") or {}).values()
            ):
                # reads resolve by field id, so old files' bytes of the
                # dropped column cannot resurface under the name; the
                # guard keeps add_column() the one way to reuse it
                raise ValueError(
                    f"column {new!r} was previously dropped; re-adding "
                    "the name is only safe via add_column(), not a "
                    "rename — old files still physically carry its "
                    "prior-life values"
                )
            if old in old_m["key_cols"] or old == old_m.get("version_col"):
                raise ValueError(f"{old!r} is a key/version column")
            if old in (old_m.get("stats_cols") or []):
                raise ValueError(f"{old!r} is a declared stats column")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name,
                        f.dataType, f.nullable, f.metadata,
                    )
                    for f in cur.fields
                ]
            ).jsonValue()
            m["schema_id"] = new_id
            if old in (m.get("agg_spec") or {}):
                spec = dict(m["agg_spec"])
                spec[new] = spec.pop(old)
                m["agg_spec"] = spec
            if old in (m.get("defaults") or {}):
                dd = dict(m["defaults"])
                dd[new] = dd.pop(old)
                m["defaults"] = dd
            m["operation"] = f"rename({old}->{new})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def add_column(
        self, name: str, dtype: T.DataType, initial_default=None
    ) -> int:
        """Metadata-only column ADD with an optional INITIAL DEFAULT —
        the Iceberg v3 default-value evolution shape. The column takes
        a new parquet field id: rows in files without it (written
        before the add, or holding a dropped column of the same name)
        read the default; rows written after it read what was
        written, so an explicit NULL stays NULL. No data moves — the
        reader fills the default (`EXISTS_DEFAULT`). Without a default
        old rows read NULL. `initial_default` must be a bool, int,
        float or str Spark casts to `dtype` (ValueError otherwise,
        before anything commits)."""
        if name.startswith("_"):
            raise ValueError(f"{name!r}: leading underscore is reserved")
        if initial_default is not None:
            _default_sql(initial_default, dtype)  # raises unless Spark casts it
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot add a column on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            if name in [f.name for f in cur.fields]:
                raise ValueError(f"column {name!r} already exists")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = _number_fields(
                m, T.StructType(cur.fields + [T.StructField(name, dtype, True)]), cur
            ).jsonValue()
            m["schema_id"] = new_id
            if initial_default is not None:
                defaults = dict(m.get("defaults") or {})
                defaults[name] = initial_default
                m["defaults"] = defaults
            m["operation"] = f"add_column({name})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def drop_column(self, name: str) -> int:
        """Metadata-only column DROP (Iceberg drop-column semantics):
        the column leaves the current schema in one manifest commit; no
        data moves, old files keep the bytes until compaction rewrites
        them, and time travel below the drop still serves the column.
        The column's field id is retired, never reused: a column later
        re-added under the name (only through `add_column()`; implicit
        merge-evolution re-adds and renames onto the name are
        rejected) takes a new id, so the old bytes never resurface.
        Key / version / stats / agg_spec columns are restricted."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if base < 1:
                raise ValueError("cannot drop a column on an uncreated table")
            old_m = self._resolved(base)
            cur = T.StructType.fromJson(old_m["schemas"][str(old_m["schema_id"])])
            if name not in [f.name for f in cur.fields]:
                raise ValueError(f"no column {name!r}")
            if name in old_m["key_cols"] or name == old_m.get("version_col"):
                raise ValueError(f"{name!r} is a key/version column")
            if name in (old_m.get("stats_cols") or []):
                raise ValueError(f"{name!r} is a declared stats column")
            if name in (old_m.get("agg_spec") or {}):
                raise ValueError(f"{name!r} is an aggregate-engine column")
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old_m.items()
                if k not in ("version", "committed_at")
            }
            new_id = max(int(k) for k in m["schemas"]) + 1
            m["schemas"][str(new_id)] = T.StructType(
                [f for f in cur.fields if f.name != name]
            ).jsonValue()
            m["schema_id"] = new_id
            if name in (m.get("defaults") or {}):
                dd = dict(m["defaults"])
                dd.pop(name)
                m["defaults"] = dd
            drops = {k: list(v) for k, v in (m.get("drops") or {}).items()}
            drops[str(new_id)] = [name]
            m["drops"] = drops
            m["operation"] = f"drop_column({name})"
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    def rollback(self, version: int) -> int:
        """Restore the table to an earlier snapshot as a NEW commit
        (Iceberg `rollback_to_snapshot`): metadata-only — the new
        version's manifest is the old version's buckets/schema, no data
        moves, and history after `version` stays readable until expiry.
        Epoch markers revert with the manifest, so the exactly-once
        gate re-admits the rolled-back epochs: replaying the change log
        from `version` forward reconverges the table (this interplay is
        pytest-pinned)."""
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            if version > base or version < 1:
                raise ValueError(f"cannot roll back to version {version}")
            old = self._resolved(version)
            m = {
                k: (dict(v) if isinstance(v, dict) else v)
                for k, v in old.items()
                if k not in ("version", "committed_at")
            }
            # field ids are never reused: the rolled-back schemas' ids
            # still live in files of the versions in between
            m["last_field_id"] = self._resolved(base)["last_field_id"]
            m["operation"] = f"rollback({version})"
            # the rollback applies no epoch: a copied id would make
            # epoch_commit_version() resolve to this commit
            m["epoch_id"] = None
            m["lineage"] = []
            try:
                return self._commit(m, base)
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
                _conflict_backoff(attempt)
        raise CommitConflict("unreachable")

    # ------------------------------------- incremental consumers (CDF)

    def _consumer_path(self, consumer_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", consumer_id):
            raise ValueError(f"invalid consumer id {consumer_id!r}")
        return os.path.join(self.meta_dir, "consumers", f"{consumer_id}.json")

    def consumer_offset(self, consumer_id: str) -> int:
        """Last snapshot version this consumer acknowledged (0 = never
        consumed: the first poll sees the whole table as inserts)."""
        try:
            with open(self._consumer_path(consumer_id)) as f:
                return int(json.load(f)["acked_version"])
        except FileNotFoundError:
            return 0

    def poll_changes(
        self, spark: SparkSession, consumer_id: str, pre_images: bool = False
    ):
        """Incremental consumption of the change feed (the Delta/Hudi
        streaming-source shape): returns (changes_df, v_to) — the net
        CDF from the consumer's acked offset to the current snapshot —
        or (None, acked) when there is nothing new. Call
        `ack(consumer_id, v_to)` after durably processing the batch;
        an unacked crash re-delivers the same window (at-least-once for
        the consumer, idempotent when its sink keys on the table key:
        the same offset window always yields the same net changes)."""
        acked = self.consumer_offset(consumer_id)
        cur = self.current_version()
        if cur <= acked:
            return None, acked
        if acked == 0:
            # bootstrap: the whole current snapshot as inserts, shaped
            # like table_changes output (key cols, change_type, payload)
            m = self.manifest(cur)
            snap = self.read(spark, version=cur)
            payload = [c for c in snap.columns if c not in m["key_cols"]]
            return (
                snap.select(
                    *m["key_cols"], F.lit("insert").alias("change_type"), *payload
                ),
                cur,
            )
        return (
            self.table_changes(spark, v_from=acked, v_to=cur, pre_images=pre_images),
            cur,
        )

    def ack(self, consumer_id: str, version: int) -> None:
        """Advance a consumer's offset — refuses to move backwards."""
        path = self._consumer_path(consumer_id)
        prev = self.consumer_offset(consumer_id)
        if version < prev:
            raise ValueError(f"ack {version} < acked {prev}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".c.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"acked_version": version, "acked_at": time.time()}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    # ------------------------------------------- write-audit-publish

    def _staged_path(self, staging_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", staging_id):
            raise ValueError(f"invalid staging id {staging_id!r}")
        return os.path.join(self.meta_dir, "staged", f"{staging_id}.json")

    def _write_staged(self, staging_id: str, manifest: dict, base: int) -> None:
        """Persist a fully-computed manifest WITHOUT committing it —
        same durability discipline as _commit (fsynced temp, exclusive
        hard-link so a staging id can't be silently overwritten)."""
        path = self._staged_path(staging_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rec = dict(manifest)
        rec["staged_base"] = base
        rec["staged_id"] = staging_id
        rec["staged_at"] = time.time()
        # wap_id rides INTO the committed version record (it is not
        # stripped at publish) so a crash between _commit and the
        # staged-record unlink is self-healing: the retry recognizes
        # its own commit instead of wedging on CommitConflict
        rec["wap_id"] = staging_id
        tmp = os.path.join(self.meta_dir, f".s.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.unlink(tmp)
            raise FileExistsError(f"staging id {staging_id!r} already exists")
        os.unlink(tmp)

    def _read_staged(self, staging_id: str) -> dict:
        with open(self._staged_path(staging_id)) as f:
            return json.load(f)

    def staged_ids(self) -> list[str]:
        d = os.path.join(self.meta_dir, "staged")
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def read_staged(self, spark: SparkSession, staging_id: str) -> DataFrame:
        """The staged table state, for audit queries before publish."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        schema = T.StructType.fromJson(rec["schemas"][str(rec["schema_id"])])
        return self._resolve(
            spark, rec, [int(b) for b in rec["buckets"]], schema
        )

    def publish(self, staging_id: str) -> int:
        """Atomically commit a staged merge. Raises CommitConflict when
        the table advanced past the staged base (the staged rewrite was
        computed against state that no longer exists) — abort and
        re-stage, the WAP retry discipline."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        base = rec.pop("staged_base")
        rec.pop("staged_id", None)
        rec.pop("staged_at", None)
        self._recover_orphan()
        try:
            v = self._commit(rec, base)
        except CommitConflict:
            # crash-retry self-heal: if version base+1 IS this staging's
            # own commit (a previous publish died between _commit and
            # the unlink below), finish the cleanup and succeed
            try:
                already = self._read_raw(base + 1).get("wap_id") == staging_id
            except FileNotFoundError:
                already = False
            if not already:
                raise
            v = base + 1
        os.unlink(self._staged_path(staging_id))
        return v

    def abort(self, staging_id: str) -> None:
        """Drop a staged merge: delete the snapshot dirs only THIS
        staging created (referenced by the staged manifest but not by
        its base — new dirs carry a fresh nonce, so no committed
        version can reference them) and the staged record."""
        rec = self._read_staged(staging_id)
        if rec.get("rescale"):
            raise ValueError(
                f"{staging_id!r} is a rescale campaign — drive it with "
                "split_buckets()/abort_rescale(), not the WAP API"
            )
        base = rec["staged_base"]
        base_m = self._resolved(base) if base >= 1 else {"buckets": {}}

        def _snaps(man: dict) -> set[str]:
            return {
                e["path"].split(os.sep)[1]
                for fs in man.get("buckets", {}).values()
                for e in fs
                if e["path"].startswith("data")
            }

        for snap in _snaps(rec) - _snaps(base_m):
            shutil.rmtree(os.path.join(self.root, "data", snap), ignore_errors=True)
        os.unlink(self._staged_path(staging_id))

    # ------------------------------------------------------------- core

    def _rebase_append_commit(
        self,
        old_m: dict,
        new_files: dict,
        epoch_id: str | None,
        mode: str,
        lineage: list,
        rows_up: int,
        rows_del: int,
    ) -> "MergeStats | None":
        """Conflict fast-path for delta-APPEND commits (MOR merge and
        append mode): those data files never read the base snapshot, so
        a lost commit race needs a new MANIFEST, not a new write —
        re-read the advanced base, re-stamp each new entry's `cv` to the
        new target version, append the entries, and commit. The files'
        rows keep the `_cv` they were written with; readers take a
        re-stamped entry's `cv` instead (`_restamped`), so the LWW
        tiebreak ordering stays exactly what a serial commit would have
        produced, and rewrites carry that value on. This turns the
        cost of a conflicted attempt from a full Spark write (seconds)
        into a metadata round (milliseconds) — without it, a compactor
        loop racing four writers starved one past its whole retry
        budget (tests/test_manifest_scaling.py).

        Returns None to demand a full re-run when the table shape moved
        underneath (bucket count / bucket columns / merge strategy /
        our entries' schema id missing or remapped) — those races
        invalidate the written files themselves. A concurrent replica
        that applied the same epoch wins: we return skipped, like the
        top of _apply."""
        sid = str(old_m["schema_id"])
        epoch_ids = _epoch_list(epoch_id)
        eid = epoch_id if isinstance(epoch_id, str) else (
            ",".join(epoch_ids) if epoch_ids else None
        )
        m_eid = epoch_ids if len(epoch_ids) > 1 else eid
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)
            if epoch_ids:
                state = _epochs_applied_state(m, epoch_ids)
                if state == "all":
                    return MergeStats(eid, base, 0, 0, 0, skipped=True)
                if state == "partial":
                    raise ValueError(
                        f"epoch ids {epoch_ids} are PARTIALLY applied on "
                        f"{self.root}: atomic epoch groups must not "
                        "straddle another writer's groupings"
                    )
            if (
                m["n_buckets"] != old_m["n_buckets"]
                or _bucket_cols(m) != _bucket_cols(old_m)
                or m.get("merge_strategy", "cow") != old_m.get("merge_strategy", "cow")
                or m["schemas"].get(sid) != old_m["schemas"][sid]
            ):
                return None  # shape moved: the files must be rewritten
            buckets = dict(m["buckets"])
            for b, files in new_files.items():
                buckets[b] = buckets.get(b, []) + [
                    {**e, "cv": base + 1} for e in files
                ]
            m["buckets"] = buckets
            m["operation"] = mode
            m["epoch_id"] = m_eid
            m["lineage"] = lineage
            for e in epoch_ids:
                m["applied_epochs"][e] = base + 1
            try:
                v = self._commit(m, base)
                return MergeStats(
                    eid, v, rows_up, rows_del, len(new_files), lineage=lineage
                )
            except CommitConflict:
                _conflict_backoff(attempt)
        return None  # rebase budget exhausted; caller may full-retry

    def _apply(
        self,
        batch: DataFrame,
        mode: str,
        epoch_id: str | None,
        tiebreak_cols: list[str] | None = None,
        lineage_df: DataFrame | None = None,
        post_reduce=None,
        carry_cols: tuple[str, ...] = (),
        reduce: str = "lww",
        stage: str | None = None,
    ) -> MergeStats:
        spark = batch.sparkSession
        if reduce not in ("lww", "partial", "aggregate"):
            raise ValueError(f"unknown reduce mode {reduce!r}")
        if reduce != "lww" and (post_reduce is not None or carry_cols):
            raise ValueError(
                f"reduce={reduce!r} does not compose with post_reduce/carry_cols"
            )
        # epoch_id may be a LIST of ids committing atomically (one
        # micro-batch covering many log shards); MergeStats and the
        # lineage rows carry the joined display form
        epoch_ids = _epoch_list(epoch_id)
        eid = epoch_id if isinstance(epoch_id, str) else (
            ",".join(epoch_ids) if epoch_ids else None
        )
        m_eid = epoch_ids if len(epoch_ids) > 1 else eid
        for attempt in range(_COMMIT_ATTEMPTS):
            self._recover_orphan()
            base = self.current_version()
            m = self.manifest(base)

            # exactly-once: an epoch already recorded in the snapshot is
            # a replay (foreachBatch re-delivery) — skip without writing.
            if epoch_ids:
                state = _epochs_applied_state(m, epoch_ids)
                if state == "all":
                    return MergeStats(eid, base, 0, 0, 0, skipped=True)
                if state == "partial":
                    raise ValueError(
                        f"epoch ids {epoch_ids} are PARTIALLY applied on "
                        f"{self.root}: atomic epoch groups must not "
                        "straddle another writer's groupings"
                    )

            key_cols = m["key_cols"]
            ver_col = m["version_col"]
            missing = [c for c in m["key_cols"] if c not in batch.columns]
            if missing:
                raise ValueError(
                    f"batch is missing key column(s) {missing}; table key is {m['key_cols']}"
                )
            if mode == "merge" and m["version_col"] is not None and m["version_col"] not in batch.columns:
                raise ValueError(f"merge batch is missing version column {m['version_col']!r}")
            if reduce in ("partial", "aggregate"):
                if m.get("merge_strategy", "cow") != "cow":
                    raise ValueError(
                        f"reduce={reduce!r} requires a COW table — MOR delta files fold "
                        "with LWW at read time, which would drop inherited columns"
                    )
                if m["version_col"] is None:
                    raise ValueError(f"reduce={reduce!r} requires a version column")
            if reduce == "aggregate" and m.get("agg_spec") is None:
                raise ValueError(
                    "reduce='aggregate' requires agg_spec bound at create()"
                )
            has_op = "op" in batch.columns
            skip = {"op", *carry_cols}
            data_fields = [f for f in batch.schema.fields if f.name not in skip]
            schema = self._evolve_if_needed(spark, m, T.StructType(data_fields))

            # align data columns to the (possibly evolved) table schema,
            # carrying `op` and any carry_cols through as trailing columns
            batch_fields = {f.name: f for f in batch.schema.fields}
            align_target = T.StructType(
                schema.fields
                + ([T.StructField("op", T.StringType(), True)] if has_op else [])
                + [
                    T.StructField(c, batch_fields[c].dataType, True)
                    for c in carry_cols
                ]
            )
            # no cache: the lineage agg only references (key, version) so
            # Catalyst prunes everything else from its scan; caching the
            # full payload costs more than the second pruned scan.
            # Callers that validate/enrich upstream pass `lineage_df`
            # (the raw key+version projection) so this pre-pass prunes
            # all the way down to two thin parquet columns instead of
            # re-running their pipeline (whose payload-referencing
            # filters would drag the fat columns into the scan).
            aligned = self._with_bucket(align_to_schema(batch, align_target), m)
            lin_src = (
                self._with_bucket(lineage_df, m) if lineage_df is not None else aligned
            )

            # lineage before the reduce: per-bucket lsn range + row count
            lineage_agg = [F.count(F.lit(1)).alias("rows_applied")]
            if ver_col is not None:
                lineage_agg += [
                    F.min(ver_col).alias("lsn_min"),
                    F.max(ver_col).alias("lsn_max"),
                ]
            def _json_safe(v):
                # version columns may be ints (lsn) or timestamps (cursor)
                if v is None or isinstance(v, (int, float, str)):
                    return v
                return str(v)

            def _lineage_rows(collected) -> list[dict]:
                return [
                    {
                        "epoch_id": eid,
                        "partition_id": int(r[_BUCKET_COL]),
                        "lsn_min": (_json_safe(r["lsn_min"]) if ver_col else None),
                        "lsn_max": (_json_safe(r["lsn_max"]) if ver_col else None),
                        "rows_applied": int(r["rows_applied"]),
                    }
                    for r in collected
                ]

            is_mor_merge = mode == "merge" and m.get("merge_strategy", "cow") == "mor"
            lineage_job = lin_src.groupBy(_BUCKET_COL).agg(*lineage_agg)
            if is_mor_merge:
                # MOR never reads existing data, so nothing in the main
                # job's PLAN depends on the lineage result — run the
                # lineage job on a background thread, concurrent with
                # the merge write, and join before assembling the
                # manifest. (COW needs `touched` up front to prune the
                # existing-bucket read.)
                holder: dict = {}

                def _lineage_bg() -> None:
                    try:
                        holder["rows"] = lineage_job.collect()
                    except BaseException as e:  # surfaced after join()
                        holder["err"] = e

                t = threading.Thread(target=_lineage_bg)
                t.start()
                lineage = None
            else:
                lineage = _lineage_rows(lineage_job.collect())
                touched = sorted({l["partition_id"] for l in lineage})
            if lineage is not None and not touched:
                m["operation"] = mode
                m["epoch_id"] = m_eid
                m["lineage"] = []
                for e in epoch_ids:
                    m["applied_epochs"][e] = base + 1
                if stage is not None:
                    self._write_staged(stage, m, base)
                    return MergeStats(eid, -1, 0, 0, 0)
                try:
                    v = self._commit(m, base)
                    return MergeStats(eid, v, 0, 0, 0)
                except CommitConflict:
                    _conflict_backoff(attempt)
                    continue

            if mode == "append":
                out = aligned.drop("op") if has_op else aligned
                new_files = self._write_bucketed(_by_bucket(out, m), m, base + 1)
                buckets = dict(m["buckets"])
                for b, files in new_files.items():
                    buckets[b] = buckets.get(b, []) + files
                rows_up = sum(l["rows_applied"] for l in lineage)
                rows_del = 0
            else:
                src = (aligned if has_op else aligned.withColumn("op", F.lit("U"))).withColumn(
                    "_src", F.lit(1)
                )
                # merge-on-read reduces the batch alone and APPENDS the
                # winners as delta files — it never reads or rewrites
                # existing data, so ingest is O(batch) no matter how big
                # the table is; readers fold deltas (read()/compact()).
                # Copy-on-write folds the touched buckets' live rows in.
                if not is_mor_merge and any(m["buckets"].get(str(b)) for b in touched):
                    # tombstones re-enter the reduce as op='D' rows so a
                    # late-arriving OLDER update loses to them
                    existing = (
                        self._with_bucket(self._read_buckets(spark, m, touched, schema), m)
                        .withColumn(
                            "op",
                            F.when(
                                F.coalesce(F.col(_DELETED_COL), F.lit(False)), F.lit("D")
                            ).otherwise(F.lit(None).cast("string")),
                        )
                        .drop(_DELETED_COL, "_cv")
                        .withColumn("_src", F.lit(0))
                    )
                    for c in carry_cols:  # existing rows carry nothing
                        existing = existing.withColumn(
                            c, F.lit(None).cast(batch_fields[c].dataType)
                        )
                    combined = existing.unionByName(src)
                else:
                    # empty target: unioning a LocalRelation measurably
                    # slows the whole plan — skip it
                    combined = src
                # one explicit exchange on the bucket columns
                # (`_by_bucket`): the aggregation below reuses it (its
                # ClusteredDistribution over the key is satisfied), and
                # because the bucket function IS Spark's hash
                # partitioning and the partition count divides
                # n_buckets, each bucket lands whole in one partition —
                # the write then needs no further shuffle. Adaptive
                # execution never coalesces a REPARTITION_BY_NUM
                # exchange, so this holds with AQE on.
                combined = _by_bucket(combined, m)
                # LWW as max_by aggregation over that exchange: the only
                # reduce on the write path, so the batch needs no
                # separate pre-dedup pass. Its partial aggregate runs
                # AFTER the bucket exchange, so a hot key's rows all
                # cross the shuffle to one bucket (no pre-shuffle
                # combine here, unlike standalone lww_reduce_agg).
                if reduce == "partial":
                    # per-column last-non-null fold; the existing live
                    # row re-enters as one non-delete event at the row's
                    # stored version (op=null there, so ~is_del holds),
                    # the tombstone as the delete cut. Same single
                    # exchange + aggregate shape as the LWW branch.
                    from airbyte_destination_spark.operators.dedup import (
                        partial_update_reduce,
                    )

                    winners = partial_update_reduce(
                        combined.drop(_BUCKET_COL), key_cols, ver_col,
                        tiebreak_cols=["_src", *(tiebreak_cols or [])],
                    )
                    # _bucket is key-functional — recompute it rather
                    # than letting the per-column fold null it on
                    # tombstones (adds a column; the agg's hash(key)
                    # partitioning from the repartition above survives)
                    winners = self._with_bucket(winners, m)
                elif reduce == "aggregate":
                    # per-column declared-aggregate fold (SummingMergeTree
                    # shape); the repartition above is the ONE exchange —
                    # cuts, join and fold are all key-clustered off it
                    from airbyte_destination_spark.operators.dedup import (
                        aggregate_reduce,
                    )

                    winners = aggregate_reduce(
                        combined.drop(_BUCKET_COL), key_cols, ver_col,
                        agg_spec=m["agg_spec"],
                        tiebreak_cols=["_src", *(tiebreak_cols or [])],
                    )
                    winners = self._with_bucket(winners, m)
                else:
                    # order (version, _src, tiebreak...): batch rows
                    # (_src=1) beat the stored row at an equal version
                    other = [c for c in combined.columns if c not in key_cols]
                    ord_fields = ([F.col(ver_col)] if ver_col is not None else []) + [
                        F.col(c) for c in ["_src", *(tiebreak_cols or [])]
                    ]
                    winners = (
                        combined.groupBy(*key_cols)
                        .agg(
                            F.max_by(
                                F.struct(*[F.col(c) for c in other]), F.struct(*ord_fields)
                            ).alias("_w")
                        )
                        .select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in other])
                    )
                if post_reduce is not None:
                    winners = post_reduce(winners)
                # keep delete winners as tombstone rows (versioned via
                # their version column, payload nulled)
                final = winners.withColumn(
                    _DELETED_COL,
                    F.coalesce(F.col("op") == F.lit("D"), F.lit(False)),
                ).drop("_src", "op", *carry_cols)
                buckets = dict(m["buckets"])
                if is_mor_merge:
                    try:
                        new_files = self._write_bucketed(final, m, base + 1)
                    finally:
                        # always reap the background lineage job — a failed
                        # write must not orphan the thread
                        t.join()
                    if "err" in holder:
                        raise holder["err"]
                    lineage = _lineage_rows(holder["rows"])
                    touched = sorted({l["partition_id"] for l in lineage})
                    for b, files in new_files.items():
                        buckets[b] = buckets.get(b, []) + files
                else:
                    new_files = self._write_bucketed(final, m, base + 1)
                    for b in touched:
                        buckets[str(b)] = new_files.get(str(b), [])
                rows_up = sum(l["rows_applied"] for l in lineage)
                rows_del = 0  # refined by caller via counts if needed

            m["buckets"] = buckets
            m["operation"] = mode
            m["epoch_id"] = m_eid
            m["lineage"] = lineage
            for e in epoch_ids:
                m["applied_epochs"][e] = base + 1
            if stage is not None:
                self._write_staged(stage, m, base)
                return MergeStats(
                    eid, -1, rows_up, rows_del, len(touched), lineage=lineage
                )
            try:
                v = self._commit(m, base)
                return MergeStats(
                    eid, v, rows_up, rows_del, len(touched), lineage=lineage
                )
            except CommitConflict:
                if mode == "append" or is_mor_merge:
                    # delta-append commits rebase in metadata instead of
                    # re-running the write (see _rebase_append_commit)
                    rb = self._rebase_append_commit(
                        m, new_files, epoch_id, mode, lineage, rows_up, rows_del
                    )
                    if rb is not None:
                        return rb
                _conflict_backoff(attempt)
                continue
        raise CommitConflict(
            f"could not commit to {self.root} after {_COMMIT_ATTEMPTS} attempts"
        )
