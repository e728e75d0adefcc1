"""Last-writer-wins reduce over a change batch (O11) — window and aggregate.

Semantics: per key, keep the single row with the greatest version
(ReplacingMergeTree(Ver) as configured by the reference at
/root/reference/internal/connector/destination.go:337-351; proven by its
e2e fixture where the later `updated_at` wins, e2e/main_test.go:86-105).

Two physical strategies:

- `lww_reduce`: one shuffle, window row_number. Catalyst turns it into
  a single hash exchange + in-partition sort, whole-stage-codegen'd;
  the reference the other reduces are tested against.

- `lww_reduce_agg`: max_by hash aggregation with map-side partial
  combine, so a hot key contributes at most one row per upstream
  partition to the shuffle (SURVEY O17). The lake merge
  (lake/table.py) folds batch and stored rows with the same max_by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order(version_cols: list[str], tiebreak_cols: list[str]) -> list:
    cols = [F.col(c).desc_nulls_last() for c in version_cols]
    cols += [F.col(c).desc_nulls_last() for c in tiebreak_cols]
    return cols


def lww_reduce(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Keep, per key, the row with the greatest (version, tiebreak)."""
    w = Window.partitionBy(*key_cols).orderBy(*_order(version_cols, tiebreak_cols or []))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def lww_reduce_agg(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """LWW reduce as a hash aggregation: max_by(row, (version, tiebreak)).

    The scale path. Unlike the window variant (which shuffles EVERY row
    to its key's partition, then sorts), an aggregate gets map-side
    partial combine: each input partition pre-reduces its local rows per
    key before the shuffle, so a hot key contributes at most one row per
    upstream partition to the exchange. Partial aggregation is built-in
    salting — no manual two-phase needed — and the whole thing is one
    Exchange + HashAggregate pair under whole-stage codegen.

    Struct comparison in Spark is lexicographic field-by-field, so
    max_by over struct(version..., tiebreak...) picks the same winner
    the window variant does.
    """
    other = [c for c in df.columns if c not in key_cols]
    ord_cols = [F.col(c) for c in version_cols] + [F.col(c) for c in (tiebreak_cols or [])]
    payload = F.struct(*[F.col(c) for c in other])
    agg = df.groupBy(*key_cols).agg(F.max_by(payload, F.struct(*ord_cols)).alias("_w"))
    return agg.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in other])


def partial_update_reduce(
    df: DataFrame,
    key_cols: list[str],
    version_col: str,
    tiebreak_cols: list[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Partial-image update reduce — the third CDC merge engine next to
    LWW and append (the Paimon `partial-update` / Debezium
    partial-column-image shape): an update event carries NULL for every
    column it did not touch, and the final row coalesces each column
    independently to its LAST NON-NULL write by version order. Deletes
    cut history: a column write older than the key's newest delete never
    survives into a post-delete revival.

    Semantics per key, with D = max order among delete events (if any):
      - the key is LIVE iff some non-delete event orders above D;
      - `version_col` = the greatest non-delete order when live, else D
        (the tombstone's version — same convention as the LWW merge);
      - every other column = value of the greatest-order non-delete
        event where it is non-null, and only if that order is above D;
      - the returned `op` column is 'U' for live keys, 'D' for dead ones
        (callers keeping tombstones read it; final-state callers filter).

    Physical shape: ONE hash exchange + one aggregate. Per column the
    candidate is `max_by(struct(value, order), order-if-non-null)` —
    max_by skips rows whose ordering key is NULL, so "last non-null" is
    a plain aggregate with map-side partial combine (hot keys pre-reduce
    per upstream partition exactly like `lww_reduce_agg`; no window, no
    self-join, no per-column shuffle). The delete cut is applied AFTER
    the aggregate by comparing each column candidate's order struct to
    the delete's — driver-free, still one shuffle.

    Limitations (shared with the engines this models): an update cannot
    SET a column to NULL (null means "not written"), and cross-batch use
    (lake/table.py merge(reduce="partial")) requires batches applied in
    version order per key — the stored row collapses per-column
    provenance to the row's version, so an OLDER out-of-order batch
    would compare against the row version, not the column's true write
    version. The ingest pipeline's ordered lsn-range epochs satisfy
    this.
    """
    if version_col is None:
        raise ValueError("partial_update_reduce requires a version column")
    has_op = op_col in df.columns
    ord_struct = F.struct(
        F.col(version_col), *[F.col(c) for c in (tiebreak_cols or [])]
    )
    is_del = (
        F.coalesce(F.col(op_col) == F.lit("D"), F.lit(False)) if has_op else F.lit(False)
    )
    skip = {*key_cols, version_col, op_col, *(tiebreak_cols or [])}
    data_cols = [c for c in df.columns if c not in skip]
    aggs = [
        F.max(F.when(~is_del, ord_struct)).alias("_live"),
        F.max(F.when(is_del, ord_struct)).alias("_dead"),
    ]
    for c in data_cols:
        aggs.append(
            F.max_by(
                F.struct(F.col(c).alias("v"), ord_struct.alias("o")),
                F.when(~is_del & F.col(c).isNotNull(), ord_struct),
            ).alias(f"_p_{c}")
        )
    g = df.groupBy(*key_cols).agg(*aggs)
    alive = F.col("_live").isNotNull() & (
        F.col("_dead").isNull() | (F.col("_live") > F.col("_dead"))
    )
    sel: list = [F.col(k) for k in key_cols]
    sel.append(
        F.when(alive, F.col(f"_live.{version_col}"))
        .otherwise(F.col(f"_dead.{version_col}"))
        .alias(version_col)
    )
    for c in data_cols:
        sel.append(
            F.when(
                alive
                & (F.col("_dead").isNull() | (F.col(f"_p_{c}.o") > F.col("_dead"))),
                F.col(f"_p_{c}.v"),
            ).alias(c)
        )
    sel.append(F.when(alive, F.lit("U")).otherwise(F.lit("D")).alias(op_col))
    return g.select(*sel)


AGG_FNS = ("sum", "min", "max", "last_non_null", "bool_or", "bool_and")


def aggregate_reduce(
    df: DataFrame,
    key_cols: list[str],
    version_col: str,
    agg_spec: dict[str, str],
    tiebreak_cols: list[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Aggregation merge engine — the fourth reduce next to LWW, append
    and partial (the ClickHouse SummingMergeTree / Paimon `aggregation`
    merge-engine shape): each data column folds with a declared
    aggregate function instead of last-writer-wins. Functions: `sum`,
    `min`, `max`, `bool_or`, `bool_and`, `last_non_null`; columns not in
    `agg_spec` default to `last_non_null` (the partial-update fold), so
    this engine strictly generalizes `partial_update_reduce`. `count`
    is deliberately ABSENT: a stored count re-entering the fold would
    contribute 1, not itself — model counts as `sum` over a 1 column.

    Delete semantics match the partial engine: a delete cuts all
    contributions ordering at or below it; the key is live iff some
    non-delete event orders above the newest delete; `version_col` is
    the greatest live order (else the tombstone's); dead keys return
    null data columns and op='D'.

    Physical shape: the delete CUT cannot be applied after a sum/min
    (the aggregate loses which contributions preceded the delete), so
    it is joined in BEFORE the fold — but from the same exchange:
      1. cuts = per-key max delete order, aggregated over DELETE ROWS
         ONLY (deletes are a sliver of a change batch);
      2. shuffle-hash left join of the log onto cuts, dropping cut
         contributions;
      3. one groupBy with the declared per-column aggregates (plain
         commutative aggs -> map-side partial combine absorbs skew).
    Total: one full-data exchange + one deletes-only sliver exchange —
    Catalyst pushes the delete filter below the cuts exchange and
    prunes its columns to (key, order), and neither the join (both
    children key-clustered) nor the final fold adds a shuffle
    (plan-asserted in tests/test_aggregate_engine.py). Cross-batch
    composition: sum/min/max/bool_*
    are associative over the stored row re-entering at the row version,
    so ordered epochs fold exactly (same invariant as the partial
    engine; pytest-pinned).
    """
    if version_col is None:
        raise ValueError("aggregate_reduce requires a version column")
    for c, fn in agg_spec.items():
        if fn not in AGG_FNS:
            raise ValueError(f"unknown aggregate fn {fn!r} for column {c!r}")
        if c not in df.columns:
            raise ValueError(f"agg_spec column {c!r} not in batch")
        if c in key_cols or c == version_col:
            raise ValueError(f"agg_spec column {c!r} is a key/version column")
    has_op = op_col in df.columns
    ord_struct = F.struct(
        F.col(version_col), *[F.col(c) for c in (tiebreak_cols or [])]
    )
    is_del = (
        F.coalesce(F.col(op_col) == F.lit("D"), F.lit(False)) if has_op else F.lit(False)
    )
    skip = {*key_cols, version_col, op_col, *(tiebreak_cols or [])}
    data_cols = [c for c in df.columns if c not in skip]
    df = df.withColumn("_is_del", is_del).withColumn("_ord", ord_struct)
    cuts = (
        df.where(F.col("_is_del"))
        .groupBy(*key_cols)
        .agg(F.max("_ord").alias("_cut"))
    )
    # keep: every delete (feeds _dead) + live contributions above the cut
    kept = (
        df.join(cuts.hint("shuffle_hash"), key_cols, "left")
        .where(
            F.col("_is_del")
            | F.col("_cut").isNull()
            | (F.col("_ord") > F.col("_cut"))
        )
    )
    live = ~F.col("_is_del")
    aggs = [
        F.max(F.when(live, F.col("_ord"))).alias("_live"),
        F.max(F.when(F.col("_is_del"), F.col("_ord"))).alias("_dead"),
    ]
    for c in data_cols:
        fn = agg_spec.get(c, "last_non_null")
        v = F.when(live, F.col(c))
        if fn == "sum":
            a = F.sum(v)
        elif fn == "min":
            a = F.min(v)
        elif fn == "max":
            a = F.max(v)
        elif fn == "bool_or":
            a = F.max(v.cast("boolean"))
        elif fn == "bool_and":
            a = F.min(v.cast("boolean"))
        else:  # last_non_null — kept rows are already above the cut
            a = F.max_by(
                F.col(c), F.when(live & F.col(c).isNotNull(), F.col("_ord"))
            )
        aggs.append(a.alias(f"_a_{c}"))
    g = kept.groupBy(*key_cols).agg(*aggs)
    alive = F.col("_live").isNotNull()  # kept live rows are above any cut
    sel: list = [F.col(k) for k in key_cols]
    sel.append(
        F.when(alive, F.col(f"_live.{version_col}"))
        .otherwise(F.col(f"_dead.{version_col}"))
        .alias(version_col)
    )
    for c in data_cols:
        sel.append(F.when(alive, F.col(f"_a_{c}")).alias(c))
    sel.append(F.when(alive, F.lit("U")).otherwise(F.lit("D")).alias(op_col))
    return g.select(*sel)
