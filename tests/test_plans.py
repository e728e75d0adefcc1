"""Plan-shape assertions: the engine's scale claims, checked in CI.

Each test pins a property of the physical plan that matters at 100 TB:
pushdown reaching the parquet scan, the merge using exactly one shuffle,
the broadcast join staying broadcast, codegen covering the hot path.
"""

import pytest
from pyspark.sql import functions as F

from airbyte_destination_spark.plans import (
    count_exchanges,
    has_broadcast,
    pushed_filters,
    whole_stage_codegen_ids,
)

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id")
    )
    pf = pushed_filters(df)
    assert "event_type" in pf, f"filter not pushed: {pf!r}"


def test_lww_agg_reduce_is_single_exchange(spark):
    from airbyte_destination_spark.operators.dedup import lww_reduce_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = lww_reduce_agg(ev, ["user_id"], ["event_id"])
    assert count_exchanges(out) == 1, out._jdf.queryExecution().executedPlan().toString()


def test_lww_window_costs_one_exchange_too(spark):
    from airbyte_destination_spark.operators.dedup import lww_reduce

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = lww_reduce(ev, ["user_id"], ["event_id"])
    assert count_exchanges(out) == 1


def test_agg_reduce_has_partial_aggregation(spark):
    """The max_by reduce must show a partial (map-side) HashAggregate
    before the exchange — that partial combine IS the skew handling."""
    from airbyte_destination_spark.operators.dedup import lww_reduce_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = lww_reduce_agg(ev, ["user_id"], ["event_id"])._jdf.queryExecution().executedPlan().toString()
    # struct-valued max_by lowers to SortAggregate; the property that
    # matters is the partial_max_by BEFORE the exchange
    assert "partial_max_by" in plan, plan
    assert plan.index("partial_max_by") > plan.index("Exchange") or plan.count(
        "Aggregate"
    ) >= 2, plan


def test_cosine_topk_broadcasts_queries(spark):
    from airbyte_destination_spark.functions.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_topk(emb, emb.where("vec_id < 5"), k=3)
    assert has_broadcast(out)


_MERGE_SCHEMA = "doc_id string, tokens array<int>, change_lsn long, op string"


def _merge_table(spark, root, strategy, n_buckets=4):
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("change_lsn", T.LongType(), False),
        ]
    )
    t = LakeTable(str(root / strategy))
    t.create(
        schema, ["doc_id"], "change_lsn", n_buckets=n_buckets, merge_strategy=strategy
    )
    return t


def _bucket_of(k, n_buckets):
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake.hashing import key_hashes

    return key_hashes(T.StringType())(k)[0] % n_buckets


def _assert_one_new_file_per_bucket(spark, t, version, buckets=None):
    """Each bucket written at `version` got exactly one file, and every
    file holds only its own bucket's keys (routed by lake/hashing.py,
    which tests/test_hashing.py pins to Spark's bucket hash). `buckets`:
    the bucket ids the op wrote (default: every bucket)."""
    import os

    import pyarrow.parquet as pq

    m = t.manifest(version)
    written = {
        bk: fs
        for bk, files in m["buckets"].items()
        if (fs := [e for e in files if e["cv"] == version])
    }
    assert all(len(fs) == 1 for fs in written.values()), written
    want = set(range(m["n_buckets"])) if buckets is None else set(buckets)
    assert {int(bk) for bk in written} == want
    for bk, files in written.items():
        keys = pq.read_table(
            os.path.join(t.root, files[0]["path"]), columns=["doc_id"]
        ).column("doc_id").to_pylist()
        assert keys and {_bucket_of(k, m["n_buckets"]) for k in keys} == {int(bk)}


def test_merge_plan_single_payload_shuffle(spark, tmp_path):
    """End-to-end merge: exactly one shuffle of the payload (the
    key exchange that doubles as bucket placement), verified by bucket-
    aligned output files being written without a second exchange.
    `partitionBy` writes by value, so a file holding only its bucket's
    keys holds whatever the partitioning; one new file per touched
    bucket is what shows each bucket landed whole in one partition
    (partition = bucket mod the partition count, which divides
    n_buckets: `_by_bucket`). Checked for a COW merge onto existing
    data, MOR merges and a compaction, under the session's adaptive
    execution setting."""
    b1 = spark.createDataFrame(
        [(f"d{i}", [i], i, "I") for i in range(100)], _MERGE_SCHEMA
    )
    b2 = spark.createDataFrame(
        [(f"d{i}", [i * 2], 100 + i, "U") for i in range(0, 150, 3)], _MERGE_SCHEMA
    )
    cow = _merge_table(spark, tmp_path, "cow")
    cow.merge(b1, epoch_id="e0")
    _assert_one_new_file_per_bucket(spark, cow, cow.current_version())
    cow.merge(b2, epoch_id="e1")  # rewrites every bucket over existing rows
    _assert_one_new_file_per_bucket(spark, cow, cow.current_version())

    mor = _merge_table(spark, tmp_path, "mor")
    for e, b in enumerate([b1, b2]):
        mor.merge(b, epoch_id=f"e{e}")
        _assert_one_new_file_per_bucket(spark, mor, mor.current_version())
    v = mor.compact(spark, min_files=2)
    assert v is not None
    _assert_one_new_file_per_bucket(spark, mor, v)
    assert all(len(fs) == 1 for fs in mor.manifest(v)["buckets"].values())


def test_write_partitions_divisor_rule():
    """The bucketed write's task count is the smallest divisor of
    n_buckets at least min(shuffle partitions, n_buckets)."""
    from airbyte_destination_spark.lake.table import _write_partitions

    cases = {
        (32, 4): 4, (32, 8): 8, (32, 200): 32, (32, 5): 8, (16, 8): 8,
        (12, 8): 12, (12, 4): 4, (12, 5): 6, (11, 8): 11, (11, 4): 11,
        (11, 200): 11, (9, 2): 3, (9, 4): 9, (6, 4): 6, (3, 4): 3,
        (2, 4): 2, (1, 4): 1, (7, 1): 1,
    }
    for (n, p), g in cases.items():
        assert _write_partitions(n, p) == g, (n, p)
    for n in range(1, 65):
        for p in range(1, 70):
            g = _write_partitions(n, p)
            lo = min(p, n)
            assert n % g == 0 and g >= lo, (n, p, g)
            assert not any(n % d == 0 for d in range(lo, g)), (n, p, g)


@pytest.mark.parametrize("n_buckets", [3, 11, 12, 16])
def test_every_writer_writes_one_file_per_touched_bucket(spark, tmp_path, n_buckets):
    """With n_buckets below (3) and above (11, 12, 16) the session's
    shuffle partitions (4, or 8 once a `get_spark()` call with its
    defaults has reset them) — primes, a multiple and a power of two —
    every writer still writes exactly one file per bucket it touches,
    holding only that bucket's keys: COW and MOR merges, append,
    compact, compact_tiered, purge_tombstones, overwrite_where and
    rebucket."""
    rows = [
        [(f"d{i}", [i], i, "I") for i in range(120)],
        [(f"d{i}", [i * 2], 200 + i, "U" if i % 4 else "D") for i in range(0, 160, 3)],
        [(f"d{i}", [i * 3], 400 + i, "U") for i in range(1, 120, 2)],
    ]
    b1, b2, b3 = (spark.createDataFrame(r, _MERGE_SCHEMA) for r in rows)

    def buckets_of(keys):
        return {_bucket_of(k, n_buckets) for k in keys}

    def live_buckets(t, where="true"):
        return buckets_of(r.doc_id for r in t.read(spark).where(where).collect())

    cow = _merge_table(spark, tmp_path, "cow", n_buckets)
    for e, (b, r) in enumerate(zip([b1, b2], rows)):
        cow.merge(b, epoch_id=f"e{e}")
        _assert_one_new_file_per_bucket(
            spark, cow, cow.current_version(), buckets_of(k for k, *_ in r)
        )
    dirty = live_buckets(cow, "change_lsn < 10")
    cow.overwrite_where(spark, "change_lsn < 10")
    _assert_one_new_file_per_bucket(
        spark, cow, cow.current_version(), dirty & live_buckets(cow)
    )

    app = _merge_table(spark, tmp_path / "append", "cow", n_buckets)
    app.append(b1.drop("op"))
    _assert_one_new_file_per_bucket(spark, app, app.current_version())

    mor = _merge_table(spark, tmp_path, "mor", n_buckets)
    for e, (b, r) in enumerate(zip([b1, b2, b3], rows)):
        mor.merge(b, epoch_id=f"e{e}")
        _assert_one_new_file_per_bucket(
            spark, mor, mor.current_version(), buckets_of(k for k, *_ in r)
        )
    before = mor.manifest()["buckets"]
    res = mor.compact_tiered(spark, min_run=3)
    assert res is not None and res["buckets"] > 0
    after = mor.manifest()["buckets"]
    merged = {int(b) for b in after if after[b] != before[b]}
    assert len(merged) == res["buckets"]
    _assert_one_new_file_per_bucket(spark, mor, res["version"], merged)
    mor.merge(b3, epoch_id="e3")
    todo = {int(b) for b, fs in mor.manifest()["buckets"].items() if len(fs) >= 2}
    v = mor.compact(spark, min_files=2)
    _assert_one_new_file_per_bucket(spark, mor, v, todo)
    want = {r.doc_id: r.change_lsn for r in mor.read(spark).collect()}
    tombstoned = buckets_of(k for k, _, _, op in rows[1] if op == "D")
    v = mor.purge_tombstones(spark)
    _assert_one_new_file_per_bucket(spark, mor, v, tombstoned & live_buckets(mor))
    n2 = {3: 2, 11: 16, 12: 11, 16: 12}[n_buckets]
    v = mor.rebucket(spark, n2)
    _assert_one_new_file_per_bucket(spark, mor, v)
    assert {r.doc_id: r.change_lsn for r in mor.read(spark).collect()} == want


def test_compact_plans_one_exchange(spark, tmp_path, monkeypatch):
    """A MOR compaction folds and writes over ONE exchange: the fold's
    key clustering reuses the bucket placement (`_by_bucket`), in
    `_write_partitions` tasks: as many as the session's shuffle
    partitions, on a table with twice as many buckets."""
    from airbyte_destination_spark.lake import table as table_mod
    from airbyte_destination_spark.plans import executed_plan

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t = _merge_table(spark, tmp_path, "mor", n_buckets=2 * parts)
    for e in range(2):
        t.merge(
            spark.createDataFrame(
                [(f"d{i}", [i], 10 * e + i, "U") for i in range(64)], _MERGE_SCHEMA
            ),
            epoch_id=f"e{e}",
        )
    written = []
    ids = table_mod._with_field_ids

    def record(df, m):
        written.append(df)
        return ids(df, m)

    monkeypatch.setattr(table_mod, "_with_field_ids", record)
    assert t.compact(spark, min_files=2) is not None
    (df,) = written
    plan = executed_plan(df)
    assert count_exchanges(df) == 1, plan
    g = table_mod._write_partitions(2 * parts, parts)
    assert g == parts and f", {g}), REPARTITION_BY_NUM" in plan, plan


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_merge_plans_under_session_aqe_setting(spark, tmp_path, strategy):
    """The merge changes no session conf: a query planned during it (here
    its own post_reduce) sees the session's adaptive execution setting."""
    seen = []

    def post_reduce(winners):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return winners

    t = _merge_table(spark, tmp_path, strategy)
    b = spark.createDataFrame([("a", [1], 1, "I")], _MERGE_SCHEMA)
    t.merge(b, epoch_id="e", post_reduce=post_reduce)
    assert seen == ["true"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_codegen_covers_enrichment(spark):
    from airbyte_destination_spark.functions.enrich import enrich_records

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select(
            F.lit("ns").alias("namespace"),
            F.lit("s").alias("stream"),
            F.col("event_id").alias("change_lsn"),
            F.col("event_id").alias("emitted_at"),
        )
    )
    out = enrich_records(ev)
    assert whole_stage_codegen_ids(out) >= 1


def test_record_index_has_no_single_partition_exchange(spark):
    """The Airbyte record index must stay partition-parallel: the
    round-1 global Window.orderBy pulled every record through one task
    (a 100 TB non-starter); the two-pass offset design must show NO
    SinglePartition exchange and still produce exactly 0..n-1."""
    from airbyte_destination_spark import protocol as P
    from airbyte_destination_spark.destination import (
        _indexed_records,
        _validated_offsets,
    )

    typed = spark.range(0, 5000, 1, 8).selectExpr(
        f"'{P.TYPE_RECORD}' AS type", "CAST(id AS STRING) AS value"
    )
    offsets, n = _validated_offsets(typed)
    assert n == 5000 and len(offsets) == 8
    idx = _indexed_records(typed, offsets)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    got = sorted(r._record_index for r in idx.select("_record_index").collect())
    assert got == list(range(5000))


def test_lsh_bucket_cap_bounds_degenerate_buckets(spark):
    """A corpus where EVERY doc shares one band bucket (identical text)
    must produce zero candidate pairs once the bucket exceeds the cap —
    the O(b^2) blowup guard — while normal corpora are unaffected."""
    from airbyte_destination_spark.functions.textdedup import minhash_lsh_pairs

    clones = spark.createDataFrame(
        [(i, "same text everywhere for all docs") for i in range(40)],
        "doc_id long, text string",
    )
    capped = minhash_lsh_pairs(clones, n_hashes=8, bands=4, max_bucket=10)
    assert capped.count() == 0
    uncapped = minhash_lsh_pairs(clones, n_hashes=8, bands=4, max_bucket=10_000)
    assert uncapped.count() == 40 * 39 // 2


def test_table_changes_plan_has_no_serial_stage(spark, tmp_path):
    """The CDF fold must stay partition-parallel: no SinglePartition
    exchange, no Cartesian product — at 100 TB both snapshots' files
    are large and the plan must be one key-partitioned aggregate, for a
    window across a schema change as for a plain one."""
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "t"))
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
        spark.createDataFrame([(f"k{i}", [i], i, "U") for i in range(50)], bs),
        epoch_id="p-0",
    ).version
    v1 = t.merge(
        spark.createDataFrame([("k1", [99], 100, "U")], bs), epoch_id="p-1"
    ).version
    t.add_column("lang", T.StringType(), initial_default="en")
    t.merge(
        spark.createDataFrame(
            [("k2", [7], 101, "U", "de")], bs + ", lang string"
        ),
        epoch_id="p-2",
    )
    for v_from, v_to in ((v0, v1), (v0, None)):
        plan = (
            t.table_changes(spark, v_from=v_from, v_to=v_to)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_connected_components_iteration_plan(spark):
    """One CC iteration = key joins + min-aggregate; never a Cartesian
    product or a single-partition funnel."""
    from airbyte_destination_spark.functions.textdedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_tfidf_docfreq_join_not_broadcast(spark):
    """The docfreq side of tfidf_topk is vocabulary-sized (10^8-10^9
    distinct tokens at web scale) — it must NEVER be planned as a
    broadcast, whatever the stats estimate says. The shuffle_hash hint
    pins a shuffled hash join."""
    from airbyte_destination_spark.functions.text import tfidf_topk
    from airbyte_destination_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = executed_plan(tfidf_topk(docs, k=3))
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_tokenize_vocab_join_not_broadcast(spark):
    """The vocabulary side of tokenize_freq_vocab is 10^8+ rows at web
    scale — the words->vocab token-assignment join must be a shuffled
    hash join on the word, never a broadcast."""
    from airbyte_destination_spark.functions.text import tokenize_freq_vocab
    from airbyte_destination_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = executed_plan(tokenize_freq_vocab(docs))
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_freq_vocab_rank_has_no_single_partition_window(spark):
    """The tid ranking runs over the vocabulary aggregate — 10^8+ rows
    at web scale — so it must be the range-repartitioned two-pass rank
    (per-_pid windows), never an unpartitioned Window.orderBy that
    funnels the whole vocabulary through one task. And the rank must
    still equal the naive single-partition formulation."""
    from pyspark.sql import Window
    from airbyte_destination_spark.functions.text import freq_vocab
    from airbyte_destination_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = freq_vocab(docs)
    assert "SinglePartition" not in executed_plan(vocab), executed_plan(vocab)
    naive = (
        docs.selectExpr(
            "explode(split(lower(trim(text)), '\\\\s+')) AS w"
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "tid",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("w").asc())
            ),
        )
    )
    assert sorted(map(tuple, vocab.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_token_ngram_no_global_sort_before_topk(spark):
    """token_ngram_topk's per-doc lead() windows partition by doc_id —
    the only global ordering is the final k-row TakeOrdered, never a
    full-sort Exchange of the gram stream."""
    from airbyte_destination_spark.functions.text import token_ngram_topk
    from airbyte_destination_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = executed_plan(token_ngram_topk(docs, n=2, k=5))
    assert "BroadcastExchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_partial_update_reduce_single_exchange_with_partial_agg(spark):
    """The partial-image fold must keep the LWW reduce's physical shape:
    ONE hash exchange and a map-side partial aggregate before it (the
    per-column max_by folds are all null-skipping aggregates over the
    same grouping, so they share the one exchange and pre-reduce hot
    keys upstream exactly like lww_reduce_agg)."""
    from airbyte_destination_spark.operators.dedup import partial_update_reduce

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 3 != 0, F.col("event_type")).alias("event_type"),
        F.when(F.col("event_id") % 2 == 0, F.col("value")).alias("value"),
        F.when(F.col("event_type") == "purchase", F.lit("D")).alias("op"),
    )
    out = partial_update_reduce(ev, ["user_id"], "event_id")
    assert count_exchanges(out) == 1, out._jdf.queryExecution().executedPlan().toString()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan or "partial_max" in plan, plan


def test_zorder_key_stays_in_codegen(spark):
    """The Morton key is pure shift/and/or expression arithmetic: no
    Python UDF node may appear, and the projection stays inside a
    whole-stage-codegen span."""
    from airbyte_destination_spark.lake.zorder import zorder_key

    df = spark.read.parquet(f"{SF}/events.parquet").select(
        zorder_key([("event_id", 0.0, 1e6), ("user_id", 0.0, 1e4)]).alias("z")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert whole_stage_codegen_ids(df) >= 1


def test_bloom_build_shuffles_ids_only(spark, tmp_path):
    """The bloom build's exchange carries (hash, filename) — the key
    payload column must be projected away BEFORE the shuffle (ids-only,
    the textdedup discipline)."""
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable

    t = LakeTable(str(tmp_path / "b"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("payload", T.StringType(), True),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["doc_id"],
        "v",
        n_buckets=2,
    )
    t.merge(
        spark.createDataFrame(
            [(f"d{i}", "X" * 100, 1, "I") for i in range(50)],
            "doc_id string, payload string, v long, op string",
        ),
        epoch_id="e0",
    )
    m = t.manifest()
    paths = [
        f"{t.root}/{e['path']}" for fs in m["buckets"].values() for e in fs
    ]
    hashed = spark.read.parquet(*paths).select(
        F.xxhash64(F.col("doc_id")).alias("h"),
        F.input_file_name().alias("f"),
    )
    plan = hashed.groupBy("f").count()._jdf.queryExecution().executedPlan().toString()
    # the scan feeding the exchange must not read the payload column
    assert "payload" not in plan, plan


def test_dsir_vocab_join_not_broadcast(spark):
    """dsir_logratio's per-word model table is vocabulary-sized — the
    words->model join must be a shuffled hash join. The only broadcast
    allowed in the plan is the 1-row totals cross join (a
    BroadcastNestedLoopJoin over a scalar, like lm_perplexity's V)."""
    from airbyte_destination_spark.functions.sampling import dsir_logratio
    from airbyte_destination_spark.plans import executed_plan
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = executed_plan(dsir_logratio(docs, F.col("lang") == "en"))
    # the WORD-keyed model join is pinned shuffled; the final doc_id
    # left join is left to Catalyst (stats-sized, not hinted)
    assert "ShuffledHashJoin [w" in plan, plan
    assert "BroadcastHashJoin [w" not in plan, plan


def test_funnel_no_cartesian_and_stage_joins_on_id(spark):
    """funnel chains id-keyed joins whose small side is (id, ts) rows
    of funnel survivors — no cartesian product, no per-user event
    collection (no collect_list/sort_array aggregate in the plan)."""
    from airbyte_destination_spark.functions.metrics import funnel
    from airbyte_destination_spark.plans import executed_plan

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = executed_plan(funnel(ev, ["view", "click", "purchase"]))
    assert "CartesianProduct" not in plan, plan
    assert "collect_list" not in plan and "sort_array" not in plan, plan


def test_snapshot_sync_diff_is_one_join_no_branch_duplication(spark, tmp_path):
    """The resync diff must plan as exactly ONE key-keyed join with the
    unchanged-row filter on its output — not an upsert branch unioned
    with a delete branch (two probes over the same shuffle). With
    broadcast off (both sides are table-scale at 100 TB, so that is
    what Catalyst's stats would decide) it must degrade to a single
    SortMergeJoin FullOuter."""
    from pyspark.sql import types as T

    from airbyte_destination_spark.lake import LakeTable
    from airbyte_destination_spark.plans import executed_plan
    from airbyte_destination_spark.streaming.pipeline import (
        IngestConfig,
        _snapshot_diff,
        apply_change_batch,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("change_lsn", T.LongType(), False),
            T.StructField("kind", T.StringType(), True),
        ]
    )
    cfg = IngestConfig(key_cols=["doc_id"], n_buckets=4)
    table = LakeTable(str(tmp_path / "t"))
    table.create(schema, ["doc_id"], "change_lsn", n_buckets=4)
    rows = [(i, i, f"k{i}") for i in range(1, 9)]
    batch = spark.createDataFrame(rows, schema).withColumn("op", F.lit("U"))
    apply_change_batch(table, batch, "seed-0", cfg)

    snapshot = spark.createDataFrame(rows, schema)
    diff = _snapshot_diff(
        snapshot, table.read(spark), ["doc_id"], "change_lsn", delete_lsn=99
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = executed_plan(diff)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("SortMergeJoin") == 1, plan
    assert "FullOuter" in plan, plan
    assert "BroadcastHashJoin" not in plan and "Union" not in plan, plan


def test_pivot_daily_is_single_exchange(spark):
    """pivot_daily compiles to conditional aggregates over ONE day-keyed
    exchange — the builtin RelationalGroupedDataset.pivot plans two
    aggregates/exchanges plus a value-discovery collect job."""
    from airbyte_destination_spark.functions.metrics import pivot_daily

    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert count_exchanges(pivot_daily(ev)) == 1


def test_bpe_merge_round_single_data_exchange(spark):
    """One BPE merge round = ONE exchange over the word-keyed token
    stream: every window and the rebuild aggregation share the per-word
    hash partitioning (HashPartitioning(word) satisfies the
    groupBy(word, cnt) clustering), so Catalyst reuses the exchange."""
    from airbyte_destination_spark.functions.text import _bpe_merge_round

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ex = docs.select(
        F.lower(F.col("text")).alias("word"),
        F.lit(1).alias("cnt"),
        F.posexplode(F.split(F.lower("text"), "")).alias("pos", "tok"),
    )
    assert count_exchanges(_bpe_merge_round(ex, "e", "t")) == 1


def test_txn_epoch_plan_aggregates_before_the_window(spark):
    """The planner's unpartitioned running-sum window must consume TXN
    SUMMARIES (post-aggregate), never raw events: the single-partition
    exchange sits above a partial-aggregated groupBy, so the narrow
    stage carries one row per transaction."""
    from airbyte_destination_spark.plans import executed_plan
    from airbyte_destination_spark.streaming.txn import txn_epoch_plan

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("event_id").alias("change_lsn"),
        F.floor(F.col("event_id") / 7).alias("txn_id"),
    )
    plan = executed_plan(txn_epoch_plan(ev, max_records=450))
    # the SinglePartition exchange exists (the window) but a hash
    # exchange + partial aggregate run first, on the event stream
    assert "SinglePartition" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "partial_count" in plan or "partial_min" in plan, plan


def test_cms_state_is_one_scan_distinct_hashed(spark):
    """The count-min grid must cost ONE scan of the input, with the md5
    work done per DISTINCT value: an exact (group, value) count-
    aggregate runs FIRST (map-side combined, so the first exchange
    carries the combined distinct table, not the raw stream), the
    posexplode of the d hash indexes sits ABOVE that aggregate (hashing
    |distinct| rows, not |instances|), and the grid aggregate sums the
    weighted counts through a second, distinct-table-sized exchange.
    Round-5 shape: on a Zipf token stream this cuts md5 volume ~10x
    for an identical grid (equality pinned in test_sketch.py)."""
    from airbyte_destination_spark.functions.sketch import cms_state

    ev = spark.read.parquet(f"{SF}/events.parquet")
    st = cms_state(ev, "user_id", [])
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    # two exchanges: distinct-count, then grid — both map-side combined
    assert count_exchanges(st) == 2, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2x (partial+final)
    # the explode (Generate) runs above the first aggregate, not on the
    # scan: md5 per distinct value, never per instance
    gen_pos = plan.find("Generate")
    assert gen_pos != -1, plan
    assert "HashAggregate" in plan[gen_pos:], plan


def test_kmv_salted_topk_pushes_group_limit(spark):
    """The KMV stage-1 shuffle must carry a pre-limited top-k per salt
    (WindowGroupLimit below the exchange), so the exchange moves at
    most k rows per salt per map task — never the full distinct set."""
    from airbyte_destination_spark.functions.sketch import kmv_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet")
    sk = kmv_sketch(ev, "user_id", ["event_type"])
    plan = sk._jdf.queryExecution().executedPlan().toString()
    # Partial (map-side, below the salt exchange) + Final group limits
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan, plan


def test_colocated_bucketed_join_has_zero_exchanges(spark, tmp_path):
    """register_bucketed materializes both sides hash-clustered on the
    join key, so the orderkey equi-join must plan with NO shuffle
    exchange at all (the whole point of paying the clustering at
    write): with broadcast off it is a SortMergeJoin whose children
    are bucketed scans, and the only exchange in the aggregated query
    is the final 5-row groupBy."""
    from airbyte_destination_spark.functions.relational import (
        colocated_revenue_by_priority,
        register_bucketed,
    )
    from airbyte_destination_spark.plans import count_exchanges, executed_plan

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    li_b = register_bucketed(
        spark, li, "t_li_plan", "l_orderkey", 4, str(tmp_path / "li")
    )
    od_b = register_bucketed(
        spark, od, "t_ord_plan", "o_orderkey", 4, str(tmp_path / "ord")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join_only = li_b.join(
            od_b, F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = executed_plan(join_only)
        assert "SortMergeJoin" in plan, plan
        assert count_exchanges(join_only) == 0, plan
        agg = colocated_revenue_by_priority(li_b, od_b)
        assert count_exchanges(agg) == 1, executed_plan(agg)
        # and the bucketed layout is what the scan actually reads
        assert "Bucketed: true" in formatted(join_only) or "SelectedBucketsCount" in formatted(join_only)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_plan")
        spark.sql("DROP TABLE IF EXISTS t_ord_plan")


def formatted(df):
    from airbyte_destination_spark.plans import formatted_plan

    return formatted_plan(df)


def test_hdr_state_is_one_exchange_pure_codegen(spark):
    """hdr_state must plan as ONE map-side-combined aggregate (partial
    HashAggregate below the exchange, final above) with no Python UDF
    anywhere — the sketch is the aggregation state, so the shuffle
    carries <= |groups| x 960 bin rows, not the input."""
    from airbyte_destination_spark.functions.sketch import (
        hdr_quantiles,
        hdr_state,
    )
    from airbyte_destination_spark.plans import count_exchanges, executed_plan

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    state = hdr_state(ev, "cents", ["event_type"])
    plan = executed_plan(state)
    assert count_exchanges(state) == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the full read path adds only the bounded-state window + final agg,
    # never a scan-sized shuffle
    est = hdr_quantiles(state, ["event_type"])
    assert "BatchEvalPython" not in executed_plan(est)
