"""Column-rename evolution (LakeTable.rename_column — the Iceberg
field-rename analog, metadata-only): old files keep their on-disk name
and every reader resolves columns by parquet field id; restrictions
guard the names woven into routing/ordering/pruning."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_destination_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("change_lsn", T.LongType(), False),
    ]
)
S = "doc_id string, tokens array<int>, change_lsn long, op string"


def _mk(spark, tmp_path, strategy="mor"):
    t = LakeTable(str(tmp_path / "t"))
    t.create(
        SCHEMA, ["doc_id"], "change_lsn", n_buckets=2, merge_strategy=strategy
    )
    t.merge(
        spark.createDataFrame([("a", [1], 1, "I"), ("b", [2], 2, "I")], S),
        epoch_id="e0",
    )
    return t


def test_rename_reads_old_files_and_merges_new_name(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v_pre = t.current_version()
    t.rename_column("tokens", "token_ids")
    assert t.read(spark).columns == ["doc_id", "token_ids", "change_lsn"]
    got = {r.doc_id: r.token_ids for r in t.read(spark).collect()}
    assert got == {"a": [1], "b": [2]}  # old files served under new name
    # merge with the NEW name; LWW must fold across the rename boundary
    t.merge(
        spark.createDataFrame(
            [("a", [9], 9, "U")],
            "doc_id string, token_ids array<int>, change_lsn long, op string",
        ),
        epoch_id="e1",
    )
    got = {r.doc_id: r.token_ids for r in t.read(spark).collect()}
    assert got == {"a": [9], "b": [2]}
    # time travel below the rename shows the OLD name and values
    old = t.read(spark, version=v_pre)
    assert old.columns == ["doc_id", "tokens", "change_lsn"]
    assert {r.doc_id: r.tokens for r in old.collect()} == {"a": [1], "b": [2]}


def test_rename_survives_compact_and_delta_chain(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.rename_column("tokens", "token_ids")
    t.merge(
        spark.createDataFrame(
            [("c", [3], 3, "I")],
            "doc_id string, token_ids array<int>, change_lsn long, op string",
        ),
        epoch_id="e1",
    )
    t.compact(spark, min_files=1)  # maintenance read path applies the map
    fresh = LakeTable(t.root)  # re-resolve through the delta chain
    got = {r.doc_id: r.token_ids for r in fresh.read(spark).collect()}
    assert got == {"a": [1], "b": [2], "c": [3]}
    # compacted files were REWRITTEN under the renamed schema: no
    # rename map applies to them anymore
    m = fresh.manifest()
    top = str(m["schema_id"])
    for entries in m["buckets"].values():
        for e in entries:
            assert str(e["schema_id"]) == top


def test_rename_restrictions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="key/version"):
        t.rename_column("doc_id", "document_id")
    with pytest.raises(ValueError, match="key/version"):
        t.rename_column("change_lsn", "lsn")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("tokens", "doc_id")
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("tokens", "_tokens")


def test_rename_freed_name_reuse(spark, tmp_path):
    """a->b then c->a: files written before both renames need the
    simultaneous projection {tokens->token_ids, extra->tokens}."""
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", 7)],
            "doc_id string, tokens array<int>, change_lsn long, op string, extra int",
        ),
        epoch_id="e-extra",
    )  # evolves schema: adds `extra`
    t.rename_column("tokens", "token_ids")
    t.rename_column("extra", "tokens")
    out = {r.doc_id: (r.token_ids, r.tokens) for r in t.read(spark).collect()}
    assert out == {"a": ([1], 7), "b": ([2], None)}


def test_rename_agg_spec_follows(spark, tmp_path):
    t = LakeTable(str(tmp_path / "agg"))
    t.create(
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("n", T.LongType(), True),
                T.StructField("v", T.LongType(), False),
            ]
        ),
        ["k"],
        "v",
        n_buckets=2,
        merge_strategy="cow",
        agg_spec={"n": "sum"},
    )
    B = "k string, n long, v long, op string"
    t.merge(
        spark.createDataFrame([("x", 1, 1, "I")], B), epoch_id="a0", reduce="aggregate"
    )
    t.rename_column("n", "count_n")
    assert t.manifest()["agg_spec"] == {"count_n": "sum"}
    t.merge(
        spark.createDataFrame(
            [("x", 2, 2, "I")], "k string, count_n long, v long, op string"
        ),
        epoch_id="a1",
        reduce="aggregate",
    )
    assert t.read(spark).where("k = 'x'").first().count_n == 3


def test_rename_fails_stream_and_batch_cdf_serves_new_name(spark, tmp_path):
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

    spark.dataSource.register(LakeChangesDataSource)
    t = _mk(spark, tmp_path)
    t.rename_column("tokens", "token_ids")
    t.merge(
        spark.createDataFrame(
            [("c", [3], 3, "I")],
            "doc_id string, token_ids array<int>, change_lsn long, op string",
        ),
        epoch_id="e1",
    )
    # a batch CDF read bound AFTER the rename serves pre-rename
    # commits' files under the new name
    rows = (
        spark.read.format("lake_changes").option("path", t.root).load().collect()
    )
    assert sorted((r.doc_id, tuple(r.token_ids)) for r in rows) == [
        ("a", (1,)),
        ("b", (2,)),
        ("c", (3,)),
    ]
    # a consumer BOUND BEFORE the rename (its schema lacks the new
    # name) fails loudly at the rename commit — stale schema
    from airbyte_destination_spark.lake.datasource import (
        _META_COLS,
        LakeChangesStreamReader,
    )

    stale = T.StructType(SCHEMA.fields + _META_COLS)
    sr = LakeChangesStreamReader(t, stale, 0)
    with pytest.raises(RuntimeError, match="restart the stream"):
        sr.partitions({"version": 0}, {"version": t.current_version()})


def test_rename_then_rescale_split(spark, tmp_path):
    """The zero-shuffle split path (_split_df) composes the map too."""
    t = _mk(spark, tmp_path)
    t.rename_column("tokens", "token_ids")
    t.split_buckets(spark, factor=2)
    got = {r.doc_id: r.token_ids for r in LakeTable(t.root).read(spark).collect()}
    assert got == {"a": [1], "b": [2]}
    assert LakeTable(t.root).manifest()["n_buckets"] == 4


def test_add_column_initial_default(spark, tmp_path):
    """Iceberg v3 default-value shape: rows predating the add read the
    default; rows written after it read what was written — an explicit
    NULL stays NULL."""
    t = _mk(spark, tmp_path)
    t.add_column("source", T.StringType(), initial_default="web")
    got = {r.doc_id: r.source for r in t.read(spark).collect()}
    assert got == {"a": "web", "b": "web"}  # pre-add files read the default
    B2 = "doc_id string, tokens array<int>, change_lsn long, op string, source string"
    t.merge(
        spark.createDataFrame(
            [("a", [9], 9, "U", None), ("c", [3], 3, "I", "crawl")], B2
        ),
        epoch_id="e1",
    )
    got = {r.doc_id: r.source for r in t.read(spark).collect()}
    # a: rewritten post-add with explicit NULL -> stays NULL
    assert got == {"a": None, "b": "web", "c": "crawl"}
    # maintenance path applies the default too, then bakes it in
    t.compact(spark, min_files=1)
    got = {r.doc_id: r.source for r in LakeTable(t.root).read(spark).collect()}
    assert got == {"a": None, "b": "web", "c": "crawl"}


def test_add_column_default_follows_rename(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.add_column("lang", T.StringType(), initial_default="en")
    t.rename_column("lang", "language")
    assert t.manifest()["defaults"] == {"language": "en"}
    got = {r.doc_id: r.language for r in t.read(spark).collect()}
    assert got == {"a": "en", "b": "en"}


def test_add_column_validation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("tokens", T.StringType())
    with pytest.raises(ValueError, match="reserved"):
        t.add_column("_hidden", T.StringType())



@pytest.mark.parametrize(
    "dtype, default",
    [(T.DateType(), 7), (T.TimestampType(), True), (T.IntegerType(), [1])],
    ids=["int-date", "bool-timestamp", "list-int"],
)
def test_add_column_rejects_uncastable_default(spark, tmp_path, dtype, default):
    """An initial default Spark cannot cast to the column type is
    refused before the commit; the table stays readable."""
    t = _mk(spark, tmp_path)
    v = t.current_version()
    with pytest.raises(ValueError, match="cannot be cast"):
        t.add_column("late", dtype, initial_default=default)
    assert t.current_version() == v
    assert sorted(r.doc_id for r in t.read(spark).collect()) == ["a", "b"]

def test_add_column_default_in_change_feed(spark, tmp_path):
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

    spark.dataSource.register(LakeChangesDataSource)
    t = _mk(spark, tmp_path)
    t.add_column("source", T.StringType(), initial_default="web")
    t.merge(
        spark.createDataFrame(
            [("c", [3], 3, "I", "crawl")],
            "doc_id string, tokens array<int>, change_lsn long, op string, source string",
        ),
        epoch_id="e1",
    )
    # bound post-add: pre-add commits serve the default
    rows = (
        spark.read.format("lake_changes").option("path", t.root).load().collect()
    )
    assert sorted((r.doc_id, r.source) for r in rows) == [
        ("a", "web"),
        ("b", "web"),
        ("c", "crawl"),
    ]
    # bound pre-add: the add commit is crossed silently (no row changed)
    from airbyte_destination_spark.lake.datasource import (
        _META_COLS,
        LakeChangesStreamReader,
    )

    sr = LakeChangesStreamReader(t, T.StructType(SCHEMA.fields + _META_COLS), 0)
    parts = sr.partitions({"version": 0}, {"version": t.current_version()})
    assert all(p.path for p in parts)


def test_drop_column_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", 7)],
            "doc_id string, tokens array<int>, change_lsn long, op string, extra int",
        ),
        epoch_id="e-extra",
    )
    v_pre = t.current_version()
    t.drop_column("extra")
    assert "extra" not in t.read(spark).columns
    # time travel below the drop still serves the column
    old = t.read(spark, version=v_pre)
    assert {r.doc_id: r.extra for r in old.collect()} == {"a": 7, "b": None}
    with pytest.raises(ValueError, match="key/version"):
        t.drop_column("doc_id")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("extra")  # already gone


def test_drop_then_readd_does_not_resurface(spark, tmp_path):
    """The prior-life problem: files written before the drop still
    carry the bytes; a re-add via add_column must serve the default
    (or NULL), never the stale values — incl. through compaction and
    the change feed."""
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

    spark.dataSource.register(LakeChangesDataSource)
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "STALE"), ("b", [2], 6, "U", "STALE")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-lang",
    )
    t.drop_column("lang")
    t.add_column("lang", T.StringType(), initial_default="und")
    got = {r.doc_id: r.lang for r in t.read(spark).collect()}
    assert got == {"a": "und", "b": "und"}  # NOT "STALE"
    t.merge(
        spark.createDataFrame(
            [("c", [3], 7, "I", "en")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-new",
    )
    got = {r.doc_id: r.lang for r in t.read(spark).collect()}
    assert got == {"a": "und", "b": "und", "c": "en"}
    # the change feed (bound post-re-add) must not resurface either
    rows = (
        spark.read.format("lake_changes").option("path", t.root).load().collect()
    )
    assert "STALE" not in {r.lang for r in rows}
    # compaction bakes the post-evolution truth in
    t.compact(spark, min_files=1)
    got = {r.doc_id: r.lang for r in LakeTable(t.root).read(spark).collect()}
    assert got == {"a": "und", "b": "und", "c": "en"}


def test_implicit_readd_via_merge_evolution_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "x")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-lang",
    )
    t.drop_column("lang")
    with pytest.raises(ValueError, match="add_column"):
        t.merge(
            spark.createDataFrame(
                [("d", [4], 8, "I", "sneaky")],
                "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
            ),
            epoch_id="e-sneak",
        )


def test_drop_fails_stale_stream(spark, tmp_path):
    from airbyte_destination_spark.lake.datasource import (
        _META_COLS,
        LakeChangesStreamReader,
    )

    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "x")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-lang",
    )
    wide = T.StructType(
        SCHEMA.fields + [T.StructField("lang", T.StringType(), True)] + _META_COLS
    )
    t.drop_column("lang")
    sr = LakeChangesStreamReader(t, wide, 0)
    with pytest.raises(RuntimeError, match="restart the stream"):
        sr.partitions({"version": 0}, {"version": t.current_version()})


def test_drop_readd_rename_does_not_resurface_under_new_name(spark, tmp_path):
    """ADVICE hazard (a): drop lang; add_column lang; rename lang->language.
    Old files still physically carry the dropped column's bytes; the
    composed rename map must NOT relabel them into `language` — the
    prior-life force-drop has to run BEFORE the rename projection, in
    the file's on-disk namespace."""
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

    spark.dataSource.register(LakeChangesDataSource)
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "STALE"), ("b", [2], 6, "U", "STALE")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-lang",
    )
    t.drop_column("lang")
    t.add_column("lang", T.StringType(), initial_default="und")
    t.rename_column("lang", "language")
    got = {r.doc_id: r.language for r in t.read(spark).collect()}
    assert got == {"a": "und", "b": "und"}  # NOT "STALE"
    t.merge(
        spark.createDataFrame(
            [("c", [3], 7, "I", "en")],
            "doc_id string, tokens array<int>, change_lsn long, op string, language string",
        ),
        epoch_id="e-new",
    )
    got = {r.doc_id: r.language for r in t.read(spark).collect()}
    assert got == {"a": "und", "b": "und", "c": "en"}
    # the change feed must not resurface the prior life either
    rows = (
        spark.read.format("lake_changes").option("path", t.root).load().collect()
    )
    assert "STALE" not in {r.language for r in rows}
    # nor the rescale (map-only split) read path
    r, calls = {"published": False}, 0
    while not r["published"]:
        r = t.split_buckets(spark, factor=2)
        calls += 1
        assert calls <= 5
    got = {r_.doc_id: r_.language for r_ in t.read(spark).collect()}
    assert got == {"a": "und", "b": "und", "c": "en"}


def test_rename_onto_dropped_name_rejected(spark, tmp_path):
    """ADVICE hazard (b): renaming onto a previously dropped name would
    collide with the dropped column's prior-life bytes in old files
    (two same-named columns in the read projection). Only add_column()
    may reuse the name."""
    t = _mk(spark, tmp_path)
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "x")],
            "doc_id string, tokens array<int>, change_lsn long, op string, lang string",
        ),
        epoch_id="e-lang",
    )
    t.drop_column("lang")
    with pytest.raises(ValueError, match="previously dropped"):
        t.rename_column("tokens", "lang")
    # add_column remains the sanctioned path, and renaming the
    # re-added column away is then fine
    t.add_column("lang", T.StringType())
    t.rename_column("lang", "language")
    assert "language" in t.read(spark).columns


def test_freed_name_reuse_add_keeps_renamed_lineage(spark, tmp_path):
    """Soak-found round-5 regression: rename c->r frees the name, a NEW
    column c is then added — old files' on-disk c bytes belong to the
    still-alive r lineage and must keep serving r (the prior-life
    force-drop must not touch them), while the new c reads its own
    default on old rows. Checked through the plain read, the change
    feed, and a rescale split."""
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource

    spark.dataSource.register(LakeChangesDataSource)
    t = _mk(spark, tmp_path)
    t.add_column("c", T.StringType())
    t.merge(
        spark.createDataFrame(
            [("a", [1], 5, "U", "keep-a"), ("b", [2], 6, "U", "keep-b")],
            "doc_id string, tokens array<int>, change_lsn long, op string, c string",
        ),
        epoch_id="e-c",
    )
    t.rename_column("c", "r")
    t.add_column("c", T.StringType(), initial_default="fresh")
    got = {row.doc_id: (row.r, row.c) for row in t.read(spark).collect()}
    assert got == {"a": ("keep-a", "fresh"), "b": ("keep-b", "fresh")}
    rows = (
        spark.read.format("lake_changes").option("path", t.root).load().collect()
    )
    assert {r.r for r in rows if r.doc_id == "a"} >= {"keep-a"}
    r_, calls = {"published": False}, 0
    while not r_["published"]:
        r_ = t.split_buckets(spark, factor=2)
        calls += 1
        assert calls <= 5
    got = {row.doc_id: (row.r, row.c) for row in t.read(spark).collect()}
    assert got == {"a": ("keep-a", "fresh"), "b": ("keep-b", "fresh")}


LINEAGE = "doc_id string, change_lsn long, {}, op string"


def _lineage_reads(spark, t, monkeypatch) -> dict:
    """{doc_id: row} of read(), after checking that both read_keys
    paths and the batch change feed (one commit per key) serve the
    same rows."""
    from airbyte_destination_spark.lake.datasource import LakeChangesDataSource
    from tests.test_point_lookup import _both_paths

    spark.dataSource.register(LakeChangesDataSource)
    got = {r.doc_id: r.asDict() for r in t.read(spark).collect()}
    keys = sorted(got)
    assert {r["doc_id"]: r for r in _both_paths(spark, t, keys, monkeypatch)} == got
    feed = spark.read.format("lake_changes").option("path", t.root).load()
    cols = t.read(spark).columns
    assert {r.doc_id: r.asDict() for r in feed.select(*cols).collect()} == got
    return got


def _lineage_table(spark, tmp_path, cols):
    t = LakeTable(str(tmp_path / "lin"))
    t.create(
        T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),
                T.StructField("change_lsn", T.LongType(), False),
            ]
            + [T.StructField(c, T.StringType(), True) for c in cols]
        ),
        ["doc_id"], "change_lsn", n_buckets=2, merge_strategy="mor",
    )
    return t


def _put(spark, t, row, cols):
    ddl = LINEAGE.format(", ".join(f"{c} string" for c in cols))
    t.merge(spark.createDataFrame([row + ("I",)], ddl), epoch_id=row[0])


def test_rename_chain_reuses_freed_names(spark, tmp_path, monkeypatch):
    """x->y, y->z, then w->y (the freed name taken by another column),
    with a file written under every schema along the chain: each file's
    bytes read under the names their column carries now."""
    t = _lineage_table(spark, tmp_path, ["x", "w"])
    _put(spark, t, ("a", 1, "xa", "wa"), ["x", "w"])
    t.rename_column("x", "y")
    _put(spark, t, ("b", 2, "yb", "wb"), ["y", "w"])
    t.rename_column("y", "z")
    _put(spark, t, ("c", 3, "zc", "wc"), ["z", "w"])
    t.rename_column("w", "y")
    _put(spark, t, ("d", 4, "zd", "yd"), ["z", "y"])
    got = _lineage_reads(spark, t, monkeypatch)
    assert {k: (r["z"], r["y"]) for k, r in got.items()} == {
        "a": ("xa", "wa"), "b": ("yb", "wb"), "c": ("zc", "wc"), "d": ("zd", "yd"),
    }


def test_dead_lineages_never_resurface(spark, tmp_path, monkeypatch):
    """A column renamed and then dropped (x->n, drop n, re-add n), and
    a freed name re-added, renamed away and dropped (c->r, add c, c->s,
    drop s, re-add c): files of the dead columns read the re-added
    column's default, while the renamed-away column keeps its bytes."""
    t = _lineage_table(spark, tmp_path, ["x", "c"])
    _put(spark, t, ("a", 1, "xa", "ca"), ["x", "c"])
    t.rename_column("x", "n")
    t.drop_column("n")
    t.add_column("n", T.StringType(), initial_default="und")
    t.rename_column("c", "r")
    t.add_column("c", T.StringType())
    _put(spark, t, ("b", 2, "nb", "rb", "cb"), ["n", "r", "c"])
    t.rename_column("c", "s")
    t.drop_column("s")
    t.add_column("c", T.StringType(), initial_default="fresh")
    got = _lineage_reads(spark, t, monkeypatch)
    assert {k: (r["n"], r["r"], r["c"]) for k, r in got.items()} == {
        "a": ("und", "ca", "fresh"), "b": ("nb", "rb", "fresh"),
    }
