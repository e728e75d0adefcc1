"""LWW reduce: window vs aggregate equivalence, incl. a hot key spanning partitions."""

from pyspark.sql import functions as F

from airbyte_destination_spark.operators.dedup import lww_reduce, lww_reduce_agg
from airbyte_destination_spark.sources.changegen import change_events


def _canon(df):
    return sorted(
        (r.doc_id, r.change_lsn, tuple(r.tokens) if r.tokens else None)
        for r in df.select("doc_id", "change_lsn", "tokens").collect()
    )


def test_agg_equals_plain_on_skewed_log(spark):
    # skew=3 concentrates most of 5000 events on a handful of doc ids,
    # so the hot key genuinely spans many upstream partitions
    log = change_events(spark, 5000, 50, seed=7, skew=3.0).select("op", "change_lsn", "data.*")
    plain = lww_reduce(log, ["doc_id"], ["change_lsn"])
    agg = lww_reduce_agg(log, ["doc_id"], ["change_lsn"])
    assert _canon(plain) == _canon(agg)


def test_lww_single_winner_per_key(spark):
    log = change_events(spark, 2000, 20, seed=1).select("op", "change_lsn", "data.*")
    out = lww_reduce(log, ["doc_id"], ["change_lsn"])
    assert out.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    # winner per key is the max lsn
    expected = log.groupBy("doc_id").agg(F.max("change_lsn").alias("change_lsn"))
    assert (
        out.select("doc_id", "change_lsn")
        .exceptAll(expected.select("doc_id", "change_lsn"))
        .count()
        == 0
    )
