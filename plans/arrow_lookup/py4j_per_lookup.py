"""Py4j commands per warm point lookup, as cdcbench's lookup op makes it.

    python3 plans/arrow_lookup/py4j_per_lookup.py [CHECKOUT]

Imports the engine from CHECKOUT (default: this checkout), so running it
once per checkout compares two commits on tables of the same shape:

- mor: 32 buckets, merge-on-read, blooms, a base and a delta per bucket
  (the table cdc_mixed's lookups read);
- cow: 8 buckets, copy-on-write, two merges (airbyte_sync's docs table).

Each lookup is `read_keys(keys).select(...).collect()` with 1-16 keys
(cdcbench's widths), after one warm-up lookup. The gateway client's
send_command is wrapped to count what is sent. Prints one line per
table: the median and range of commands per lookup, and the median of
the `toDataFrame` and `collectToPython` calls among them.
"""

import os
import random
import shutil
import statistics
import sys
import tempfile

CHECKOUT = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, CHECKOUT)

from pyspark.sql import types as T  # noqa: E402

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402

WIDTHS = (1, 16, 4, 8, 12, 2, 8, 16)
N_DOCS = 4000
SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("body", T.StringType(), True),
    ]
)
BATCH = "doc_id string, lsn long, n_tok int, body string, op string"


def build(spark, root: str, strategy: str, n_buckets: int) -> LakeTable:
    t = LakeTable(root)
    t.create(SCHEMA, ["doc_id"], "lsn", n_buckets=n_buckets, merge_strategy=strategy)
    rng = random.Random(7)
    for e in range(2):
        rows = [
            (f"doc{i:07d}", e * N_DOCS + i, rng.randrange(500), "x" * rng.randrange(40),
             "D" if e and rng.random() < 0.05 else "U")
            for i in range(N_DOCS)
            if e == 0 or rng.random() < 0.5
        ]
        t.merge(spark.createDataFrame(rows, BATCH), epoch_id=f"e-{e}")
    if strategy == "mor":
        t.build_bloom_index(spark)
    return t


def count(spark, t: LakeTable) -> tuple[list[int], list[int], list[int]]:
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    rng = random.Random(1)

    def keys(n):
        return [f"doc{rng.randrange(N_DOCS * 5 // 4):07d}" for _ in range(n)]

    t.read_keys(spark, keys(4)).select("doc_id", "lsn", "n_tok").collect()  # warm
    per, to_df, collects = [], [], []
    client.send_command = counting
    try:
        for w in WIDTHS:
            sent.clear()
            t.read_keys(spark, keys(w)).select("doc_id", "lsn", "n_tok").collect()
            calls = [c.split("\n")[2] for c in sent if c.startswith("c\n")]
            per.append(len(sent))
            to_df.append(calls.count("toDataFrame"))
            collects.append(calls.count("collectToPython"))
    finally:
        client.send_command = send
    return per, to_df, collects


def main() -> None:
    spark = get_spark(app_name="py4j-per-lookup", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="py4j-per-lookup-")
    try:
        for name, strategy, n_buckets in (("mor", "mor", 32), ("cow", "cow", 8)):
            t = build(spark, os.path.join(work, name), strategy, n_buckets)
            per, to_df, collects = count(spark, t)
            print(
                f"{name} commands_per_lookup median={statistics.median(per):g} "
                f"min={min(per)} max={max(per)} toDataFrame={statistics.median(to_df):g} "
                f"collectToPython={statistics.median(collects):g} checkout={CHECKOUT}",
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
