"""Planning cost of a full read and of a change-feed call.

    python3 plans/field_ids/plan_cost.py [CHECKOUT]

Imports the engine (and tests/test_change_feed.py) from CHECKOUT
(default: this checkout), so running it once per checkout compares two
commits on tables of the same shape:

- read: a merge-on-read table with 8 buckets and 24 merges that each
  touch every bucket (192 data files, no compaction). Each measured
  call is `read()` plus building its executed plan; no job runs.
- table_changes: the MOR history of tests/test_change_feed.py (merges,
  every metadata-only schema change, widening, a rebucket, a
  compaction, a rollback), one `table_changes(..., pre_images=True)`
  per window of that test, again up to the executed plan.

The gateway client's send_command is wrapped to count what is sent.
Prints one line per measure: the median wall time and py4j commands
per call, and for read() the parquet scans and unions in its plan.
"""

import os
import random
import shutil
import statistics
import sys
import tempfile
import time

CHECKOUT = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, CHECKOUT)

from pyspark.sql import types as T  # noqa: E402

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402
from tests.test_change_feed import EVOLUTION, PLAIN, _build  # noqa: E402

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("body", T.StringType(), True),
    ]
)
BATCH = "doc_id string, lsn long, n_tok int, body string, op string"


def measured(spark, fn) -> tuple[float, int, str]:
    """(seconds, py4j commands, executed plan) of `fn()` planned."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        t0 = time.perf_counter()
        plan = fn()._jdf.queryExecution().executedPlan().toString()
        return time.perf_counter() - t0, sent[0], plan
    finally:
        client.send_command = send


def report(name: str, runs: list[tuple[float, int, str]], extra: str = "") -> None:
    secs = [r[0] for r in runs]
    cmds = [r[1] for r in runs]
    print(
        f"{name} plan_s median={statistics.median(secs):.3f} min={min(secs):.3f} "
        f"max={max(secs):.3f} py4j median={statistics.median(cmds):g} "
        f"min={min(cmds)} max={max(cmds)}{extra} checkout={CHECKOUT}",
        flush=True,
    )


def main() -> None:
    spark = get_spark(app_name="plan-cost", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="plan-cost-")
    try:
        t = LakeTable(os.path.join(work, "read"))
        t.create(SCHEMA, ["doc_id"], "lsn", n_buckets=8, merge_strategy="mor")
        rng = random.Random(7)
        for e in range(24):
            rows = [
                (f"doc{rng.randrange(4000):07d}", e * 100 + i, i, "x" * (i % 9), "U")
                for i in range(100)
            ]
            t.merge(spark.createDataFrame(rows, BATCH), epoch_id=f"e-{e}")
        n_files = sum(len(fs) for fs in t.manifest()["buckets"].values())
        measured(spark, lambda: t.read(spark))  # warm
        runs = [measured(spark, lambda: t.read(spark)) for _ in range(5)]
        plan = runs[-1][2]
        report(
            "read", runs,
            f" files={n_files} parquet_scans={plan.count('FileScan parquet')} "
            f"unions={plan.count('Union')}",
        )

        t, V = _build(spark, os.path.join(work, "changes"), "mor", "v")
        windows = list(PLAIN) + list(EVOLUTION)
        runs = []
        for a, b in windows * 2:
            runs.append(
                measured(
                    spark, lambda: t.table_changes(spark, V[a], V[b], pre_images=True)
                )
            )
        report("table_changes", runs[len(windows):], f" windows={len(windows)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
