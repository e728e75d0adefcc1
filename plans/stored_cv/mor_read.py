"""Time a full merge-on-read `read()` of a checkout's own scratch table.

    python3 plans/stored_cv/mor_read.py <checkout> [rounds]

Builds a 32-bucket MOR table of 300k rows in three merges (a base and
two deltas per bucket, the second delta updating every tenth key at
the same version, so the fold orders by `_cv`) and prints the median
and quartiles of the wall time of `read()` + count + sum over the
rounds, after one warm-up read.
"""

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.abspath(sys.argv[1]))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402

rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 9
spark = get_spark(master="local[4]", shuffle_partitions=4)
t = LakeTable(os.path.join(tempfile.mkdtemp(prefix="mor-read-"), "t"))
schema = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.LongType(), False),
        T.StructField("p", T.StringType(), True),
    ]
)
t.create(schema, ["k"], "v", merge_strategy="mor")
n = 300_000
base = spark.range(n).select(
    F.col("id").alias("k"), F.lit(1).cast("long").alias("v"),
    F.concat(F.lit("p"), F.col("id").cast("string")).alias("p"), F.lit("I").alias("op"),
)
t.merge(base, epoch_id="e-0")
t.merge(base.where(F.col("k") % 3 == 0).withColumn("v", F.lit(2).cast("long")), epoch_id="e-1")
t.merge(base.where(F.col("k") % 10 == 0).withColumn("p", F.lit("tie")), epoch_id="e-2")


def once() -> float:
    t0 = time.perf_counter()
    t.read(spark).agg(F.count("*"), F.sum("v")).collect()
    return time.perf_counter() - t0


once()
ts = [once() for _ in range(rounds)]
q = statistics.quantiles(ts, n=4)
print(f"read_s median {q[1]:.3f} q1 {q[0]:.3f} q3 {q[2]:.3f} rounds {rounds}")
spark.stop()
