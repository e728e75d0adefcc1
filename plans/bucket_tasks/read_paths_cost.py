"""What handing a scan's path list to the JVM in a constant number of
py4j commands would save, against PySpark's `reader.parquet(*paths)`,
which sends one `ArrayList.add` command per path. The engine calls
`reader.parquet(*paths)`; `joined` below is the alternative: the list
crosses as one NUL-joined string the JVM splits (no path holds a NUL,
and py4j passes it through unescaped).

    python3 plans/bucket_tasks/read_paths_cost.py [CHECKOUT] [PAIRS]

Imports the engine from CHECKOUT (default: this checkout) and builds two
merge-on-read tables, no compaction:

- wide: 8 buckets, 24 merges that each touch every bucket (192 files,
  the read table of plans/field_ids/plan_cost.py);
- cdcbench: 32 buckets, 2 merges (64 files: a base and a delta per
  bucket, the cdc_mixed table before its inline compaction).

For each table it alternates PAIRS (default 7) pairs of runs, `joined`
(patched in as DataFrameReader.parquet) first on even pairs, of
- read: `read()` up to its executed plan (no job runs);
- compact: `compact(min_files=2)` on a fresh copy of the table, end to
  end (its jobs included).
Then, as no engine table of that size is built here, it writes N_FILES
one-row parquet files with pyarrow and times the DataFrame over all of
them (`spark.read.schema(...).parquet(...)`). N_FILES is 4000, just
under the session's parallel listing threshold (4096), the largest
scan whose files the driver lists itself: above it, a listing job of
one task per file runs at every scan. Prints per table, measure and
side the median and quartiles of the wall seconds and the median py4j
commands, and the pairs `joined` won.
"""

import os
import random
import shutil
import statistics
import sys
import tempfile
import time

CHECKOUT = os.path.abspath(
    sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..", "..")
)
PAIRS = int(sys.argv[2]) if len(sys.argv) > 2 else 7
sys.path.insert(0, CHECKOUT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import types as T  # noqa: E402
from pyspark.sql.readwriter import DataFrameReader  # noqa: E402

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("body", T.StringType(), True),
    ]
)
BATCH = "doc_id string, lsn long, body string, op string"
N_FILES = 4000
PER_PATH = DataFrameReader.parquet


def joined(reader, *paths):
    jvm = reader._spark.sparkContext._jvm
    split = jvm.java.util.StringTokenizer("\0".join(paths), "\0")
    seq = jvm.PythonUtils.toSeq(jvm.java.util.Collections.list(split))
    return reader._df(reader._jreader.parquet(seq))


SIDES = {"joined": joined, "per_path": PER_PATH}


def build(spark, root, n_buckets, merges, rows):
    t = LakeTable(root)
    t.create(SCHEMA, ["doc_id"], "lsn", n_buckets=n_buckets, merge_strategy="mor")
    rng = random.Random(7)
    for e in range(merges):
        batch = [
            (f"doc{rng.randrange(4000):07d}", e * rows + i, "x" * (i % 9), "U")
            for i in range(rows)
        ]
        t.merge(spark.createDataFrame(batch, BATCH), epoch_id=f"e-{e}")
    return t


def timed(spark, fn) -> tuple[float, int]:
    """(seconds, py4j commands) of `fn()`."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0, sent[0]
    finally:
        client.send_command = send


def main() -> None:
    spark = get_spark(app_name="read-paths-cost", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="read-paths-cost-")
    try:
        cases = []
        for name, n_buckets, merges, rows in [("wide", 8, 24, 100), ("cdcbench", 32, 2, 2000)]:
            t = build(spark, os.path.join(work, name), n_buckets, merges, rows)
            n_files = sum(len(fs) for fs in t.manifest()["buckets"].values())

            def read(t=t):
                t.read(spark)._jdf.queryExecution().executedPlan()

            def compact(t=t):
                copy = os.path.join(work, "copy")
                shutil.rmtree(copy, ignore_errors=True)
                shutil.copytree(t.root, copy)
                assert LakeTable(copy).compact(spark, min_files=2) is not None

            cases.append((name, n_files, [("read", read), ("compact", compact)]))

        many = os.path.join(work, "many")
        os.mkdir(many)
        paths = [os.path.join(many, f"{i:05d}.parquet") for i in range(N_FILES)]
        for i, path in enumerate(paths):
            pq.write_table(pa.table({"x": [i]}), path)
        x = T.StructType([T.StructField("x", T.LongType())])

        def scan():
            spark.read.schema(x).parquet(*paths)

        cases.append(("pyarrow", len(paths), [("scan", scan)]))

        for name, n_files, measures in cases:
            for measure, fn in measures:
                runs = {"joined": [], "per_path": []}
                for side in SIDES:  # warm both
                    DataFrameReader.parquet = SIDES[side]
                    fn()
                for p in range(PAIRS):
                    order = list(SIDES) if p % 2 == 0 else list(SIDES)[::-1]
                    for side in order:
                        DataFrameReader.parquet = SIDES[side]
                        runs[side].append(timed(spark, fn))
                DataFrameReader.parquet = PER_PATH
                wins = sum(j[0] < q[0] for j, q in zip(runs["joined"], runs["per_path"]))
                for side, rs in runs.items():
                    q1, med, q3 = statistics.quantiles([r[0] for r in rs], n=4)
                    print(
                        f"{name} files={n_files} {measure} {side} s_median={med:.3f} "
                        f"q1={q1:.3f} q3={q3:.3f} "
                        f"py4j_median={statistics.median(r[1] for r in rs):g}",
                        flush=True,
                    )
                print(f"{name} {measure} joined_faster_pairs={wins}/{PAIRS}", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
