"""CPU of a bucketed MOR write tail done by Python tasks, against the
engine's write.

Run from anywhere: python3 python_writer_cost.py <checkout> [rounds]

One 32-bucket MOR table, one materialized frame of 5,500 reduced rows
in the cdc_mixed shape (doc_id, tokens, n_tok, source, change_lsn), at
local[4] with 4 shuffle partitions. Each round runs, in rotating order:

  engine   `_write_bucketed` over the `_by_bucket` exchange (write,
           listing, footer stats), a metadata commit, and
           `build_bloom_index` over the new files: today's write tail
  py32     one exchange into 32 partitions (one bucket each), then
           `mapInArrow`: each task writes its bucket with pyarrow and
           returns path, rows, bytes, key min/max and bloom bits built
           from the keys it holds (xxhash64 computed in the JVM)
  py4      the same writer over the `_by_bucket` exchange: 4 tasks,
           each writing its 8 buckets
  noop32   32 Python tasks that return nothing: the fixed cost of a
           Python task, per task

CPU is the JVM tree (Python workers included) plus this driver, less
steal (`cdcbench.hostenv.CpuMeter`). Prints one line per variant and
round, then the medians and each variant's ratio to `engine`."""
import os
import shutil
import statistics
import sys
import tempfile
import uuid

repo = os.path.abspath(sys.argv[1])
rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 10
sys.path.insert(0, repo)
import pyarrow as pa  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402
from airbyte_destination_spark.lake import table as tm  # noqa: E402
from cdcbench.hostenv import CpuMeter, jvm_pid  # noqa: E402

N_BUCKETS, ROWS = 32, 5500
work = tempfile.mkdtemp(prefix="pywriter-")
spark = get_spark(master="local[4]", shuffle_partitions=4)
meter = CpuMeter(jvm_pid(spark))
schema = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("change_lsn", T.LongType(), False),
])


def fresh_table():
    root = os.path.join(work, "t")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable(root)
    t.create(schema, ["doc_id"], "change_lsn", n_buckets=N_BUCKETS, merge_strategy="mor")
    return t


BC = tm._BUCKET_COL
src = (
    spark.range(ROWS)
    .select(
        F.format_string("doc-%08d", "id").alias("doc_id"),
        F.sequence(F.lit(0), (F.col("id") % 200).cast("int")).alias("tokens"),
        (F.col("id") % 200 + 1).cast("int").alias("n_tok"),
        F.lit("gen").alias("source"),
        (F.col("id") * 7).alias("change_lsn"),
        F.lit(False).alias("_deleted"),
    )
    .withColumn(BC, tm.bucket_expr(["doc_id"], N_BUCKETS))
    .persist()
)
src.count()
OUT = "path string, rows long, bytes long, kmin string, kmax string, bits string"
OUT_PA = pa.schema([
    ("path", pa.string()), ("rows", pa.int64()), ("bytes", pa.int64()),
    ("kmin", pa.string()), ("kmax", pa.string()), ("bits", pa.string()),
])


def py_writer(out_dir):
    def write(batches):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from airbyte_destination_spark.lake.bloom import build_bloom_bits

        tbl = pa.Table.from_batches(list(batches))
        if tbl.num_rows == 0:
            return
        b_col = tbl.column(BC)
        for b in pc.unique(b_col).to_pylist():
            part = tbl.filter(pc.equal(b_col, b))
            d = os.path.join(out_dir, f"{BC}={b}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
            pq.write_table(part.drop([BC, "h"]), path)
            mm = pc.min_max(part.column("doc_id"))
            bits = build_bloom_bits(part.column("h").to_numpy(), 0.01)["bits"]
            yield pa.RecordBatch.from_pylist([{
                "path": path, "rows": part.num_rows, "bytes": os.path.getsize(path),
                "kmin": mm["min"].as_py(), "kmax": mm["max"].as_py(), "bits": bits,
            }], schema=OUT_PA)
    return write


def noop(batches):
    for _ in batches:
        pass
    return iter(())


def engine(t):
    m = t.manifest()
    new = t._write_bucketed(tm._by_bucket(src, m), m, 2)
    m["buckets"] = {b: m["buckets"].get(b, []) + fs for b, fs in new.items()}
    m["operation"], m["epoch_id"], m["lineage"] = "append", None, []
    t._commit(m, 1)
    t.build_bloom_index(spark)


def py(partitioned):
    def run(_):
        out_dir = os.path.join(work, "py", uuid.uuid4().hex[:8])
        df = partitioned.withColumns(
            {"_cv": F.lit(2).cast("long"), "h": F.xxhash64("doc_id")}
        )
        rows = df.mapInArrow(py_writer(out_dir), OUT).collect()
        assert sum(r["rows"] for r in rows) == ROWS and len(rows) == N_BUCKETS
        shutil.rmtree(out_dir)
    return run


def noop32(_):
    src.repartition(N_BUCKETS, "doc_id").mapInArrow(noop, src.schema).collect()


m0 = fresh_table().manifest()
variants = {
    "engine": engine,
    "py32": py(src.repartition(N_BUCKETS, "doc_id")),
    "py4": py(tm._by_bucket(src, m0)),
    "noop32": noop32,
}
for fn in variants.values():  # warm: JIT, Python workers, imports
    fn(fresh_table())
cpu: dict[str, list[float]] = {k: [] for k in variants}
names = list(variants)
for r in range(rounds):
    order = names[r % len(names):] + names[: r % len(names)]
    for k in order:
        t = fresh_table()  # not measured
        mark = meter.mark()
        variants[k](t)
        cpu[k].append(meter.since(mark))
        print(f"round {r} {k} cpu_s={cpu[k][-1]:.3f}", flush=True)
eng = statistics.median(cpu["engine"])
for k, v in cpu.items():
    above = sum(a > b for a, b in zip(v, cpu["engine"]))
    extra = f" per_task_s={statistics.median(v) / N_BUCKETS:.4f}" if k == "noop32" else ""
    print(f"# {k}: median cpu_s={statistics.median(v):.3f} ratio_to_engine="
          f"{statistics.median(v) / eng:.2f} rounds_above_engine={above}/{rounds}{extra}", flush=True)
spark.stop()
shutil.rmtree(work, ignore_errors=True)
