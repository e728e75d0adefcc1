"""Time `LakeTable._bind_footer_stats` on one MOR epoch's new files:
its thread pool against a serial loop over the same files, and
`_file_col_stats` per file (warm page cache, alternating rounds).

    python3 plans/stored_cv/footer_bind.py <checkout> [rounds]

Builds a 32-bucket MOR table from one 20k-event changegen epoch (the
cdc_mixed epoch shape) under a scratch directory, then prints one line
per measure: median and quartiles over the rounds of wall ms and
process CPU ms for binding every new file once.
"""

import os
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.abspath(sys.argv[1]))

from airbyte_destination_spark import get_spark  # noqa: E402
from airbyte_destination_spark.lake import LakeTable  # noqa: E402
from airbyte_destination_spark.lake import table as tmod  # noqa: E402
from airbyte_destination_spark.sources.changegen import write_change_log  # noqa: E402
from airbyte_destination_spark.streaming.pipeline import (  # noqa: E402
    IngestConfig,
    run_ingest_batches,
)

rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 40
spark = get_spark(master="local[4]", shuffle_partitions=4)
root = tempfile.mkdtemp(prefix="footer-bind-")
dirs = write_change_log(spark, os.path.join(root, "log"), 20000, 20000, n_batches=1, seed=1)
t = LakeTable(os.path.join(root, "t"))
run_ingest_batches(spark, dirs, t, IngestConfig(merge_strategy="mor", auto_compact_files=None))
m = t.manifest()
entries = [e for fs in m["buckets"].values() for e in fs]
paths = [os.path.join(t.root, e["path"]) for e in entries]
cols = tmod._stat_cols(m)


def pool() -> None:
    t._bind_footer_stats(m, [dict(e) for e in entries])


def serial() -> None:
    for p in paths:
        tmod._file_col_stats(p, cols)


with ThreadPoolExecutor(1):  # import cost paid before timing
    pass
times: dict[str, list[tuple[float, float]]] = {"pool": [], "serial": []}
for i in range(rounds):
    for name, fn in (("pool", pool), ("serial", serial))[:: 1 if i % 2 else -1]:
        w, c = time.perf_counter(), time.process_time()
        fn()
        times[name].append(((time.perf_counter() - w) * 1e3, (time.process_time() - c) * 1e3))
print(f"# {len(entries)} files, {sum(os.path.getsize(p) for p in paths)} bytes, {rounds} rounds")
for name, ts in times.items():
    for k, label in ((0, "wall_ms"), (1, "cpu_ms")):
        q = statistics.quantiles([x[k] for x in ts], n=4)
        print(f"{name} {label} median {q[1]:.2f} q1 {q[0]:.2f} q3 {q[2]:.2f}")
spark.stop()
