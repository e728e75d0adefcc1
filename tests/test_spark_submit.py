"""End-to-end cluster-submission path: the EXACT invocation the north
rule names — `spark-submit --py-files <zip> job.py` — runs a real CDC
replay in a FRESH driver JVM whose only source of the engine is the
packaged zip, and the resulting lake table must match the
single-threaded oracle reducer when read back by another session.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.sources.changegen import write_change_log
from tests.oracle import assert_equal_state

JOB = """\
import json, sys

from pyspark.sql import SparkSession

# master comes from the spark-submit CLI, never hard-coded in the job
spark = (SparkSession.builder.appName("submit-e2e")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.parquet.fieldId.read.enabled", "true")
         .getOrCreate())

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.streaming.pipeline import (
    IngestConfig, run_ingest_batches,
)

log_dir, table_dir, n_batches = sys.argv[1], sys.argv[2], int(sys.argv[3])
dirs = [f"{log_dir}/batch-{b:05d}" for b in range(n_batches)]
table = LakeTable(table_dir)
stats = run_ingest_batches(spark, dirs, table, IngestConfig(n_buckets=8))
print(json.dumps({
    "epochs": len(stats),
    "skipped": sum(1 for s in stats if s.skipped),
    "rows": table.read(spark).count(),
}))
spark.stop()
"""


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.mark.slow
def test_spark_submit_pyfiles_replay(spark, tmp_path):
    root = Path(__file__).resolve().parent.parent
    zip_path = tmp_path / "pkg.zip"
    subprocess.run(
        [sys.executable, str(root / "tools" / "package.py"), str(zip_path)],
        check=True,
        capture_output=True,
    )
    log_dir = str(tmp_path / "log")
    write_change_log(spark, log_dir, 3000, 200, n_batches=3, seed=23)
    job = tmp_path / "job.py"
    job.write_text(JOB)
    table_dir = str(tmp_path / "t")

    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYTHONPATH", None)  # the zip must be the only engine source
    r = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--py-files", str(zip_path),
            str(job), log_dir, table_dir, "3",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo checkout
        env=env,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    import json

    head = json.loads(r.stdout.strip().splitlines()[-1])
    assert head["epochs"] == 3 and head["skipped"] == 0

    # read the submitted job's table back in THIS session and hold it
    # against the single-threaded oracle reducer
    table = LakeTable(table_dir)
    n = assert_equal_state(table.read(spark), f"{log_dir}/batch-*/*.parquet")
    assert n == head["rows"] > 0
