"""The north rule's verification clause, literally: full replay of the
same change log at TWO cluster sizes (fresh driver JVMs at local[2] and
local[8], different shuffle widths), then per-row token-array equality
— replica vs replica AND each vs the single-threaded oracle reducer.

The bench harness measures the throughput/efficiency half of the
two-cluster-size criterion (BASELINE.md scaling protocol); this pins
the correctness half inside `python -m pytest -x -q`.
"""

from __future__ import annotations

import json
import os
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

master, shuffle, log_dir, table_dir, n_batches = (
    sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], int(sys.argv[5])
)
spark = (SparkSession.builder.appName("two-sizes")
         .master(master)
         .config("spark.sql.shuffle.partitions", shuffle)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.parquet.fieldId.read.enabled", "true")
         .getOrCreate())

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.streaming.pipeline import (
    IngestConfig, run_ingest_batches,
)

dirs = [f"{log_dir}/batch-{b:05d}" for b in range(n_batches)]
table = LakeTable(table_dir)
stats = run_ingest_batches(spark, dirs, table, IngestConfig(n_buckets=8))
print(json.dumps({"skipped": sum(1 for s in stats if s.skipped),
                  "rows": table.read(spark).count()}))
spark.stop()
"""


@pytest.mark.slow
def test_full_replay_at_two_cluster_sizes_is_row_identical(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    write_change_log(spark, log_dir, 4000, 250, n_batches=3, seed=47)
    job = tmp_path / "job.py"
    job.write_text(JOB)
    root = str(Path(__file__).resolve().parent.parent)
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=root,
    )
    tables = {}
    for name, master, shuffle in (
        ("small", "local[2]", "2"),
        ("large", "local[8]", "16"),
    ):
        table_dir = str(tmp_path / f"t-{name}")
        r = subprocess.run(
            [sys.executable, str(job), master, shuffle, log_dir, table_dir, "3"],
            capture_output=True,
            text=True,
            cwd=str(tmp_path),
            env=env,
            timeout=420,
        )
        assert r.returncode == 0, r.stderr[-4000:]
        head = json.loads(r.stdout.strip().splitlines()[-1])
        assert head["skipped"] == 0
        tables[name] = (table_dir, head["rows"])

    # each replica against the independent single-threaded oracle
    for table_dir, rows in tables.values():
        n = assert_equal_state(
            LakeTable(table_dir).read(spark), f"{log_dir}/batch-*/*.parquet"
        )
        assert n == rows > 0

    # and per-row token-array equality replica vs replica (the rule's
    # own phrasing) — full rows, order-insensitive
    small = LakeTable(tables["small"][0]).read(spark)
    large = LakeTable(tables["large"][0]).read(spark)
    cols = sorted(set(small.columns) & set(large.columns))
    assert sorted(small.columns) == sorted(large.columns)
    s_rows = sorted(map(repr, small.select(*cols).collect()))
    l_rows = sorted(map(repr, large.select(*cols).collect()))
    assert s_rows == l_rows
