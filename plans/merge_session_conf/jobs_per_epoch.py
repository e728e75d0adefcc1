"""Spark jobs per MOR epoch (the cdc_mixed write shape), counted per job group.

Run from anywhere: python jobs_per_epoch.py <checkout> <scratch-dir>"""
import os, sys, shutil
repo, work = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from airbyte_destination_spark import get_spark
from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.sources.changegen import write_change_log
from airbyte_destination_spark.streaming import pipeline

shutil.rmtree(work, ignore_errors=True)
spark = get_spark(master="local[4]", shuffle_partitions=4)
sc = spark.sparkContext
log = os.path.join(work, "log")
dirs = write_change_log(spark, log, 20000 * 6, 20000, n_batches=6, seed=1)
t = LakeTable(os.path.join(work, "t"))
cfg = pipeline.IngestConfig(merge_strategy="mor", auto_compact_files=3)
st = sc.statusTracker()
for i, d in enumerate(dirs):
    before = set(st.getJobIdsForGroup(None))
    g = f"ep{i}"
    sc.setJobGroup(g, g)
    try:
        pipeline.run_ingest_batches(spark, [d], t, cfg, job_name=f"epoch{i:06d}", bloom=True)
    finally:
        sc.setJobGroup(None, None)
    grouped = len(st.getJobIdsForGroup(g))
    other = len(set(st.getJobIdsForGroup(None)) - before)
    print(f"epoch {i}: grouped={grouped} ungrouped={other} files={sum(len(f) for f in t.manifest()['buckets'].values())}", flush=True)
spark.stop()
