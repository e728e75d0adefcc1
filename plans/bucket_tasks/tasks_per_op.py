"""Spark jobs, stages and tasks per cdcbench write: each MOR epoch of
cdc_mixed (the third compacts inline) and each airbyte_sync sync,
counted per job group with the status tracker.

Run from anywhere: python3 tasks_per_op.py <checkout> [seed]

It uses the checkout's own cdcbench session settings, inputs (built into
<checkout>/.cdcbench/cache if missing) and workloads, at local[nproc]
with nproc shuffle partitions, as `cdcbench/run.py` does."""
import os
import shutil
import sys

repo = os.path.abspath(sys.argv[1])
seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
sys.path.insert(0, repo)
os.chdir(repo)
from cdcbench import inputs, run, workloads  # noqa: E402

settings = run.load_settings()
paths = run.prepare_env(settings["session"])
inputs.ensure(paths["cache"], "standard", seed, settings["sizes"]["standard"], repo)
spark = run.start_session(settings["session"], paths)
sc = spark.sparkContext
st = sc.statusTracker()
bus = sc._jsc.sc().listenerBus()


def counted(name, op):
    """Run `op` in job group `name`; return its jobs (the group's and any
    outside a group, e.g. the merge's background lineage job), stages
    run and tasks run, and the tasks of each job's stages."""
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(name, name)
    try:
        op()
    finally:
        sc.setJobGroup(None, None)
    bus.waitUntilEmpty()  # the status store has seen every event
    jobs = sorted(set(st.getJobIdsForGroup(name)) | (set(st.getJobIdsForGroup(None)) - before))
    per_job = []
    for j in jobs:
        stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        per_job.append([s.numCompletedTasks for s in stages if s and s.numCompletedTasks])
    n_stages = sum(len(p) for p in per_job)
    n_tasks = sum(sum(p) for p in per_job)
    return f"jobs={len(jobs)} stages={n_stages} tasks={n_tasks} tasks_per_job={per_job}"


print(f"# checkout={repo} seed={seed} master={sc.master} "
      f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')}", flush=True)
for name in ("cdc_mixed", "airbyte_sync"):
    work = os.path.join(paths["work"], f"tasks-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = workloads.Context(spark, seed, "standard", settings["sizes"]["standard"], work,
                            paths["cache"], cpu=None, speed=[])
    wl = workloads.WORKLOADS[name](ctx)
    wl.prepare()
    for i in range(workloads.WRITES):
        print(f"{name} write {i}: {counted(f'{name}-w{i}', wl.write)}", flush=True)
run.stop_session(spark)
