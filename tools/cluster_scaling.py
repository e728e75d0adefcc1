"""Two-cluster-size scaling on a REAL Spark standalone cluster.

The north rule's scaling criterion names the exact deployment shape:
"run via spark-submit --py-files on a multi-executor cluster at two
cluster sizes (N and 4N executors) with throughput scaling efficiency
>=0.8". bench.py's `scaling_low` section evidences it with CPU-pinned
local[N] JVMs (one JVM, N task threads). This tool runs the SAME
paired-round protocol with every element of the named shape real:

- each side is a private standalone cluster: one Master JVM plus N
  (resp. 4N) Worker JVMs, each worker offering exactly 1 core, so the
  large side has 4x as many single-core executor JVMs — shuffle
  between executors crosses process boundaries through netty, task
  results flow over RPC, and the driver schedules against a real
  cluster manager rather than an in-process scheduler;
- the driver for each side is launched with `spark-submit --py-files
  <engine.zip>` in a scrubbed environment (PYTHONPATH removed, cwd
  outside the checkout) so the packaged zip is the only source of the
  engine — the deployment artifact the rule names is what runs;
- executor JVMs are CPU-pinned to DISJOINT ranges (small on cores
  [0, N), large on [N, N+4N)) via sched_setaffinity inherited from
  their Worker daemons, so "N executors" means N cores of machine,
  not N task slots wandering over 32 idle cores. Masters and the two
  driver JVMs are pinned to a separate shared CONTROL range — the
  rule counts EXECUTORS, and a driver squeezed into the small side's
  2 cores would handicap it asymmetrically (the large side's driver
  would enjoy 8);
- per round and per side: fresh table, untimed seed batch, then
  n_reps identical timed merge batches (rep 0 discarded as plan
  warmup, round value = min of the rest), paired adjacent-in-time
  with alternating order, /proc/stat steal measured per timed window;
  the estimator (steal<=3% filter, direction-neutral episode
  rejection, median of per-round paired efficiencies) is IMPORTED
  from bench.py — same rules, zero divergence.

Run on an otherwise-idle box:   python tools/cluster_scaling.py
Writes CLUSTER_SCALING.json (full per-round detail) and prints the
compact headline as the last stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402  (estimator + steal/quiesce helpers)

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _pin(lo: int, hi: int):
    """preexec_fn pinning the child (and all its descendants) to
    [lo, hi] BEFORE exec — a JVM started under this mask sizes its
    GC/compiler/task pools from sched_getaffinity."""

    def fn():
        os.sched_setaffinity(0, set(range(lo, hi + 1)))

    return fn


class Cluster:
    """One private standalone cluster: a Master and n_workers Worker
    JVMs each offering exactly 1 core, all pinned to the given ranges."""

    def __init__(self, tag: str, n_workers: int, exec_lo: int, exec_hi: int,
                 ctl_lo: int, ctl_hi: int, base_port: int, work: str,
                 worker_mem: str = "3g"):
        self.tag = tag
        self.n_workers = n_workers
        self.base_port = base_port
        self.url = f"spark://127.0.0.1:{base_port}"
        self.procs: list[subprocess.Popen] = []
        env = {**os.environ, "SPARK_LOG_DIR": f"{work}/logs-{tag}",
               "SPARK_NO_DAEMONIZE": "1",
               "PYSPARK_PYTHON": sys.executable}
        self.procs.append(subprocess.Popen(
            [f"{SPARK_HOME}/bin/spark-class",
             "org.apache.spark.deploy.master.Master",
             "-h", "127.0.0.1", "-p", str(base_port),
             "--webui-port", str(base_port + 1)],
            env=env, preexec_fn=_pin(ctl_lo, ctl_hi),
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL))
        for w in range(n_workers):
            wenv = {**env, "SPARK_WORKER_DIR": f"{work}/wk-{tag}-{w}"}
            # the Worker daemon forks the executor JVM, which inherits
            # the affinity mask — pinning the daemon pins the executor
            self.procs.append(subprocess.Popen(
                [f"{SPARK_HOME}/bin/spark-class",
                 "org.apache.spark.deploy.worker.Worker", self.url,
                 "-c", "1", "-m", worker_mem,
                 "-p", str(base_port + 10 + w),
                 "--webui-port", str(base_port + 100 + w)],
                env=wenv, preexec_fn=_pin(exec_lo, exec_hi),
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL))

    def wait_ready(self, timeout: float = 90.0) -> bool:
        t0 = time.time()
        while time.time() - t0 < timeout:
            try:
                with urllib.request.urlopen(
                        f"http://127.0.0.1:{self.base_port + 1}/json/",
                        timeout=2) as r:
                    d = json.loads(r.read())
                if d.get("aliveworkers", 0) >= self.n_workers:
                    return True
            except Exception:  # noqa: BLE001
                pass
            time.sleep(0.5)
        return False

    def stop(self) -> None:
        for p in self.procs:
            p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()


# The per-side driver job. Runs under spark-submit with the engine zip
# as its ONLY source of the package; follows bench._worker's round
# protocol (fresh table, untimed seed, timed reps with rep0 discarded,
# deferred cleanup of the previous round's table) driven by go/done
# sync files so the orchestrator can pair the two sides in time.
JOB = '''\
import json, os, shutil, sys, time
from pathlib import Path

def _cpu_ticks():
    try:
        f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
        v = [int(x) for x in f]
        return (v[7] if len(v) > 7 else 0, sum(v))
    except Exception:
        return (0, 0)

def _loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except Exception:
        return -1.0

(n_exec, log_dir, warm_dir, sync_dir, n_rounds, n_reps, n_buckets,
 work) = (int(sys.argv[1]), sys.argv[2], sys.argv[3], sys.argv[4],
          int(sys.argv[5]), int(sys.argv[6]), int(sys.argv[7]),
          sys.argv[8])

from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName(f"cluster-scale-{n_exec}")
         .config("spark.sql.shuffle.partitions", str(max(n_exec, 8)))
         .config("spark.sql.parquet.fieldId.read.enabled", "true")
         .getOrCreate())

from airbyte_destination_spark.lake import LakeTable
from airbyte_destination_spark.streaming.pipeline import (
    IngestConfig, apply_change_batch,
)

cfg = IngestConfig(n_buckets=n_buckets, merge_strategy="mor")
wt = LakeTable(os.path.join(work, f"warm-{n_exec}"))
wdirs = sorted(str(p) for p in Path(warm_dir).glob("batch-*"))
# JIT warmup is PER EXECUTOR JVM: the large side splits each warm batch
# over 4x as many JVMs, so equal-batch-count warmup leaves its
# executors cold for rounds (measured: eps_large still climbing at
# round 3 under n_warm=4). Scale warm batches with executor count so
# every JVM executes the same warm work before round 0.
n_warm = 3 * n_exec
for i in range(n_warm):
    apply_change_batch(wt, spark.read.parquet(wdirs[i % len(wdirs)]),
                       f"warm-{i}", cfg)
dirs = sorted(str(p) for p in Path(log_dir).glob("batch-*"))
seed = spark.read.parquet(dirs[0])
timed = spark.read.schema(seed.schema).parquet(dirs[1])
Path(sync_dir, f"ready-{n_exec}").write_text("1")
pending = None
for i in range(n_rounds):
    go = Path(sync_dir, f"go-{n_exec}-{i}")
    while not go.exists():
        time.sleep(0.05)
    if pending:
        shutil.rmtree(pending, ignore_errors=True)
    tdir = os.path.join(work, f"t-{n_exec}-{i}")
    table = LakeTable(tdir)
    apply_change_batch(table, seed, "seed", cfg)
    spark._jvm.System.gc()  # driver heap; executors are per-side fresh
    load = _loadavg()
    st0, tt0 = _cpu_ticks()
    reps, ev = [], 0
    for k in range(n_reps):
        t0 = time.time()
        s = apply_change_batch(table, timed, f"timed-{i}-{k}", cfg)
        el = time.time() - t0
        if k > 0:
            reps.append(el)
            ev = sum(l["rows_applied"] for l in s.lineage)
    el = min(reps)
    st1, tt1 = _cpu_ticks()
    Path(sync_dir, f"done-{n_exec}-{i}").write_text(json.dumps({
        "sec": round(el, 3), "events": ev, "eps": round(ev / el, 1),
        "loadavg_before": load,
        "steal_pct": round(100.0 * (st1 - st0) / max(tt1 - tt0, 1), 2),
        "reps": [round(x, 3) for x in reps],
    }))
    pending = tdir
spark.stop()
'''


# Cross-cluster-size state equality: the north rule's correctness
# clause is per-row token-array equality after replaying the same log
# at both cluster sizes. Both sides applied IDENTICAL seed+timed
# batches each round, so their last-round tables must be equal row for
# row. Runs in a fresh local subprocess after the clusters stop.
PARITY = '''\
import json, sys
sys.path.insert(0, sys.argv[3])
from airbyte_destination_spark import get_spark
from airbyte_destination_spark.lake import LakeTable
from pyspark.sql import functions as F

spark = get_spark(app_name="cluster-parity", master="local[8]",
                  shuffle_partitions=8)
cols = ["doc_id", "tokens", "n_tok", "source", "change_lsn"]
a = LakeTable(sys.argv[1]).read(spark).select(*cols)
b = LakeTable(sys.argv[2]).read(spark).select(*cols)

def summ(df):
    # decimal(38,0) sum: 2^63-magnitude terms cannot overflow 38 digits
    # at any realistic row count (ANSI mode makes a long sum throw)
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
                  ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)

na, ha = summ(a)
nb, hb = summ(b)
mism = 0 if (na, ha) == (nb, hb) else a.exceptAll(b).count()
print("PARITY " + json.dumps({
    "rows_small": na, "rows_large": nb, "equal": (na, ha) == (nb, hb),
    "checksum_small": ha, "checksum_large": hb, "mismatch_rows": mism}))
spark.stop()
'''


def _state_parity(work: str, n_small: int, n_large: int,
                  last_round: int) -> dict | None:
    sdir = os.path.join(work, f"t-{n_small}-{last_round}")
    ldir = os.path.join(work, f"t-{n_large}-{last_round}")
    if not (os.path.isdir(sdir) and os.path.isdir(ldir)):
        return None
    r = subprocess.run(
        [sys.executable, "-c", PARITY, sdir, ldir, str(REPO)],
        capture_output=True, text=True, timeout=600)
    for line in reversed(r.stdout.splitlines()):
        if line.startswith("PARITY "):
            return json.loads(line[len("PARITY "):])
    bench._phase(f"state parity check failed: {r.stderr[-500:]}")
    return None


def _submit_driver(murl: str, n_exec: int, ctl: tuple[int, int],
                   zip_path: str, job_path: str, args: list[str],
                   work: str, tag: str) -> subprocess.Popen:
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)  # the zip must be the only engine source
    return subprocess.Popen(
        [_spark_submit(),
         "--master", murl,
         "--py-files", zip_path,
         "--conf", f"spark.cores.max={n_exec}",
         "--conf", "spark.executor.cores=1",
         "--conf", "spark.executor.memory=2g",
         # match session.py's measured-local JVM tuning on the EXECUTOR
         # JVMs (they don't inherit driver opts): ParallelGC with a
         # half-heap young gen — G1's default pause-target heuristics on
         # a 1-core 2g executor produced round-long 40% throughput dips
         # (whole rounds at 7.5s/rep vs 3.8s) as region occupancy
         # crossed its IHOP; ParallelGC's fixed generations are stable
         "--conf", "spark.executor.extraJavaOptions="
                   "-XX:+UseParallelGC -XX:NewRatio=1",
         "--conf", "spark.storage.memoryMapThreshold=2g",
         "--conf", "spark.driver.memory=4g",
         "--conf", "spark.driver.extraJavaOptions="
                   "-XX:+UseParallelGC -XX:NewRatio=1",
         "--conf", "spark.ui.enabled=false",
         "--conf", f"spark.local.dir={work}/sl-{tag}",
         job_path, *args],
        env=env, preexec_fn=_pin(*ctl), cwd=work,
        stdout=open(f"{work}/driver-{tag}.out", "w"),
        stderr=subprocess.STDOUT)


def run(n_small: int = 2, events: int = 4_000_000, warm_rounds: int = 1,
        n_measured: int = 3, max_rounds: int = 6, n_reps: int = 3,
        n_buckets: int = 32, budget_sec: float = 900.0,
        out_path: str | None = None) -> dict:
    t_start = time.time()
    n_large = 4 * n_small
    total = os.cpu_count() or 32
    if n_small + n_large + 4 > total:
        raise SystemExit(f"need {n_small + n_large + 4} cores, have {total}")
    exec_small = (0, n_small - 1)
    exec_large = (n_small, n_small + n_large - 1)
    ctl = (n_small + n_large, n_small + n_large + 3)

    work = bench._scratch("cluster-scale-")
    sync = os.path.join(work, "sync")
    os.makedirs(sync, exist_ok=True)

    bench._phase(f"cluster-scaling gen {events} events")
    from airbyte_destination_spark.session import get_spark
    from airbyte_destination_spark.sources.changegen import write_change_log

    sp = get_spark(app_name="cluster-scale-gen", master=f"local[{total}]")
    write_change_log(sp, f"{work}/log", events, max(events // 10, 1000),
                     n_batches=2, seed=43, num_partitions=total,
                     files_per_batch=4 * total)
    write_change_log(sp, f"{work}/warm", bench.WARM_EVENTS,
                     bench.WARM_EVENTS // 10, n_batches=1, seed=44,
                     num_partitions=total)
    sp.stop()

    zip_path = os.path.join(work, "engine.zip")
    subprocess.run([sys.executable, str(REPO / "tools" / "package.py"),
                    zip_path], check=True, capture_output=True)
    job_path = os.path.join(work, "job.py")
    Path(job_path).write_text(JOB)

    bench._phase("starting clusters")
    clusters = [
        Cluster("small", n_small, *exec_small, *ctl, 7301, work),
        Cluster("large", n_large, *exec_large, *ctl, 7401, work),
    ]
    drivers = []
    try:
        for c in clusters:
            if not c.wait_ready():
                raise SystemExit(f"cluster {c.tag} failed to start")
        n_rounds = warm_rounds + max_rounds
        for c, n_exec, tag in ((clusters[0], n_small, "small"),
                               (clusters[1], n_large, "large")):
            drivers.append(_submit_driver(
                c.url, n_exec, ctl, zip_path, job_path,
                [str(n_exec), f"{work}/log", f"{work}/warm", sync,
                 str(n_rounds), str(n_reps), str(n_buckets), work],
                work, tag))
        for n_exec in (n_small, n_large):
            deadline = time.time() + 600
            while not Path(sync, f"ready-{n_exec}").exists():
                if time.time() > deadline:
                    raise SystemExit(f"driver {n_exec} never became ready")
                for d in drivers:
                    if d.poll() not in (None, 0):
                        tag = "small" if d is drivers[0] else "large"
                        tail = Path(f"{work}/driver-{tag}.out").read_text()[-3000:]
                        raise SystemExit(f"driver {tag} died:\n{tail}")
                time.sleep(0.3)
        bench._phase("both drivers warm")
        bench._quiesce()

        def _is_clean(r: dict) -> bool:
            return max(r.get("steal_small_pct", 0),
                       r.get("steal_large_pct", 0)) <= 3.0

        rounds: list[dict] = []
        for i in range(n_rounds):
            meas = [r for r in rounds if not r["warmup"]]
            n_clean = len(bench._drop_episodes(
                [r for r in meas if _is_clean(r)])[0])
            if len(meas) >= n_measured and n_clean >= 3:
                break
            if len(meas) >= 2 and time.time() - t_start > budget_sec:
                break
            order = ((n_small, n_large) if i % 2 == 0
                     else (n_large, n_small))
            pair = {}
            for c in order:
                Path(sync, f"go-{c}-{i}").write_text("1")
                done = Path(sync, f"done-{c}-{i}")
                while not done.exists():
                    time.sleep(0.05)
                time.sleep(0.05)
                pair[c] = json.loads(done.read_text())
            rounds.append({
                "round": i,
                "order": f"{order[0]}->{order[1]}",
                "warmup": i < warm_rounds,
                "eps_small": pair[n_small]["eps"],
                "eps_large": pair[n_large]["eps"],
                "efficiency": round(
                    pair[n_large]["eps"] / (4 * pair[n_small]["eps"]), 4),
                "loadavg": pair[n_small]["loadavg_before"],
                "steal_small_pct": pair[n_small].get("steal_pct", -1),
                "steal_large_pct": pair[n_large].get("steal_pct", -1),
                "reps_small": pair[n_small].get("reps"),
                "reps_large": pair[n_large].get("reps"),
            })
            bench._phase(f"round {i} eff={rounds[-1]['efficiency']}")
    finally:
        for d in drivers:
            d.terminate()
        for d in drivers:
            try:
                d.wait(timeout=20)
            except subprocess.TimeoutExpired:
                d.kill()
        for c in clusters:
            c.stop()

    # both sides replayed the same log: their final tables must match
    # row for row (the rule's token-array-equality-at-two-sizes clause)
    parity = None
    try:
        if rounds:
            bench._phase("cross-cluster-size state parity check")
            parity = _state_parity(work, n_small, n_large,
                                   rounds[-1]["round"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    meas = [r for r in rounds if not r["warmup"]] or rounds
    clean = [r for r in meas if _is_clean(r)]
    used = clean if len(clean) >= 2 else meas
    used, n_episodes = bench._drop_episodes(used)
    effs = sorted(r["efficiency"] for r in used)
    mid = len(effs) // 2
    eff = round(effs[mid] if len(effs) % 2 else
                (effs[mid - 1] + effs[mid]) / 2, 4)
    out = {
        "mode": "standalone-cluster",
        "submit": "spark-submit --py-files engine.zip",
        "n_small": n_small, "n_large": n_large,
        "executors": {"small": f"{n_small} x (1 core, 2g)",
                      "large": f"{n_large} x (1 core, 2g)"},
        "strategy": "mor",
        "events_timed": events // 2,
        "eps_small": sorted(r["eps_small"] for r in used)[len(used) // 2],
        "eps_large": sorted(r["eps_large"] for r in used)[len(used) // 2],
        "efficiency": eff,
        "efficiency_peak": bench._peak_eff(used),
        "steal_filtered": len(clean) >= 2,
        "episode_rejected": n_episodes,
        "rounds_used": len(used),
        # per-row equality of the two sides' final tables after
        # replaying the same log (count + xxhash64 checksum, exceptAll
        # on divergence) — the rule's two-cluster-size replay clause
        "state_parity": parity,
        "rounds": rounds,
        "pin_disjoint": True,
        "pin_ranges": {"small_executors": f"{exec_small[0]}-{exec_small[1]}",
                       "large_executors": f"{exec_large[0]}-{exec_large[1]}",
                       "drivers_and_masters": f"{ctl[0]}-{ctl[1]}"},
        "note": "each side is a private standalone cluster (1 Master + "
                "K single-core Worker JVMs -> K executor JVMs), workers "
                "pinned to disjoint core ranges, drivers submitted with "
                "spark-submit --py-files in a PYTHONPATH-scrubbed env; "
                "per-round protocol and estimator identical to bench.py "
                "scaling_low (fresh table, untimed seed, min of timed "
                "reps with rep0 discarded, steal<=3% filter + episode "
                "rejection, median of paired round efficiencies)",
        "wall_sec": round(time.time() - t_start, 1),
    }
    if out_path:
        Path(out_path).write_text(json.dumps(out, indent=1))
    compact = {k: out[k] for k in
               ("mode", "n_small", "n_large", "eps_small", "eps_large",
                "efficiency", "efficiency_peak", "steal_filtered",
                "episode_rejected", "rounds_used")}
    if parity is not None:
        compact["state_equal"] = parity["equal"]
    print(json.dumps(compact, separators=(",", ":")))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-small", type=int, default=2,
                    help="N executors on the small side (large = 4N)")
    ap.add_argument("--events", type=int, default=4_000_000,
                    help="total log events; half seed, half timed")
    ap.add_argument("--warm-rounds", type=int, default=1)
    ap.add_argument("--n-measured", type=int, default=3)
    ap.add_argument("--max-rounds", type=int, default=6)
    ap.add_argument("--n-reps", type=int, default=3)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--budget-sec", type=float, default=900.0)
    ap.add_argument("--out", default=str(REPO / "CLUSTER_SCALING.json"))
    a = ap.parse_args()
    run(a.n_small, a.events, a.warm_rounds, a.n_measured, a.max_rounds,
        a.n_reps, a.n_buckets, a.budget_sec, a.out)


if __name__ == "__main__":
    main()
