"""Benchmark of the drivel-spark validation engine on local[4].

    python3 perfbench/run.py --workload audio_validate --seed 42 --seconds 8 --trace 0

Run from the repository root.  The command generates the workload's
input tables and baseline profile from the seed (cached under
``.perfbench/``).  It then starts fresh engine processes (``child.py``)
one after another: an untraced run times the set-up of two, and the
last of them runs the batches.  It polls each process tree's peak memory
from outside, and prints one JSON line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, under the names
and units BENCHMARK.json declares.
It exits 1 when any batch fails its output checks, and 2 when the
engine's sources are not beside it.  README.md in this directory
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
# seconds after its start by which a run stops its engine processes
DEADLINE_S = 170
# fresh engine processes an untraced run sets up; setup_s is their
# median, and the last one goes on to run the batches
SETUPS = 2
# prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36

WORKLOAD_TABLE = {"audio_validate": "audio", "write_path": "tab"}


def declared_metrics() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    return [int(x) for x in procfs.read("/proc/stat").splitlines()[0].split()[1:]]


class MemoryPoller(threading.Thread):
    """Polls VmHWM (peak resident set) of the JVM and of the Python worker
    processes under one process tree."""

    def __init__(self, root_pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid, self.every_s = root_pid, every_s
        self.peak = {"jvm": 0.0, "worker": 0.0}
        self.done = threading.Event()

    def poll(self) -> None:
        for pid in procfs.descendants(self.root_pid, procfs.stat_table()):
            if procfs.read(f"/proc/{pid}/comm").strip() == "java":
                role = "jvm"
            elif procfs.is_python_worker(pid):
                role = "worker"
            else:
                continue
            for line in procfs.read(f"/proc/{pid}/status").splitlines():
                if line.startswith("VmHWM:"):
                    mb = int(line.split()[1]) / 1024
                    self.peak[role] = max(self.peak[role], mb)

    def run(self) -> None:
        while not self.done.is_set():
            self.poll()
            self.done.wait(self.every_s)


def become_subreaper() -> None:
    """Make this process the reaper of every orphan among its
    descendants.  The Spark Python daemon moves into a process group of
    its own, and a process whose parent dies is otherwise handed to
    init, out of this process's sight."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_engine(sid: int, timeout_s: float = 20.0) -> None:
    """Kill every process in the engine's session ``sid`` and every
    other descendant of this process, reap those handed to it, and wait
    until none is left.  By then the engine has written its figures, and
    a JVM still shutting down holds nothing the run needs."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while True:
        table = procfs.stat_table()
        mine = set(procfs.descendants(me, table))
        left = [pid for pid, f in table.items()
                if pid != me and (int(f[3]) == sid or pid in mine)]
        if not left:
            return
        if time.time() > deadline:
            raise RuntimeError(f"engine processes still running: {left}")
        for pid in left:
            try:
                if table[pid][0] == "Z" and int(table[pid][1]) == me:
                    os.waitpid(pid, 0)
                else:
                    os.kill(pid, signal.SIGKILL)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.05)


def run_child(cmd: list[str], cwd: str, env: dict, log_path: str,
              timeout: float) -> tuple[int | None, float, dict]:
    """Run one engine process in a session of its own, polling its peak
    memory, and stop whatever it leaves behind.  Returns its exit code
    (None when it ran out of time), its spawn time and its peaks."""
    with open(log_path, "a") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        poller = MemoryPoller(proc.pid)
        poller.start()
        try:
            rc = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            poller.done.set()
            poller.join()
            proc.kill()
            proc.wait()
            stop_engine(proc.pid)
    return rc, spawn, poller.peak


def percentile_summary(xs: list[float]) -> dict:
    """Median, quartiles and the highest of p75/p90/p95/p99 that the sample
    count supports (p needs at least 1/(1-p) samples)."""
    out = {"n": len(xs), "median": statistics.median(xs)}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        out.update(q1=q1, q3=q3)
    for p in (99, 95, 90, 75):
        if len(xs) >= 100 / (100 - p):
            out[f"p{p}"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
            break
    return out


def child_env(trace: int) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("PYSPARK_SUBMIT", "PYSPARK_GATEWAY"))}
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env.update(
        # Python workers import drivel_spark too: without this they fail
        # with ModuleNotFoundError whenever the cwd is not the repo root
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        TMPDIR=os.path.join(WORK, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env["DRIVEL_WARMUP"] = str(trace)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLE))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8,
                    help="how long the batches after the warm-up run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM to this process still stops the engine's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not os.path.isfile(os.path.join(ROOT, "drivel_spark", "job.py")):
        print(f"perfbench: no drivel_spark sources under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    import gen

    t_run = time.time()
    data, gen_s = gen.ensure_table(
        os.path.join(WORK, "data"), WORKLOAD_TABLE[args.workload], args.seed
    )
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(run_dir)
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--data", data, "--work", run_dir,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    log_path = os.path.join(WORK, f"child-{args.workload}.log")
    open(log_path, "w").close()
    env = child_env(args.trace)
    ticks0 = cpu_ticks()
    n_setups = 1 if args.trace else SETUPS
    setups, walls = [], []
    for k in range(n_setups):
        out_path = os.path.join(run_dir, f"result-{k}.json")
        last = k == n_setups - 1
        rc, spawn, peak = run_child(
            cmd + ["--out", out_path] + ([] if last else ["--setup-only"]),
            run_dir, env, log_path, DEADLINE_S - (time.time() - t_run),
        )
        if rc != 0 or not os.path.exists(out_path):
            print(f"perfbench: engine process failed (exit {rc}); see {log_path}",
                  file=sys.stderr)
            print(procfs.read(log_path)[-4000:], file=sys.stderr)
            return 1
        with open(out_path) as fh:
            res = json.load(fh)
        setups.append(res["ready"] - spawn)
        walls.append(time.time() - spawn)
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]

    batches = res["batches"]
    failed = sum(1 for ok in res["ok"] if not ok)
    correct = failed == 0 and not res["errors"]
    steady = batches[res["warmup"]:]
    resume = [c["write.resume_s"] for c in res["calls"][res["warmup"]:] if "write.resume_s" in c]
    # end-to-end figures a single sample per run measures too loosely to gate
    ungated = {
        "first_batch_s": (batches[0], "s"),
        "jvm_peak_rss_mb": (peak["jvm"], "MB"),
        "failed_ratio": (failed / len(batches), "ratio"),
    }
    if resume:
        ungated["resume_s"] = (statistics.median(resume), "s")
    detail = {
        "workload": args.workload, "seed": args.seed, "input_gen_s": gen_s,
        "setups_s": setups, "processes_s": walls, "digest": res["digest"],
        "produce_hash": res["produce_hash"],
        "ungated": {k: {"value": v, "unit": u} for k, (v, u) in ungated.items()},
        "steady_batches_s": percentile_summary(steady),
        "batches_s": batches, "calls_s": res["calls"],
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_share": ticks[7] / max(sum(ticks), 1), "errors": res["errors"][:20],
    }
    end_to_end, per_layer = declared_metrics()
    if args.trace:
        metrics = {}
        for name in per_layer:
            vals = [m[name] for m in res["layers"] if name in m]
            metrics[name] = statistics.median(vals) if vals else 0
        metrics["job.warm_s"] = res["warm_s"]
        metrics["job.jvm_peak_rss_mb"] = peak["jvm"]
        units = per_layer
    else:
        batch_s = statistics.median(steady)
        metrics = {
            "batch_s": batch_s,
            "rows_per_s": res["n_rows"] / batch_s,
            "setup_s": statistics.median(setups),
            "worker_peak_rss_mb": peak["worker"],
        }
        units = end_to_end
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct, "attempted": len(batches), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
