#!/usr/bin/env python3
"""Benchmark of the churn and LLM-corpus workflows, end to end and by layer.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 10 --trace 0

Computes the expected outputs on the fixture tables with DuckDB, then
starts one fresh measured process (trial.py: Python driver, JVM, Python
workers) and samples the memory of its process group.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. The line before it records provenance. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# The repository's seed-42 fixture tables at sf 0.01, copied byte for byte
# so that a run reads nothing outside its checkout. --seed permutes the op
# order inside each pass; the data stays fixed.
SF = 0.01
DATA_DIR = os.path.join(HERE, "fixtures", f"sf{SF}")
# Cores for local[k]: at most 4, and one left for the Spark driver's own
# threads (Python driver, JIT and GC), which otherwise contend with tasks.
MAX_CPUS = 4
# The measured process must finish well inside the 180 s a run may take.
TRIAL_TIMEOUT_S = 160


def group_pids(pgid: int) -> list[int]:
    """The live processes of a process group."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid:
                pids.append(int(entry))
    return pids


def pss_kb(pid: int) -> int:
    """A process's proportional set size: its resident pages, with each
    page shared by n processes counted 1/n."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return int(next(line for line in f if line.startswith("Pss:")).split()[1])


class PeakRss(threading.Thread):
    """Peak resident memory of a process group: the largest sum of Pss over
    its live processes, polled every 200 ms while it runs. Pss splits shared
    pages (a forked worker's copy-on-write pages, say) among the processes
    that share them, so no page counts twice."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid = pgid
        self.peak_kb = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.2):
            total = 0
            for pid in group_pids(self.pgid):
                try:
                    total += pss_kb(pid)
                except (OSError, StopIteration):
                    pass  # the process ended between listing and reading
            self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return min(2048, total_kb // 1024 // 4)


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        return ref
    except OSError:
        return "unknown"


def inputs_digest(ops: list[str]) -> str:
    """Hash of everything the expected outputs derive from: the fixture
    tables, the check and workload code, and the ops' oracle SQL."""
    import checks
    import workloads
    from morphl_model_publishers_churning_users_spark.registry import get_oracles

    h = hashlib.sha256()
    for name in sorted(os.listdir(DATA_DIR)):
        with open(os.path.join(DATA_DIR, name), "rb") as f:
            h.update(name.encode() + f.read())
    for mod in (checks, workloads):
        h.update(inspect.getsource(mod).encode())
    oracles = get_oracles()
    for op in ops:
        h.update(f"{op}\0{oracles.get(op, '')}\0".encode())
    return h.hexdigest()[:16]


def expected_outputs(workload: str) -> str:
    """Pickle of the expected output per op, computed once per input set."""
    from workloads import WORKLOADS

    ops = WORKLOADS[workload]
    cache = os.path.join(WORK, "expected")
    path = os.path.join(cache, f"{workload}_{inputs_digest(ops)}.pkl")
    if not os.path.exists(path):
        from checks import expectations

        os.makedirs(cache, exist_ok=True)
        exp = expectations(DATA_DIR, ops)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(exp, f)
        os.replace(tmp, path)
    return path


def stop_group(pgid: int) -> None:
    """Kill what is left of the measured process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_trial(args, expected: str, run_dir: str, heap_mb: int, cpus: int):
    tmp, event_dir = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "eventlog")
    for d in (tmp, event_dir):
        os.makedirs(d)
    confs = [
        "spark.ui.showConsoleProgress=false",
        # Keep the JVM's temp files, and its perf-counter file (which it
        # would put in /tmp regardless), inside the checkout.
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if args.trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            "spark.ui.retainedJobs=100000",
            "spark.ui.retainedStages=100000",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_EXTRA_CONFS=";".join(confs),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cpus": cpus,
        "data_dir": DATA_DIR,
        "expected": expected,
        "event_log_dir": event_dir,
        "out": os.path.join(run_dir, "out.json"),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "trial.log")
    with open(log_path, "wb") as log:
        spawn_wall = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "trial.py"), cfg_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = PeakRss(child.pid)
        sampler.start()
        try:
            rc = child.wait(timeout=TRIAL_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop.set()
            sampler.join()
            stop_group(child.pid)
            child.wait()
            # The engine writes sink outputs under .scratch/pid<N>.
            shutil.rmtree(os.path.join(ROOT, ".scratch", f"pid{child.pid}"), ignore_errors=True)
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"measured process {why}; log tail:\n{tail}")
    with open(cfg["out"]) as f:
        out = json.load(f)
    out["setup_s"] = out["ready_wall"] - spawn_wall
    out["peak_rss_mb"] = sampler.peak_mb
    return out


def main() -> int:
    from workloads import WORKLOADS, unit

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    if not os.path.isdir(os.path.join(ROOT, "morphl_model_publishers_churning_users_spark")):
        print("run.py: the engine package is not in this checkout", file=sys.stderr)
        return 2
    cpus = max(1, min(MAX_CPUS, (os.cpu_count() or 1) - 1))
    heap_mb = driver_heap_mb()
    started = time.monotonic()
    load_before = os.getloadavg()
    expected = expected_outputs(args.workload)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = run_trial(args, expected, run_dir, heap_mb, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "fixtures": "seed-42",
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "driver_heap_mb": heap_mb,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "git_commit": git_commit(),
        "spark_version": out["spark_version"],
        "java_version": out["java_version"],
        "cold_pass_s": out["cold_pass_s"],
        "warm_passes_s": out["warm_passes"],
        "run_s": time.monotonic() - started,
        "op_s": out["op_s"],
    }
    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        sidecar = os.path.join(trace_dir, f"{args.workload}_seed{args.seed}.json")
        with open(sidecar, "w") as f:
            json.dump({"provenance": provenance, "layers": out["layers"], "spans": out["spans"]}, f)
        provenance["trace_sidecar"] = os.path.relpath(sidecar, ROOT)
        values = out["layers"]
    else:
        values = {
            "setup_s": out["setup_s"],
            "pass_s": statistics.median(out["warm_passes"]),
            "peak_rss_mb": out["peak_rss_mb"],
        }
    for err in out["errors"]:
        print(f"FAILED {err}", file=sys.stderr)
    print(json.dumps({"provenance": provenance}))
    failed = len(out["errors"])
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": out["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
