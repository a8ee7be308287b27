"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload ingest_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in a fresh child process
(``perfbench/workloads.py``) with the repository on the Python workers'
path, Spark local dirs and tree checkpoints in a per-run temp dir under
``.perfbench_tmp/`` that is removed afterwards, and its log in
``.perfbench_out/``. This process samples the peak RSS of the child's
whole process tree (driver, JVM, Python workers), records nproc, load
average and CPU-steal fraction, stops every process the run started,
and prints the metrics named in ``BENCHMARK.json``: human-readable
lines first, then one JSON object as the last line.

Exits non-zero without printing a result when the run cannot complete,
e.g. when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHILD_TIMEOUT_S = 170
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Processes whose session id is ``sid`` (the child made itself a
    session leader; the JVM and the Python workers inherit the session
    even where they change process group)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # after ")": state ppid pgrp session
            out.append(int(name))
    return out


def rss_by_kind(pids: list[int], driver: int) -> dict[str, int]:
    """RSS bytes of the Python driver, the JVM and the Python workers
    (every other process of the run), plus the number of workers."""
    out = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * PAGE
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        kind = "driver" if pid == driver else "jvm" if comm == "java" else "workers"
        out[kind] += rss
        out["n_workers"] += kind == "workers"
    return out


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


class RssSampler(threading.Thread):
    """Samples the run's memory from outside every 0.25 s; keeps the peak
    of the total and of each kind."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.wait(0.25):
            now = rss_by_kind(session_pids(self.sid), self.sid)
            now["total"] = now["driver"] + now["jvm"] + now["workers"]
            for k, v in now.items():
                self.peak[k] = max(self.peak[k], v)


def stop_session(sid: int) -> None:
    """Kill what is left of the child's session and wait until it is gone."""
    deadline = time.time() + 20
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.time() > deadline:
            raise RuntimeError(f"processes of the run still alive: {pids}")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def metric_specs() -> tuple[list[dict], list[dict]]:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--pages", type=int, default=None,
                    help="corpus size (default in workloads.py; the smoke test shrinks it)")
    args = ap.parse_args()
    t_launch = time.time()
    if not (ROOT / "raptor_rag_spark").is_dir():
        print(f"perfbench: engine package raptor_rag_spark not found in {ROOT}", file=sys.stderr)
        return 2
    e2e_specs, layer_specs = metric_specs()

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)  # left by a killed run with the same pid
    tmp.mkdir(parents=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_file = tmp / "result.json"
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    cmd = [
        sys.executable, str(HERE / "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", str(tmp), "--out-dir", str(out_dir), "--result", str(result_file),
    ]
    if args.pages:
        cmd += ["--pages", str(args.pages)]

    load0, cpu0 = os.getloadavg(), cpu_times()
    with open(out_dir / f"log-{tag}.txt", "w") as log:
        child = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.halt.set()
            sampler.join()
            stop_session(child.pid)
            child.wait()
    load1, cpu1 = os.getloadavg(), cpu_times()
    result = None
    if code == 0 and result_file.exists():
        with open(result_file) as fh:
            result = json.load(fh)
    shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: workload {args.workload} {why}; see {out_dir / f'log-{tag}.txt'}",
              file=sys.stderr)
        return 1

    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1  # user..steal; guest time is already in user
    steal_frac = d[7] / total if len(d) > 7 else 0.0
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"pages={result['pages']} nproc={result['cores']} "
          f"load1={load0[0]:.2f}->{load1[0]:.2f} steal_frac={steal_frac:.4f} "
          f"run_wall_s={time.time() - t_launch:.1f}")

    mb = {k: v / 2**20 for k, v in sampler.peak.items() if k != "n_workers"}
    print(f"peak RSS MB: total={mb['total']:.0f} driver={mb['driver']:.0f} "
          f"jvm={mb['jvm']:.0f} workers={mb['workers']:.0f} "
          f"max_workers={sampler.peak['n_workers']}")
    values = {"setup_s": (result["setup_s"], "s", 1), **result["e2e"]}
    print("end-to-end (generic names, as in BENCHMARK.json):")
    for name, (v, unit, n) in values.items():
        print(f"  {name:<28} {v:14.4f} {unit:<8} n={n}")
    print(f"end-to-end ({args.workload}):")
    for name, (v, unit, n) in result["named"].items():
        print(f"  {name:<28} {v:14.4f} {unit:<8} n={n}")
    err = result["failed"] / result["attempted"] if result["attempted"] else 0.0
    print(f"  {'error_rate':<28} {err:14.4f} {'fraction':<8} n={result['attempted']}")
    if "failed_tasks" in result:
        print(f"  {'spark.failed_tasks':<28} {result['failed_tasks']:14d} {'count':<8}")
    for c in result["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']}: {c['detail'][:160]}")
    if args.trace:
        print(f"spans: {result['span_file']}")

    if args.trace:
        layer = dict(result["layer"])
        layer.update({"memory.peak_rss_mb": mb["total"], "memory.jvm_rss_mb": mb["jvm"],
                      "memory.worker_rss_mb": mb["workers"],
                      "memory.python_workers": float(sampler.peak["n_workers"])})
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in layer_specs}
    else:
        metrics = {m["name"]: {"value": values[m["name"]][0], "unit": m["unit"]}
                   for m in e2e_specs}
    correct = bool(result["correct"]) and result["failed"] == 0
    with open(out_dir / "runs.jsonl", "a") as fh:
        fh.write(json.dumps({"tag": tag, "time": time.time(), "steal_frac": steal_frac,
                             "load1": [load0[0], load1[0]], "correct": correct,
                             "named": result["named"], "metrics": metrics}) + "\n")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
