"""Benchmark of the flagship batch job and the corpus-filter layer.

    python3 perfbench/run.py --workload export_resume --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/README.md): ``export_resume`` and
``corpus_filter``. Closed loop, one client: each run makes the seed's
inputs (cached), then starts a fresh job process that sets up, runs the
workload's job once, cold, and checks every output. Set-up-only processes
then add set-up samples until the run has SETUP_SAMPLES of them and has
measured for at least ``--seconds``, unless LAST_SETUP_START_S have
passed. ``setup_s`` is their median.

With ``--trace 0`` the last line of stdout carries the end-to-end metrics;
with ``--trace 1`` the job process runs the traced ledger (ledger.py)
instead and the line carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM = os.path.join(ROOT, "omnition_opentelemetry_service_spark")

WORKLOADS = ("export_resume", "corpus_filter")
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 150
SETUP_TIMEOUT_S = 40
SETUP_SAMPLES = 2
# no set-up-only process starts this late in a run: on a slow host a run
# keeps the job process's set-up sample only, so that the check's 48 runs
# still fit its time
LAST_SETUP_START_S = 50
RSS_POLL_S = 0.1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Process-tree memory: driver JVM + Python workers, sampled from /proc
# ---------------------------------------------------------------------------
def _pss_bytes(pid: int) -> int:
    # proportional set size: pages shared between processes are split
    # among them, so forked Python workers and the JVM's short-lived
    # spawn helpers (which share its address space) are not counted twice
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Polls the tree under ``pid`` until stopped; ``peak`` in bytes."""

    def __init__(self, pid: int) -> None:
        self.pid, self.peak = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            self._stop.wait(RSS_POLL_S)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


# ---------------------------------------------------------------------------
# Child processes
# ---------------------------------------------------------------------------
def child_env(work: str) -> dict:
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def _end_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member (JVM, Python workers) has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = False
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if int(fields[2]) == proc.pid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.05)


def run_child(role: str, args: dict, env: dict, timeout: float,
              sample_rss: bool = False) -> dict:
    """Start one child, time process start → READY, collect RESULT. The
    child is killed as soon as it has reported: its session teardown is
    not part of any metric."""
    out: dict = {}
    last = "READY" if role == "setup" else "RESULT "
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "child.py"), role,
         json.dumps(args)],
        env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    rss = PeakRss(proc.pid) if sample_rss else None
    timer = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("READY"):
                out["setup_s"] = time.perf_counter() - t0
            elif line.startswith("RESULT "):
                out.update(json.loads(line[len("RESULT "):]))
            if line.startswith(last):
                break
    finally:
        timer.cancel()
        if rss is not None:
            out["peak_rss_bytes"] = rss.stop()
        _end_group(proc)
        proc.stdout.close()
    if "setup_s" not in out:
        raise RuntimeError(f"{role} child exited {proc.returncode} before "
                           "its session was up")
    if role == "job" and "ok" not in out:
        raise RuntimeError(f"job child exited {proc.returncode} without a "
                           "result")
    return out


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------
def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import inputs

    work = os.path.join(inputs.WORK_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = child_env(work)
    try:
        inp = inputs.prepare(workload, seed, env)
        args = {"workload": workload, "input": inp["input"],
                "expected": inp["expected"], "size": inp["size"],
                "work": work, "trace": int(trace)}
        t_start = time.perf_counter()
        try:
            res = run_child("job", args, env, CHILD_TIMEOUT_S,
                            sample_rss=not trace)
            setups = [res["setup_s"]]
            while not trace and res["ok"] and (
                    len(setups) < SETUP_SAMPLES
                    or time.perf_counter() - t_start < seconds):
                if time.perf_counter() - t_start > LAST_SETUP_START_S:
                    log(f"run too slow: {len(setups)} set-up samples")
                    break
                setups.append(run_child("setup", args, env,
                                        SETUP_TIMEOUT_S)["setup_s"])
        except RuntimeError as e:
            # a process that died (OOM kill, timeout) is a failed run
            return {"ok": False, "error": str(e), "setup_samples": []}
        res["setup_samples"] = setups
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def e2e_metrics(res: dict) -> dict:
    """Every end-to-end metric; 0 where a failed run did not measure it."""
    job_s = res.get("job_s", 0.0)
    setups = res["setup_samples"]
    return {
        "setup_s": (statistics.median(setups) if setups else 0.0, "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (res.get("rows", 0) / job_s if job_s else 0.0, "1/s"),
        "peak_rss_mb": (res.get("peak_rss_bytes", 0) / 2**20, "MB"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM):
        log(f"the program package is missing: {PROGRAM}")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)

    res = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    failed = 0 if res.get("ok") else 1
    if failed:
        log(f"{a.workload} failed: {res.get('error')}")
    if a.trace:
        import ledger

        metrics = res.get("per_layer") or {
            k: (0.0, u) for k, u in ledger.PER_LAYER_UNITS.items()}
    else:
        metrics = e2e_metrics(res)
        log(f"{a.workload} seed {a.seed}: " + ", ".join(
            f"{k}={v:.4g} {u}" for k, (v, u) in metrics.items())
            + f", setup samples {[round(s, 3) for s in res['setup_samples']]}"
            + (f", resume {res['resume_s']:.3f}s" if "resume_s" in res
               else ""))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": 1,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
