"""Self-tests of the benchmark's own checks.

    python3 perfbench/selftest.py

1. Plan shape: the flagship's forced action keeps every layer in its plan
   (parse regex, carry-forward Window, doc_id join, route
   BroadcastNestedLoopJoin, token hash), and the guard names the layers a
   count-style action loses.
2. The corpus oracle: the expected keep set of a seed's sample, derived
   from the twin's stages over the whole documents table, equals the
   DuckDB twin's stages run on the sample itself.
3. Corrupted expected values: a run whose cached expected output is off by
   one reports ``failed: 1`` and ``correct: false``, for both workloads.
4. A job process that is killed before it reports (here by a 5 s
   timeout) makes a failed run with zeroed metrics, not a crash.

Exits 0 when every test passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH_DIR)

import inputs  # noqa: E402
import run  # noqa: E402

SEED = 990_001  # a seed of its own: its cache entry is corrupted, then removed


def plan_shape(env: dict) -> list[str]:
    """Run in a child process (a fresh session over the export input)."""
    inp = inputs.prepare("export_resume", SEED, env)
    code = f"""
import os, sys
sys.path[:0] = [{ROOT!r}, {BENCH_DIR!r}]
import child, jobs
from omnition_opentelemetry_service_spark.operators.router import sink_counts
from omnition_opentelemetry_service_spark.plans import pipeline as pl
spark = child.session()
st = pl.build_routed(spark, pl.PipelineConfig(input_dir={inp["input"]!r}))
forced = jobs.force_flagship(st["routed"])
forced.collect()
counted = sink_counts(st["routed"])
counted.collect()
print("FORCED", jobs.missing_layers(forced))
print("COUNTED", jobs.missing_layers(counted))
spark.stop()
"""
    out = subprocess.run([sys.executable, "-c", code], env=env, check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    lines = dict(line.split(" ", 1) for line in out.splitlines()
                 if line.startswith(("FORCED", "COUNTED")))
    failures = []
    if lines.get("FORCED") != "[]":
        failures.append(f"forced action lost layers: {lines.get('FORCED')}")
    counted = lines.get("COUNTED", "")
    for layer in ("carry-forward Window", "token hash"):
        if layer not in counted:
            failures.append(f"guard missed the pruned {layer}: {counted}")
    return failures


def sampled_oracle(env: dict) -> list[str]:
    inp = inputs.prepare("corpus_filter", SEED, env)
    direct = inputs.keep_set(inputs.twin_stages(inp["input"]))
    if direct["kept"] != inp["expected"]["kept"]:
        return [f"derived keep set ({len(inp['expected']['kept'])} docs) != "
                f"the twin on the sample ({len(direct['kept'])} docs)"]
    return []


def _corrupt_export(exp: dict) -> None:
    sink = sorted(exp["sinks"])[0]
    exp["sinks"][sink]["n_rows"] += 1


def _corrupt_corpus(exp: dict) -> None:
    exp["kept"].pop()


def corrupted_expected(workload: str, corrupt, env: dict) -> list[str]:
    inp = inputs.prepare(workload, SEED, env)
    cache = os.path.dirname(inp["input"]) if workload == "corpus_filter" \
        else inp["input"]
    path = os.path.join(cache, "expected.json")
    try:
        exp = json.loads(open(path).read())
        corrupt(exp)
        with open(path, "w") as f:
            json.dump(exp, f)
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"),
             "--workload", workload, "--seed", str(SEED), "--seconds", "0",
             "--trace", "0"], stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(cache, ignore_errors=True)
    if res["failed"] != 1 or res["correct"] is not False:
        return [f"{workload}: corrupted expected output not counted as a "
                f"failure: {res}"]
    return []


def killed_job(env: dict) -> list[str]:
    timeout = run.CHILD_TIMEOUT_S
    run.CHILD_TIMEOUT_S = 5
    try:
        res = run.measure("export_resume", SEED, 0, False)
    finally:
        run.CHILD_TIMEOUT_S = timeout
    metrics = run.e2e_metrics(res)
    if res.get("ok") is not False or any(v for v, _ in metrics.values()):
        return [f"killed job process not reported as a failure: {res}"]
    return []


def main() -> int:
    work = os.path.join(inputs.WORK_DIR, f"selftest-{os.getpid()}")
    env = run.child_env(work)
    tests = [
        ("plan shape", lambda: plan_shape(env)),
        ("corpus oracle on a sample", lambda: sampled_oracle(env)),
        ("corrupted expected, export_resume",
         lambda: corrupted_expected("export_resume", _corrupt_export, env)),
        ("corrupted expected, corpus_filter",
         lambda: corrupted_expected("corpus_filter", _corrupt_corpus, env)),
        ("killed job process", lambda: killed_job(env)),
    ]
    failed = 0
    try:
        for name, test in tests:
            problems = test()
            failed += bool(problems)
            print(("FAIL " if problems else "PASS ") + name)
            for p in problems:
                print("    " + p)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
