"""The workload jobs, their output checks and the plan-shape guard.

Runs inside a fresh child process that already holds a SparkSession. Every
job forces every output column it claims to measure, and every check
compares against the expected values cached with the inputs.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark.plans import pipeline as pl

HASH_MOD = 1_000_000_007

# Every layer of the flagship must survive into the forced action's plan:
# a count() over routed lets Catalyst prune the carry-forward window and
# the tokens, so the job would time less than the pipeline.
FLAGSHIP_PLAN_MARKERS = {
    "parse regex": ("optimized", r"RLIKE"),
    "carry-forward Window": ("optimized", r"\bWindow \[last\(node_host"),
    "doc_id join": ("optimized", r"Join Inner, \(doc_id#\d+ = doc_id#\d+\)"),
    "route BroadcastNestedLoopJoin": ("executed", r"BroadcastNestedLoopJoin"),
    "token hash": ("optimized", r"xxhash64\(tokens#\d+, node_host_filled"),
}


class CheckFailed(Exception):
    """An output differs from its expected value."""


def force_flagship(routed: DataFrame) -> DataFrame:
    """Per-sink count, sum(n_tok), non-null carried node and a token hash —
    the forcing action of tools/scale_probe.py plus the checked columns."""
    return (routed
            .withColumn("_cs", F.xxhash64("tokens", "node_host_filled"))
            .groupBy("sink")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("n_tok").alias("sum_n_tok"),
                 F.count("node_host_filled").alias("n_node"),
                 F.sum(F.col("_cs") % F.lit(HASH_MOD)).alias("cs_sum")))


def plan_text(df: DataFrame) -> dict[str, str]:
    qe = df._jdf.queryExecution()
    return {"optimized": qe.optimizedPlan().toString(),
            "executed": qe.executedPlan().toString()}


def missing_layers(df: DataFrame) -> list[str]:
    """Names of flagship layers absent from ``df``'s plans (empty = whole)."""
    plans = plan_text(df)
    return [name for name, (which, rx) in FLAGSHIP_PLAN_MARKERS.items()
            if not re.search(rx, plans[which])]


def check_sinks(got: dict[str, dict], expected: dict, keys: tuple) -> None:
    exp = {s: {k: v[k] for k in keys} for s, v in expected["sinks"].items()}
    got = {s: {k: int(v[k]) for k in keys} for s, v in got.items()}
    if got != exp:
        raise CheckFailed(f"per-sink outputs {got} != expected {exp}")


# ---------------------------------------------------------------------------
# export_resume
# ---------------------------------------------------------------------------
INJECTED = "injected failure after stage: parsed"


def export_dirs(work: str) -> tuple[str, str]:
    ckpt, sinks = os.path.join(work, "checkpoint"), os.path.join(work, "sinks")
    for d in (ckpt, sinks):
        shutil.rmtree(d, ignore_errors=True)
    return ckpt, sinks


def export_crash(spark: SparkSession, cfg: pl.PipelineConfig) -> None:
    """The first leg: run until the parsed snapshot commits, then crash."""
    try:
        pl.run_pipeline(spark, cfg, fail_after="parsed")
    except RuntimeError as e:
        if str(e) != INJECTED:
            raise
    else:
        raise CheckFailed("the injected crash did not happen")


def export_check(res: dict, sinks_dir: str, expected: dict) -> int:
    got = {r["sink"]: r.asDict() for r in res["sink_counts"]}
    check_sinks(got, expected, ("n_rows", "sum_n_tok"))
    counters = {(s, t): (rcv, drp) for s, t, rcv, drp in res["counters"]}
    parse = expected["parse"]
    if counters.get(("parse", "oc_trace")) != (parse["received"],
                                               parse["dropped"]):
        raise CheckFailed(f"parse counters {counters} != expected {parse}")
    total = sum(v["n_rows"] for v in expected["sinks"].values())
    if counters.get(("export", "sinks")) != (total, 0):
        raise CheckFailed(f"export counters {counters}, expected {total}")
    written = sink_file_rows(sinks_dir)
    want = {s: v["n_rows"] for s, v in expected["sinks"].items()}
    if written != want:
        raise CheckFailed(f"translated sink rows {written} != {want}")
    return total


def sink_file_rows(sinks_dir: str) -> dict[str, int]:
    """Rows per sink in the translated parquet, from the file footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for part in sorted(os.listdir(sinks_dir)):
        if not part.startswith("sink="):
            continue
        d = os.path.join(sinks_dir, part)
        out[part[len("sink="):]] = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in os.listdir(d) if f.endswith(".parquet"))
    return out


# ---------------------------------------------------------------------------
# corpus_filter
# ---------------------------------------------------------------------------
def corpus_rows(out: DataFrame) -> list[list]:
    return sorted([int(r["doc_id"]), r["lang"], round(float(r["quality"]), 6)]
                  for r in out.collect())


def corpus_check(kept: list[list], expected: dict) -> None:
    want = [[d, lang, round(q, 6)] for d, lang, q in expected["kept"]]
    if kept != want:
        got_ids = {r[0] for r in kept}
        want_ids = {r[0] for r in want}
        raise CheckFailed(
            f"kept {len(kept)} docs, expected {len(want)}: "
            f"{len(got_ids - want_ids)} extra, {len(want_ids - got_ids)} "
            "missing ids")
