"""The traced run: spans around layer calls and a per-layer ledger.

Runs in the job child when ``--trace 1``. Three parts, in this order:

1. The workload's job once, cold, with spans and Spark job groups around
   the layer calls (``trace.job_s``; compare with the untraced ``job_s``
   for the tracing overhead). Eager layers — ``SnapshotTable.write`` /
   ``read``, ``write_sinks_translated`` and the ``sink_counts`` collect
   inside ``run_pipeline`` — are wrapped here, from the benchmark's side.
2. Lazy layers as cumulative prefixes, warm, each forced the way the
   job's action consumes it (the flagship's token hash, a count):
   parse → +carry-forward → +join → +enrich → +route → +counts, and
   score → +shingle → +minhash → +LSH → +verify → +keep-list. A layer's
   wall time is its prefix's time minus the previous prefix's.
3. The job once more, warm (``ledger.job_s``). ``ledger.closure`` is the
   sum of the layer deltas over the traced job (``trace.job_s``); for
   ``export_resume`` it is the sum of the eager-layer spans over the
   traced job instead.

Task time, shuffle and spill per job group come from the Spark UI REST
API after all timing is done; job and stage counts from statusTracker.
Spans are kept in memory and written as JSON at the end.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
import jobs
from omnition_opentelemetry_service_spark.functions import parse as parse_fns
from omnition_opentelemetry_service_spark.operators import carryforward
from omnition_opentelemetry_service_spark.plans import pipeline as pl

FLAGSHIP_LAYERS = ("parse", "carry_forward", "join", "enrich", "route",
                   "sink_counts")
CORPUS_LAYERS = ("score", "shingle", "minhash", "lsh", "verify", "keep_list")
EAGER_LAYERS = ("plan", "snapshot.write", "snapshot.read", "sink_write",
                "sink_counts")

# every per-layer metric, reported on every workload (0 where the layer
# does not run); the unit of each
PER_LAYER_UNITS: dict[str, str] = {}
for _layer in FLAGSHIP_LAYERS + CORPUS_LAYERS:
    PER_LAYER_UNITS.update({f"{_layer}.wall_s": "s", f"{_layer}.task_s": "s",
                            f"{_layer}.parallelism": "cores"})
PER_LAYER_UNITS.update({
    "parse.rows_in": "rows", "parse.quarantined": "rows",
    "carry_forward.shuffle_bytes": "bytes",
    "join.shuffle_bytes": "bytes", "join.spill_bytes": "bytes",
    "route.fanout": "ratio",
    "snapshot.write_s": "s", "snapshot.write_bytes": "bytes",
    "snapshot.read_s": "s", "snapshot.task_s": "s",
    "sink_write.wall_s": "s", "sink_write.bytes": "bytes",
    "sink_write.files": "count", "sink_write.task_s": "s",
    "sink_write.parallelism": "cores",
    "resume.wall_s": "s", "plan.wall_s": "s",
    "lsh.candidates": "pairs", "verify.pairs": "pairs",
    "verify.yield": "ratio", "keep_list.jobs": "count",
    "spark.jobs": "count", "spark.stages": "count",
    "trace.job_s": "s", "ledger.job_s": "s", "ledger.closure": "ratio",
})


# ---------------------------------------------------------------------------
# Spans and job groups
# ---------------------------------------------------------------------------
class Tracer:
    """One span per layer call: name, start, end, parent. Each span also
    tags the Spark jobs it starts with a job group of the same id."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        """Total time in spans called ``name``, not counting such spans
        nested inside one another twice."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and (
                       s["parent"] is None
                       or self.spans[s["parent"]]["name"] != name))

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out


class StageStats:
    """Per job group: Spark jobs and stages (statusTracker), and task time,
    shuffle write and spill of its completed stages (UI REST API)."""

    def __init__(self, spark: SparkSession, tracer: Tracer) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._settled(base)
        stages = _get(f"{base}/stages")
        self.stages = {}
        for st in stages:
            agg = self.stages.setdefault(st["stageId"], {
                "task_s": 0.0, "shuffle": 0, "spill": 0, "ran": False})
            agg["task_s"] += st.get("executorRunTime", 0) / 1000
            agg["shuffle"] += st.get("shuffleWriteBytes", 0)
            agg["spill"] += (st.get("memoryBytesSpilled", 0)
                             + st.get("diskBytesSpilled", 0))
            agg["ran"] |= st.get("status") == "COMPLETE"
        self.tracer = tracer

    @staticmethod
    def _settled(base: str) -> list[dict]:
        # the status store fills asynchronously from the listener bus
        deadline, prev = time.monotonic() + 15, None
        while True:
            js = _get(f"{base}/jobs")
            if ((all(j["status"] != "RUNNING" for j in js) and prev == len(js))
                    or time.monotonic() > deadline):
                return js
            prev = len(js)
            time.sleep(0.3)

    def of(self, sid: int) -> dict:
        """Totals over the span and every span under it."""
        groups = {f"span-{s}" for s in self.tracer.descendants(sid)}
        n_jobs = n_stages = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                n_jobs += 1
                n_stages += len(info.stageIds) if info else 0
        stage_ids = {s for j in self.jobs if j.get("jobGroup") in groups
                     for s in j["stageIds"]}
        ran = [self.stages[s] for s in stage_ids
               if s in self.stages and self.stages[s]["ran"]]
        return {"jobs": n_jobs, "stages": n_stages,
                "task_s": sum(s["task_s"] for s in ran),
                "shuffle": sum(s["shuffle"] for s in ran),
                "spill": sum(s["spill"] for s in ran)}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


# ---------------------------------------------------------------------------
# Forcing and prefix chains
# ---------------------------------------------------------------------------
def force(df: DataFrame, cols=None) -> dict:
    """Count rows and hash ``cols`` (default: every column)."""
    cols = list(cols or df.columns)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols) % F.lit(jobs.HASH_MOD)).alias("h"),
    ).collect()[0].asDict()


# what the job's action consumes of each flagship prefix: forcing more
# (say, every parsed field) would time work the job itself never does
TOKEN_HASH = ("tokens", "node_host_filled")


def flagship_prefixes(spark: SparkSession, input_dir: str):
    """(layer, thunk) pairs; each thunk builds its prefix afresh from the
    program's own stage DataFrames and forces what the job consumes."""
    def stages():
        return pl.build_routed(spark, pl.PipelineConfig(input_dir=input_dir))

    def parse():
        parsed = stages()["parsed"]
        return parsed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("bad"),
        ).collect()[0].asDict()

    def carry():
        good, _ = parse_fns.quarantine_split(stages()["parsed"])
        return force(carryforward.carry_forward(good), ["node_host_filled"])

    def counts():
        df = jobs.force_flagship(stages()["routed"])
        rows = df.collect()
        lost = jobs.missing_layers(df)
        if lost:
            raise jobs.CheckFailed(f"timed plan lost layers: {lost}")
        return {"n": sum(r["n_rows"] for r in rows)}

    return [("parse", parse), ("carry_forward", carry),
            ("join", lambda: force(stages()["spans"], TOKEN_HASH)),
            ("enrich", lambda: force(stages()["enriched"], TOKEN_HASH)),
            ("route", lambda: force(stages()["routed"], TOKEN_HASH)),
            ("sink_counts", counts)]


def corpus_prefixes(spark: SparkSession, docs_path: str):
    """The stages of corpus.corpus_filter_full, composed the same way from
    the same public functions, cut after each layer."""
    from omnition_opentelemetry_service_spark.functions import text as tx
    from omnition_opentelemetry_service_spark.operators import dedup as dd
    from omnition_opentelemetry_service_spark.operators.graph import (
        near_dup_keep_list)

    def exact():
        docs = spark.read.parquet(docs_path)
        scored = docs.select(
            "doc_id", "text", tx.quality_score("text").alias("quality"),
            tx.lang_id("text").alias("lang"),
            tx.fingerprint("text").alias("fp"))
        gated = scored.filter((F.col("quality") >= 0.5)
                              & (F.col("lang") != "und"))
        return (gated.groupBy("fp")
                .agg(F.min_by(F.struct("doc_id", "text", "lang", "quality"),
                              F.col("doc_id")).alias("r"))
                .select("r.doc_id", "r.text", "r.lang", "r.quality")
                .persist())

    def shingles(ex):
        return ex.select("doc_id",
                         tx.char_shingles("text").alias("shingles")).persist()

    def chain(upto: str):
        ex = exact()
        if upto == "score":
            return force(ex)
        sh = shingles(ex)
        if upto == "shingle":
            return force(sh)
        sig = dd.minhash_signatures_pandas(sh, id_col="doc_id")
        if upto == "minhash":
            return force(sig)
        cands = dd.minhash_candidates(sig, id_col="id")
        if upto == "lsh":
            return force(cands)
        pairs = dd.jaccard_verify(cands, sh, id_col="doc_id", threshold=0.3)
        if upto == "verify":
            return force(pairs)
        keep = near_dup_keep_list(ex, pairs.select("id_a", "id_b"))
        out = (ex.join(keep.filter(F.col("keep")).select("doc_id"), "doc_id")
               .select("doc_id", "lang", "quality"))
        return {"n": len(jobs.corpus_rows(out))}

    return [(layer, lambda layer=layer: chain(layer))
            for layer in CORPUS_LAYERS]


def run_prefixes(spark, tracer: Tracer, prefixes) -> list[dict]:
    out = []
    for layer, thunk in prefixes:
        with tracer.span(f"prefix:{layer}") as sp:
            result = thunk()
        spark.catalog.clearCache()
        out.append({"layer": layer, "span": sp["id"],
                    "wall_s": sp["end"] - sp["start"], **result})
    return out


# ---------------------------------------------------------------------------
# Eager layers of run_pipeline, wrapped from outside
# ---------------------------------------------------------------------------
@contextlib.contextmanager
def eager_spans(tracer: Tracer):
    from omnition_opentelemetry_service_spark.operators import translate
    from omnition_opentelemetry_service_spark.sinks.snapshot import (
        SnapshotTable)

    orig_write, orig_read = SnapshotTable.write, SnapshotTable.read
    orig_translate, orig_counts = (translate.write_sinks_translated,
                                   pl.sink_counts)
    # driver-side work between the eager layers: input listing and schema
    # (load_inputs) and building the lazy DAG (build_routed/_from_parsed)
    orig_plan = {name: getattr(pl, name) for name in
                 ("load_inputs", "build_routed", "build_from_parsed")}

    def planned(fn):
        def call(*a, **k):
            with tracer.span("plan"):
                return fn(*a, **k)
        return call

    def write(self, *a, **k):
        with tracer.span("snapshot.write"):
            return orig_write(self, *a, **k)

    def read(self, *a, **k):
        with tracer.span("snapshot.read"):
            return orig_read(self, *a, **k)

    def sink_write(*a, **k):
        with tracer.span("sink_write"):
            return orig_translate(*a, **k)

    class _TimedCollect:
        def __init__(self, df):
            self.df = df

        def collect(self):
            with tracer.span("sink_counts"):
                return self.df.collect()

    SnapshotTable.write, SnapshotTable.read = write, read
    translate.write_sinks_translated = sink_write
    pl.sink_counts = lambda routed: _TimedCollect(orig_counts(routed))
    for name, fn in orig_plan.items():
        setattr(pl, name, planned(fn))
    try:
        yield
    finally:
        SnapshotTable.write, SnapshotTable.read = orig_write, orig_read
        translate.write_sinks_translated = orig_translate
        pl.sink_counts = orig_counts
        for name, fn in orig_plan.items():
            setattr(pl, name, fn)


def _dir_size(path: str) -> tuple[int, int]:
    """Bytes and number of the parquet data files under ``path``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(d, f))
                nfiles += 1
    return nbytes, nfiles


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------
def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def run_traced(spark: SparkSession, args: dict) -> dict:
    from omnition_opentelemetry_service_spark.operators import corpus

    workload = args["workload"]
    tracer = Tracer(spark)
    m = {name: 0.0 for name in PER_LAYER_UNITS}

    # 1. the job, cold, traced
    with tracer.span("job") as job:
        if workload == "export_resume":
            ckpt, sinks = jobs.export_dirs(args["work"])
            cfg = pl.PipelineConfig(input_dir=args["input"],
                                    checkpoint_dir=ckpt,
                                    write_sinks_dir=sinks)
            with eager_spans(tracer):
                with tracer.span("crash"):
                    jobs.export_crash(spark, cfg)
                with tracer.span("resume") as resume:
                    res = pl.run_pipeline(spark, cfg)
            jobs.export_check(res, sinks, args["expected"])
        else:
            docs = spark.read.parquet(args["input"])
            kept = jobs.corpus_rows(corpus.corpus_filter_full(docs))
            spark.catalog.clearCache()
            jobs.corpus_check(kept, args["expected"])
    m["trace.job_s"] = job["end"] - job["start"]
    if workload == "export_resume":
        m["resume.wall_s"] = resume["end"] - resume["start"]
        m["snapshot.write_bytes"] = _dir_size(ckpt)[0]
        m["sink_write.bytes"], m["sink_write.files"] = _dir_size(sinks)

    # 2. the prefix ledger, warm
    if workload == "corpus_filter":
        ledger = run_prefixes(spark, tracer,
                              corpus_prefixes(spark, args["input"]))
    else:
        ledger = run_prefixes(spark, tracer,
                              flagship_prefixes(spark, args["input"]))

    # 3. the job again, warm
    with tracer.span("ledger.job") as again:
        if workload == "corpus_filter":
            docs = spark.read.parquet(args["input"])
            jobs.corpus_rows(corpus.corpus_filter_full(docs))
            spark.catalog.clearCache()
        else:
            jobs.force_flagship(pl.build_routed(spark, pl.PipelineConfig(
                input_dir=args["input"]))["routed"]).collect()
    m["ledger.job_s"] = again["end"] - again["start"]

    # stage metrics, read after every timed window has closed
    stats = StageStats(spark, tracer)
    js = stats.of(job["id"])
    m["spark.jobs"], m["spark.stages"] = js["jobs"], js["stages"]
    prev = {"wall_s": 0.0, "task_s": 0.0, "shuffle": 0, "spill": 0, "jobs": 0}
    for p in ledger:
        st = stats.of(p["span"])
        cur = {"wall_s": p["wall_s"], "task_s": st["task_s"],
               "shuffle": st["shuffle"], "spill": st["spill"],
               "jobs": st["jobs"]}
        layer = p["layer"]
        wall = cur["wall_s"] - prev["wall_s"]
        task = cur["task_s"] - prev["task_s"]
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.task_s"] = task
        m[f"{layer}.parallelism"] = (_ratio(task, wall)
                                     if wall > 0 and task > 0 else 0.0)
        if f"{layer}.shuffle_bytes" in m:
            m[f"{layer}.shuffle_bytes"] = cur["shuffle"] - prev["shuffle"]
        if f"{layer}.spill_bytes" in m:
            m[f"{layer}.spill_bytes"] = cur["spill"] - prev["spill"]
        if layer == "keep_list":
            m["keep_list.jobs"] = cur["jobs"] - prev["jobs"]
        prev = cur
    by = {p["layer"]: p for p in ledger}
    if workload == "corpus_filter":
        m["lsh.candidates"] = by["lsh"]["n"]
        m["verify.pairs"] = by["verify"]["n"]
        m["verify.yield"] = _ratio(by["verify"]["n"], by["lsh"]["n"])
    else:
        m["parse.rows_in"] = by["parse"]["n"]
        m["parse.quarantined"] = by["parse"]["bad"]
        m["route.fanout"] = _ratio(by["route"]["n"], by["join"]["n"])
    if workload == "export_resume":
        # eager layers: timed at the call inside run_pipeline
        m["snapshot.write_s"] = tracer.seconds("snapshot.write")
        m["snapshot.read_s"] = tracer.seconds("snapshot.read")
        m["sink_write.wall_s"] = tracer.seconds("sink_write")
        m["sink_counts.wall_s"] = tracer.seconds("sink_counts")
        m["plan.wall_s"] = tracer.seconds("plan")
        for name, key in (("snapshot.write", "snapshot.task_s"),
                          ("sink_write", "sink_write.task_s"),
                          ("sink_counts", "sink_counts.task_s")):
            m[key] = sum(stats.of(s["id"])["task_s"] for s in tracer.spans
                         if s["name"] == name)
        for layer in ("sink_write", "sink_counts"):
            m[f"{layer}.parallelism"] = _ratio(m[f"{layer}.task_s"],
                                               m[f"{layer}.wall_s"])
        covered = sum(tracer.seconds(n) for n in EAGER_LAYERS)
        m["ledger.closure"] = _ratio(covered, m["trace.job_s"])
    else:
        # the deltas sum to the last (warm) prefix; the traced job is cold
        m["ledger.closure"] = _ratio(sum(
            m[f"{p['layer']}.wall_s"] for p in ledger), m["trace.job_s"])

    trace_dir = os.path.join(inputs.STATE_DIR, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{workload}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m}, f, indent=1)
    return {"per_layer": {k: (float(v), PER_LAYER_UNITS[k])
                          for k, v in m.items()},
            "job_s": m["trace.job_s"]}
