"""One fresh benchmark process: a cold SparkSession and at most one job.

    python3 perfbench/child.py generate '{"out": ..., "n": ..., "chunks": ...}'
    python3 perfbench/child.py setup    '{"workload": ..., "input": ...}'
    python3 perfbench/child.py job      '{"workload": ..., "input": ...,
                                          "expected": ..., "trace": 0|1}'

``setup`` and ``job`` print ``READY`` on stdout once the session is up and
the inputs are registered (run.py times set-up from process start to that
line); ``job`` then runs the workload once and prints ``RESULT <json>``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 16


def session(trace: bool = False):
    """The pinned session of tools/scale_probe.py at local[CORES]: JVM
    processor count and GC threads pinned, a 1 MB broadcast threshold so the
    doc_id join is the shuffle join it is at scale. The UI (and its REST
    stage metrics) is on only in the traced run."""
    from omnition_opentelemetry_service_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench", parallelism=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:ParallelGCThreads={CORES} "
                f"-XX:ConcGCThreads={max(1, CORES // 4)} "
                f"-XX:ActiveProcessorCount={CORES} -Djava.io.tmpdir={tmp} "
                # a fixed-size heap: peak RSS then does not depend on when
                # the collector chose to grow the heap
                f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
            "spark.sql.autoBroadcastJoinThreshold": str(1024 * 1024),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register(spark, workload: str, inp: str) -> None:
    """Resolve the inputs (file listing + parquet schema), as a job's first
    read does."""
    if workload == "corpus_filter":
        spark.read.parquet(inp).schema
    else:
        for table in ("payloads", "sequences"):
            spark.read.parquet(os.path.join(inp, table)).schema


def generate(args: dict) -> None:
    from omnition_opentelemetry_service_spark import fixtures as fx

    spark = session()
    n, chunks = args["n"], args["chunks"]
    fx.raw_payloads(spark, n, chunks).write.mode("overwrite").parquet(
        os.path.join(args["out"], "payloads"))
    fx.sequences(spark, n, chunks).write.mode("overwrite").parquet(
        os.path.join(args["out"], "sequences"))
    spark.stop()


def run_job(spark, args: dict) -> dict:
    """The workload once, untraced: wall time to complete, checked output."""
    import jobs
    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    workload = args["workload"]
    out: dict = {}
    t0 = time.perf_counter()
    if workload == "export_resume":
        ckpt, sinks = jobs.export_dirs(args["work"])
        cfg = pl.PipelineConfig(input_dir=args["input"], checkpoint_dir=ckpt,
                                write_sinks_dir=sinks)
        jobs.export_crash(spark, cfg)
        t1 = time.perf_counter()
        res = pl.run_pipeline(spark, cfg)
        out["rows"] = jobs.export_check(res, sinks, args["expected"])
        out["resume_s"] = time.perf_counter() - t1
    else:
        from omnition_opentelemetry_service_spark.operators import corpus

        docs = spark.read.parquet(args["input"])
        kept = jobs.corpus_rows(corpus.corpus_filter_full(docs))
        spark.catalog.clearCache()
        jobs.corpus_check(kept, args["expected"])
        out["rows"] = args["size"]
    out["job_s"] = time.perf_counter() - t0
    return out


def main() -> None:
    role, args = sys.argv[1], json.loads(sys.argv[2])
    if role == "generate":
        generate(args)
        return
    spark = session(trace=bool(args.get("trace")))
    register(spark, args["workload"], args["input"])
    print("READY", flush=True)
    if role == "job":
        try:
            if args.get("trace"):
                import ledger

                result = ledger.run_traced(spark, args)
            else:
                result = run_job(spark, args)
            result["ok"] = True
        except Exception as e:  # the run reports the failure, it goes on
            traceback.print_exc()
            result = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        print("RESULT " + json.dumps(result), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
