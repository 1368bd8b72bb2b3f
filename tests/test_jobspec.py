"""Config golden + validation tests for the YAML job spec — the reference's
config_test.go pattern (load fixture YAML, assert fully-decoded config;
table-driven sentinel errors)."""

from __future__ import annotations

import os

import pytest

from omnition_opentelemetry_service_spark.plans import jobspec as js

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "testdata", "pipeline_config.yaml")


def test_golden_config_decodes_fully():
    jobs = js.load_jobs(GOLDEN)
    assert len(jobs) == 1
    job = jobs[0]
    assert job.name == "traces"
    assert job.receivers == ["payloads"]
    assert job.exporters == ["sinks"]
    cfg = job.config
    assert cfg.n_rows == 400
    assert cfg.salt_buckets == 16
    assert cfg.write_sinks_dir == "/tmp/spark-graft-sinks"


@pytest.mark.parametrize(
    "raw,err",
    [
        ({}, js.ERR_NO_PIPELINES),
        (
            {"pipelines": {"p": {"receivers": ["nope"], "exporters": ["e"]}},
             "exporters": {"e": {}}},
            js.ERR_UNKNOWN_RECEIVER.format(name="nope"),
        ),
        (
            {"receivers": {"r": {"n_rows": 10}},
             "exporters": {"e": {}},
             "pipelines": {"p": {"receivers": ["r"], "processors": ["nope"],
                                 "exporters": ["e"]}}},
            js.ERR_UNKNOWN_PROCESSOR.format(name="nope"),
        ),
        (
            {"receivers": {"r": {"n_rows": 10}},
             "pipelines": {"p": {"receivers": ["r"], "exporters": ["nope"]}}},
            js.ERR_UNKNOWN_EXPORTER.format(name="nope"),
        ),
        (
            {"receivers": {"r": {"type": "grpc"}},
             "pipelines": {"p": {"receivers": ["r"], "exporters": []}}},
            js.ERR_BAD_RECEIVER_TYPE,
        ),
        (
            {"receivers": {"r": {"n_rows": 10}},
             "pipelines": {"p": {"receivers": ["r"], "exporters": []}}},
            js.ERR_NO_EXPORTERS,
        ),
        (
            {"receivers": {"r": {"type": "parquet"}},
             "exporters": {"e": {}},
             "pipelines": {"p": {"receivers": ["r"], "exporters": ["e"]}}},
            js.ERR_PARQUET_NO_PATH,
        ),
        (
            {"receivers": {"r": {"n_rows": 10}},
             "exporters": {"e": {"type": "kafka"}},
             "pipelines": {"p": {"receivers": ["r"], "exporters": ["e"]}}},
            js.ERR_BAD_EXPORTER_TYPE,
        ),
    ],
)
def test_config_validation_sentinels(raw, err):
    with pytest.raises(ValueError) as ei:
        js.compile_spec(raw)
    assert str(ei.value) == err


def test_parquet_receiver_maps_path_to_input_dir(spark, tmp_path):
    """`type: parquet` receivers must compile to a runnable config: the
    receiver's path becomes PipelineConfig.input_dir (not the misleading
    'either n_rows or sf_dir must be set' error)."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    input_dir = str(tmp_path / "input")
    fx.materialize_input(spark, 200, input_dir, num_partitions=2)
    raw = {
        "receivers": {"r": {"type": "parquet", "path": input_dir}},
        "exporters": {"e": {}},
        "pipelines": {"p": {"receivers": ["r"], "exporters": ["e"]}},
    }
    job = js.compile_spec(raw)[0]
    assert job.config.input_dir == input_dir
    res = pl.run_pipeline(spark, job.config)
    assert sum(r.n_rows for r in res["sink_counts"]) > 0


def test_bucketed_receiver_maps_db_and_runs(spark, tmp_path):
    """`type: bucketed` receivers compile to input_db (the at-scale
    co-located-join layout) and the compiled config actually runs."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    fx.materialize_input_bucketed(spark, 200, db="jsbuck", buckets=2,
                                  num_partitions=2)
    try:
        raw = {
            "receivers": {"r": {"type": "bucketed", "db": "jsbuck"}},
            "exporters": {"e": {}},
            "pipelines": {"p": {"receivers": ["r"], "exporters": ["e"]}},
        }
        job = js.compile_spec(raw)[0]
        assert job.config.input_db == "jsbuck"
        res = pl.run_pipeline(spark, job.config)
        assert sum(r.n_rows for r in res["sink_counts"]) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS jsbuck.payloads")
        spark.sql("DROP TABLE IF EXISTS jsbuck.sequences")
        spark.sql("DROP DATABASE IF EXISTS jsbuck")


def test_bucketed_receiver_requires_db():
    raw = {
        "receivers": {"r": {"type": "bucketed"}},
        "exporters": {"e": {}},
        "pipelines": {"p": {"receivers": ["r"], "exporters": ["e"]}},
    }
    with pytest.raises(ValueError, match=js.ERR_BUCKETED_NO_DB):
        js.compile_spec(raw)


def test_bucketed_receiver_cannot_union():
    raw = {
        "receivers": {"a": {"type": "bucketed", "db": "x"},
                      "b": {"type": "parquet", "path": "/tmp/p"}},
        "exporters": {"e": {}},
        "pipelines": {"p": {"receivers": ["a", "b"], "exporters": ["e"]}},
    }
    with pytest.raises(ValueError, match=js.ERR_MULTI_RECEIVER_TYPE):
        js.compile_spec(raw)


def test_logging_exporter_compiles_and_samples(spark):
    """`type: logging` exporters compile (no path needed) and the runner's
    sample path yields deterministic rows."""
    from omnition_opentelemetry_service_spark.operators.translate import (
        logging_sample,
    )
    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    raw = {
        "receivers": {"r": {"n_rows": 400}},
        "exporters": {"dbg": {"type": "logging", "sample_k": 5}},
        "pipelines": {"p": {"receivers": ["r"], "exporters": ["dbg"]}},
    }
    job = js.compile_spec(raw)[0]
    assert job.exporter_specs["dbg"]["type"] == "logging"
    assert job.config.write_sinks_dir is None  # console sink needs no path
    res = pl.run_pipeline(spark, job.config)
    rows1 = [r.asDict() for r in logging_sample(res["routed"], k=5).collect()]
    rows2 = [r.asDict() for r in logging_sample(res["routed"], k=5).collect()]
    assert len(rows1) == 5 and rows1 == rows2  # deterministic sample


def test_compiled_config_runs_pipeline(spark, tmp_path):
    """The compiled config actually drives the pipeline end-to-end."""
    import yaml

    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    raw = js.load_yaml(GOLDEN)
    raw["exporters"]["sinks"]["path"] = str(tmp_path / "sinks")
    job = js.compile_spec(raw)[0]
    res = pl.run_pipeline(spark, job.config)
    assert sum(r.n_rows for r in res["sink_counts"]) > 0
    assert os.path.isdir(raw["exporters"]["sinks"]["path"])


def test_multi_receiver_union_fans_in(spark, tmp_path):
    """Receiver fan-in: two parquet receivers union into ONE pipeline (the
    documented reference semantics) — the union must produce exactly the
    rows of the concatenated inputs, equal to running one receiver over the
    whole input."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.plans import pipeline as pl

    whole = str(tmp_path / "all")
    fx.materialize_input(spark, 200, whole, num_partitions=2)
    mid = "doc-000000000100"  # doc_id is a zero-padded string: lexicographic split
    for part, pred in (("a", f"doc_id < '{mid}'"), ("b", f"doc_id >= '{mid}'")):
        for t in ("payloads", "sequences"):
            (spark.read.parquet(f"{whole}/{t}").filter(pred)
             .write.mode("overwrite")
             .parquet(str(tmp_path / part / t)))
    raw = {
        "receivers": {
            "ra": {"type": "parquet", "path": str(tmp_path / "a")},
            "rb": {"type": "parquet", "path": str(tmp_path / "b")},
        },
        "exporters": {"e": {}},
        "pipelines": {"p": {"receivers": ["ra", "rb"], "exporters": ["e"]}},
    }
    job = js.compile_spec(raw)[0]
    assert job.config.input_dirs == [str(tmp_path / "a"), str(tmp_path / "b")]
    res_union = pl.run_pipeline(spark, job.config)
    res_whole = pl.run_pipeline(
        spark, pl.PipelineConfig(input_dir=whole))
    by_sink_u = {r.sink: r.n_rows for r in res_union["sink_counts"]}
    by_sink_w = {r.sink: r.n_rows for r in res_whole["sink_counts"]}
    assert by_sink_u == by_sink_w
    assert sum(by_sink_u.values()) > 0


def test_multi_receiver_mixed_types_rejected():
    """Fixture receivers share one synthetic doc_id space — unioning them
    would silently duplicate ids into the payload join, so a multi-receiver
    pipeline that is not all-parquet must fail with the exact sentinel."""
    raw = {
        "receivers": {"ra": {"type": "parquet", "path": "/x"},
                      "rb": {"n_rows": 100}},
        "exporters": {"e": {}},
        "pipelines": {"p": {"receivers": ["ra", "rb"], "exporters": ["e"]}},
    }
    with pytest.raises(ValueError) as ei:
        js.compile_spec(raw)
    assert str(ei.value) == js.ERR_MULTI_RECEIVER_TYPE
