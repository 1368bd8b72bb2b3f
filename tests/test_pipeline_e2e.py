"""End-to-end pipeline: counters equality (obsreport analog), parallelism
invariance (the N vs 4N correctness half of the scaling criterion), and
checkpoint/resume (queued-retry replay analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark import fixtures as fx
from omnition_opentelemetry_service_spark.plans import pipeline as pl

N = 400
N_MALFORMED = sum(
    1 for i in range(N) if i % fx.MALFORMED_MOD == fx.MALFORMED_RESIDUE
)


def _routed_rows(spark, **cfg_kwargs):
    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=N, **cfg_kwargs))
    return sorted(
        (r.doc_id, r.rule_id, r.sink, r.n_tok, tuple(r.tokens))
        for r in st["routed"].select(
            "doc_id", "rule_id", "sink", "n_tok", "tokens").collect()
    )


def test_run_pipeline_counters_exact(spark):
    """received/dropped counters measured via observe() — the obsreport
    metrics-equality pattern (octrace/observability_test.go:41-96)."""
    res = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N))
    counters = {(s, t): (rec, dr) for s, t, rec, dr in res["counters"]}
    assert counters[("parse", "oc_trace")] == (N, N_MALFORMED)


def test_parallelism_invariance(spark):
    """Identical routed rows at different partition counts — same-result-at-
    two-parallelism-levels, the correctness half of the scaling criterion."""
    assert _routed_rows(spark, num_partitions=2) == _routed_rows(
        spark, num_partitions=16)


def test_lineage_totals_match_rowcount(spark):
    res = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N))
    lineage = {r.stage: r.rows_total for r in res["lineage"].collect()}
    total_routed = sum(r.n_rows for r in res["sink_counts"])
    assert lineage["route"] == total_routed


def test_checkpoint_resume_byte_identical(spark, tmp_path):
    """Kill-and-rerun semantics: second run with the same checkpoint dir
    reads the committed snapshot instead of recomputing, rows identical."""
    ckpt = str(tmp_path / "ckpt")
    cfg1 = pl.PipelineConfig(n_rows=N, checkpoint_dir=ckpt)
    res1 = pl.run_pipeline(spark, cfg1)
    rows1 = sorted(
        (r.doc_id, r.rule_id, r.sink, tuple(r.tokens))
        for r in res1["routed"].select("doc_id", "rule_id", "sink", "tokens").collect()
    )

    cfg2 = pl.PipelineConfig(n_rows=N, checkpoint_dir=ckpt)
    res2 = pl.run_pipeline(spark, cfg2)
    rows2 = sorted(
        (r.doc_id, r.rule_id, r.sink, tuple(r.tokens))
        for r in res2["routed"].select("doc_id", "rule_id", "sink", "tokens").collect()
    )
    assert rows1 == rows2
    # tokens survive the parquet round-trip as int32 exactly
    assert res2["routed"].schema["tokens"].dataType.simpleString() == "array<int>"


def test_kill_after_parse_resumes_from_snapshot(spark, tmp_path):
    """Kill mid-pipeline (injected crash after the parsed commit), re-run,
    byte-identical outputs — and the parsed stage is NOT recomputed (its
    snapshot version must not advance on resume)."""
    import pytest as _pytest

    from omnition_opentelemetry_service_spark.sinks.snapshot import (
        SnapshotTable,
    )

    ckpt = str(tmp_path / "ckpt")
    with _pytest.raises(RuntimeError, match="injected failure after stage: parsed"):
        pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N, checkpoint_dir=ckpt),
                        fail_after="parsed")
    t_parsed = SnapshotTable(str(tmp_path / "ckpt" / "parsed"))
    assert t_parsed.current_version() == 1

    res = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N, checkpoint_dir=ckpt))
    assert t_parsed.current_version() == 1  # resumed, not recomputed
    resumed = sorted(
        (r.doc_id, r.rule_id, r.sink, tuple(r.tokens))
        for r in res["routed"].select("doc_id", "rule_id", "sink", "tokens").collect())

    clean = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N))
    expect = sorted(
        (r.doc_id, r.rule_id, r.sink, tuple(r.tokens))
        for r in clean["routed"].select("doc_id", "rule_id", "sink", "tokens").collect())
    assert resumed == expect
    # counters still exact when parse came from the snapshot
    counters = {(s, t): (rec, dr) for s, t, rec, dr in res["counters"]}
    assert counters[("parse", "oc_trace")] == (N, N_MALFORMED)


def test_sink_writes_partitioned_by_sink(spark, tmp_path):
    out = str(tmp_path / "sinks")
    pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N, write_sinks_dir=out))
    import os

    parts = {d for d in os.listdir(out) if d.startswith("sink=")}
    assert {"sink=sink_archive", "sink=sink_kinesis", "sink=sink_oc",
            "sink=sink_metrics", "sink=sink_logging"} <= parts
    back = spark.read.parquet(out)
    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=N))
    assert back.count() == st["routed"].count()
    # the write is the TRANSLATED envelope: (sink, doc_id, payload) with the
    # payload in each sink's wire format — kinesis rows are Jaeger-shaped
    assert set(back.columns) == {"sink", "doc_id", "payload"}
    kin = back.filter(F.col("sink") == "sink_kinesis").select(
        F.get_json_object("payload", "$.trace_id").alias("trace_id"),
        F.get_json_object("payload", "$.span_id").alias("span_id"),
        F.get_json_object("payload", "$.process").alias("process"),
    ).limit(5).collect()
    assert kin and all(r.trace_id and r.span_id and r.process for r in kin)


# -- backpressure matrix (octrace/opencensus.go:127-135; test pattern
#    opencensus_test.go:414-594: on/off × downstream-error injection) --------
def _boom(routed, out_dir):
    raise RuntimeError("downstream exporter unavailable")


def test_backpressure_on_propagates_export_error(spark):
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="downstream exporter unavailable"):
        pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N),
                        backpressure=True, write_fn=_boom)


def test_backpressure_off_swallows_but_counts(spark):
    res = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N),
                          backpressure=False, write_fn=_boom)
    assert res["export_error"] is not None
    counters = {(s, t): (rec, dr) for s, t, rec, dr in res["counters"]}
    total = sum(r.n_rows for r in res["sink_counts"])
    # everything offered to the export stage was dropped — and counted
    assert counters[("export", "sinks")] == (total, total)
    # upstream counters unaffected by the swallowed failure
    assert counters[("parse", "oc_trace")] == (N, N_MALFORMED)


def test_no_error_counts_zero_dropped(spark, tmp_path):
    res = pl.run_pipeline(
        spark, pl.PipelineConfig(n_rows=N,
                                 write_sinks_dir=str(tmp_path / "s")),
        backpressure=False)
    counters = {(s, t): (rec, dr) for s, t, rec, dr in res["counters"]}
    total = sum(r.n_rows for r in res["sink_counts"])
    assert counters[("export", "sinks")] == (total, 0)


def test_changed_config_invalidates_snapshot(spark, tmp_path):
    """ADVICE: same checkpoint_dir + different config must NOT reuse the
    stale parsed snapshot (silent hybrid result). The fingerprint makes the
    old snapshot invisible; the run rebuilds and commits a new version."""
    from omnition_opentelemetry_service_spark.sinks.snapshot import (
        SnapshotTable,
    )

    ckpt = str(tmp_path / "ckpt")
    pl.run_pipeline(spark, pl.PipelineConfig(n_rows=N, checkpoint_dir=ckpt))
    t_parsed = SnapshotTable(str(tmp_path / "ckpt" / "parsed"))
    assert t_parsed.current_version() == 1

    res = pl.run_pipeline(
        spark, pl.PipelineConfig(n_rows=2 * N, checkpoint_dir=ckpt))
    assert t_parsed.current_version() == 2  # rebuilt, not reused
    counters = {(s, t): (rec, dr) for s, t, rec, dr in res["counters"]}
    n2_malformed = sum(
        1 for i in range(2 * N)
        if i % fx.MALFORMED_MOD == fx.MALFORMED_RESIDUE)
    assert counters[("parse", "oc_trace")] == (2 * N, n2_malformed)


def test_batch_by_key_colocates_and_salts(spark):
    """Node-batcher analog: repartition(key) makes each key partition-local;
    salted form spreads the hot key over multiple partitions without losing
    any rows."""
    from omnition_opentelemetry_service_spark.operators.batcher import batch_by_key

    seqs = fx.sequences(spark, N)
    plain = batch_by_key(seqs, "source", num_partitions=6)
    # each partition holds at most... every row of a key lands in ONE partition
    per_part = plain.withColumn(
        "pid", F.spark_partition_id()).groupBy("source").agg(
        F.countDistinct("pid").alias("nparts")).collect()
    assert all(r.nparts == 1 for r in per_part)

    salted = batch_by_key(seqs, "source", num_partitions=6, salt_buckets=8)
    assert salted.count() == N  # lossless
    hot = salted.withColumn("pid", F.spark_partition_id()) \
        .filter(F.col("source") == "web") \
        .select("pid").distinct().count()
    assert hot > 1  # hot key no longer owned by a single task


def _batch_rows(df):
    return sorted((r.doc_id, r.stream_id, r.msg_seq, r.batch_no)
                  for r in df.collect())


def test_node_batches_native_equals_grouped(spark):
    """The native window form (registry default) and the applyInPandas
    extension-surface demo must agree row-for-row."""
    from omnition_opentelemetry_service_spark.operators.batcher import (
        node_batches, node_batches_grouped,
    )

    pay = fx.raw_payloads(spark, N)
    assert _batch_rows(node_batches(pay, 7)) == \
        _batch_rows(node_batches_grouped(pay, 7))


def test_node_batches_scalable_single_giant_stream(spark):
    """A single stream spanning many slices: the scalable form must (a) match
    the native form exactly even with gaps in the order column, and (b) never
    run a window partitioned on the bare stream key — the giant stream must
    not serialize onto one task."""
    from omnition_opentelemetry_service_spark.operators.batcher import (
        node_batches, node_batches_scalable,
    )

    # one stream, gapped msg_seq (drop every 3rd), 400 rows
    pay = (fx.raw_payloads(spark, N)
           .withColumn("stream_id", F.lit(0))
           .withColumn("msg_seq", F.col("msg_seq") * 64 + F.col("stream_id"))
           .filter(F.col("msg_seq") % 3 != 0))
    got = node_batches_scalable(pay, batch_size=7, slice_rows=16)
    assert _batch_rows(got) == _batch_rows(node_batches(pay, batch_size=7))
    # plan check: every window partitions on (stream_id, _slice), never on
    # stream_id alone
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_slice" in spec, f"window partitioned on bare key: {spec}"


def test_salted_counts_equal_plain_groupby(spark):
    seqs = fx.sequences(spark, N)
    from omnition_opentelemetry_service_spark.operators.batcher import salted_counts

    salted = {r.source: (r.n_rows, r.sum_n_tok)
              for r in salted_counts(seqs, "source", 32).collect()}
    plain = {r.source: (r.n_rows, r.sum_n_tok)
             for r in seqs.groupBy("source").agg(
                 F.count("*").alias("n_rows"),
                 F.sum("n_tok").alias("sum_n_tok")).collect()}
    assert salted == plain


def test_node_batches_slot_is_scalable_form(spark):
    """The DRIVER SLOT (registry q_node_batches) runs the bounded-window
    scalable form (VERDICT r2 ask 4) and equals the plain window twin
    row-for-row; its plan never windows on the bare stream key."""
    import re

    from omnition_opentelemetry_service_spark import registry
    from omnition_opentelemetry_service_spark.operators.batcher import (
        node_batches,
    )

    slot = registry.q_node_batches(spark, "/root/testdata/sf0.001")
    twin = node_batches(fx.raw_payloads(spark, 2000), batch_size=100)
    assert _batch_rows(slot) == _batch_rows(twin)
    plan = slot._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_slice" in spec, plan  # bounded: (stream_id, _slice) windows
