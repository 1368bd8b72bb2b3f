"""Structured Streaming variant of the parse→enrich→route pipeline.

The reference IS a streaming service: gRPC stream receivers push TraceData
batches through the consumer chain continuously (octrace/opencensus.go:
100-147), the node-batcher re-buckets by size/timeout (components.go:69) and
exporters flush on an interval (kinesis/factory.go:51). The batch rebuild is
the north-rule target, but this module re-expresses the same stage chain as
a streaming DAG so the engine covers both execution modes with ONE set of
stage definitions:

    readStream (file source over the token table)
      → parse (same parse_payload_split expression)
      → enrich (same broadcast dim join — stream-static joins are supported)
      → route  (same broadcast rules theta-join + deterministic sampler)
      → windowed per-sink counts with watermark (batch-interval analog)
      → sink (memory/parquet via foreachBatch, checkpointed)

Design notes for scale:
- stream-static broadcast joins keep the stream side shuffle-free; only the
  windowed aggregate shuffles (keyed on sink × window).
- the watermark bounds state exactly like the reference's batch timeout
  bounds buffering (at-most-once drop of very-late data ≈ the collector's
  counted at-most-once loss model, memorylimiter.go:119-127).
- checkpointLocation gives resume-from-offset — the streaming twin of the
  batch snapshot/resume (sinks/snapshot.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions import parse as parse_fns
from ..operators.enrich import enrich_with_dim
from ..operators.router import route

PAYLOAD_SCHEMA = ("doc_id string, payload string, stream_id int, "
                  "msg_seq int, node_host string")
SEQ_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "seq_no bigint")


def read_payload_stream(spark: SparkSession, input_dir: str,
                        max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over the materialized payload table (each parquet
    file = one micro-batch quantum; the gRPC-stream analog)."""
    return (
        spark.readStream.schema(PAYLOAD_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{input_dir}/payloads")
    )


def build_routed_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """The same parse→enrich→route stages, applied to a stream.

    Carry-forward is the one stage that cannot run on an unbounded stream as
    a plain window (needs per-stream ordering); the streaming form drops it —
    the fixture sets node_host on batch heads, matching the reference's
    'first message carries Node' contract per quantum.
    """
    payloads = read_payload_stream(spark, input_dir)
    seqs = spark.read.parquet(f"{input_dir}/sequences")  # static side
    parsed = parse_fns.parse_payload_split(payloads)
    good = parsed.filter(F.col("valid"))
    # node_host_filled = the batch-head Node (no cross-row window on an
    # unbounded stream; per-quantum head carry is the streaming contract) —
    # keeps the routed schema identical to the batch DAG so the per-sink
    # translation/envelope stages apply unchanged.
    spans = good.select(
        "doc_id", "stream_id", "msg_seq",
        F.col("node_host").alias("node_host_filled"),
        "ts_str", "host", "lvl", "trace_hex",
    ).join(seqs, "doc_id")  # stream-static equi-join
    enriched = enrich_with_dim(spans, fixtures.source_dim(spark))
    return route(enriched, fixtures.route_rules(spark))


def windowed_sink_counts(routed: DataFrame,
                         window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Per-sink tumbling-window counts with a watermark bounding state —
    the batch-timeout/flush-interval analog."""
    with_time = routed.withColumn(
        "event_time", parse_fns.event_time_expr())
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), "sink")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("n_tok").alias("sum_n_tok"))
        .select(F.col("window.start").alias("win_start"), "sink",
                "n_rows", "sum_n_tok")
    )


def sessionized_source_counts(routed: DataFrame, gap: str = "30 seconds",
                              watermark: str = "2 minutes") -> DataFrame:
    """Per-source SESSION windows over the routed stream — dynamic-gap
    sessionization via ``session_window`` (merging windows, state closed by
    the watermark): events of one source closer than ``gap`` merge into one
    session whose end extends ``gap`` past its last event. The streaming
    twin of the batch gap-sessionize (registry events_sessionize, which
    does lag + cumulative-sum session ids); equality of the two is pinned
    in tests/test_streaming.py.

    Scale shape: state is keyed (source, merging window) — bounded by the
    watermark horizon, and the sampler's row drops are what create gaps, so
    session count tracks routed traffic, not raw input."""
    with_time = routed.withColumn(
        "event_time", parse_fns.event_time_expr())
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), "source")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("n_tok").alias("sum_n_tok"))
        .select(F.col("session_window.start").alias("sess_start"),
                F.col("session_window.end").alias("sess_end"),
                "source", "n_rows", "sum_n_tok")
    )


def run_sessions_once(spark: SparkSession, input_dir: str,
                      checkpoint_dir: str, out_table: str = "stream_sessions",
                      gap: str = "30 seconds") -> DataFrame:
    """Drain all input (availableNow) through the session-window aggregate
    and return the final sessions (complete mode keeps every session in
    state, so the drained result is the full inventory)."""
    sessions = sessionized_source_counts(
        build_routed_stream(spark, input_dir), gap=gap)
    q = (
        sessions.writeStream.outputMode("complete")
        .format("memory").queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.table(out_table)


def parsed_span_times(spark: SparkSession, input_dir: str) -> DataFrame:
    """(doc_id, span_time) stream — the receiver-span side of the
    correlation (one row per valid payload)."""
    parsed = parse_fns.parse_payload_split(
        read_payload_stream(spark, input_dir))
    return parsed.filter(F.col("valid")).select(
        "doc_id",
        parse_fns.event_time_expr().alias("span_time"))


def ack_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """(doc_id, ack_time) stream — the export-ack side, synthesized
    deterministically (ack lags the span by hash(doc_id)%30 seconds; an
    independent file source over the same quanta, so the two sides
    genuinely progress as separate streams)."""
    parsed = parse_fns.parse_payload_split(
        read_payload_stream(spark, input_dir))
    return parsed.filter(F.col("valid")).select(
        "doc_id",
        (parse_fns.event_time_expr()
         + F.make_interval(secs=F.pmod(F.xxhash64("doc_id"), F.lit(30)).cast("double")))
        .alias("ack_time"))


def span_ack_latency(spans: DataFrame, acks: DataFrame,
                     horizon: str = "10 minutes",
                     watermark: str = "2 minutes") -> DataFrame:
    """Stream-stream INTERVAL join (the reference's linked-span correlation,
    octrace/opencensus.go:187-209, as a streaming operator): match each
    receiver span with its export ack within ``horizon``, emit the latency.

    State contract: both sides carry a watermark and the join condition
    bounds ack_time to [span_time, span_time + horizon], so Spark can
    discard span state older than watermark+horizon and ack state older
    than watermark — bounded state on unbounded streams, the requirement
    for any 10^12-row correlation. Works identically on BATCH frames
    (withWatermark is a no-op there) — the streaming≡batch equality test
    uses exactly that."""
    s = spans.withWatermark("span_time", watermark).alias("s")
    a = acks.withWatermark("ack_time", watermark).alias("a")
    return (
        s.join(a, F.expr(
            f"s.doc_id = a.doc_id AND "
            f"a.ack_time >= s.span_time AND "
            f"a.ack_time <= s.span_time + interval {horizon}"))
        .select(F.col("s.doc_id").alias("doc_id"),
                F.col("s.span_time").alias("span_time"),
                (F.unix_timestamp("a.ack_time")
                 - F.unix_timestamp("s.span_time")).alias("latency_s")))


def run_span_ack_join_once(spark: SparkSession, input_dir: str,
                           checkpoint_dir: str,
                           out_table: str = "stream_latency") -> DataFrame:
    """Drain the two streams through the interval join (availableNow)."""
    joined = span_ack_latency(parsed_span_times(spark, input_dir),
                              ack_stream(spark, input_dir))
    q = (joined.writeStream.outputMode("append")
         .format("memory").queryName(out_table)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    q.stop()
    return spark.table(out_table)


def run_stream_once(spark: SparkSession, input_dir: str,
                    checkpoint_dir: str, out_table: str = "stream_counts",
                    window: str = "1 minute") -> DataFrame:
    """Process all available input as micro-batches (availableNow), then
    return the aggregated counts. availableNow + checkpoint = the batch-like
    'drain the backlog, exactly-once per sink commit' mode."""
    counts = windowed_sink_counts(build_routed_stream(spark, input_dir),
                                  window=window)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory").queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()  # release the checkpoint registration (same as the siblings)
    return spark.table(out_table)


def run_stream_to_sinks(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str, out_dir: str) -> int:
    """Streaming exporter parity: every micro-batch flows through the SAME
    per-sink translation + single-pass envelope write as the batch path
    (operators/translate.py), bridged by foreachBatch. foreachBatch alone is
    only at-least-once — a crash between the parquet write and the
    checkpoint commit re-delivers the batch on restart — so the write is
    made IDEMPOTENT on the checkpointed batch id: each batch owns the
    directory ``out_dir/batch_id=N`` and re-delivery overwrites it in
    place instead of appending duplicates. batch_id + checkpoint + an
    idempotent sink is Structured Streaming's exactly-once recipe; the
    streaming twin of the queued-retry/snapshot commit. Returns the number
    of micro-batches."""
    import os
    import shutil

    from ..operators.translate import encode_envelope

    # The per-batch overwrite is idempotent only WITHIN one checkpoint
    # lifetime: a fresh checkpoint restarts batch ids at 0, so batch_id=N
    # dirs from a previous generation would survive (and a whole-directory
    # read would double-count). On a fresh checkpoint, clear stale batch
    # dirs first.
    if not os.path.exists(os.path.join(checkpoint_dir, "commits")) \
            and os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith("batch_id="):
                shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)

    routed = build_routed_stream(spark, input_dir)
    n_batches = {"n": 0}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (encode_envelope(batch_df)
         .repartition("sink")
         .write.mode("overwrite").partitionBy("sink")
         .parquet(os.path.join(out_dir, f"batch_id={batch_id}")))
        n_batches["n"] += 1

    q = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # availableNow has drained, but the query object still holds the
    # checkpoint registration until stopped — a restart against the same
    # checkpoint (the redelivery/recovery path) would otherwise fail with
    # SparkConcurrentModificationException on the commits dir.
    q.stop()
    return n_batches["n"]
