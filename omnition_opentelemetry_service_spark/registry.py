"""Query + oracle registry — the driver-facing contract.

Each entry pairs a Spark DataFrame implementation (``(spark, sf_dir) →
DataFrame``) with an equivalent DuckDB SQL string. Fixture-backed pipeline
queries synthesize their input *inside the SQL* (deterministic CTEs over
``range()`` — same arithmetic as the Spark generators in fixtures.py), so
the oracle is fully independent of Spark.

Parity rules applied throughout (learned the hard way, encoded once):
- arrays cross engines as comma-joined strings (array hash ≠ list hash)
- integer sums: DuckDB sum() → HUGEINT, so CAST(... AS BIGINT) to match
  Spark's LongType
- double aggregation order is nondeterministic → per-row CAST to DECIMAL,
  exact decimal sum, CAST back to DOUBLE (+round) at the end
- float folds (cosine) run sequentially left-to-right in DOUBLE in both
  engines → bit-identical
- every computed column aliased identically on both sides
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from . import fixtures as fx
from .functions import parse as parse_fns
from .functions import text as tx
from .functions.tokens import token_group_cols, tokens_str
from .operators import caps
from .operators import corpus as cp
from .operators import dedup as dd
from .operators import dsir
from .operators import packing as pk
from .operators import similarity as sim
from .operators import urls as ur
from .operators.batcher import salted_counts
from .operators.carryforward import carry_forward
from .operators.enrich import attrs_add, attrs_rename, attrs_to_str, enrich_with_dim
from .operators.memorylimiter import shed_predicate
from .operators.multimodal import extract_media_features, with_fake_media
from .operators.router import route, sink_counts
from .operators.widen import widen_if_narrow
from .plans import pipeline as pl
from .sources.loader import load

ORACLE_N = 20_000  # driver's oracle runs at sf0.01

# ---------------------------------------------------------------------------
# DuckDB CTE prelude shared by all fixture-backed oracle queries.
# ---------------------------------------------------------------------------
_PARSE_RX = parse_fns.PAYLOAD_REGEX


def _minhash_bands_sql() -> str:
    """Shared DuckDB CTE chain documents → shingles → signatures → LSH
    band keys (used by the minhash driver twins AND the split-leakage
    extras twin — one definition per engine, the corpus.py rule)."""
    sh5 = tx.char_shingles_sql_duck("text", 5)
    sig = dd.minhash_signature_sql_duck("shingles")
    return f"""
    WITH sh AS (SELECT doc_id, {sh5} AS shingles FROM documents),
    sig AS (SELECT doc_id, {sig} AS s FROM sh),
    bands AS (
      SELECT doc_id, concat(CAST(b AS VARCHAR), ':',
               array_to_string(list_slice(s, b * {dd.LSH_ROWS} + 1,
                                          b * {dd.LSH_ROWS} + {dd.LSH_ROWS}), ',')) AS band_key
      FROM sig, (SELECT unnest(range({dd.LSH_BANDS})) AS b))"""


def duck_prelude(n: int = ORACLE_N) -> str:
    rx = _PARSE_RX
    parsed = f"""
    SELECT doc_id, stream_id, msg_seq, node_host,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 1) END AS ts_str,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 2) END AS host,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 3) END AS lvl,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 4) END AS src,
      CASE WHEN regexp_matches(payload, '{rx}') THEN CAST(regexp_extract(payload, '{rx}', 5) AS INTEGER) END AS n_tok,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 6) END AS trace_hex,
      CASE WHEN regexp_matches(payload, '{rx}') THEN regexp_extract(payload, '{rx}', 7) END AS msg,
      regexp_matches(payload, '{rx}') AS valid
    FROM pay
    """
    # carry-forward over the GOOD rows only: the Spark pipeline quarantines
    # malformed rows BEFORE the node fill, so a dropped row's node_host must
    # not leak into the fill (mirror of carry_forward(good), pipeline.py).
    parsedf = """
    SELECT *, last_value(node_host IGNORE NULLS) OVER (
      PARTITION BY stream_id ORDER BY msg_seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS node_host_filled
    FROM parsed WHERE valid
    """
    routed = f"""
    SELECT s.doc_id, s.seq_no, s.source, s.n_tok, s.tokens,
           d.tenant, d.priority, r.rule_id, r.sink,
           p.stream_id, p.msg_seq, p.node_host_filled, p.ts_str, p.host,
           p.lvl, p.trace_hex
    FROM parsedf p
    JOIN seq s ON p.doc_id = s.doc_id
    LEFT JOIN dim d ON s.source = d.source
    JOIN rules r ON (r.predicate_source = '*' OR r.predicate_source = s.source)
               AND s.n_tok >= r.min_n_tok
    WHERE {fx.sample_hash_sql('s.seq_no', 'r.rule_id')} < CAST(floor(r.sample_pct * 100) AS BIGINT)
    """
    return (
        f"WITH seq AS ({fx.sequences_sql_duck(n)}), "
        f"pay AS ({fx.raw_payloads_sql_duck(n)}), "
        f"dim AS ({fx.source_dim_sql_duck()}), "
        f"rules AS ({fx.route_rules_sql_duck()}), "
        f"parsed AS ({parsed}), "
        f"parsedf AS ({parsedf}), "
        f"routed AS ({routed})"
    )


def _n(sf_dir: str) -> int:
    return fx.n_rows_for_sf_dir(sf_dir)


# ---------------------------------------------------------------------------
# Spark query callables
# ---------------------------------------------------------------------------
def q_pipeline_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=_n(sf_dir)))
    return st["routed"].select(
        "doc_id", "sink", "rule_id", "source", "tenant", "priority", "n_tok",
        tokens_str().alias("tokens_str"),
    )


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=_n(sf_dir)))
    return sink_counts(st["routed"])


def q_source_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_counts(fx.sequences(spark, _n(sf_dir)), "source", 32)


def q_node_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slot runs the SCALABLE form (bounded (key, slice) window
    partitions — a single giant stream can't serialize onto one task;
    VERDICT r2 ask 4). The plain per-stream window form is the
    oracle-matching twin, equality pinned in test_pipeline_e2e (the
    carry_forward / carry_forward_scalable symmetry)."""
    from .operators.batcher import node_batches_scalable

    return node_batches_scalable(fx.raw_payloads(spark, _n(sf_dir)),
                                 batch_size=100, slice_rows=64)


def q_token_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-aggregate surface: exact interpolated percentiles of sequence
    length per source (Spark `percentile` ≡ DuckDB `quantile_cont`)."""
    seqs = fx.sequences(spark, _n(sf_dir))
    return seqs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.expr("percentile(n_tok, array(0.25D, 0.5D, 0.75D))"),
                lambda x: F.round(x, 6).cast("string")),
            ",").alias("quartiles"))


def q_media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_chunks

    media = with_fake_media(load(spark, sf_dir, "documents"))
    return media_chunks(media, chunk_chars=64)


def q_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_fns.parse_payload_split(fx.raw_payloads(spark, _n(sf_dir)))
    return parsed.select("doc_id", "stream_id", "msg_seq", "ts_str", "host",
                         "lvl", "src", "n_tok", "trace_hex", "msg", "valid")


def q_parse_quarantine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_fns.parse_payload_split(fx.raw_payloads(spark, _n(sf_dir)))
    return parsed.agg(
        F.lit("oc_trace").alias("tag"),
        F.count(F.lit(1)).alias("received"),
        F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("dropped"),
    )


def q_quarantined_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine view (driver slot goes to the aggregate form,
    parse_quarantine_counts; this one is pytest-covered)."""
    parsed = parse_fns.parse_payload_split(fx.raw_payloads(spark, _n(sf_dir)))
    return parsed.filter(~F.col("valid")).select("doc_id", "stream_id", "msg_seq")


def q_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    filled = carry_forward(fx.raw_payloads(spark, _n(sf_dir)))
    return filled.select("doc_id", "stream_id", "msg_seq", "node_host_filled")


def q_carry_forward_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.carryforward import carry_forward_scalable

    filled = carry_forward_scalable(fx.raw_payloads(spark, _n(sf_dir)),
                                    slice_rows=64)
    return filled.select("doc_id", "stream_id", "msg_seq", "node_host_filled")


def q_sampler_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = fx.sequences(spark, _n(sf_dir))
    return seqs.filter(
        F.expr(f"{fx.sample_hash_sql('seq_no', '5')} < 2500")
    ).select("doc_id", "seq_no")


def q_enrich_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = fx.sequences(spark, _n(sf_dir))
    enriched = enrich_with_dim(seqs, fx.source_dim(spark))
    return enriched.select(
        "doc_id", "source", "tenant", "priority",
        attrs_to_str("attrs").alias("attrs_str"),
    )


def q_attrs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained attribute processors (the reference wires processors in
    sequence, components.go:66-67): rename team→owner_team, then add
    env=prod — one pass over the entries array."""
    chained = attrs_add(attrs_rename("attrs", {"team": "owner_team"}),
                        {"env": "prod"})
    return fx.source_dim(spark).select(
        "source", attrs_to_str(chained).alias("attrs_str"))


def q_memlimit_shed(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = fx.sequences(spark, _n(sf_dir))
    return seqs.agg(
        F.lit("memory_limiter").alias("stage"),
        F.count(F.lit(1)).alias("received"),
        F.sum(F.when(~shed_predicate(200), 1).otherwise(0)).alias("dropped"),
    )


def q_parse_json_gateway(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_fns.parse_json_gateway(fx.raw_json_payloads(spark, _n(sf_dir)))
    return parsed.select("doc_id", "ts_str", "src", "n_tok", "msg", "valid")


def q_union_multi_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR receiver formats → one pipeline (unionByName of parse branches,
    the multi-receiver pipeline YAML analog — the full receiver set the
    reference service registers, components.go:39-77): per-source counts
    over the union of the grok branch, the flat-JSON gateway branch, the
    nested Zipkin-v2 branch, and the Jaeger-JSON branch (process.serviceName
    + tags-as-array-of-structs)."""
    n = _n(sf_dir)
    grok = parse_fns.parse_payload_split(fx.raw_payloads(spark, n)) \
        .filter(F.col("valid")).select("doc_id", "src", "n_tok")
    js = parse_fns.parse_json_gateway(fx.raw_json_payloads(spark, n)) \
        .filter(F.col("valid")).select("doc_id", "src", "n_tok")
    zk = parse_fns.parse_zipkin_gateway(fx.raw_zipkin_payloads(spark, n)) \
        .filter(F.col("valid")).select("doc_id", "src", "n_tok")
    jg = parse_fns.parse_jaeger_gateway(fx.raw_jaeger_payloads(spark, n)) \
        .filter(F.col("valid")).select("doc_id", "src", "n_tok")
    return (grok.unionByName(js).unionByName(zk).unionByName(jg)
            .groupBy("src").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_tok").alias("sum_n_tok")))


def q_truncate_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_fns.parse_payload_split(fx.raw_payloads(spark, _n(sf_dir)))
    good = parsed.filter(F.col("valid"))
    return good.select(
        "doc_id", *caps.truncatable("msg", 8))


def q_sink_translated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink format translation (exporter/kinesis/exporter.go:33-52): the
    kinesis sink's rows in their Jaeger-analog wire schema, per-span process
    filled from the batch-level host when the span carries none (:42-44)."""
    from .operators.translate import translate_for_sink

    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=_n(sf_dir)))
    return translate_for_sink(st["routed"], "sink_kinesis")


def q_logging_sink_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logging-exporter analog (components.go:58): deterministic debug
    sample of the logging sink — stable order, first k rows."""
    from .operators.translate import logging_sample

    st = pl.build_routed(spark, pl.PipelineConfig(n_rows=_n(sf_dir)))
    return logging_sample(st["routed"], k=100)


def q_trace_id_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary id handling (SURVEY.md §2.5 scalar functions): the JSON
    gateway carries base64 ids, the wire carries 16-byte binary
    (opencensus_test.go:80-81,134). Round-trip hex → binary → base64 and
    back — all JVM-side codecs."""
    parsed = parse_fns.parse_payload_split(fx.raw_payloads(spark, _n(sf_dir)))
    good = parsed.filter(F.col("valid"))
    b = F.unhex(F.col("trace_hex"))
    return good.select(
        "doc_id",
        F.base64(b).alias("trace_b64"),
        F.lower(F.hex(F.unbase64(F.base64(b)))).alias("trace_roundtrip"),
        F.length(b).cast("int").alias("id_bytes"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pk.with_pack_id(fx.sequences(spark, _n(sf_dir)), budget=2048)
    return packed.select("doc_id", "source", "pack_id")


# (pack_stats / oversized_reject_counts / ivf_cell_sizes / token_counts /
#  quarantined_rows / union_two_receivers remain implemented + pytest-covered;
#  their driver slots were consolidated — the driver checks the FIRST 50
#  queries() entries only, so every registered entry must earn its slot.)


# -- TPC-H-ish relational coverage on driver tables --------------------------
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
    )


def q_tpch_q3_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_region_supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supp = load(spark, sf_dir, "supplier")
    return (
        supp.join(broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)")).cast("double").alias("sum_acctbal"),
        )
    )


def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    )


# -- events: JSON gateway, sessionize, tumbling window ------------------------
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k"))
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet reads as TIMESTAMP_NTZ in Spark 4; go through LTZ (session tz
    # is UTC) to exact epoch micros for engine-portable gap arithmetic.
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = us - F.lag(us).over(w)
    ns = F.when(gap.isNull() | (gap > 3600 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("ns", ns)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
    )


def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("win", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"))
        .groupBy("win", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias("sum_value"),
        )
    )


# -- documents: text analysis + dedup ----------------------------------------
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis surface in one pass: whitespace tokens, BPE-ish subword
    estimate, punctuation ratio, composite quality score."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_words"),
        tx.bpe_token_estimate("text").alias("bpe_tokens"),
        F.round(tx.punct_ratio("text"), 6).alias("punct_ratio"),
        tx.quality_score("text").alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.lang_id("text").alias("lang_pred"))


def q_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint("text").alias("fp"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(load(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized numpy signature path (dedup.minhash_signatures_pandas):
    # one-pass map (zero-shuffle at scale; the pure-JVM fold
    # minhash_signature_expr is the parity twin, pytest- and
    # hypothesis-pinned). Widen the
    # RAW docs before the shingle projection: if the scan is narrow the
    # exchange then moves text bytes, not the ~5× shingle arrays the
    # projection would otherwise materialize pre-shuffle (measured 1.6×
    # at sf0.1; at scale the scan is wide and this is a no-op).
    sh = widen_if_narrow(load(spark, sf_dir, "documents")).withColumn(
        "shingles", tx.char_shingles("text"))
    sigs = dd.minhash_signatures_pandas(sh)
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.array_join(F.col("minhash").cast("array<string>"), ",").alias("sig_str"),
    )


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = widen_if_narrow(load(spark, sf_dir, "documents")).withColumn(
        "shingles", tx.char_shingles("text"))
    return dd.minhash_candidates(dd.minhash_signatures_pandas(sh), id_col="id")


def q_minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist the shingle table once: the Arrow signature map reads it and
    # the exact-Jaccard verify joins back against it (twice) — the
    # shingling expression runs a single time end-to-end.
    # The CANDIDATES table is persisted too: a persist() consumed twice
    # WITHIN one action does not dedupe work — the band self-join's two
    # scans of the internally-persisted signature table run as CONCURRENT
    # map stages, each computing the Arrow kernel before the other has
    # populated the cache (measured 2.7 s -> 0.8 s at sf0.1 from this one
    # persist). Cache lifecycle stays caller-owned (release_caches).
    sh = widen_if_narrow(load(spark, sf_dir, "documents")).select(
        "doc_id", tx.char_shingles("text").alias("shingles")).persist()
    cands = dd.minhash_candidates(
        dd.minhash_signatures_pandas(sh), id_col="id").persist()
    return dd.jaccard_verify(cands, sh, threshold=0.3)


# Band-bucket skew cap for the capped serving form: candidate volume is
# bounded by max_bucket × corpus_bands (linear in the corpus) instead of
# the C(m,2) bucket tail — measured on the sf1 probe, the uncapped form's
# 47× candidate blowup at 10× corpus collapses to ~linear under the cap.
_MINHASH_MAX_BUCKET = 64


def q_minhash_dedup_verified_capped(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """minhash_dedup_verified with the band-bucket skew cap engaged
    (dedup.minhash_candidates max_bucket — see its docstring for the
    measured sf1 blowup this bounds). The serving form for corpora whose
    band-bucket tail is unbounded; the uncapped driver slot keeps the
    exact-complete semantics."""
    sh = widen_if_narrow(load(spark, sf_dir, "documents")).select(
        "doc_id", tx.char_shingles("text").alias("shingles")).persist()
    cands = dd.minhash_candidates(
        dd.minhash_signatures_pandas(sh), id_col="id",
        max_bucket=_MINHASH_MAX_BUCKET).persist()
    return dd.jaccard_verify(cands, sh, threshold=0.3)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                                  k=3, id_limit=150, threshold=0.5)


def q_simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash 100 TB path: 4×15-bit banded equi-join, exact-hamming
    verify — complete for hamming ≤ 3 by pigeonhole (dedup.py)."""
    return dd.simhash_band_pairs(load(spark, sf_dir, "documents"),
                                 max_hamming=3)


def q_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", dd.simhash_expr("text").alias("simhash"))


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data cleaning pass, composed from the text +
    dedup operators: keep documents that (a) pass the quality gate, (b) are
    identified as a known language, and (c) are the keeper of their exact-
    duplicate group. One scan + ONE exchange: the exact collapse is
    groupBy(fp).min_by — no keeper join at all. (The earlier broadcast-join
    form was a scale bug: the keeper table is one row per DISTINCT
    fingerprint, i.e. corpus-sized at 10^12 docs — never broadcastable.
    min_by also collapses a hot fingerprint map-side.)

    The scan is widened before the three regex-heavy scoring expressions:
    the sf0.1 documents parquet is ONE file → one task otherwise
    (measured 1.5-1.9 → 1.0 s warm); at scale the byte cap makes the
    widen a no-op (widen.py)."""
    docs = widen_if_narrow(load(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        tx.quality_score("text").alias("quality"),
        tx.lang_id("text").alias("lang"),
        tx.fingerprint("text").alias("fp"),
    )
    return (
        scored.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "quality", "lang"), F.col("doc_id"))
             .alias("r"))
        .select(F.col("r.doc_id").alias("doc_id"), F.col("r.lang").alias("lang"),
                F.col("r.quality").alias("quality"))
        .filter((F.col("quality") >= 0.5) & (F.col("lang") != "und"))
    )


def q_sequence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-array dedup over the token table itself (doc-level
    fingerprints don't see token-level duplication): group by the NATIVE
    array-hash composite (tokens.token_group_cols — no per-token string
    materialization; 2.9× the md5-of-canonical-string form, see its doc).
    Map-side partial agg keeps the shuffle tiny. The oracle groups by its
    own md5 fingerprint — the compared surface is the grouped OUTPUT
    (keep_id, dup_cnt), which is identical under any collision-free
    grouping key."""
    seqs = fx.sequences(spark, _n(sf_dir))
    return (
        seqs.groupBy(*token_group_cols())
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
    )


# -- embeddings: similarity search --------------------------------------------
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the vectorized mapInPandas form: one numpy matmul per Arrow batch,
    # partition-local top-k, O(partitions·Q·k) exchange. Value-identical to
    # brute_force_topk (the expression twin, pytest-pinned) and to the
    # DuckDB oracle; ~1.7× faster warm at sf0.1 and the gap widens with
    # corpus size because the shuffle no longer carries Q×N scored rows.
    return sim.brute_force_topk_pandas(load(spark, sf_dir, "embeddings"),
                                       n_queries=8, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multiprobe IS the serving default (VERDICT r3 ask #6: single-probe
    # measured recall 0.0 on structureless data vs multiprobe 0.45 at
    # radius 2); single-probe stays available as lsh_ann_topk (radius-0
    # degenerate form, covered in tests/test_similarity suites).
    return sim.lsh_ann_topk_multiprobe(load(spark, sf_dir, "embeddings"),
                                       n_queries=8, k=5, radius=2)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.4: the fixture's cosine distribution tops out ≈0.46, so
    # 0.8 made the check VACUOUS (0 rows == 0 rows proves nothing); 0.4
    # yields ~59 verified pairs at sf0.01.
    return sim.near_dup_pairs(load(spark, sf_dir, "embeddings"),
                              threshold=0.4, id_limit=500)


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup 100 TB path: bucket equi-join over the FULL table (no
    id bound — bucketing IS the scale device), exact-cosine verify."""
    return sim.near_dup_pairs_lsh(load(spark, sf_dir, "embeddings"),
                                  threshold=0.4, n_planes=4)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_ann_topk(load(spark, sf_dir, "embeddings"),
                            n_queries=8, k=5, nprobe=2)


def q_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("bucket", sim.lsh_bucket_expr("embedding"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))
    )


# -- multimodal plumbing -------------------------------------------------------
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = with_fake_media(load(spark, sf_dir, "documents"))
    return extract_media_features(media, fake=True)


# -- non-SQL-expressible (rows-only oracle) ------------------------------------
def _q_counters_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obsreport counters surface: run the pipeline with observe()-based
    counters and return the (stage, tag, received, dropped) table — the
    received/dropped-per-receiver-tag assertion target
    (octrace/observability_test.go:41-96). Counter values come from
    Observations (driver-side after an action), hence rows-only."""
    res = pl.run_pipeline(spark, pl.PipelineConfig(n_rows=_n(sf_dir)))
    rows = [(s, t, int(r), int(d)) for s, t, r, d in res["counters"]]
    return spark.createDataFrame(
        rows, "stage string, tag string, received long, dropped long")


def _q_lineage_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage side-channel (self-trace analog). The rows come
    from mapInPandas partition introspection, but the ROLL-UP contract is
    oracle-checkable: totals must equal the input row count regardless of
    parallelism (the parallelism-invariance half of the scaling rule)."""
    from .metrics import lineage_summary, with_lineage

    seqs = fx.sequences(spark, _n(sf_dir))
    _, lineage = with_lineage(seqs, "generate")
    return lineage_summary(lineage).select("stage", "rows_total")


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------
def _attrs_str(source: str, renames: dict[str, str] | None = None,
               add: dict[str, str] | None = None) -> str:
    entries = {"team": f"team-{source}", "tier": str(fx.PRIORITY[source])}
    if renames:
        entries = {renames.get(k, k): v for k, v in entries.items()}
    if add:
        entries.update(add)
    return ";".join(f"{k}={v}" for k, v in sorted(entries.items()))


def _simhash_cte(bounded: bool) -> str:
    """The SimHash signature CTE (words → per-bit votes → packed value),
    ONE definition for every oracle that consumes it. ``bounded`` restricts
    to doc_id < 150 (the all-pairs verification twins' disclosed id_limit);
    the banded scale path runs unbounded."""
    where = " WHERE doc_id < 150" if bounded else ""
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split_regex({tx.lower_fold_sql_duck(tx.trim_sql_duck('text'))}, '[ \\t\\n\\x0B\\f\\r]+'),
                                        w -> len(w) > 0)) AS w
      FROM documents{where}),
    wh AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM words),
    votes AS (
      SELECT doc_id, {", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(dd.SIMHASH_BITS))}
      FROM wh GROUP BY doc_id),
    sh AS (
      SELECT doc_id, CAST({" + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(dd.SIMHASH_BITS))} AS BIGINT) AS simhash
      FROM votes)"""


def _ivf_pre() -> str:
    """MOD-sampled-centroid IVF assignment CTE — shared by ivf_ann_topk and
    the ivf_cell_sizes extra (the driver-slot IVF keeps deterministic
    SQL-expressible centroids; the TRAINED path is kmeans.py + pytest)."""
    cos = sim.cosine_sql_duck
    return f"""
    WITH cents AS (SELECT vec_id AS centroid_id, embedding AS c_emb
                   FROM embeddings
                   WHERE vec_id % {sim.IVF_CENTROID_MOD} = {sim.IVF_CENTROID_RESIDUE}),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos('e.embedding', 'c.c_emb')} DESC, c.centroid_id) AS c_rnk
        FROM embeddings e CROSS JOIN cents c)
      WHERE c_rnk = 1)"""


def _main_oracle_sql() -> dict[str, str]:
    pre = duck_prelude(ORACLE_N)
    n = ORACLE_N
    o: dict[str, str] = {}

    o["pipeline_routed"] = f"""{pre}
    SELECT doc_id, sink, rule_id, source, tenant, priority, n_tok,
           array_to_string(tokens, ',') AS tokens_str
    FROM routed"""

    o["pipeline_sink_counts"] = f"""{pre}
    SELECT sink, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
    FROM routed GROUP BY sink"""

    o["source_counts_salted"] = f"""{pre}
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
    FROM seq GROUP BY source"""

    o["node_batches"] = f"""{pre}
    SELECT doc_id, stream_id, msg_seq,
           CAST((row_number() OVER (PARTITION BY stream_id ORDER BY msg_seq)
                 - 1) // 100 AS INTEGER) AS batch_no
    FROM pay"""

    o["token_length_quantiles"] = f"""{pre}
    SELECT source,
           array_to_string(list_transform(
             quantile_cont(n_tok, [0.25, 0.5, 0.75]),
             x -> CAST(round(x, 6) AS VARCHAR)), ',') AS quartiles
    FROM seq GROUP BY source"""

    o["media_chunks"] = """
    WITH c AS (
      SELECT doc_id, text,
             CAST(ceil(len(text) / 64.0) AS INTEGER) AS nch
      FROM documents WHERE len(text) > 0),
    ex AS (SELECT doc_id, text, unnest(range(nch)) AS j FROM c)
    SELECT doc_id, CAST(j AS INTEGER) AS chunk_id,
           CAST(len(substr(text, CAST(j AS INTEGER) * 64 + 1, 64)) AS INTEGER) AS chunk_len,
           md5(substr(text, CAST(j AS INTEGER) * 64 + 1, 64)) AS chunk_md5
    FROM ex"""

    o["parse_extract"] = f"""{pre}
    SELECT doc_id, stream_id, msg_seq, ts_str, host, lvl, src, n_tok,
           trace_hex, msg, valid
    FROM parsed"""

    o["parse_quarantine_counts"] = f"""{pre}
    SELECT 'oc_trace' AS tag, CAST(count(*) AS BIGINT) AS received,
           CAST(sum(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS BIGINT) AS dropped
    FROM parsed"""

    # counters come from Observations on the Spark side; the oracle states
    # what those counters MUST equal (the observability_test.go pattern).
    o["counters_table"] = f"""{pre}
    SELECT 'parse' AS stage, 'oc_trace' AS tag,
           CAST(count(*) AS BIGINT) AS received,
           CAST(sum(CASE WHEN NOT valid THEN 1 ELSE 0 END) AS BIGINT) AS dropped
    FROM parsed"""

    o["carry_forward"] = f"""{pre}
    SELECT doc_id, stream_id, msg_seq,
           last_value(node_host IGNORE NULLS) OVER (
             PARTITION BY stream_id ORDER BY msg_seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS node_host_filled
    FROM pay"""

    # the scalable fill must produce the identical table
    o["carry_forward_scalable"] = o["carry_forward"]

    o["sampler_keep"] = f"""{pre}
    SELECT doc_id, seq_no FROM seq
    WHERE {fx.sample_hash_sql('seq_no', '5')} < 2500"""

    o["enrich_attrs"] = f"""{pre}
    SELECT s.doc_id, s.source, d.tenant, d.priority, d.attrs_str
    FROM seq s LEFT JOIN dim d ON s.source = d.source"""

    xform_rows = ", ".join(
        f"('{s}', '{_attrs_str(s, renames={'team': 'owner_team'}, add={'env': 'prod'})}')"
        for s in fx.SOURCES)
    o["attrs_transform"] = (
        f"SELECT * FROM (VALUES {xform_rows}) AS t(source, attrs_str)")

    o["memlimit_shed"] = f"""{pre}
    SELECT 'memory_limiter' AS stage, CAST(count(*) AS BIGINT) AS received,
           CAST(sum(CASE WHEN n_tok > 200 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
    FROM seq"""

    jpay = fx.raw_json_payloads_sql_duck(n)
    o["parse_json_gateway"] = f"""
    WITH jpay AS ({jpay})
    SELECT doc_id,
           json_extract_string(payload, '$.ts') AS ts_str,
           json_extract_string(payload, '$.src') AS src,
           CAST(json_extract(payload, '$.n') AS INTEGER) AS n_tok,
           json_extract_string(payload, '$.msg') AS msg,
           json_extract_string(payload, '$.ts') IS NOT NULL AS valid
    FROM jpay"""

    zpay = fx.raw_zipkin_payloads_sql_duck(n)
    gpay = fx.raw_jaeger_payloads_sql_duck(n)
    o["union_multi_format"] = f"""{pre},
    jpay AS ({jpay}),
    jparsed AS (
      SELECT doc_id, json_extract_string(payload, '$.src') AS src,
             CAST(json_extract(payload, '$.n') AS INTEGER) AS n_tok
      FROM jpay),
    zpay AS ({zpay}),
    zparsed AS (
      SELECT doc_id,
             json_extract_string(payload, '$.localEndpoint.serviceName') AS src,
             CAST(json_extract_string(payload, '$.tags.n_tok') AS INTEGER) AS n_tok
      FROM zpay),
    gpay AS ({gpay}),
    gparsed AS (
      SELECT doc_id,
             json_extract_string(payload, '$.process.serviceName') AS src,
             CAST(json_extract_string(
               list_filter(CAST(json_extract(payload, '$.process.tags') AS JSON[]),
                           t -> json_extract_string(t, '$.key') = 'n_tok')[1],
               '$.vStr') AS INTEGER) AS n_tok
      FROM gpay)
    SELECT src, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
    FROM (SELECT src, n_tok FROM parsed WHERE valid
          UNION ALL SELECT src, n_tok FROM jparsed
          UNION ALL SELECT src, n_tok FROM zparsed
          UNION ALL SELECT src, n_tok FROM gparsed)
    GROUP BY src"""

    o["truncate_caps"] = f"""{pre}
    SELECT doc_id, substring(msg, 1, 8) AS msg_value,
           CAST(greatest(len(msg) - 8, 0) AS INTEGER) AS msg_truncated
    FROM parsed WHERE valid"""

    o["sink_translated"] = f"""{pre}
    SELECT doc_id, trace_hex AS trace_id,
           lpad(lower(hex(seq_no)), 16, '0') AS span_id,
           concat(coalesce(source, ''), '/', coalesce(lvl, '')) AS operation,
           coalesce(node_host_filled, host) AS process,
           ts_str AS start_ts, n_tok, tenant
    FROM routed WHERE sink = 'sink_kinesis'"""

    o["logging_sink_sample"] = f"""{pre}
    SELECT doc_id, rule_id, source, lvl, n_tok
    FROM routed WHERE sink = 'sink_logging'
    ORDER BY doc_id, rule_id LIMIT 100"""

    o["trace_id_codec"] = f"""{pre}
    SELECT doc_id,
           to_base64(from_hex(trace_hex)) AS trace_b64,
           lower(hex(from_base64(to_base64(from_hex(trace_hex))))) AS trace_roundtrip,
           CAST(octet_length(from_hex(trace_hex)) AS INTEGER) AS id_bytes
    FROM parsed WHERE valid"""

    o["pack_sequences"] = f"""{pre}
    SELECT doc_id, source,
           CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY seq_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
             / 2048) AS BIGINT) AS pack_id
    FROM seq"""

    o["tpch_q1"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS count_order,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus"""

    o["tpch_q3_top10"] = """
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10"""

    o["region_supplier_rollup"] = """
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name"""

    o["window_topk_orders"] = """
    SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) WHERE rnk <= 3"""

    o["events_json_extract"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type"""

    o["events_sessionize"] = """
    SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions FROM (
      SELECT user_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 3600000000
                  THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    GROUP BY user_id"""

    o["events_window_agg"] = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win,
           event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
    FROM events GROUP BY 1, 2"""

    o["text_quality"] = f"""
    SELECT doc_id, CAST({tx.token_count_sql_duck('text')} AS INTEGER) AS n_words,
           CAST({tx.bpe_token_estimate_sql_duck('text')} AS INTEGER) AS bpe_tokens,
           round({tx.punct_ratio_sql_duck('text')}, 6) AS punct_ratio,
           {tx.quality_score_sql_duck('text')} AS quality
    FROM documents"""

    o["lang_id"] = f"""
    SELECT doc_id, {tx.lang_id_sql_duck('text')} AS lang_pred FROM documents"""

    o["fingerprint_docs"] = f"""
    SELECT doc_id, {tx.fingerprint_sql_duck('text')} AS fp FROM documents"""

    o["dedup_exact"] = f"""
    SELECT {tx.fingerprint_sql_duck('text')} AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY 1"""

    sh5 = tx.char_shingles_sql_duck("text", 5)
    sig = dd.minhash_signature_sql_duck("shingles")
    o["minhash_signatures"] = f"""
    WITH sh AS (SELECT doc_id, {sh5} AS shingles FROM documents)
    SELECT doc_id, array_to_string({sig}, ',') AS sig_str FROM sh"""

    minhash_bands = _minhash_bands_sql()
    o["minhash_candidates"] = f"""{minhash_bands}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id"""

    o["minhash_dedup_verified"] = f"""{minhash_bands},
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                 len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
    FROM cands c
    JOIN sh sa ON c.id_a = sa.doc_id
    JOIN sh sb ON c.id_b = sb.doc_id
    WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                len(list_distinct(sa.shingles || sb.shingles)), 6) >= 0.3"""

    sh3 = tx.char_shingles_sql_duck("text", 3)
    o["ngram_jaccard_pairs"] = f"""
    WITH sh AS (SELECT doc_id AS id, {sh3} AS s FROM documents WHERE doc_id < 150)
    SELECT a.id AS id_a, b.id AS id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 /
                 len(list_distinct(a.s || b.s)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
    WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
                len(list_distinct(a.s || b.s)), 6) >= 0.5"""

    # banded form: the simhash CTE over ALL docs (no id bound — banding IS
    # the scale device), bands exploded, equi-join, exact-hamming verify.
    o["simhash_band_pairs"] = f"""{_simhash_cte(bounded=False)},
    bands AS (
      SELECT doc_id, simhash, b,
             (simhash >> CAST(b * {dd.SIMHASH_BAND_BITS} AS INTEGER))
               & {(1 << dd.SIMHASH_BAND_BITS) - 1} AS val
      FROM sh, (SELECT unnest(range({dd.SIMHASH_BANDS})) AS b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER) AS hamming
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.val = b2.val AND a.doc_id < b2.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3"""

    o["simhash_values"] = f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split_regex({tx.lower_fold_sql_duck(tx.trim_sql_duck('text'))}, '[ \\t\\n\\x0B\\f\\r]+'),
                                        w -> len(w) > 0)) AS w
      FROM documents),
    wh AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM words),
    votes AS (
      SELECT doc_id, {", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(dd.SIMHASH_BITS))}
      FROM wh GROUP BY doc_id)
    SELECT doc_id, CAST({" + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(dd.SIMHASH_BITS))} AS BIGINT) AS simhash
    FROM votes"""

    o["corpus_filter"] = f"""
    WITH scored AS (
      SELECT doc_id,
             {tx.quality_score_sql_duck('text')} AS quality,
             {tx.lang_id_sql_duck('text')} AS lang,
             {tx.fingerprint_sql_duck('text')} AS fp
      FROM documents),
    keepers AS (SELECT fp, min(doc_id) AS keep_id FROM scored GROUP BY fp)
    SELECT s.doc_id, s.lang, s.quality
    FROM scored s JOIN keepers k ON s.fp = k.fp AND s.doc_id = k.keep_id
    WHERE s.quality >= 0.5 AND s.lang != 'und'"""

    o["sequence_dedup"] = f"""{pre}
    SELECT min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_cnt
    FROM seq GROUP BY md5(array_to_string(tokens, ','))"""

    cos = sim.cosine_sql_duck
    o["ann_topk"] = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({cos('q.q_emb', 'c.embedding')}, 6) AS cosine
      FROM q JOIN embeddings c ON c.vec_id != q.query_id)
    SELECT query_id, rnk, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      FROM scored) WHERE rnk <= 5"""

    bucket = sim.lsh_bucket_sql_duck("embedding")
    # multiprobe twin (radius 2, the serving default): the probe set is the
    # same flip-bit strings unnested on the query side only; probe buckets
    # are distinct and corpus buckets disjoint, so no candidate dedup.
    o["ann_lsh_topk"] = f"""
    WITH bucketed AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb,
                 {sim.lsh_probe_sql_duck(radius=2)} AS q_bucket
          FROM bucketed WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({cos('q.q_emb', 'c.embedding')}, 6) AS cosine
      FROM q JOIN bucketed c ON c.bucket = q.q_bucket AND c.vec_id != q.query_id)
    SELECT query_id, rnk, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      FROM scored) WHERE rnk <= 5"""

    o["ivf_ann_topk"] = f"""{_ivf_pre()},
    probes AS (
      SELECT query_id, q_emb, cell FROM (
        SELECT e.vec_id AS query_id, e.embedding AS q_emb,
               c.centroid_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos('e.embedding', 'c.c_emb')} DESC, c.centroid_id) AS c_rnk
        FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 8)
      WHERE c_rnk <= 2),
    scored AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
             round({cos('p.q_emb', 'a.embedding')}, 6) AS cosine
      FROM probes p JOIN assigned a
        ON a.cell = p.cell AND a.vec_id != p.query_id)
    SELECT query_id, rnk, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      FROM scored) WHERE rnk <= 5"""

    o["embedding_near_dup"] = f"""
    WITH sub AS (SELECT vec_id AS id, embedding AS e FROM embeddings WHERE vec_id < 500)
    SELECT a.id AS id_a, b.id AS id_b,
           round({cos('a.e', 'b.e')}, 6) AS cosine
    FROM sub a JOIN sub b ON a.id < b.id
    WHERE round({cos('a.e', 'b.e')}, 6) >= 0.4"""

    bucket4 = sim.lsh_bucket_sql_duck("embedding", n_planes=4)
    o["embedding_near_dup_lsh"] = f"""
    WITH b AS (SELECT vec_id AS id, embedding AS e, {bucket4} AS bk
               FROM embeddings)
    SELECT l.id AS id_a, r.id AS id_b,
           round({cos('l.e', 'r.e')}, 6) AS cosine
    FROM b l JOIN b r ON l.bk = r.bk AND l.id < r.id
    WHERE round({cos('l.e', 'r.e')}, 6) >= 0.4"""

    o["lsh_bucket_sizes"] = f"""
    SELECT {bucket} AS bucket, CAST(count(*) AS BIGINT) AS n_vecs
    FROM embeddings GROUP BY 1"""

    # lineage rows come from mapInPandas partition introspection, but their
    # ROLL-UP is contract-bound: totals must equal the input row count at
    # any parallelism — which IS SQL-expressible, so the oracle states it.
    o["lineage_totals"] = (
        f"SELECT 'generate' AS stage, CAST({n} AS BIGINT) AS rows_total")

    o["multimodal_features"] = """
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'
                WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INTEGER) AS width,
           CAST(ascii(substr(text, length(text), 1)) % 64 + 1 AS INTEGER) AS height,
           md5(text) AS checksum
    FROM documents"""

    return o


# ---------------------------------------------------------------------------
# Extras: the slots rotated OUT of the 50-entry driver window when new
# operators rotated in (VERDICT r2 "What's missing" #1). Each keeps its full
# Spark query + DuckDB oracle twin here; tools/check_oracle.py --extras (and
# tests/test_consolidated_ops.py) run the same rows+schema+hash gate the
# driver runs, so rotation out of the window no longer weakens verification.
# ---------------------------------------------------------------------------
def q_attrs_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fx.source_dim(spark).select(
        "source",
        attrs_to_str(attrs_add("attrs", {"env": "prod"}).alias("attrs")).alias("attrs_str"),
    )


def q_attrs_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fx.source_dim(spark).select(
        "source",
        attrs_to_str(attrs_rename("attrs", {"team": "owner_team"}).alias("attrs")).alias("attrs_str"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("ws_tokens"),
        tx.bpe_token_estimate("text").alias("bpe_tokens"),
    )


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pk.with_pack_id(fx.sequences(spark, _n(sf_dir)), budget=2048)
    return pk.pack_stats(packed)


def _csv(col: str) -> F.Column:
    """Driver-sortable scalar projection of an array column: CSV string.
    The driver's gate canonicalizes by pandas-sorting result columns, which
    raises TypeError on list-typed cells (CORRECTNESS_r03 assembled_packs/
    fim_docs) — so driver slots project every array to a scalar here.
    concat_ws on an empty array yields '' (DuckDB twin: coalesce(
    array_to_string(..), '') — array_to_string alone returns NULL there)."""
    return F.expr(f"concat_ws(',', CAST(`{col}` AS ARRAY<STRING>))")


def _csv_duck(col: str) -> str:
    return f"coalesce(array_to_string({col}, ','), '')"


def _csv_md5(col: str) -> F.Column:
    """Fixed-width diff localizer next to each CSV projection (VERDICT r4
    ask #5): when the driver's value hash mismatches, the md5 columns name
    WHICH array diverged even where the long CSV strings are truncated in
    the artifact. md5, not xxhash64: both engines implement md5 over the
    identical CSV string (DuckDB has no xxhash64)."""
    return F.md5(_csv(col))


def _csv_md5_duck(col: str) -> str:
    return f"md5({_csv_duck(col)})"


def q_assembled_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pk.with_pack_id(fx.sequences(spark, _n(sf_dir)), budget=2048)
    asm = pk.assemble_packs(packed)
    # slot shape: arrays -> CSV scalars (see _csv); assemble_packs itself
    # keeps the trainer-ready array form (value-verified in pytest).
    return asm.select(
        "source", "pack_id",
        _csv("pack_tokens").alias("pack_tokens"),
        _csv("doc_ids").alias("doc_ids"),
        _csv("starts").alias("starts"),
        _csv("lens").alias("lens"),
        _csv_md5("pack_tokens").alias("pack_tokens_md5"),
        _csv_md5("doc_ids").alias("doc_ids_md5"),
        _csv_md5("starts").alias("starts_md5"),
        _csv_md5("lens").alias("lens_md5"),
        "n_docs", "pack_len")


def q_finalized_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pk.with_pack_id(fx.sequences(spark, _n(sf_dir)), budget=2048)
    fin = pk.finalize_packs(pk.assemble_packs(packed), budget=2048)
    return fin.select("source", "pack_id", "padded_tokens", "position_ids",
                      "loss_mask", "n_pad")


def q_fim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import augment

    fim = augment.fim_transform(fx.sequences(spark, _n(sf_dir)), rate=0.4)
    # slot shape: tokens array -> CSV scalar (see _csv) for the driver gate.
    return fim.select("doc_id", "source", "seq_no", "fim_applied",
                      _csv("tokens").alias("tokens"),
                      _csv_md5("tokens").alias("tokens_md5"), "n_tok")


def q_char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.length("text").alias("n_chars"),
                       tx.char_entropy("text").alias("entropy"))


# token-grain decontamination: benchmark = the deterministic seq_no % 97
# slice of the SAME fixture table (non-vacuous by construction — slice
# members score contamination_frac 1.0), mirroring the word-grain
# contamination twin's bench_pred convention (seq_no, not doc_id: the
# sequence fixture's doc_id is a STRING).
_TOKCONTAM_PRED = "seq_no % 97 = 0"
_TOKCONTAM_K = 8


def q_token_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = fx.sequences(spark, _n(sf_dir))
    return cp.token_contamination_check(
        seqs, seqs.filter(_TOKCONTAM_PRED), k=_TOKCONTAM_K)


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import tokenize as tkz

    return tkz.tokenizer_fertility(load(spark, sf_dir, "documents"))


# curriculum phase threshold: 0.5 sits OUTSIDE quality_score's reachable
# value set ({0, .3, .4, .6, .7, 1}), so the float comparison can never
# hit the equality edge (the corpus_filter threshold convention).
_CURR_THR = 0.5
_CURR_SHARDS = 16


def q_curriculum_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import mixture as mx

    docs = load(spark, sf_dir, "documents")
    phased = docs.select(
        "doc_id",
        F.when(tx.quality_score("text") >= _CURR_THR, F.lit(1))
        .otherwise(F.lit(0)).alias("phase"))
    return mx.curriculum_shards(phased, "phase", n_shards=_CURR_SHARDS)


_LEAK_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.split_leakage_pairs(
        widen_if_narrow(load(spark, sf_dir, "documents")),
        threshold=0.3, weights=_LEAK_WEIGHTS)


def q_union_two_receivers(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _n(sf_dir)
    a = fx.sequences(spark, n // 2)
    b = fx.sequences(spark, n, start=n // 2)
    return a.unionByName(b).groupBy("source").agg(
        F.count("*").alias("n_rows"), F.sum("n_tok").alias("sum_n_tok")
    )


def q_oversized_reject_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = fx.sequences(spark, _n(sf_dir))
    kept, rejected = caps.reject_oversized(seqs, "n_tok", 200)
    return kept.select(F.lit("kept").alias("side"), "doc_id").unionByName(
        rejected.select(F.lit("rejected").alias("side"), "doc_id")
    ).groupBy("side").agg(F.count(F.lit(1)).alias("n_rows"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_hamming_pairs(load(spark, sf_dir, "documents"),
                                    max_hamming=18, id_limit=150)


def q_ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_cell_sizes(load(spark, sf_dir, "embeddings"))


# DSIR extras: target = the English slice, raw = the whole table. The k/seed
# are pinned so the Gumbel selection is reproducible across engines and runs.
_DSIR_TARGET_SPARK = "lang = 'en'"
_DSIR_TARGET_DUCK = "lang = 'en'"
_DSIR_K = 50
_DSIR_SEED = "dsir-extras-v1"


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    lam, lam0 = dsir.dsir_fit(docs.filter(_DSIR_TARGET_SPARK), docs)
    return dsir.dsir_scores(docs, lam, lam0)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    lam, lam0 = dsir.dsir_fit(docs.filter(_DSIR_TARGET_SPARK), docs)
    return dsir.dsir_resample(docs, lam, lam0, k=_DSIR_K, seed=_DSIR_SEED)


_BLOOM_M = 1 << 14
_BLOOM_K = 5


def q_bloom_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership flags: history = fingerprints of even doc_ids,
    probes = every doc's fingerprint (operators/bloom.py — the fixed-size
    membership artifact for incremental dedup)."""
    from .operators import bloom

    docs = load(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0).select(
        tx.fingerprint("text").alias("fp"))
    probes = docs.select(tx.fingerprint("text").alias("fp"))
    words = bloom.bloom_build(history, "fp", _BLOOM_M, _BLOOM_K)
    return bloom.bloom_might_contain(probes, words, "fp",
                                     _BLOOM_M, _BLOOM_K)


_DRIFT_A = "source = 'src0'"
_DRIFT_B = "source <> 'src0'"
_DRIFT_BUCKETS = 512


def q_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top drifted n-gram buckets between the src0 slice and the rest
    (operators/drift.py — exact integer ranking, see module doc)."""
    from .operators import drift

    docs = load(spark, sf_dir, "documents")
    return (drift.drift_topk(docs.filter(_DRIFT_A), docs.filter(_DRIFT_B),
                             k=25, n_buckets=_DRIFT_BUCKETS)
            .withColumn("drift_num", F.col("drift_num").cast("string")))


def q_drift_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interpretable per-gram drift view (operators/drift.py)."""
    from .operators import drift

    docs = load(spark, sf_dir, "documents")
    return (drift.drift_topk_grams(docs.filter(_DRIFT_A),
                                   docs.filter(_DRIFT_B), k=25)
            .withColumn("drift_num", F.col("drift_num").cast("string")))


# sf0.01 documents: 20 sources x 25 docs — 15 BINDS on every stratum
# (keeps 300 of 500), so the extra verifies real selection, not a no-op
_QUOTA_CAP = 15


def q_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (corpus.quota_per_stratum — RefinedWeb-style
    at-most-N-per-domain; exact two-phase skew-proof selection)."""
    docs = load(spark, sf_dir, "documents")
    return (cp.quota_per_stratum(docs, cap=_QUOTA_CAP, n_salts=8)
            .select("doc_id", "source"))


# span removal runs on a pinned slice of the sequence fixture: the cut
# itself is corpus-shaped (two bounded exchanges), but the DuckDB oracle's
# relational NOT-EXISTS-range rebuild is quadratic-ish, so the extras
# fixture stays small enough for the gate while cutting >50% of rows.
_SPANRM_N = 2_000
_SPANRM_K = 6


def q_span_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-cut (corpus.remove_duplicated_token_spans — Lee et al.
    2021): duplicated k-token runs are cut from every sequence except the
    gram's keeper; string-projected for the cross-engine hash."""
    return cp.remove_duplicated_token_spans_str(
        fx.sequences(spark, _SPANRM_N), k=_SPANRM_K, min_docs=2)


def q_html_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/html.py) over the deterministic
    HTML fixture — script/style/comment drop, tag strip, entity decode,
    ws collapse, all value-verified."""
    from .functions import html as hh

    docs = load(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.expr(hh.html_fixture_sql()).alias("html"))
            .select("doc_id", hh.strip_html("html").alias("clean")))


# threshold chosen to SPLIT the fixture's host means (sf0.01 hosts span
# ~0.72-0.80) so the gate verifiably keeps some hosts and drops others
_HOSTGATE_MIN = 0.77


def q_hostgate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-reputation gate (corpus.host_quality_gate): docs surviving the
    domain-mean-quality threshold over the url-fixture hosts."""
    docs = load(spark, sf_dir, "documents")
    hosted = docs.select(
        "doc_id", "text",
        ur.url_host(f"({ur.url_fixture_sql('doc_id')})").alias("host"))
    return (cp.host_quality_gate(hosted, min_host_quality=_HOSTGATE_MIN)
            .select("doc_id", "host"))


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py) over the deterministic
    url fixture — every canon rule (scheme/www/port/userinfo/trailing
    slash/tracking params/param sort/fragment/NULL) value-verified."""
    docs = load(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
            .withColumn("canon_url", ur.canonical_url("url")))


def q_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup group table (urls.url_dedup_groups — the CCNet
    cheapest-identity pass). Fixture doc_ids congruent mod 100 with
    variants in the same canon class COLLIDE, so dup_cnt > 1 groups are
    guaranteed non-vacuous at sf0.01."""
    docs = load(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    return ur.url_dedup_groups(with_url)


def q_robots_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots gate (operators/robots.py) over the url fixture:
    per-host robots.txt synthesized engine-neutrally (specific-agent
    groups on every third host EXCLUDE the '*' group per RFC), full
    parse → group choice → longest-match verdict, value-verified
    including matched-rule provenance."""
    from .operators import robots as rb

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    hosts = (docs.select(ur.url_host("url").alias("host"))
             .distinct().filter("host IS NOT NULL"))
    robots = hosts.select(
        "host", F.expr(rb.robots_fixture_sql("host")).alias("robots_txt"))
    return rb.robots_gate(docs, robots)


def _fixture_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, robots_txt) over the url-fixture host set — shared input of
    the robots-family extras (gate / crawl-delay / sitemap discovery)."""
    from .operators import robots as rb

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    hosts = (docs.select(ur.url_host("url").alias("host"))
             .distinct().filter("host IS NOT NULL"))
    return hosts.select(
        "host", F.expr(rb.robots_fixture_sql("host")).alias("robots_txt"))


def q_crawl_delay_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay scheduling table (robots.crawl_delays): group-scoped
    like allow/disallow, non-numeric values ignored, max fold. Fixture
    exercises both regimes: specific-agent hosts carry 1.5, '*' hosts
    fold ('fast', 3) → 3.0."""
    from .operators import robots as rb

    return rb.crawl_delays(_fixture_robots(spark, sf_dir))


def q_sitemap_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (robots.sitemap_urls) — global
    directives, not group-scoped."""
    from .operators import robots as rb

    return rb.sitemap_urls(_fixture_robots(spark, sf_dir))


def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parse (robots.parse_sitemap): <url> + <sitemap> index
    entries, entity-unescape, whitespace trim, empty-<loc> drop, nullable
    lastmod — over the deterministic XML fixture."""
    from .operators import robots as rb

    sm = _fixture_robots(spark, sf_dir).select(
        "host", F.expr(rb.sitemap_fixture_sql("host")).alias("xml"))
    return rb.parse_sitemap(sm)


def q_frontier_sched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-legal fetch plan (frontier.frontier_schedule): robots
    gate → canonical collapse → crawl-delay throttle → per-host schedule,
    full value parity incl. the DOUBLE scheduled_at arithmetic. Both
    delay regimes bind (specific-agent hosts 1.5 s, '*' hosts 3.0 s)."""
    from .operators import frontier as fr

    cands = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    return fr.frontier_schedule(cands, _fixture_robots(spark, sf_dir))


def q_sitemap_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven URL discovery (frontier.discover_from_sitemaps):
    parsed <url> entries canonical-deduped and anti-joined against the
    url-fixture corpus as the seen store — the frontier feed-forward."""
    from .operators import frontier as fr
    from .operators import robots as rb

    cands = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    sm = _fixture_robots(spark, sf_dir).select(
        "host", F.expr(rb.sitemap_fixture_sql("host")).alias("xml"))
    return fr.discover_from_sitemaps(rb.parse_sitemap(sm), cands)


def q_retry_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch retry/backoff ledger (retry.retry_plan): fold the deterministic
    attempt history into done / retry(next_attempt_at) / dead per key — all
    three outcomes and the success-resets-backoff trail bind at sf0.01."""
    from .operators import retry as rt

    ids = load(spark, sf_dir, "documents").select("doc_id")
    return rt.retry_plan(rt.attempts_fixture(ids), id_col="doc_id")


def q_worker_queue_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worker-pool queue stats (retry.assign_workers + worker_load) over
    the frontier schedule: host-sticky md5 assignment (politeness survives
    the pool), one bounded num_workers-row aggregate."""
    from .operators import frontier as fr
    from .operators import retry as rt

    cands = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    sched = fr.frontier_schedule(cands, _fixture_robots(spark, sf_dir))
    return rt.worker_load(rt.assign_workers(sched, num_workers=8))


_BM25_TERMS = ["hash", "merge", "vector"]
_TOKEN_BUDGETS = {"web": 100_000, "books": 40_000, "code": 10_000}


def q_token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget selection (mixture.select_token_budget): per
    budgeted source, cumulative n_tok in salted-hash order stays ≤ budget
    (hard cap, binds on every source at sf0.01; unbudgeted sources
    excluded)."""
    from .operators import mixture as mx

    return mx.select_token_budget(fx.sequences(spark, _n(sf_dir)),
                                  _TOKEN_BUDGETS)


def q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists (postings.build_postings) for the
    query terms — the build-side artifact of the BM25 serving path."""
    from .operators import postings as ps

    return (ps.build_postings(load(spark, sf_dir, "documents"))
            .filter(F.col("term").isin(_BM25_TERMS)))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over posting lists (postings.bm25_topk): literal term
    pushdown + pivoted fixed-order score — exact doubles vs the DuckDB
    twin's independent SQL re-derivation of postings/stats/idf."""
    from .operators import postings as ps

    docs = load(spark, sf_dir, "documents")
    return ps.bm25_topk(ps.build_postings(docs), *ps.index_stats(docs),
                        _BM25_TERMS, k=25)


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import linkgraph as lgx

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(ur.url_fixture_sql("doc_id")).alias("url"),
        F.expr(lgx.link_fixture_sql("text", "doc_id")).alias("html"))


def q_host_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host link graph edge list (linkgraph.host_edges): anchors from the
    link fixture → canonical-host pairs, self-loops/relatives dropped."""
    from .operators import linkgraph as lgx

    return lgx.host_edges(_link_pages(spark, sf_dir))


def q_host_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, out_deg, in_deg) over the distinct-edge graph — the dangling
    sinks (in-links, zero out) bind at sf0.01."""
    from .operators import linkgraph as lgx

    return lgx.host_degrees(lgx.host_edges(_link_pages(spark, sf_dir)))


def q_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank host centrality (linkgraph.host_rank):
    3 iterations, 17/20 damping, dangling-mass redistribution — full hash
    parity incl. every intdiv rounding step."""
    from .operators import linkgraph as lgx

    return lgx.host_rank(lgx.host_edges(_link_pages(spark, sf_dir)))


_CRAWL_BUDGET = 1000


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cycle fetch budget split across hosts by rank
    (linkgraph.allocate_budget): exact Hamilton apportionment —
    Σ n_slots == budget bit-for-bit in both engines."""
    from .operators import linkgraph as lgx

    ranks = lgx.host_rank(lgx.host_edges(_link_pages(spark, sf_dir)))
    return lgx.allocate_budget(ranks, _CRAWL_BUDGET)


def q_budgeted_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier schedule cut to the rank-derived per-host budget
    (linkgraph.budgeted_frontier) — the politeness plan and the
    centrality budget composed end-to-end."""
    from .operators import frontier as fr
    from .operators import linkgraph as lgx

    cands = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.expr(ur.url_fixture_sql("doc_id")).alias("url"))
    sched = fr.frontier_schedule(cands, _fixture_robots(spark, sf_dir))
    ranks = lgx.host_rank(lgx.host_edges(_link_pages(spark, sf_dir)))
    return lgx.budgeted_frontier(sched, lgx.allocate_budget(
        ranks, _CRAWL_BUDGET))


def q_anchor_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor terms per target host (linkgraph.anchor_texts →
    anchor_term_profile): the off-page relevance signal — positional
    zip of the two capture groups, shared tokenization, deterministic
    (count DESC, term ASC) tiebreak."""
    from .operators import linkgraph as lgx

    return lgx.anchor_term_profile(
        lgx.anchor_texts(_link_pages(spark, sf_dir)), topk=3)


def q_warc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC file layer end-to-end (operators/warc.py): documents wrapped
    in deterministic HTML + urls → per-record-gzip WARC archives →
    parse_warc → per-record projection. The DuckDB twin recomputes the
    SAME projection straight from the fixtures (chained-twin pattern), so
    a single byte drifting anywhere in encode→gzip→inflate→parse→HTTP
    split flips body_md5 and fails the hash gate."""
    from .functions import html as hh
    from .operators import warc as wc

    docs = (load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.expr(ur.url_fixture_sql("doc_id")).alias("url"),
                    F.expr(hh.html_fixture_sql()).alias("html")))
    files = wc.warc_fixture_files(docs, n_files=8, gzip_records=True)
    return (wc.parse_warc(files)
            .select(
                F.regexp_extract("rec_id", r"^urn:doc:(\d+)$", 1)
                .cast("bigint").alias("doc_id"),
                "url", "http_status",
                F.length("body").alias("n_bytes"),
                F.md5("body").alias("body_md5")))


def q_c4_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 heuristic cleaning (corpus.c4_clean) over the deterministic
    multi-line fixture — terminal-punct / min-words / javascript line
    rules + sentence-count / lorem-ipsum / brace / bad-word doc rules,
    all value-verified; the gate binds both ways at sf0.01."""
    docs = load(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id", F.expr(cp.c4_fixture_sql()).alias("text"))
    return cp.c4_clean(wrapped)


def q_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH capture curve vs exact all-pairs Jaccard
    (dedup.minhash_capture_curve) — the MinHash quality contract."""
    return dd.minhash_capture_curve(load(spark, sf_dir, "documents"))


def q_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (operators/normalize.py): invisible strip +
    NFC over the decomposed/zero-width fixture decoration — the pandas
    unicodedata kernel vs DuckDB's utf8proc nfc_normalize."""
    from .operators import normalize as nz

    docs = load(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id", F.expr(nz.unicode_fixture_sql()).alias("text"))
    return nz.normalize_docs(wrapped)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (operators/skew.py) over the token table's
    `source` key — the measurement behind the salted-aggregation choice."""
    from .operators import skew

    return skew.key_skew_report(fx.sequences(spark, _n(sf_dir)))


def q_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import skew

    return skew.heavy_keys(fx.sequences(spark, _n(sf_dir)), topk=4)


def _extra_queries_pool() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The rotated-out twins — NOT driver slots (the window is exactly 50);
    verified by check_oracle --extras and pytest with the identical gate."""
    return {
        "bloom_flags": q_bloom_flags,
        "drift_topk": q_drift_topk,
        "drift_grams": q_drift_grams,
        "quota_docs": q_quota_docs,
        "span_removed": q_span_removed,
        "html_stripped": q_html_stripped,
        "hostgate_docs": q_hostgate_docs,
        "url_canon": q_url_canon,
        "url_dedup_groups": q_url_dedup_groups,
        "c4_docs": q_c4_docs,
        "warc_docs": q_warc_docs,
        "robots_docs": q_robots_docs,
        "crawl_delay_hosts": q_crawl_delay_hosts,
        "sitemap_hosts": q_sitemap_hosts,
        "sitemap_entries": q_sitemap_entries,
        "frontier_sched": q_frontier_sched,
        "sitemap_discover": q_sitemap_discover,
        "retry_outcomes": q_retry_outcomes,
        "worker_queue_load": q_worker_queue_load,
        "host_link_edges": q_host_link_edges,
        "host_link_degrees": q_host_link_degrees,
        "host_rank": q_host_rank,
        "term_postings": q_term_postings,
        "bm25_topk": q_bm25_topk,
        "crawl_budget": q_crawl_budget,
        "budgeted_frontier": q_budgeted_frontier,
        "anchor_profiles": q_anchor_profiles,
        "token_budget_docs": q_token_budget_docs,
        "minhash_quality": q_minhash_quality,
        "minhash_dedup_verified_capped": q_minhash_dedup_verified_capped,
        "normalized_docs": q_normalized_docs,
        "skew_report": q_skew_report,
        "heavy_keys": q_heavy_keys,
        "dsir_scores": q_dsir_scores,
        "dsir_select": q_dsir_select,
        "attrs_add": q_attrs_add,
        "attrs_rename": q_attrs_rename,
        "token_counts": q_token_counts,
        "pack_stats": q_pack_stats,
        "assembled_packs": q_assembled_packs,
        "finalized_packs": q_finalized_packs,
        "fim_docs": q_fim_docs,
        "split_leakage": q_split_leakage,
        "char_entropy_docs": q_char_entropy_docs,
        "token_contamination": q_token_contamination,
        "tokenizer_fertility": q_tokenizer_fertility,
        "curriculum_docs": q_curriculum_docs,
        "quarantined_rows": q_quarantined_rows,
        "union_two_receivers": q_union_two_receivers,
        "ivf_cell_sizes": q_ivf_cell_sizes,
        "oversized_reject_counts": q_oversized_reject_counts,
        "simhash_pairs": q_simhash_pairs,
    }


def _extra_oracle_sql_pool() -> dict[str, str]:
    pre = duck_prelude(ORACLE_N)
    o: dict[str, str] = {}

    add_rows = ", ".join(
        f"('{s}', '{_attrs_str(s, add={'env': 'prod'})}')" for s in fx.SOURCES)
    o["attrs_add"] = (
        f"SELECT * FROM (VALUES {add_rows}) AS t(source, attrs_str)")

    ren_rows = ", ".join(
        f"('{s}', '{_attrs_str(s, renames={'team': 'owner_team'})}')"
        for s in fx.SOURCES)
    o["attrs_rename"] = (
        f"SELECT * FROM (VALUES {ren_rows}) AS t(source, attrs_str)")

    o["token_counts"] = f"""
    SELECT doc_id, CAST({tx.token_count_sql_duck('text')} AS INTEGER) AS ws_tokens,
           CAST({tx.bpe_token_estimate_sql_duck('text')} AS INTEGER) AS bpe_tokens
    FROM documents"""

    o["pack_stats"] = f"""{pre},
    packed AS (
      SELECT source, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY seq_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
               / 2048) AS BIGINT) AS pack_id
      FROM seq)
    SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY source, pack_id"""

    # assemble_packs twin: the same cumsum binning, then within-pack start
    # offsets and ORDER BY seq_no list aggregation; arrays projected to CSV
    # scalars to match the driver-sortable slot shape (registry._csv —
    # coalesce guards array_to_string's NULL-on-empty-list divergence).
    o["assembled_packs"] = f"""{pre},
    packed AS (
      SELECT source, pack_id, doc_id, tokens, n_tok, seq_no,
             CAST(sum(n_tok) OVER (PARTITION BY source, pack_id
               ORDER BY seq_no ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) - n_tok AS INTEGER) AS start
      FROM (
        SELECT *, CAST(floor((sum(n_tok) OVER (PARTITION BY source
                 ORDER BY seq_no ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) - n_tok) / 2048) AS BIGINT) AS pack_id
        FROM seq))
    SELECT source, pack_id,
           {_csv_duck('flatten(list(tokens ORDER BY seq_no))')} AS pack_tokens,
           {_csv_duck('list(doc_id ORDER BY seq_no)')} AS doc_ids,
           {_csv_duck('list(start ORDER BY seq_no)')} AS starts,
           {_csv_duck('list(n_tok ORDER BY seq_no)')} AS lens,
           {_csv_md5_duck('flatten(list(tokens ORDER BY seq_no))')}
             AS pack_tokens_md5,
           {_csv_md5_duck('list(doc_id ORDER BY seq_no)')} AS doc_ids_md5,
           {_csv_md5_duck('list(start ORDER BY seq_no)')} AS starts_md5,
           {_csv_md5_duck('list(n_tok ORDER BY seq_no)')} AS lens_md5,
           CAST(count(*) AS INTEGER) AS n_docs,
           CAST(sum(n_tok) AS INTEGER) AS pack_len
    FROM packed GROUP BY source, pack_id"""

    # finalize_packs twin: pad-to-budget + per-doc-reset position ids +
    # loss mask, recomputed from the same assembled CTE. range(n) handles
    # n = 0 natively in DuckDB (empty list), mirroring the slice guard.
    o["finalized_packs"] = f"""{pre},
    prows AS (
      SELECT source, pack_id, tokens, n_tok, seq_no
      FROM (
        SELECT *, CAST(floor((sum(n_tok) OVER (PARTITION BY source
                 ORDER BY seq_no ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) - n_tok) / 2048) AS BIGINT) AS pack_id
        FROM seq)),
    packs AS (
      SELECT source, pack_id,
             flatten(list(tokens ORDER BY seq_no)) AS pack_tokens,
             list(n_tok ORDER BY seq_no) AS lens,
             CAST(sum(n_tok) AS INTEGER) AS pack_len
      FROM prows GROUP BY source, pack_id)
    SELECT source, pack_id,
           list_concat(pack_tokens, list_transform(
             range(greatest(2048 - pack_len, 0)), x -> -1)) AS padded_tokens,
           list_concat(
             flatten(list_transform(lens, n ->
               list_transform(range(n), x -> CAST(x AS INTEGER)))),
             list_transform(range(greatest(2048 - pack_len, 0)), x -> 0)
           ) AS position_ids,
           list_concat(
             list_transform(range(pack_len), x -> 1),
             list_transform(range(greatest(2048 - pack_len, 0)), x -> 0)
           ) AS loss_mask,
           CAST(greatest(2048 - pack_len, 0) AS INTEGER) AS n_pad
    FROM packs"""

    from .operators import augment as _augment
    o["fim_docs"] = f"""{pre},
    fimout AS ({_augment.fim_sql_duck(rate=0.4)})
    SELECT doc_id, source, seq_no, fim_applied,
           {_csv_duck('tokens')} AS tokens,
           {_csv_md5_duck('tokens')} AS tokens_md5, n_tok
    FROM fimout"""

    o["char_entropy_docs"] = f"""
    SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
           {tx.char_entropy_sql_duck('text')} AS entropy
    FROM documents"""

    from .operators.mixture import split_sql_duck as _split_duck
    _sa = _split_duck(_LEAK_WEIGHTS, id_col="id_a", salt="split")
    _sb = _split_duck(_LEAK_WEIGHTS, id_col="id_b", salt="split")
    o["split_leakage"] = f"""{_minhash_bands_sql()},
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key
                              AND a.doc_id < b.doc_id),
    ver AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                   len(list_distinct(sa.shingles || sb.shingles)), 6)
               AS jaccard
      FROM cands c
      JOIN sh sa ON c.id_a = sa.doc_id
      JOIN sh sb ON c.id_b = sb.doc_id)
    SELECT id_a, id_b, jaccard, {_sa} AS split_a, {_sb} AS split_b
    FROM ver WHERE jaccard >= 0.3 AND ({_sa}) <> ({_sb})"""

    o["quarantined_rows"] = f"""{pre}
    SELECT doc_id, stream_id, msg_seq FROM parsed WHERE NOT valid"""

    o["union_two_receivers"] = f"""{pre}
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
    FROM seq GROUP BY source"""

    o["ivf_cell_sizes"] = f"""{_ivf_pre()}
    SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
    FROM assigned GROUP BY cell"""

    o["oversized_reject_counts"] = f"""{pre}
    SELECT CASE WHEN n_tok <= 200 THEN 'kept' ELSE 'rejected' END AS side,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM seq GROUP BY 1"""

    o["simhash_pairs"] = f"""{_simhash_cte(bounded=True)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 18"""

    # e2e twins: DuckDB recomputes the DSIR fit itself (independent
    # re-derivation, not an echo of the Spark-side lam literals)
    o["dsir_scores"] = dsir.dsir_scores_e2e_sql_duck(_DSIR_TARGET_DUCK)
    o["dsir_select"] = dsir.dsir_resample_e2e_sql_duck(
        _DSIR_TARGET_DUCK, k=_DSIR_K, seed=_DSIR_SEED)

    from .operators import bloom, drift

    fp = tx.fingerprint_sql_duck("text")
    o["bloom_flags"] = bloom.bloom_might_contain_sql_duck(
        probes_sql=f"SELECT {fp} AS fp FROM documents",
        keys_sql=f"SELECT {fp} AS fp FROM documents WHERE doc_id % 2 = 0",
        key_col="fp", m_bits=_BLOOM_M, k=_BLOOM_K)

    drift_inner = drift.drift_topk_sql_duck(
        _DRIFT_A, _DRIFT_B, 25, _DRIFT_BUCKETS)
    o["drift_topk"] = (
        f"SELECT b, c_a, c_b, CAST(drift_num AS VARCHAR) AS drift_num "
        f"FROM ({drift_inner})")

    grams_inner = drift.drift_topk_grams_sql_duck(_DRIFT_A, _DRIFT_B, 25)
    o["drift_grams"] = (
        f"SELECT gram, c_a, c_b, CAST(drift_num AS VARCHAR) AS drift_num "
        f"FROM ({grams_inner})")

    o["quota_docs"] = cp.quota_per_stratum_sql_duck(
        "documents", cap=_QUOTA_CAP)

    o["span_removed"] = cp.remove_duplicated_token_spans_sql_duck(
        fx.sequences_sql_duck(_SPANRM_N), k=_SPANRM_K, min_docs=2)

    from .functions import html as hh

    o["html_stripped"] = (
        f"SELECT doc_id, {hh.strip_html_sql_duck('html')} AS clean "
        f"FROM (SELECT doc_id, {hh.html_fixture_sql()} AS html "
        f"FROM documents)")

    o["minhash_quality"] = dd.minhash_capture_curve_sql_duck()

    verify_j = ("round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /"
                " len(list_distinct(sa.shingles || sb.shingles)), 6)")
    o["minhash_dedup_verified_capped"] = f"""{_minhash_bands_sql()},{
        dd.minhash_candidates_capped_cte_sql_duck(_MINHASH_MAX_BUCKET)}
    SELECT c.id_a, c.id_b, {verify_j} AS jaccard
    FROM cands c
    JOIN sh sa ON c.id_a = sa.doc_id
    JOIN sh sb ON c.id_b = sb.doc_id
    WHERE {verify_j} >= 0.3"""

    from .operators import skew as sk

    o["skew_report"] = sk.key_skew_report_sql_duck("seq", prelude=pre)
    o["heavy_keys"] = sk.heavy_keys_sql_duck("seq", topk=4, prelude=pre)

    from .operators import normalize as nz

    o["normalized_docs"] = nz.normalize_docs_sql_duck(
        f"(SELECT doc_id, {nz.unicode_fixture_sql('text', 'doc_id')} "
        f"AS text FROM documents)")

    o["c4_docs"] = cp.c4_clean_sql_duck(
        f"(SELECT doc_id, {cp.c4_fixture_sql('text', 'doc_id')} AS text "
        f"FROM documents)")

    # the WARC twin recomputes the projection from fixtures directly —
    # independent of every byte of the encode→gzip→parse path. md5 over
    # VARCHAR hashes its UTF-8 bytes in DuckDB, exactly the bytes the
    # Spark side round-trips through the archive body.
    o["warc_docs"] = f"""
    SELECT doc_id, {ur.url_fixture_sql('doc_id')} AS url,
           CAST(200 AS INTEGER) AS http_status,
           CAST(strlen(html) AS INTEGER) AS n_bytes,
           md5(html) AS body_md5
    FROM (SELECT doc_id, text, {hh.html_fixture_sql()} AS html
          FROM documents WHERE text IS NOT NULL)
    WHERE {ur.url_fixture_sql('doc_id')} IS NOT NULL"""

    from .operators import robots as rb

    _rb_url = ur.url_fixture_sql("doc_id")
    _hset = (f"(SELECT DISTINCT {ur.url_host_sql_duck('url')} AS host "
             f"FROM (SELECT doc_id, {_rb_url} AS url FROM documents) d0 "
             f"WHERE {ur.url_host_sql_duck('url')} IS NOT NULL) h")
    _rb_hosts = (
        f"(SELECT host, {rb.robots_fixture_sql('host')} AS robots_txt "
        f"FROM {_hset}) rsrc")
    o["robots_docs"] = rb.robots_gate_sql_duck(
        f"(SELECT doc_id, {_rb_url} AS url FROM documents) dsrc", _rb_hosts)
    o["crawl_delay_hosts"] = rb.crawl_delays_sql_duck(_rb_hosts)
    o["sitemap_hosts"] = rb.sitemap_urls_sql_duck(_rb_hosts)
    _sm_entries = rb.parse_sitemap_sql_duck(
        f"(SELECT host, {rb.sitemap_fixture_sql('host')} AS xml "
        f"FROM {_hset}) smsrc")
    o["sitemap_entries"] = _sm_entries

    from .operators import frontier as fr

    _cand_tbl = f"(SELECT doc_id, {_rb_url} AS url FROM documents) cs"
    o["frontier_sched"] = fr.frontier_schedule_sql_duck(
        _cand_tbl, _rb_hosts, id_col="doc_id")
    o["sitemap_discover"] = fr.discover_from_sitemaps_sql_duck(
        f"({_sm_entries}) e", _cand_tbl)

    from .operators import retry as rt

    o["retry_outcomes"] = rt.retry_plan_sql_duck(
        f"({rt.attempts_fixture_sql_duck('SELECT doc_id FROM documents')}) a",
        id_col="doc_id")
    _sched_sql = fr.frontier_schedule_sql_duck(_cand_tbl, _rb_hosts,
                                               id_col="doc_id")
    o["worker_queue_load"] = rt.worker_load_sql_duck(
        f"SELECT *, {rt.worker_expr('host', 8, 'duck')} AS worker "
        f"FROM ({_sched_sql}) sch")

    from .operators import linkgraph as lgx

    _pages_sql = (
        f"SELECT doc_id, {ur.url_fixture_sql('doc_id')} AS url, "
        f"{lgx.link_fixture_sql('text', 'doc_id')} AS html FROM documents")
    _edges_sql = lgx.host_edges_sql_duck(_pages_sql)
    o["host_link_edges"] = _edges_sql
    o["host_link_degrees"] = lgx.host_degrees_sql_duck(_edges_sql)
    o["host_rank"] = lgx.host_rank_sql_duck(_edges_sql)
    _alloc_sql = lgx.allocate_budget_sql_duck(
        lgx.host_rank_sql_duck(_edges_sql), _CRAWL_BUDGET)
    o["crawl_budget"] = _alloc_sql
    o["budgeted_frontier"] = lgx.budgeted_frontier_sql_duck(
        fr.frontier_schedule_sql_duck(_cand_tbl, _rb_hosts,
                                      id_col="doc_id"), _alloc_sql)
    o["anchor_profiles"] = lgx.anchor_term_profile_sql_duck(
        lgx.anchor_texts_sql_duck(_pages_sql), topk=3)

    from .operators import mixture as mx

    o["token_budget_docs"] = mx.select_token_budget_sql_duck(
        fx.sequences_sql_duck(ORACLE_N), _TOKEN_BUDGETS)

    from .operators import postings as ps

    _terms_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    o["term_postings"] = (
        f"SELECT * FROM ({ps.build_postings_sql_duck('SELECT doc_id, text FROM documents')}) tp "
        f"WHERE term IN ({_terms_in})")
    o["bm25_topk"] = ps.bm25_topk_sql_duck(
        "SELECT doc_id, text FROM documents", _BM25_TERMS, k=25)

    _host_expr = ur.url_host_sql_duck(f"({ur.url_fixture_sql('doc_id')})")
    o["hostgate_docs"] = f"""
    WITH hosted AS (
      SELECT doc_id, text, {_host_expr} AS host FROM documents)
    SELECT doc_id, host FROM hosted
    WHERE {cp.host_quality_gate_pred_duck('hosted', _HOSTGATE_MIN)}"""

    # url fixture SQL is engine-NEUTRAL (CAST AS STRING aliases VARCHAR in
    # DuckDB), so both engines synthesize byte-identical urls from doc_id
    _url_fx = f"SELECT doc_id, {ur.url_fixture_sql('doc_id')} AS url FROM documents"
    o["url_canon"] = (
        f"SELECT doc_id, url, {ur.canonical_url_sql_duck('url')} AS canon_url "
        f"FROM ({_url_fx})")
    o["url_dedup_groups"] = ur.url_dedup_groups_sql_duck(_url_fx)

    o["token_contamination"] = cp.token_contamination_sql_duck(
        pre, _TOKCONTAM_PRED, k=_TOKCONTAM_K)

    from .operators import tokenize as tkz

    o["tokenizer_fertility"] = tkz.tokenizer_fertility_sql_duck("documents")

    _c_ord, _c_shard = mx.curriculum_shard_sql_duck(
        "phase", _CURR_SHARDS, "doc_id")
    o["curriculum_docs"] = f"""
    WITH phased AS (
      SELECT doc_id,
             CASE WHEN {tx.quality_score_sql_duck('text')} >= {_CURR_THR}
                  THEN 1 ELSE 0 END AS phase
      FROM documents)
    SELECT doc_id, phase, {_c_ord} AS curriculum_ord, {_c_shard} AS shard
    FROM phased"""

    return o


def release_caches(spark: SparkSession) -> None:
    """Drop every cached table/RDD this session holds. Several operators
    persist intermediate tables (minhash signatures, simhash signatures, IVF
    assignments) because the DF they return consumes the cached table more
    than once and the caller — not the operator — knows when the action has
    run. Long-lived sessions (bench, the driver's correctness sweep) call
    this between queries so signature caches don't accumulate and squeeze
    executor storage memory."""
    spark.catalog.clearCache()


def _main_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The pre-rotation main pool (rounds 1-2 window). The PUBLIC window is
    build_queries() = this minus _DEMOTED plus _PROMOTED — see _partition
    for the exactly-50 contract; consolidated variants (pack_stats,
    ivf_cell_sizes, token_counts, quarantined_rows, union_two_receivers,
    oversized_reject_counts, node_batches_grouped/scalable) remain
    implemented and pytest-covered."""
    return {
        # pipeline (parse → enrich → route → aggregate) + its contracts
        "pipeline_routed": q_pipeline_routed,
        "pipeline_sink_counts": q_pipeline_sink_counts,
        "counters_table": _q_counters_table,
        "lineage_totals": _q_lineage_totals,
        "sink_translated": q_sink_translated,
        "logging_sink_sample": q_logging_sink_sample,
        "source_counts_salted": q_source_counts_salted,
        "node_batches": q_node_batches,
        "token_length_quantiles": q_token_length_quantiles,
        "media_chunks": q_media_chunks,
        "parse_extract": q_parse_extract,
        "parse_quarantine_counts": q_parse_quarantine_counts,
        "carry_forward": q_carry_forward,
        "carry_forward_scalable": q_carry_forward_scalable,
        "sampler_keep": q_sampler_keep,
        "enrich_attrs": q_enrich_attrs,
        "attrs_transform": q_attrs_transform,
        "memlimit_shed": q_memlimit_shed,
        "parse_json_gateway": q_parse_json_gateway,
        "union_multi_format": q_union_multi_format,
        "truncate_caps": q_truncate_caps,
        "pack_sequences": q_pack_sequences,
        "trace_id_codec": q_trace_id_codec,
        # relational coverage
        "tpch_q1": q_tpch_q1,
        "tpch_q3_top10": q_tpch_q3_top10,
        "region_supplier_rollup": q_region_supplier_rollup,
        "window_topk_orders": q_window_topk_orders,
        "events_json_extract": q_events_json_extract,
        "events_sessionize": q_events_sessionize,
        "events_window_agg": q_events_window_agg,
        # text analysis
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "fingerprint_docs": q_fingerprint_docs,
        # dedup
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_candidates": q_minhash_candidates,
        "minhash_dedup_verified": q_minhash_dedup_verified,
        "simhash_values": q_simhash_values,
        "simhash_band_pairs": q_simhash_band_pairs,
        "corpus_filter": q_corpus_filter,
        "sequence_dedup": q_sequence_dedup,
        # similarity search
        "ann_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "lsh_bucket_sizes": q_lsh_bucket_sizes,
        # multimodal plumbing
        "multimodal_features": q_multimodal_features,
        # bounded all-pairs verification twin (least driver-critical → last;
        # simhash_pairs' all-pairs twin lives in pytest now that
        # simhash_band_pairs carries the driver slot)
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    }


# -- driver window partition -------------------------------------------------------
# Round-3 rotation: the web layer (file format, politeness, frontier,
# centrality, retrieval serving) earns driver rows; each demoted slot's
# FAMILY keeps other driver rows (carry_forward_scalable, events_* ×2,
# simhash_band_pairs, ann_lsh_topk/embedding_near_dup_lsh) and the demoted
# slot itself keeps the IDENTICAL rows+schema+hash gate via the extras pool
# (tools/check_oracle --extras + tests/test_consolidated_ops.py).
_PROMOTED = ["warc_docs", "robots_docs", "frontier_sched",
             "host_rank", "bm25_topk",
             # continuation rotation: trainer last-mile earns driver rows
             # (pack assembly with doc-boundary arrays; deterministic FIM).
             # Demoted: attrs_transform (family keeps enrich_attrs, which
             # the chained form composes) and embedding_near_dup_lsh
             # (family keeps embedding_near_dup + ann_lsh_topk covers the
             # LSH path); both keep the identical gate via extras.
             "assembled_packs", "fim_docs",
             # the band-bucket-capped serving form of the MinHash dedup
             # (its uncapped, exact-complete twin keeps its own slot)
             "minhash_dedup_verified_capped"]
_DEMOTED = ["carry_forward", "events_json_extract", "simhash_values",
            "lsh_bucket_sizes", "ngram_jaccard_pairs",
            "attrs_transform", "embedding_near_dup_lsh"]


def _partition(main: dict, extra: dict) -> tuple[dict, dict]:
    """EXACTLY 50 driver slots, by design: the driver's correctness gate
    checks the FIRST 50 queries() entries (round 1 shipped 54 and
    positions 50-53 silently got no verification row). Everything else
    rides the extras gate."""
    pool = {**main, **extra}
    slots = [k for k in main if k not in _DEMOTED] + _PROMOTED
    assert len(slots) == 50, len(slots)
    return ({k: pool[k] for k in slots},
            {k: v for k, v in pool.items() if k not in slots})


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _partition(_main_queries(), _extra_queries_pool())[0]


def build_extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _partition(_main_queries(), _extra_queries_pool())[1]


def build_oracle_sql() -> dict[str, str]:
    return _partition(_main_oracle_sql(), _extra_oracle_sql_pool())[0]


def build_extra_oracle_sql() -> dict[str, str]:
    return _partition(_main_oracle_sql(), _extra_oracle_sql_pool())[1]
