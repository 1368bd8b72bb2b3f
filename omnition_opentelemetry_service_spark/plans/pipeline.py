"""The flagship parse → enrich → route → aggregate pipeline.

Maps the reference's configured consumer chain (receivers → processors →
exporters, wired back-to-front by service startup, main.go:32-37 +
components.go:39-77) onto one declarative DataFrame DAG:

    raw payloads ──parse(grok, vectorized)──► good / quarantined   [receiver]
    good ──carry-forward node_host──► spans with node identity      [node mux]
    ⨝ sequences (tokens) on doc_id                                  [payload]
    ⨝ broadcast(source_dim)                                         [enrich]
    ⨝ broadcast(route_rules) + sampler                              [route]
    ──► per-sink writes + sink_counts + counters + lineage          [export]

Every stage optionally commits a snapshot (sinks/snapshot.py) so a killed
run resumes from the last committed stage — the queued-retry/replay analog.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions import parse as parse_fns
from ..metrics import StageCounters, lineage_summary, with_lineage
from ..operators.batcher import salted_counts
from ..operators.carryforward import carry_forward
from ..operators.enrich import enrich_with_dim
from ..operators.router import route, sink_counts
from ..sinks.snapshot import SnapshotTable

# Config validation sentinels (pattern: exact error strings,
# memorylimiter.go:39-49 / config golden tests SURVEY.md §5.1-5.2).
ERR_NO_INPUT = "either n_rows or sf_dir must be set"
ERR_BAD_SALT = "salt_buckets must be >= 0"


@dataclass
class PipelineConfig:
    n_rows: int | None = None
    sf_dir: str | None = None
    # materialized payloads/ + sequences/ parquet; a LIST means multi-receiver
    # fan-in — every dir is scanned and unioned (one multi-path parquet scan,
    # not N jobs; the reference's receivers-union semantics)
    input_dir: str | list[str] | None = None
    input_db: str | None = None  # bucketed catalog tables (<db>.payloads/...)
    salt_buckets: int = 32
    checkpoint_dir: str | None = None
    write_sinks_dir: str | None = None
    num_partitions: int | None = None
    sinks: list[str] = field(default_factory=list)

    def validate(self) -> None:
        if (self.n_rows is None and self.sf_dir is None
                and self.input_dir is None and self.input_db is None):
            raise ValueError(ERR_NO_INPUT)
        if self.salt_buckets < 0:
            raise ValueError(ERR_BAD_SALT)

    @property
    def n(self) -> int:
        if self.n_rows is not None:
            return self.n_rows
        return fixtures.n_rows_for_sf_dir(self.sf_dir)

    @property
    def input_dirs(self) -> list[str]:
        """input_dir normalized to a list (single receiver = one element)."""
        if self.input_dir is None:
            return []
        if isinstance(self.input_dir, str):
            return [self.input_dir]
        return list(self.input_dir)


def config_fingerprint(cfg: PipelineConfig) -> str:
    """Identity of a pipeline's INPUT. A committed snapshot is only
    resumable under the same fingerprint — re-running with the same
    checkpoint_dir but different n_rows/input must rebuild, not silently
    join stale snapshot data against fresh inputs."""
    import hashlib

    key = "|".join(str(x) for x in (
        cfg.n_rows, cfg.sf_dir, cfg.input_dir, cfg.input_db))
    return hashlib.md5(key.encode()).hexdigest()


def load_inputs(spark: SparkSession, cfg: PipelineConfig,
                sequences_only: bool = False):
    """The ONE receiver-selection point: (payloads, seqs) for the config's
    input kind. Shared by build_routed and the checkpoint-resume path — two
    divergent copies of this branching is how a new receiver kind would
    silently break resume.

    - input_db: bucketed-by-doc_id catalog tables — the payload ⨝ sequences
      join runs exchange-free on both sides
      (fixtures.materialize_input_bucketed).
    - input_dir(s): the scale path — scan the materialized token table
      (Iceberg/parquet at 10^12 rows); filters and column pruning push into
      the scan, and multiple dirs (multi-receiver fan-in) are ONE multi-path
      scan so pushdown/pruning/AQE see a single unioned source, not N jobs.
    - neither: deterministic generated fixtures.

    ``sequences_only`` skips building the payloads side (the resume path
    reads parsed payloads from the snapshot instead)."""
    if cfg.input_db:
        payloads = (None if sequences_only
                    else spark.table(f"{cfg.input_db}.payloads"))
        seqs = spark.table(f"{cfg.input_db}.sequences")
    elif cfg.input_dir:
        dirs = cfg.input_dirs
        payloads = (None if sequences_only else
                    spark.read.parquet(*[f"{d}/payloads" for d in dirs]))
        seqs = spark.read.parquet(*[f"{d}/sequences" for d in dirs])
    else:
        n = cfg.n
        payloads = (None if sequences_only else
                    fixtures.raw_payloads(spark, n, cfg.num_partitions))
        seqs = fixtures.sequences(spark, n, cfg.num_partitions)
    return payloads, seqs


def build_routed(spark: SparkSession, cfg: PipelineConfig,
                 counters: "StageCounters | None" = None) -> dict[str, DataFrame]:
    """Compose the full DAG lazily; returns named stage DataFrames.

    With ``counters``, the parse-stage Observation is attached INSIDE the DAG
    that downstream stages consume, so whichever single action executes
    ``routed`` also fills the received/dropped counters — no second pass over
    the input (the obsreport design intent, metrics.py:8-10)."""
    cfg.validate()

    payloads, seqs = load_inputs(spark, cfg)
    dim = fixtures.source_dim(spark)
    rules = fixtures.route_rules(spark)

    parsed = parse_fns.parse_payload_split(payloads)
    if counters is not None:
        parsed = counters.observe_stage(
            parsed, "parse", "oc_trace", drop_predicate=~F.col("valid"))
    stages = build_from_parsed(spark, parsed, seqs, dim, rules)
    stages["payloads"] = payloads
    return stages


def build_from_parsed(spark: SparkSession, parsed: DataFrame,
                      seqs: DataFrame, dim: DataFrame,
                      rules: DataFrame) -> dict[str, DataFrame]:
    """Stages downstream of parse — split out so resume can rebuild from a
    committed parsed snapshot instead of re-parsing."""
    good, quarantined = parse_fns.quarantine_split(parsed)
    good = carry_forward(good)

    # payload ⨝ sequences: big-big equi-join on doc_id. At 10^12 rows both
    # sides are bucketed by doc_id in storage so this is a co-located join;
    # here it is a plain shuffle hash join under AQE.
    spans = good.select(
        "doc_id", "stream_id", "msg_seq", "node_host_filled",
        "ts_str", "host", "lvl", "trace_hex",
    ).join(seqs, "doc_id")

    enriched = enrich_with_dim(spans, dim, key="source", how="left")
    routed = route(enriched, rules)
    return {
        "parsed": parsed,
        "quarantined": quarantined,
        "spans": spans,
        "enriched": enriched,
        "routed": routed,
    }


def run_pipeline(spark: SparkSession, cfg: PipelineConfig,
                 fail_after: str | None = None,
                 backpressure: bool = True,
                 write_fn=None) -> dict:
    """Execute with counters, lineage, optional per-stage snapshot commits.

    Counters ride the real actions: the parse Observation is attached inside
    the DAG that ``routed`` consumes (build_routed), so the single
    sink_counts action (or the parsed-snapshot write) fills them — the input
    is scanned ONCE, never re-parsed just to count (at 10^12 rows a second
    counting pass is a second full scan).

    With ``checkpoint_dir`` set, EVERY major stage (parsed, routed) commits a
    snapshot keyed by the config fingerprint; a re-run under the SAME
    fingerprint skips committed stages and rebuilds downstream (kill-anywhere
    resumability, the queued-retry replay analog) — a changed config makes
    old snapshots invisible instead of producing a stale hybrid. Harvested
    counters ride the parsed manifest so a resumed run still reports exact
    obsreport counters without recomputing parse. ``fail_after`` injects a
    crash right after the named stage's commit (test seam for the
    kill-mid-pipeline test; pattern: injected state,
    memorylimiter_test.go:104-157).

    ``backpressure`` is the reference's error-propagation toggle
    (octrace/opencensus.go:127-135): with it ON a failing downstream export
    raises to the caller; OFF, the failure is swallowed but counted
    (received==dropped on the export stage). ``write_fn(routed, dir)``
    overrides the sink write (error-injection seam for the backpressure test
    matrix, opencensus_test.go:414-594).

    Returns dict with 'routed' (DataFrame), 'sink_counts' (list of Rows),
    'counters' (list of tuples), 'lineage' (DataFrame of per-stage totals),
    'export_error' (the swallowed exception, or None).
    """
    cfg.validate()
    counters = StageCounters()
    fp = config_fingerprint(cfg)

    if cfg.checkpoint_dir:
        t_parsed = SnapshotTable(os.path.join(cfg.checkpoint_dir, "parsed"))
        m_parsed = t_parsed.stage_manifest("parsed", fp)
        if m_parsed:
            # read the MATCHED version, not CURRENT: a concurrent run under
            # a different fingerprint may have committed (and advanced
            # CURRENT) after our match — reading CURRENT would silently
            # bypass the fingerprint guard and resume foreign data
            parsed = t_parsed.read(spark, m_parsed["version"])
            for row in m_parsed.get("counters", []):
                counters.record(*row)  # counters restored, not recomputed
        else:
            stages0 = build_routed(spark, cfg, counters)
            # The snapshot write IS the action — it fills the parse
            # Observation, and the harvested counters commit with the
            # manifest (meta evaluated post-write).
            m_new = t_parsed.write(
                stages0["parsed"], stage="parsed",
                meta=lambda: {"fingerprint": fp,
                              "counters": counters.harvest()})
            parsed = t_parsed.read(spark, m_new["version"])
        if fail_after == "parsed":
            raise RuntimeError("injected failure after stage: parsed")
        _, seqs = load_inputs(spark, cfg, sequences_only=True)
        stages = build_from_parsed(spark, parsed, seqs,
                                   fixtures.source_dim(spark),
                                   fixtures.route_rules(spark))
    else:
        stages = build_routed(spark, cfg, counters)

    routed = stages["routed"]
    if cfg.checkpoint_dir:
        table = SnapshotTable(os.path.join(cfg.checkpoint_dir, "routed"))
        m_routed = table.stage_manifest("routed", fp)
        if m_routed:
            # version-pinned resume — same rationale as the parsed stage
            routed = table.read(spark, m_routed["version"])
        else:
            m_new = table.write(routed, stage="routed", partition_by=["sink"],
                                meta={"fingerprint": fp})
            routed = table.read(spark, m_new["version"])
        if fail_after == "routed":
            raise RuntimeError("injected failure after stage: routed")

    routed, lineage = with_lineage(routed, "route")

    if (cfg.write_sinks_dir or write_fn is not None) \
            and not cfg.checkpoint_dir:
        # Two actions consume routed here (the counts collect and the sink
        # write) and there is no routed snapshot to re-read — without this
        # persist the second action re-executes the whole
        # parse→join→route DAG, a full duplicate pass at scale. Cache
        # lifecycle is caller-owned (registry.release_caches), matching
        # the module convention; checkpointed runs skip it because routed
        # is already a materialized snapshot read.
        routed = routed.persist()

    # THE action: aggregates per-sink counts AND fills the in-DAG parse
    # Observation in the same pass.
    counts = sink_counts(routed).collect()
    counters.harvest()

    export_error = None
    if cfg.write_sinks_dir or write_fn is not None:
        from ..operators.translate import write_sinks_translated

        total_routed = sum(r.n_rows for r in counts)
        try:
            if write_fn is not None:
                write_fn(routed, cfg.write_sinks_dir)
            else:
                write_sinks_translated(routed, cfg.write_sinks_dir)
        except Exception as e:  # noqa: BLE001 — exporter error matrix
            if backpressure:
                raise  # propagate downstream failure to the caller
            export_error = e  # swallow but COUNT (opencensus.go:131-134)
            counters.record("export", "sinks", total_routed, total_routed)
        else:
            counters.record("export", "sinks", total_routed, 0)

    return {
        "routed": routed,
        "sink_counts": counts,
        "counters": counters.rows,
        "lineage": lineage_summary(lineage),
        "export_error": export_error,
        "salted_source_counts": salted_counts(
            stages["enriched"], "source", cfg.salt_buckets or 1),
    }
