"""YAML job spec → pipeline wiring — the EP0 startup analog.

Reference: main.go:32-37 builds factory registries and the upstream service
loads a YAML with shape receivers/processors/exporters/pipelines (e.g.
receiver/opencensusreceiver/testdata/config.yaml:1-28), instantiates each
factory, and wires the consumer chain back-to-front. Here the YAML declares
the same four sections and compiles into a ``PipelineConfig`` + sink list;
the "consumer chain" is the declarative DataFrame DAG in plans/pipeline.py.

Validation mirrors the reference's config-load error style: exact sentinel
messages for unknown component references and missing sections (pattern:
config golden tests, SURVEY.md §5.1)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import yaml

from .pipeline import PipelineConfig

ERR_NO_PIPELINES = "config must define at least one pipeline"
ERR_UNKNOWN_RECEIVER = "pipeline references unknown receiver: {name}"
ERR_UNKNOWN_PROCESSOR = "pipeline references unknown processor: {name}"
ERR_UNKNOWN_EXPORTER = "pipeline references unknown exporter: {name}"
ERR_BAD_RECEIVER_TYPE = (
    "receiver type must be one of: fixture_payloads, parquet, bucketed"
)
ERR_NO_EXPORTERS = "pipeline must list at least one exporter"
ERR_PARQUET_NO_PATH = "parquet receiver requires a path"
ERR_BUCKETED_NO_DB = "bucketed receiver requires a db"
ERR_BAD_EXPORTER_TYPE = "exporter type must be one of: parquet, logging"
ERR_MULTI_RECEIVER_TYPE = (
    "multiple receivers in one pipeline must all be type: parquet"
)

KNOWN_RECEIVER_TYPES = ("fixture_payloads", "parquet", "bucketed")
KNOWN_EXPORTER_TYPES = ("parquet", "logging")


@dataclass
class JobSpec:
    """Compiled job: one PipelineConfig per declared pipeline.

    ``exporter_specs`` carries each exporter's raw settings (type, path,
    sample_k, ...) so the runner can drive per-type sinks — e.g. the
    logging exporter (reference components.go:58) emits a deterministic
    debug sample to the console instead of a table write."""

    name: str
    config: PipelineConfig
    receivers: list[str]
    exporters: list[str] = field(default_factory=list)
    exporter_specs: dict[str, dict] = field(default_factory=dict)


def load_yaml(path: str) -> dict:
    with open(path) as f:
        return yaml.safe_load(f) or {}


def compile_spec(raw: dict) -> list[JobSpec]:
    """Validate + compile the four-section YAML into JobSpecs.

    Fan-out semantics follow the reference exactly: every routed batch goes
    to ALL exporters listed by the pipeline (exporter/kinesis/testdata/
    config.yaml:35-39); multiple receivers union into one pipeline."""
    receivers = raw.get("receivers") or {}
    processors = raw.get("processors") or {}
    exporters = raw.get("exporters") or {}
    pipelines = raw.get("pipelines") or {}
    if not pipelines:
        raise ValueError(ERR_NO_PIPELINES)

    for rname, rcfg in receivers.items():
        rtype = (rcfg or {}).get("type", "fixture_payloads")
        if rtype not in KNOWN_RECEIVER_TYPES:
            raise ValueError(ERR_BAD_RECEIVER_TYPE)
    for ename, ecfg in exporters.items():
        etype = (ecfg or {}).get("type", "parquet")
        if etype not in KNOWN_EXPORTER_TYPES:
            raise ValueError(ERR_BAD_EXPORTER_TYPE)

    specs: list[JobSpec] = []
    for pname, pcfg in pipelines.items():
        pcfg = pcfg or {}
        p_receivers = pcfg.get("receivers") or []
        p_processors = pcfg.get("processors") or []
        p_exporters = pcfg.get("exporters") or []
        for r in p_receivers:
            if r not in receivers:
                raise ValueError(ERR_UNKNOWN_RECEIVER.format(name=r))
        for p in p_processors:
            if p not in processors:
                raise ValueError(ERR_UNKNOWN_PROCESSOR.format(name=p))
        for e in p_exporters:
            if e not in exporters:
                raise ValueError(ERR_UNKNOWN_EXPORTER.format(name=e))
        if not p_exporters:
            raise ValueError(ERR_NO_EXPORTERS)

        # merge processor settings into one PipelineConfig
        cfg = PipelineConfig()
        recv_cfgs = [receivers[r] or {} for r in p_receivers]
        rtypes = {rc.get("type", "fixture_payloads") for rc in recv_cfgs}
        if len(recv_cfgs) > 1:
            # Receiver fan-in (reference: multiple receivers union into one
            # pipeline): only parquet receivers can union — each contributes
            # a payloads/+sequences/ dir to one multi-path scan. Fixture
            # receivers share a synthetic doc_id space, so unioning them
            # would silently duplicate ids into the payload⨝sequences join.
            if rtypes != {"parquet"}:
                raise ValueError(ERR_MULTI_RECEIVER_TYPE)
            paths = []
            for rc in recv_cfgs:
                if not rc.get("path"):
                    raise ValueError(ERR_PARQUET_NO_PATH)
                paths.append(rc["path"])
            cfg.input_dir = paths
        elif recv_cfgs:
            first_recv = recv_cfgs[0]
            rtype = first_recv.get("type", "fixture_payloads")
            if rtype == "parquet":
                # the parquet receiver reads a materialized payloads/+
                # sequences/ directory — its path IS the pipeline input
                if not first_recv.get("path"):
                    raise ValueError(ERR_PARQUET_NO_PATH)
                cfg.input_dir = first_recv["path"]
            elif rtype == "bucketed":
                # catalog tables bucketed by doc_id (the at-scale layout:
                # fixtures.materialize_input_bucketed) — the payload ⨝
                # sequences join runs exchange-free; the runner registers
                # the db in its session (fixtures.register_bucketed_input)
                if not first_recv.get("db"):
                    raise ValueError(ERR_BUCKETED_NO_DB)
                cfg.input_db = first_recv["db"]
            cfg.n_rows = first_recv.get("n_rows")
            cfg.sf_dir = first_recv.get("sf_dir")
        for p in p_processors:
            pc = processors[p] or {}
            if "salt_buckets" in pc:
                cfg.salt_buckets = pc["salt_buckets"]
            if "num_partitions" in pc:
                cfg.num_partitions = pc["num_partitions"]
        # the first parquet-type exporter's path drives the sink write; the
        # logging exporter is a console sink and needs no path
        for e in p_exporters:
            ec = exporters[e] or {}
            if ec.get("type", "parquet") == "parquet" and ec.get("path"):
                cfg.write_sinks_dir = ec["path"]
                break
        cfg.checkpoint_dir = pcfg.get("checkpoint_dir")
        cfg.sinks = list(p_exporters)
        cfg.validate()
        specs.append(JobSpec(name=pname, config=cfg,
                             receivers=list(p_receivers),
                             exporters=list(p_exporters),
                             exporter_specs={e: dict(exporters[e] or {})
                                             for e in p_exporters}))
    return specs


def load_jobs(path: str) -> list[JobSpec]:
    return compile_spec(load_yaml(path))
