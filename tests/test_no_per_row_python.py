"""Vectorization audit (BASELINE.json input_hint: 'vectorized pandas/Arrow
UDFs, no per-row Python'): the package must never register a row-at-a-time
Python UDF, and driver-side loops over collect() must not appear in operator
code. Enforced as a source lint so a refactor can't silently regress the
execution model."""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "omnition_opentelemetry_service_spark")

# `.rdd` (property, no parens) is the Python-side row-at-a-time escape hatch
# being banned; `.rdd()` WITH parens is a py4j call on a JVM plan node
# (linkgraph.py releases localCheckpoint storage through it) — JVM-side, no
# rows cross into Python, so the lookahead exempts it.
ROW_UDF = re.compile(r"(?<![\w.])udf\s*\(|F\.udf\b|@udf\b|\.rdd\b(?!\()|spark_partition_id\(\).*collect")
COLLECT_LOOP = re.compile(r"for\s+\w+\s+in\s+\w+\.collect\(\)")


def _sources():
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                yield p, open(p).read()


def test_no_row_at_a_time_udfs():
    hits = [f"{p}: {m.group(0)}" for p, src in _sources()
            for m in [ROW_UDF.search(src)] if m]
    assert not hits, hits


def test_no_driver_side_collect_loops_in_operators():
    hits = []
    for p, src in _sources():
        if "/operators/" in p or "/functions/" in p:
            m = COLLECT_LOOP.search(src)
            if m:
                hits.append(f"{p}: {m.group(0)}")
    assert not hits, hits


def test_pandas_udfs_only_where_declared():
    """mapInPandas/pandas_udf may appear only in the modules designed around
    Arrow batches."""
    allowed = {"multimodal.py", "metrics.py", "batcher.py",
               "similarity.py",  # brute_force_topk_pandas: one numpy matmul per Arrow batch
               "dedup.py",  # simhash_signatures_pandas: memoized md5 + numpy votes
               "registry.py",  # registry mentions mapInPandas in comments only
               "widen.py",  # docstring names mapInPandas; defines no UDFs
               "media_codecs.py",  # docstring names mapInPandas; pure codecs
               "bpe.py",  # encode_bpe: memoized merge loop per Arrow batch
               "normalize.py",  # NFC: pd.Series.str.normalize per batch
               "warc.py",  # parse_warc: opaque archive buffers per batch
               "unigram.py"}  # encode/detok: memoized Viterbi per batch
    hits = []
    for p, src in _sources():
        if ("mapInPandas" in src or "pandas_udf" in src) and \
                os.path.basename(p) not in allowed:
            hits.append(p)
    assert not hits, hits
