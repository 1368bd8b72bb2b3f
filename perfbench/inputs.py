"""Seeded benchmark inputs and their expected outputs, cached on disk.

Nothing here starts Spark. Two things are built once per checkout, on
the first run of either workload: the flagship base table, by a Spark
child (``child.py generate``) from the program's own generators, and the
DuckDB twin's stages over the whole documents table
(``data/documents.parquet``, a copy of the sf0.1 testdata table). Every
seed then selects a row-index window of the base, or a hash sample of the
documents, and gets its expected outputs: from DuckDB over the very same
parquet files the job reads, or from the cached twin stages.

Cache layout (under ``.perfbench/cache`` at the root of the checkout)::

    base-<n>-<fp>/          the generated F1/F2 tables, one file per chunk
    corpus-stages-<fp>/     the twin's gated documents and verified pairs
    <workload>-s<seed>-n<size>-<fp>/
                            the seed's input (hard links into the base, or
                            the sampled documents) plus expected.json

``fp`` is the md5 of ``fixtures.py``, of the documents table and of this
file, so a generator, data or oracle change regenerates instead of reusing
stale data.  A directory counts only once its ``_GENERATED`` marker exists
(written last).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
STATE_DIR = os.path.join(ROOT, ".perfbench")
CACHE_DIR = os.path.join(STATE_DIR, "cache")
WORK_DIR = os.path.join(STATE_DIR, "work")
FIXTURES_PY = os.path.join(ROOT, "omnition_opentelemetry_service_spark",
                           "fixtures.py")
DOCS_PARQUET = os.path.join(BENCH_DIR, "data", "documents.parquet")

# Flagship inputs: a base of BASE_CHUNKS contiguous row-index chunks; the
# seed picks a window of consecutive chunks (the generated row-index window).
CHUNK_ROWS = 25_000
BASE_CHUNKS = 16
WINDOW_CHUNKS = 2
# corpus_filter: documents per seed, sampled from the 5,000 of DOCS_PARQUET
N_DOCS = 1_200

DUCK_THREADS = min(4, len(os.sched_getaffinity(0)))
MARKER = "_GENERATED"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint() -> str:
    h = hashlib.md5()
    for path in (FIXTURES_PY, DOCS_PARQUET, os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def size_of(workload: str) -> int:
    if workload == "corpus_filter":
        return N_DOCS
    return WINDOW_CHUNKS * CHUNK_ROWS


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, MARKER))


def _mark(path: str, meta: dict) -> None:
    with open(os.path.join(path, MARKER), "w") as f:
        json.dump(meta, f)


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {DUCK_THREADS}")
    con.execute("SET enable_progress_bar = false")
    return con


# ---------------------------------------------------------------------------
# Flagship: base table, seed window, DuckDB oracle
# ---------------------------------------------------------------------------
def _base_dir(fp: str) -> str:
    return os.path.join(CACHE_DIR, f"base-{BASE_CHUNKS * CHUNK_ROWS}-{fp}")


def ensure_base(fp: str, child_env: dict) -> str:
    """Generate the flagship base table once (a Spark child process)."""
    base = _base_dir(fp)
    if _ready(base):
        return base
    _fresh_dir(base)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "child.py"), "generate",
         json.dumps({"out": base, "n": BASE_CHUNKS * CHUNK_ROWS,
                     "chunks": BASE_CHUNKS})],
        env=child_env, check=True, stdout=subprocess.DEVNULL)
    for table in ("payloads", "sequences"):
        if len(_parts(os.path.join(base, table))) != BASE_CHUNKS:
            raise RuntimeError(f"base {table}: expected {BASE_CHUNKS} files")
    _mark(base, {"rows": BASE_CHUNKS * CHUNK_ROWS, "chunks": BASE_CHUNKS})
    log(f"generated flagship base in {time.perf_counter() - t0:.1f} s")
    return base


def _parts(table_dir: str) -> list[str]:
    # spark.range partitions are contiguous index ranges and part-NNNNN
    # numbers them in order, so sorted names are the row-index order
    return sorted(f for f in os.listdir(table_dir)
                  if f.startswith("part-") and f.endswith(".parquet"))


def window_offset(seed: int) -> int:
    """First chunk of the seed's window."""
    return seed % (BASE_CHUNKS - WINDOW_CHUNKS + 1)


def _link_window(base: str, out: str, offset: int, chunks: int) -> None:
    for table in ("payloads", "sequences"):
        src_dir = os.path.join(base, table)
        dst_dir = os.path.join(out, table)
        os.makedirs(dst_dir)
        for name in _parts(src_dir)[offset:offset + chunks]:
            src, dst = os.path.join(src_dir, name), os.path.join(dst_dir, name)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copyfile(src, dst)


def routed_prelude(payload_files: list[str], sequence_files: list[str]) -> str:
    """registry.duck_prelude's routed CTE chain with ``seq``/``pay`` read
    from the given parquet files instead of the DuckDB generators."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark import registry

    n = 1  # any n: both generator bodies are swapped out below
    prelude = registry.duck_prelude(n)
    for gen, files in ((fx.sequences_sql_duck(n), sequence_files),
                       (fx.raw_payloads_sql_duck(n), payload_files)):
        if gen not in prelude:
            raise RuntimeError("duck_prelude no longer embeds the generator")
        prelude = prelude.replace(
            gen, f"SELECT * FROM read_parquet({files!r})")
    return prelude


def flagship_expected(input_dir: str) -> dict:
    """Per-sink n_rows / sum_n_tok, and the parse received/dropped
    counters, from DuckDB over the input's parquet files."""
    files = {t: sorted(os.path.join(input_dir, t, f)
                       for f in _parts(os.path.join(input_dir, t)))
             for t in ("payloads", "sequences")}
    prelude = routed_prelude(files["payloads"], files["sequences"])
    con = duck()
    try:
        sinks = con.execute(
            f"{prelude} SELECT sink, count(*), sum(n_tok) FROM routed "
            "GROUP BY sink ORDER BY sink").fetchall()
        received, dropped = con.execute(
            f"{prelude} SELECT count(*), count(*) FILTER (WHERE NOT valid) "
            "FROM parsed").fetchone()
    finally:
        con.close()
    return {
        "sinks": {s: {"n_rows": int(n), "sum_n_tok": int(t)}
                  for s, n, t in sinks},
        "parse": {"received": int(received), "dropped": int(dropped)},
    }


# ---------------------------------------------------------------------------
# corpus_filter: a seeded hash sample of the documents table, expected keep
# set from the DuckDB twin's stages
# ---------------------------------------------------------------------------
def sample_ids(seed: int, n: int) -> list[int]:
    """The seed's hash sample: the ``n`` doc ids whose md5 of
    ``"<seed>:<doc_id>"`` is smallest."""
    import pyarrow.parquet as pq

    ids = pq.read_table(DOCS_PARQUET, columns=["doc_id"]).column(
        "doc_id").to_pylist()
    return sorted(sorted(ids, key=lambda d: hashlib.md5(
        f"{seed}:{d}".encode()).digest())[:n])


def _write_sample(ids: list[int], path: str) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(DOCS_PARQUET)
    pq.write_table(docs.filter(pc.is_in(docs.column("doc_id"),
                                        pa.array(ids, pa.int64()))), path)


def twin_stages(docs_path: str, collapse_exact: bool = True) -> dict:
    """corpus_filter_full_sql_duck's CTE chain up to the verified pairs.

    Returns the documents that reach shingling, (doc_id, lang, quality,
    fp), and the verified near-duplicate pairs among them. With
    ``collapse_exact=False`` the exact-fingerprint collapse is skipped, so
    every gated document reaches shingling. Each stage is computed once:
    MATERIALIZED stops DuckDB inlining the shingle and signature CTEs into
    each side of the band and verify self-joins."""
    from omnition_opentelemetry_service_spark.operators import corpus

    sql = corpus.corpus_filter_full_sql_duck()
    cut = sql.find("    sym AS (")
    if cut < 0:
        raise RuntimeError("corpus_filter_full_sql_duck lost its sym CTE")
    chain = sql[:cut].rstrip().rstrip(",")
    if not collapse_exact:
        exact = re.search(r"exact AS \(.*?k\.keep_id\)", chain, re.S)
        if exact is None:
            raise RuntimeError("corpus_filter_full_sql_duck lost its exact "
                               "CTE")
        chain = chain.replace(exact.group(0),
                              "exact AS (SELECT * FROM gated)")
    chain = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", chain)
    con = duck()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        con.execute(
            f"CREATE TABLE stages AS {chain} "
            "SELECT 0 AS kind, doc_id AS a, NULL::BIGINT AS b, e.lang,"
            " e.quality, g.fp FROM exact e JOIN gated g USING (doc_id)"
            " UNION ALL SELECT 1, id_a, id_b, NULL, NULL, NULL FROM verified")
        survivors = con.execute("SELECT a, lang, quality, fp FROM stages "
                                "WHERE kind = 0").fetchall()
        pairs = con.execute(
            "SELECT a, b FROM stages WHERE kind = 1").fetchall()
    finally:
        con.close()
    return {"docs": sorted([int(d), lang, float(q), f]
                           for d, lang, q, f in survivors),
            "pairs": sorted([int(a), int(b)] for a, b in pairs)}


def keep_set(stages: dict, ids: list[int] | None = None) -> dict:
    """The rest of corpus_filter_full, in Python: restrict the stages to
    ``ids`` (default: all), collapse exact duplicates (min doc_id per
    fingerprint), then near-duplicate clusters (min doc_id per connected
    component of the verified pairs among the survivors). Candidates and
    verified pairs are properties of the pair alone (no bucket cap), so
    the pairs of a sample are the pairs of the whole between sampled
    survivors."""
    wanted = None if ids is None else set(ids)
    keeper: dict[str, list] = {}
    for d, lang, q, fp in stages["docs"]:
        if (wanted is None or d in wanted) and (
                fp not in keeper or d < keeper[fp][0]):
            keeper[fp] = [d, lang, q]
    survivors = {row[0]: row for row in keeper.values()}
    pairs = [(a, b) for a, b in stages["pairs"]
             if a in survivors and b in survivors]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    kept = sorted(row for d, row in survivors.items() if find(d) == d)
    return {"kept": kept, "verified_pairs": len(pairs),
            "exact_survivors": len(survivors)}


def corpus_stages(fp: str) -> dict:
    """The twin's stages over the whole documents table with the exact
    collapse skipped, computed once per checkout and cached."""
    out = os.path.join(CACHE_DIR, f"corpus-stages-{fp}")
    path = os.path.join(out, "stages.json")
    if not _ready(out):
        _fresh_dir(out)
        t0 = time.perf_counter()
        stages = twin_stages(DOCS_PARQUET, collapse_exact=False)
        with open(path, "w") as f:
            json.dump(stages, f)
        _mark(out, {"fingerprint": fp})
        log(f"computed the corpus twin stages in "
            f"{time.perf_counter() - t0:.1f} s")
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Entry point: the seed's input directory, generated on first use
# ---------------------------------------------------------------------------
def prepare(workload: str, seed: int, child_env: dict) -> dict:
    """Return {"input": path, "expected": {...}} for (workload, seed),
    generating and caching on first use. Generation time is logged, and it
    is never part of a measured set-up."""
    fp = fingerprint()
    size = size_of(workload)
    out = os.path.join(CACHE_DIR, f"{workload}-s{seed}-n{size}-{fp}")
    if not _ready(out):
        # both shared builds on the first run, whichever workload it is
        base = ensure_base(fp, child_env)
        stages = corpus_stages(fp)
        t0 = time.perf_counter()
        _fresh_dir(out)
        if workload == "corpus_filter":
            ids = sample_ids(seed, size)
            _write_sample(ids, os.path.join(out, "documents.parquet"))
            expected = keep_set(stages, ids)
        else:
            _link_window(base, out, window_offset(seed), WINDOW_CHUNKS)
            expected = flagship_expected(out)
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump(expected, f)
        _mark(out, {"workload": workload, "seed": seed, "size": size,
                    "fingerprint": fp})
        log(f"generated {workload} seed {seed} inputs in "
            f"{time.perf_counter() - t0:.1f} s")
    with open(os.path.join(out, "expected.json")) as f:
        expected = json.load(f)
    path = (os.path.join(out, "documents.parquet")
            if workload == "corpus_filter" else out)
    return {"input": path, "expected": expected, "size": size}
