"""Host link graph: href extraction → host edge list → degrees →
integer-exact PageRank host centrality.

Crawl pipelines rank HOSTS by link centrality to prioritize the frontier
and weight quality gates (Common Crawl publishes exactly this artifact —
a host-level ranking of its web graph; PageRank is Brin & Page 1998).
This module is the set-oriented rebuild over the pages the web layer
already carries: extract anchors from fetched HTML, collapse to a
distinct (src_host, dst_host) edge list via the SAME canonical-host
definition the blocklist/politeness stages key on (operators/urls.py
``url_host`` — one identity everywhere), then iterate rank.

INTEGER-exact PageRank (the cross-engine parity trick): float PageRank
is a per-node SUM of double contributions, and Spark and DuckDB fold
those sums in different orders — bit parity is unachievable (PARITY.md
float-reduction class). So ranks live in integer micro-units
(``unit`` = 1e6) and every step is BIGINT arithmetic:

    contrib(e)  = r(src) intdiv out_deg(src)
    share       = dang intdiv n_hosts          (dangling mass, uniform)
    r'(v)       = ((den-num)·unit) intdiv den
                  + (num · (S(v) + share)) intdiv den

with damping num/den = 17/20 (= 0.85 exactly, as a RATIONAL — no double
ever exists). Sums of BIGINT are exact and order-independent in both
engines (DuckDB widens to HUGEINT; values re-CAST to BIGINT at each
step). Integer division: Spark ``DIV`` truncates toward zero, DuckDB
``//`` floors — identical on the non-negative values this graph
produces (ranks and degrees are never negative; pinned by test).
The intdiv rounding loses ≤ den-1 micro-units per node per step —
deterministic, identical in both engines, and irrelevant at unit=1e6
(PageRank is used as an ORDERING).

Anchor scope (documented, pinned by test): double-quoted
``href="..."`` on ``<a``-tags (any attribute order, case-insensitive,
``[^a-z>]`` after the ``a`` so ``<abbr``/``<area`` don't match);
single-quoted/unquoted hrefs and relative links are out of scope —
relative links are same-host (self-loop, dropped anyway) and the
fixture carries one of each to pin the scope. Pattern is backslash-free
(PARITY.md trap 24 has no surface).

Shape at scale: extraction is a pure projection (regexp_extract_all +
explode ride the scan); the edge list is ONE hash-agg exchange on the
host pair (distinct, map-side partials); each rank iteration is ONE
equi-join ranks⋈edges on src_host (ranks is host-bounded, ≪ edges —
broadcastable on real graphs) + ONE hash-agg exchange on dst_host; the
1-row dangling/host-count scalars ride broadcast nested-loop joins
(single-row side — how scalar subqueries compile; NOT a data×data
cartesian, pinned by test). Iterations are a fixed small constant
(default 3); each iteration's rank table is persisted (caller releases
per the repo cache contract) so the two consumers (dangling sum,
contribution join) scan it once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import urls as ur

# group 1 = the href value. Backslash-free; [^a-z>] after 'a' keeps
# <abbr>/<area>/<audio> from matching while allowing any whitespace or
# attribute separator byte before href.
LINK_RX = '(?i)<a[^a-z>][^>]*href="([^"]*)"'

_DIV = {"spark": "DIV", "duck": "//"}


def _check_rank_params(iters: int, unit: int, num: int, den: int) -> None:
    if iters < 1 or unit < 1:
        raise ValueError(f"iters/unit must be >= 1: {iters}, {unit}")
    if not (0 < num < den):
        raise ValueError(f"damping num/den must be in (0,1): {num}/{den}")


def _new_rank_expr(engine: str, num: int, den: int, unit: int,
                   s_col: str = "s") -> str:
    """r' given columns (s_col, dang, n_hosts) — ONE formula, engine-keyed
    only on the intdiv operator. Teleport term folded to a python-int
    literal (exact)."""
    dv = _DIV[engine]
    teleport = ((den - num) * unit) // den
    return (f"CAST({teleport} + (({num} * (coalesce({s_col}, "
            f"CAST(0 AS BIGINT)) + (dang {dv} n_hosts))) {dv} {den}) "
            f"AS BIGINT)")


def extract_links(pages: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, href) — one row per in-scope anchor. NULL html → no rows
    (explode of a NULL array) in both engines."""
    return pages.select(
        id_col,
        F.explode(F.expr(
            f"regexp_extract_all({html_col}, '{LINK_RX}', 1)"))
        .alias("href"))


_EDGE_PRED = ("src_host IS NOT NULL AND src_host <> '' AND "
              "dst_host IS NOT NULL AND dst_host <> '' AND "
              "src_host <> dst_host")


def host_edges(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """DISTINCT (src_host, dst_host) over canonical hosts. Relative hrefs
    canonicalize to '' (no authority) and are dropped with self-loops —
    a relative link IS a self-link. Non-fetchable schemes (mailto:,
    javascript:, tel:, data:) are dropped BEFORE host extraction: they
    parse to junk hosts through URL_PAT and would earn PageRank mass
    (review finding). One hash-agg exchange."""
    return (pages
            .select(ur.url_host(url_col).alias("src_host"),
                    F.explode(F.expr(
                        f"regexp_extract_all({html_col}, '{LINK_RX}', 1)"))
                    .alias("href"))
            .filter(ur.is_fetchable("href"))
            .select("src_host", ur.url_host("href").alias("dst_host"))
            .filter(_EDGE_PRED)
            .distinct())


def host_edges_sql_duck(pages_sql: str, url_col: str = "url",
                        html_col: str = "html") -> str:
    return f"""
    SELECT DISTINCT src_host, dst_host
    FROM (SELECT {ur.url_host_sql_duck(url_col)} AS src_host,
                 {ur.url_host_sql_duck('href')} AS dst_host
          FROM (SELECT {url_col}, unnest(regexp_extract_all({html_col},
                       '{LINK_RX}', 1)) AS href
                FROM ({pages_sql}) pg) lx
          WHERE {ur.is_fetchable_sql_duck('href')}) ed
    WHERE {_EDGE_PRED}"""


def host_degrees(edges: DataFrame) -> DataFrame:
    """(host, out_deg, in_deg) over the DISTINCT-edge graph — two
    host-bounded aggregates + one host-keyed outer join (both sides
    ≪ edges)."""
    outd = (edges.groupBy(F.col("src_host").alias("host"))
            .agg(F.count(F.lit(1)).alias("out_deg")))
    ind = (edges.groupBy(F.col("dst_host").alias("host"))
           .agg(F.count(F.lit(1)).alias("in_deg")))
    return (outd.join(ind, "host", "full")
            .select("host",
                    F.coalesce("out_deg", F.lit(0)).cast("bigint")
                    .alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).cast("bigint")
                    .alias("in_deg")))


def host_degrees_sql_duck(edges_sql: str) -> str:
    return f"""
    WITH e AS ({edges_sql}),
    o AS (SELECT src_host AS host, CAST(count(*) AS BIGINT) AS out_deg
          FROM e GROUP BY src_host),
    i AS (SELECT dst_host AS host, CAST(count(*) AS BIGINT) AS in_deg
          FROM e GROUP BY dst_host)
    SELECT coalesce(o.host, i.host) AS host,
           CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
    FROM o FULL OUTER JOIN i ON o.host = i.host"""


def _reliable_result(df: DataFrame) -> DataFrame:
    """Snapshot an iterative operator's FINAL table to a reliable
    checkpoint and return the file-backed DataFrame.

    Why not ``persist()`` atop the last localCheckpoint: the persisted
    copy's lineage still points at the checkpoint blocks, so the repo's
    caller-owned release (``clearCache`` between queries) leaves a
    DataFrame that recomputes through freed blocks —
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next action (observed when
    a module-scoped fixture outlived a per-test clearCache). A reliable
    checkpoint is immune: result rows live as files under the checkpoint
    dir (local tmp here; HDFS/object store on a real cluster), occupy
    zero block-manager storage (getPersistentRDDs stays empty), survive
    clearCache, and every re-action re-reads the files. Spark itself
    never deletes reliable-checkpoint files (not even at context stop,
    unless spark.cleaner.referenceTracking.cleanCheckpoints is on), so a
    dir THIS module created is removed by an atexit hook — without it,
    repeated bench/pytest runs would accumulate unbounded /tmp copies.
    Size per checkpoint is one result-table, operator-bounded, never
    corpus-bounded.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        sc.setCheckpointDir(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return df.checkpoint(eager=True)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor storage behind a localCheckpoint'ed DataFrame.

    ``DataFrame.unpersist`` only consults the cache manager, which never
    saw a localCheckpoint; the storage is pinned by the LogicalRDD in the
    analyzed plan, so release it through that handle. Best-effort — a
    plan-shape change across Spark versions degrades to waiting for the
    ContextCleaner's GC-driven unpersist rather than failing the job.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _rank_step(base: DataFrame, edges: DataFrame, r: DataFrame,
               n_df: DataFrame, newr: str, dv: str) -> DataFrame:
    """One un-checkpointed rank iteration — split out so plan-shape tests
    can inspect the join tree (the checkpointed loop hides it). The only
    nested-loop joins are the two 1-row scalar broadcasts (dangling sum,
    host count); rank⋈edges and base⋈contrib are equi-joins."""
    dang = r.filter("out_deg IS NULL").agg(
        F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("dang"))
    s = (r.filter("out_deg IS NOT NULL")
         .join(edges, F.col("host") == F.col("src_host"))
         .select(F.col("dst_host").alias("host"),
                 F.expr(f"r {dv} out_deg").alias("c"))
         .groupBy("host").agg(F.sum("c").cast("bigint").alias("s")))
    return (base.join(s, "host", "left")
            .crossJoin(F.broadcast(dang))  # 1-row scalar, no data×data
            .crossJoin(F.broadcast(n_df))
            .select("host", "out_deg", F.expr(newr).alias("r")))


def host_rank(edges: DataFrame, iters: int = 3, unit: int = 1_000_000,
              num: int = 17, den: int = 20) -> DataFrame:
    """(host, rank_micro): integer-exact PageRank per the module formula.
    Hosts = every src or dst; dangling hosts (no out-edges) redistribute
    their mass uniformly each step.

    Checkpoint lifecycle: one EAGER localCheckpoint per iteration (each
    iteration's plan embeds the previous twice — dangling sum + contribution join — so an
    untruncated logical tree grows 2^iters and Catalyst's
    per-downstream-query ANALYSIS cost with it; measured seconds of
    driver time per consumer at iters=3), the previous round's storage
    released once the next is materialized, and the RETURNED DataFrame
    is a file-backed reliable-checkpoint snapshot (_reliable_result:
    survives caller clearCache, zero block-manager storage, so
    test_registry_smoke's zero-persistent-RDD assert holds). On a real
    cluster the same recipe holds with the checkpoint dir on HDFS; flip
    the per-iteration localCheckpoints to reliable checkpoint() too if
    executor loss mid-iteration must be survivable."""
    _check_rank_params(iters, unit, num, den)
    dv = _DIV["spark"]
    # edges feeds hosts (×2), outd and every iteration's contribution join
    # — 3+iters consumers; persist once (MEMORY_AND_DISK — the standard
    # iterative-graph layout; caller releases per the repo cache contract)
    edges = edges.persist()
    hosts = (edges.select(F.col("src_host").alias("host"))
             .unionByName(edges.select(F.col("dst_host").alias("host")))
             .distinct())
    outd = (edges.groupBy(F.col("src_host").alias("host"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("out_deg")))
    base = hosts.join(outd, "host", "left").persist()
    n_df = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_hosts"))
    newr = _new_rank_expr("spark", num, den, unit)

    r = (base.select("host", "out_deg",
                     F.lit(unit).cast("bigint").alias("r"))
         .localCheckpoint())  # eager seed
    for _ in range(iters):
        new_r = _rank_step(base, edges, r, n_df, newr, dv).localCheckpoint()
        _release_local_checkpoint(r)
        r = new_r
    # file-backed snapshot, NOT persist-atop-checkpoint: see _reliable_result
    final = _reliable_result(
        r.select("host", F.col("r").alias("rank_micro")))
    _release_local_checkpoint(r)
    return final


def host_rank_sql_duck(edges_sql: str, iters: int = 3,
                       unit: int = 1_000_000, num: int = 17,
                       den: int = 20) -> str:
    """DuckDB twin: the iteration unrolled as chained CTEs — same formula
    string, same integer types (HUGEINT sums re-CAST to BIGINT)."""
    _check_rank_params(iters, unit, num, den)
    newr = _new_rank_expr("duck", num, den, unit)
    parts = [
        f"e AS ({edges_sql})",
        "hosts AS (SELECT src_host AS host FROM e "
        "UNION SELECT dst_host FROM e)",
        "outd AS (SELECT src_host AS host, CAST(count(*) AS BIGINT) "
        "AS out_deg FROM e GROUP BY src_host)",
        "base AS (SELECT h.host, o.out_deg FROM hosts h "
        "LEFT JOIN outd o USING (host))",
        "nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hosts FROM base)",
        f"r0 AS (SELECT host, out_deg, CAST({unit} AS BIGINT) AS r "
        f"FROM base)",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dang "
            f"FROM r{i} WHERE out_deg IS NULL)")
        parts.append(
            f"s{i} AS (SELECT e.dst_host AS host, "
            f"CAST(sum(rr.r // rr.out_deg) AS BIGINT) AS s "
            f"FROM e JOIN r{i} rr ON e.src_host = rr.host "
            f"WHERE rr.out_deg IS NOT NULL GROUP BY e.dst_host)")
        parts.append(
            f"r{i + 1} AS (SELECT b.host, b.out_deg, {newr} AS r "
            f"FROM base b LEFT JOIN s{i} sx USING (host) "
            f"CROSS JOIN d{i} CROSS JOIN nh)")
    body = ",\n    ".join(parts)
    return (f"WITH {body}\n"
            f"    SELECT host, r AS rank_micro FROM r{iters}")


def host_rank_model(edges: list[tuple[str, str]], iters: int = 3,
                    unit: int = 1_000_000, num: int = 17,
                    den: int = 20) -> dict[str, int]:
    """Independent python reference of the SAME integer recipe (the
    trainers' model-verification pattern) — python // is floor division,
    identical to both engines on these non-negative values."""
    _check_rank_params(iters, unit, num, den)
    es = sorted(set(edges))
    hosts = sorted({s for s, _ in es} | {d for _, d in es})
    outd = {h: 0 for h in hosts}
    for s, _ in es:
        outd[s] += 1
    n = len(hosts)
    teleport = ((den - num) * unit) // den
    r = {h: unit for h in hosts}
    for _ in range(iters):
        dang = sum(r[h] for h in hosts if outd[h] == 0)
        share = dang // n
        s_in: dict[str, int] = {h: 0 for h in hosts}
        for s, d in es:
            s_in[d] += r[s] // outd[s]
        r = {h: teleport + (num * (s_in[h] + share)) // den
             for h in hosts}
    return r


# group 1 = href, group 2 = the DIRECT anchor text (up to the first '<' —
# markup-wrapped anchors yield '' and are dropped; documented scope).
ANCHOR_RX = '(?i)<a[^a-z>][^>]*href="([^"]*)"[^>]*>([^<]*)<'


def anchor_texts(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """(dst_host, anchor): what OTHER hosts' pages call a target host —
    the classic off-page relevance signal (same-host/nav anchors excluded
    like host_edges' self-loops; blank anchors dropped). Spark's
    arrays_zip / DuckDB's list_zip align the two capture groups of the
    SAME pattern, so href/text pairing is positional and exact.
    Non-fetchable hrefs (mailto:/javascript:/tel:/relative) are gated out
    BEFORE host extraction — the same is_fetchable gate as host_edges;
    URL_PAT's tolerant authority group would otherwise mint a junk
    dst_host from a mailto address and attribute the anchor text to it."""
    z = F.expr(
        f"explode(arrays_zip("
        f"regexp_extract_all({html_col}, '{ANCHOR_RX}', 1), "
        f"regexp_extract_all({html_col}, '{ANCHOR_RX}', 2)))")
    return (pages
            .select(ur.url_host(url_col).alias("src_host"), z.alias("z"))
            .select("src_host",
                    F.col("z").getField("0").alias("href"),
                    F.col("z").getField("1").alias("anchor"))
            .filter(ur.is_fetchable("href"))
            .select("src_host", ur.url_host("href").alias("dst_host"),
                    "anchor")
            .filter(_EDGE_PRED)
            .filter("trim(anchor) <> ''")
            .select("dst_host", "anchor"))


def anchor_texts_sql_duck(pages_sql: str, url_col: str = "url",
                          html_col: str = "html") -> str:
    return f"""
    SELECT dst_host, anchor
    FROM (SELECT src_host, {ur.url_host_sql_duck('href')} AS dst_host,
                 anchor
          FROM (SELECT src_host, z[1] AS href, z[2] AS anchor
                FROM (SELECT {ur.url_host_sql_duck(url_col)} AS src_host,
                             unnest(list_zip(
                               regexp_extract_all({html_col},
                                                  '{ANCHOR_RX}', 1),
                               regexp_extract_all({html_col},
                                                  '{ANCHOR_RX}', 2))) AS z
                      FROM ({pages_sql}) pg) zz
                WHERE {ur.is_fetchable_sql_duck('z[1]')}) hh) aa
    WHERE {_EDGE_PRED} AND trim(anchor, ' ') <> ''"""


def anchor_term_profile(anchors: DataFrame, topk: int = 5) -> DataFrame:
    """(host, term, n, rnk): top-k anchor terms per target host by
    (count DESC, term ASC) — deterministic tiebreak, the quota-window
    pattern. Tokenization is relevance.py's shared builder (one
    definition per engine). Shape: one (host, term) hash-agg + one
    host-partitioned window over term-bounded groups."""
    from .relevance import _words_spark

    if topk < 1:
        raise ValueError(f"topk must be >= 1: {topk}")
    counts = (anchors
              .select("dst_host",
                      F.explode(F.expr(_words_spark("anchor")))
                      .alias("term"))
              .groupBy(F.col("dst_host").alias("host"), F.col("term"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("term"))
    return (counts
            .withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= topk))


def anchor_term_profile_sql_duck(anchors_sql: str, topk: int = 5) -> str:
    from .relevance import _words_duck

    if topk < 1:
        raise ValueError(f"topk must be >= 1: {topk}")
    return f"""
    WITH ax AS ({anchors_sql}),
    tc AS (SELECT dst_host AS host, unnest({_words_duck('anchor')}) AS term
           FROM ax),
    cn AS (SELECT host, term, CAST(count(*) AS BIGINT) AS n
           FROM tc GROUP BY host, term)
    SELECT host, term, n,
           CAST(row_number() OVER (PARTITION BY host
                ORDER BY n DESC, term) AS BIGINT) AS rnk
    FROM cn
    QUALIFY rnk <= {topk}"""


def allocate_budget(ranks: DataFrame, budget: int) -> DataFrame:
    """(host, n_slots): split a global per-cycle fetch budget across hosts
    proportional to rank_micro — exact integer largest-remainder method
    (Hamilton apportionment), so Σ n_slots == budget EXACTLY and both
    engines agree bit-for-bit:

        base(h) = (budget·r(h)) intdiv T,  T = Σ r
        the (budget − Σ base) leftover slots go to the largest
        (budget·r(h)) mod T remainders, host-asc tiebreak.

    BIGINT bound: budget·rank_micro must stay < 2^63 — with unit=1e6
    ranks that is budget·hosts < ~9·10^12·… (fine for any real cycle
    budget; callers of planetary budgets scale ``unit`` down).

    Shape at scale: ranks is HOST-bounded (≪ corpus); the two scalars are
    1-row broadcasts and the remainder ranking is ONE global window over
    that bounded table — the quota_per_stratum window pattern, not a
    corpus-sized sort."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    dv = _DIV["spark"]
    # ranks feeds the total AND the base table, based feeds the leftover
    # AND the final select — persist both or the upstream rank DAG (itself
    # iterative) re-executes 4×. Caller releases (repo cache contract).
    ranks = ranks.persist()
    t_df = ranks.agg(F.sum("rank_micro").cast("bigint").alias("t"))
    based = (ranks.crossJoin(F.broadcast(t_df))  # 1-row scalar
             .select("host",
                     F.expr(f"CAST(({budget} * rank_micro) {dv} t "
                            f"AS BIGINT)").alias("base"),
                     F.expr(f"CAST(({budget} * rank_micro) % t "
                            f"AS BIGINT)").alias("rem"))
             .persist())
    left_df = based.agg(
        (F.lit(budget).cast("bigint") - F.sum("base").cast("bigint"))
        .alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("host"))
    return (based
            .withColumn("rn", F.row_number().over(w).cast("bigint"))
            .crossJoin(F.broadcast(left_df))  # 1-row scalar
            .select("host",
                    (F.col("base")
                     + F.when(F.col("rn") <= F.col("leftover"), 1)
                     .otherwise(0)).cast("bigint").alias("n_slots")))


def allocate_budget_sql_duck(ranks_sql: str, budget: int) -> str:
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    return f"""
    WITH rk AS ({ranks_sql}),
    tt AS (SELECT CAST(sum(rank_micro) AS BIGINT) AS t FROM rk),
    based AS (SELECT host,
              CAST(({budget} * rank_micro) // t AS BIGINT) AS base,
              CAST(({budget} * rank_micro) % t AS BIGINT) AS rem
              FROM rk CROSS JOIN tt),
    lf AS (SELECT CAST({budget} - sum(base) AS BIGINT) AS leftover
           FROM based)
    SELECT host,
           CAST(base + CASE WHEN row_number()
                OVER (ORDER BY rem DESC, host) <= leftover
                THEN 1 ELSE 0 END AS BIGINT) AS n_slots
    FROM based CROSS JOIN lf"""


def budgeted_frontier(schedule: DataFrame, alloc: DataFrame) -> DataFrame:
    """Frontier schedule cut to the per-host budget: keep fetch_seq <
    n_slots. Allocation is host-bounded → broadcast equi-join; hosts
    absent from the allocation get no slots (inner join — an unranked
    host earned no budget this cycle)."""
    return (schedule.join(F.broadcast(alloc), "host")
            .filter(F.col("fetch_seq") < F.col("n_slots"))
            .drop("n_slots"))


def budgeted_frontier_sql_duck(schedule_sql: str, alloc_sql: str) -> str:
    return f"""
    SELECT s.* FROM ({schedule_sql}) s
    JOIN ({alloc_sql}) a USING (host)
    WHERE s.fetch_seq < a.n_slots"""


# -- deterministic link-bearing HTML fixture --------------------------------------
def link_fixture_sql(text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    """Engine-NEUTRAL SQL wrapping a text corpus in HTML that carries
    anchors: two in-scope double-quoted hrefs at derived url-fixture
    targets (coalesce guards the fixture's NULL branch — trap 25: a NULL
    arg would silently vanish in Duck's concat and NULL the whole page in
    Spark's), a sink-host anchor on every 5th doc (hosts with in-links
    but NO out-links — the dangling case), one relative href (same-host
    → dropped by host_edges) and one single-quoted href (out of scope by
    contract). NULL text → NULL html, pinned by the outer CASE."""
    t1 = (f"coalesce({ur.url_fixture_sql(f'({id_col} * 7 + 3)')}, "
          f"'https://deadend.example.net/u')")
    t2 = (f"coalesce({ur.url_fixture_sql(f'({id_col} * 13 + 11)')}, "
          f"'https://deadend.example.net/u')")
    sink = (f"CASE WHEN {id_col} % 5 = 0 THEN concat("
            f"'<a data-x=\"1\" href=\"https://sink', "
            f"CAST({id_col} % 3 AS STRING), "
            f"'.example.net/p\">mirror archive</a>') "
            f"ELSE '' END")
    return (
        f"CASE WHEN {text_col} IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE concat('<html><body><p>', {text_col}, "
        f"'</p><a href=\"', {t1}, '\">read p', "
        f"CAST({id_col} % 50 AS STRING), ' now</a>"
        f"<A class=\"nav\" HREF=\"', {t2}, '\">more from site', "
        f"CAST(({id_col} * 13 + 11) % 20 AS STRING), '</A>', {sink}, "
        f"'<a href=\"/relative/p\">rel</a>"
        f"<a href=''https://singlequoted.example.net/q''>sq</a>"
        f"</body></html>') END")
