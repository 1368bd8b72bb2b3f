"""Deterministic corpus mixing — train/val/test split, per-source epoch
weighting, and hash-sharded global shuffle.

The reference collector has no mixing stage (its pipeline ends at exporters);
these are training-data-pipeline extensions in the same family as dedup/
packing: the operations that turn a cleaned 100 TB corpus into the thing a
trainer actually reads. Everything here is a pure JVM expression over an
md5-prefix hash (the dedup.py `x(s)` pattern) with an exact DuckDB twin —
deterministic across runs, engines, partitionings, and cluster sizes, which
is the property that matters: a re-run of the job on 4× the executors must
assign every row the same split/epoch/shard.

Shapes at scale:
- with_split / epoch_resample: stateless per-row expressions — no exchange.
  epoch_resample's explode multiplies rows map-side (flatMap), so a 3.7×
  oversampled source never materializes driver-side or shuffles unexpanded.
- shuffle_shards: ONE exchange (repartition on the hash shard) + in-partition
  sort by the same hash — the canonical deterministic global shuffle; shard
  count bounds output file sizes independent of input partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Granularity of split/oversample fractions: 1e-6 of the corpus. md5-prefix
# hashes are uniform on [0, 2^32); reduced mod MIX_MOD they stay uniform
# (2^32 % 1e6 bias ≈ 3e-4 relative — negligible against sampling noise).
MIX_MOD = 1_000_000

# Names and salts inline into BOTH engines' SQL as quoted literals, so they
# are VALIDATED to a literal-safe charset and rejected otherwise — never
# escaped (PARITY trap 24; escaping rules differ between engines, which is
# itself a parity hole).
_LIT_OK = ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
           "0123456789_.:-")


def _check_literal(name, what: str) -> None:
    if not isinstance(name, str) or not name or \
            any(ch not in _LIT_OK for ch in name):
        raise ValueError(f"{what} {name!r}: literal-safe names only "
                         f"(PARITY trap 24 — reject, don't escape)")

# id column explicitly cast to string: identical rendering for BIGINT and
# VARCHAR ids in both engines (no reliance on implicit-cast rules, which
# differ under Spark ANSI mode).
_H_SPARK = ("CAST(conv(substring(md5(concat(CAST({col} AS STRING), '|', "
            f"'{{salt}}')), 1, 8), 16, 10) AS BIGINT) % {MIX_MOD}")
_H_DUCK = ("CAST(concat('0x', substr(md5(concat(CAST({col} AS VARCHAR), "
           f"'|', '{{salt}}')), 1, 8)) AS BIGINT) % {MIX_MOD}")


def mix_hash(col: str, salt: str) -> F.Column:
    """Uniform [0, MIX_MOD) hash of a string column, salted per use-site so
    split/epoch/shard decisions are independent of each other."""
    _check_literal(salt, "salt")
    return F.expr(_H_SPARK.format(col=col, salt=salt))


# Wide variant for ORDERING (shuffle_ord): 12 md5 hex chars → uniform on
# [0, 2^48), exact in int64 in both engines. The mod-1e6 hash is right for
# FRACTION decisions (split/epoch) but wrong as a sort key at corpus scale:
# 10^12 rows over 10^6 distinct values = ~10^6-row tie runs whose tiebreak
# (sequential id / pack_id) would re-introduce exactly the locality a
# global shuffle exists to destroy. 2^48 values make ties ~N²/2^49 rare;
# the unique-key tiebreak stays purely for byte-identical reruns.
_HW_SPARK = ("CAST(conv(substring(md5(concat(CAST({col} AS STRING), '|', "
             "'{salt}')), 1, 12), 16, 10) AS BIGINT)")
_HW_DUCK = ("CAST(concat('0x', substr(md5(concat(CAST({col} AS VARCHAR), "
            "'|', '{salt}')), 1, 12)) AS BIGINT)")


def mix_hash_wide(col: str, salt: str) -> F.Column:
    """Uniform [0, 2^48) hash — the shuffle SORT key (tie-free in practice)."""
    _check_literal(salt, "salt")
    return F.expr(_HW_SPARK.format(col=col, salt=salt))


def mix_hash_wide_sql_duck(col: str, salt: str) -> str:
    _check_literal(salt, "salt")
    return _HW_DUCK.format(col=col, salt=salt)


def _split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper hash bound) per split, cumulative; the LAST
    split absorbs rounding remainder so the cover is exact and total."""
    if not weights:
        raise ValueError("weights must be a non-empty dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError("split weights must be >= 0")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to > 0")
    names = list(weights)
    for name in names:
        _check_literal(name, "split name")
    bounds, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        bounds.append((name, int(round(acc * MIX_MOD))))
    bounds.append((names[-1], MIX_MOD))
    return bounds


def _split_case(h_sql: str, weights: dict[str, float]) -> str:
    bounds = _split_thresholds(weights)
    if len(bounds) == 1:  # degenerate single split: no WHEN branch is legal
        return f"'{bounds[0][0]}'"
    parts = [f"WHEN {h_sql} < {ub} THEN '{name}'"
             for name, ub in bounds[:-1]]
    return f"CASE {' '.join(parts)} ELSE '{bounds[-1][0]}' END"


DEFAULT_SPLITS = {"train": 0.98, "val": 0.01, "test": 0.01}


def with_split(df: DataFrame, weights: dict[str, float] | None = None,
               id_col: str = "doc_id", salt: str = "split") -> DataFrame:
    """Adds `split`: hash-range assignment — total, disjoint, deterministic.

    Hash the DOCUMENT id, not a row number: the assignment survives
    re-partitioning, filtering upstream rows, and cluster-size changes."""
    return df.withColumn("split", split_expr(id_col, weights, salt))


def split_expr(id_col: str = "doc_id",
               weights: dict[str, float] | None = None,
               salt: str = "split") -> F.Column:
    """The split assignment as a bare Column — usable wherever the doc id
    is in scope (e.g. labeling pair endpoints) without joining a
    corpus-sized split table: the split IS a pure function of the id."""
    weights = weights or DEFAULT_SPLITS
    return F.expr(_split_case(_H_SPARK.format(col=id_col, salt=salt),
                              weights))


def split_sql_duck(weights: dict[str, float] | None = None,
                   id_col: str = "doc_id", salt: str = "split") -> str:
    """The `split` expression's DuckDB twin (same CASE over the same hash)."""
    weights = weights or DEFAULT_SPLITS
    return _split_case(_H_DUCK.format(col=id_col, salt=salt), weights)


def epoch_resample(df: DataFrame, weights: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   default_weight: float = 1.0) -> DataFrame:
    """Per-source epoch weighting: weight 2.3 ⇒ every row appears 2 times
    plus a deterministic 30% of rows a 3rd time; weight 0.25 ⇒ a 25% sample.
    Output adds `epoch` (0-based copy index) — the trainer-facing mixture.

    copies(row) = floor(w) + [hash(id) < frac(w)·MIX_MOD]; the fractional
    copy is decided by the SAME per-row hash family as splits (salted
    'epoch'), so it is reproducible and uncorrelated with the split
    assignment. explode(sequence(...)) is map-side row multiplication — the
    expanded corpus never exists as one shuffled blob."""
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("epoch weights must be >= 0")
    for src in weights:
        _check_literal(src, "source")
    h = _H_SPARK.format(col=id_col, salt="epoch")

    def copies_case() -> str:
        whens = []
        for src, w in weights.items():
            base, frac = int(w), round((w - int(w)) * MIX_MOD)
            whens.append(
                f"WHEN {source_col} = '{src}' THEN "
                f"{base} + CAST({h} < {frac} AS INT)")
        dbase = int(default_weight)
        dfrac = round((default_weight - dbase) * MIX_MOD)
        default = f"{dbase} + CAST({h} < {dfrac} AS INT)"
        if not whens:  # no per-source overrides: pure default weighting
            return default
        return f"CASE {' '.join(whens)} ELSE {default} END"

    out = df.withColumn("n_copies", F.expr(copies_case()))
    return (
        out.filter(F.col("n_copies") > 0)
        .withColumn("epoch", F.explode(
            F.sequence(F.lit(0), F.col("n_copies") - 1)))
        .drop("n_copies")
    )


def temperature_weights(df: DataFrame, tau: float,
                        source_col: str = "source",
                        target_total: int | None = None,
                        ) -> dict[str, float]:
    """Temperature-based mixture reweighting (the multilingual-LM sampling
    rule, e.g. Conneau & Lample 2019 §3.1; LLaMA-style source upsampling):
    sampling probability of source i ∝ count_i^(1/tau), realized as
    epoch_resample weights w_i = p_i · target_total / count_i. tau=1 is
    the identity (every w_i = 1 when target_total defaults to the corpus
    size); tau→∞ approaches a uniform source mix; tau<1 sharpens toward
    the big sources. One bounded aggregate (source cardinality is small by
    contract — this is a MIXING knob, not a per-doc one); the weights feed
    epoch_resample, whose map-side row multiplication does the rest."""
    if tau <= 0:
        raise ValueError(f"temperature must be > 0: got {tau}")
    counts = {r[source_col]: int(r.c) for r in
              df.groupBy(source_col).agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    if not counts:
        raise ValueError("temperature_weights: empty corpus has no mixture")
    total = sum(counts.values())
    tgt = total if target_total is None else int(target_total)
    z = sum(n ** (1.0 / tau) for n in counts.values())
    return {s: round((n ** (1.0 / tau) / z) * tgt / n, 6)
            for s, n in counts.items()}


def epoch_resample_sql_duck(table: str, weights: dict[str, float],
                            source_col: str = "source",
                            id_col: str = "doc_id",
                            default_weight: float = 1.0,
                            cols: str = "*") -> str:
    """DuckDB twin: same copies CASE, expanded via a range() lateral join.
    The default cols='*' selects t.* EXCLUDE (n_copies) so the twin's
    schema matches the Spark output exactly (no internal columns leak)."""
    for src in weights:
        _check_literal(src, "source")
    h = _H_DUCK.format(col=id_col, salt="epoch")
    whens = []
    for src, w in weights.items():
        base, frac = int(w), round((w - int(w)) * MIX_MOD)
        whens.append(f"WHEN {source_col} = '{src}' THEN "
                     f"{base} + CAST({h} < {frac} AS INT)")
    dbase = int(default_weight)
    dfrac = round((default_weight - dbase) * MIX_MOD)
    default = f"{dbase} + CAST({h} < {dfrac} AS INT)"
    case = (f"CASE {' '.join(whens)} ELSE {default} END"
            if whens else default)
    # DuckDB's range() rejects lateral column parameters — expand against a
    # FIXED range bounded by the largest possible copy count (known from the
    # weights at SQL-build time) and filter to the per-row count.
    max_copies = max([int(w) + 1 for w in weights.values()]
                     + [int(default_weight) + 1])
    cols_sql = "t.* EXCLUDE (n_copies)" if cols == "*" else cols
    return (
        f"SELECT {cols_sql}, CAST(r.range AS INT) AS epoch "
        f"FROM (SELECT *, {case} AS n_copies FROM {table}) t "
        f"JOIN range({max_copies}) r ON r.range < t.n_copies"
    )


def shuffle_shards(df: DataFrame, n_shards: int = 1024,
                   id_col: str = "doc_id", seed: str = "s0") -> DataFrame:
    """Deterministic global shuffle: adds `shard` (hash mod n_shards) and
    `shuffle_ord` (the 48-bit wide hash — the within-shard sort key; see
    mix_hash_wide for why the mod-1e6 hash must NOT order a 10^12-row
    corpus). Reading shards in order 0..n-1, each sorted by shuffle_ord,
    yields one fixed pseudo-random permutation of the corpus regardless of
    input layout or cluster size. Change `seed` for an independent
    permutation per epoch."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = mix_hash_wide(id_col, f"shuffle-{seed}")
    return (df.withColumn("shuffle_ord", h)
              .withColumn("shard", F.pmod("shuffle_ord", F.lit(n_shards))))


def shuffle_shard_sql_duck(n_shards: int = 1024, id_col: str = "doc_id",
                           seed: str = "s0") -> tuple[str, str]:
    """(shuffle_ord, shard) expression twins for the oracle."""
    h = mix_hash_wide_sql_duck(id_col, f"shuffle-{seed}")
    return h, f"({h}) % {n_shards}"


# curriculum_ord packs (phase, wide-hash) into one bigint sort key:
# phase * 2^48 + hash. 2^48 is exactly the wide hash's range, so the
# packing is collision-free; int64 holds phase ≤ 32767 losslessly.
WIDE_MOD = 1 << 48
MAX_PHASE = 32767


def curriculum_shards(df: DataFrame, phase_col: str, n_shards: int = 1024,
                      id_col: str = "doc_id",
                      seed: str = "s0") -> DataFrame:
    """Phase-major deterministic shuffle — the CURRICULUM / midtraining-
    anneal order: adds `shard` (identity hash mod n_shards, exactly
    shuffle_shards' bucketing) and `curriculum_ord` (phase · 2^48 + wide
    hash). Within every shard, sorting by curriculum_ord reads ALL
    phase-0 rows — in one fixed pseudo-random permutation — before any
    phase-1 row, and so on: each data-parallel rank consumes its shard in
    curriculum order (broad mix first, the high-quality anneal slice
    last) with the within-phase order still a hash shuffle.

    Phase assignment is the CALLER's single integer expression — e.g. a
    literal quality threshold obtained from the GK quantile sketch
    (sketches.py), the literal-inlined-stats pattern every scorer here
    uses. Phases outside [0, 32767] raise (packing into int64 would
    silently corrupt the order otherwise); NULL phase raises too (a row
    with no phase has no position in the curriculum — quarantine before
    ordering).

    Scale shape: identical to shuffle_shards — pure projections here; the
    materialization is ONE exchange on shard + in-partition sort. Shard
    balance is phase-independent (shard hashes row identity, not phase),
    so a tiny anneal slice still spreads over every rank."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = mix_hash_wide(id_col, f"shuffle-{seed}")
    phase = F.expr(
        f"CASE WHEN {phase_col} IS NULL THEN "
        f"raise_error('curriculum phase is NULL') "
        f"WHEN {phase_col} < 0 OR {phase_col} > {MAX_PHASE} THEN "
        f"raise_error('curriculum phase out of [0, {MAX_PHASE}]') "
        f"ELSE CAST({phase_col} AS BIGINT) END")
    return (df.withColumn("curriculum_ord", phase * F.lit(WIDE_MOD) + h)
              .withColumn("shard", F.pmod(h, F.lit(n_shards))))


def curriculum_shard_sql_duck(phase_sql: str, n_shards: int = 1024,
                              id_col: str = "doc_id",
                              seed: str = "s0") -> tuple[str, str]:
    """(curriculum_ord, shard) expression twins for the oracle —
    ``phase_sql`` is the caller's phase expression (valid inputs only;
    the Spark-side raise_error guard has no oracle twin by design)."""
    h = mix_hash_wide_sql_duck(id_col, f"shuffle-{seed}")
    return (f"(CAST(({phase_sql}) AS BIGINT) * {WIDE_MOD} + ({h}))",
            f"({h}) % {n_shards}")


def materialize_sharded(df: DataFrame, path: str, n_shards: int,
                        partition_cols: tuple[str, ...] = ("shard",),
                        sort_cols: tuple[str, ...] = ("shuffle_ord",)) -> None:
    """The canonical shuffle materialization: ONE exchange on the partition
    columns, in-partition sort, one file family per partition directory.
    ``sort_cols`` must end in a unique key for byte-identical reruns —
    the shuffle_ord-only DEFAULT is a 48-bit hash (ties rare, not
    impossible); on a tie the order falls to shuffle-fetch arrival, so
    every in-repo caller appends its unique key (write_release:
    pack_key/pack_id/seq_no) and new callers must too."""
    (df.repartition(n_shards, *partition_cols)
     .sortWithinPartitions(*partition_cols, *sort_cols)
     .write.mode("overwrite").partitionBy(*partition_cols).parquet(path))


def write_shuffled(df: DataFrame, path: str, n_shards: int = 1024,
                   id_col: str = "doc_id", seed: str = "s0") -> None:
    """Materialize the shuffle: ONE exchange on shard, in-partition sort by
    (hash, id) — the id tiebreak makes reruns byte-identical — one file
    family per shard: the layout a sequential trainer reads in shard
    order."""
    sharded = shuffle_shards(df, n_shards, id_col, seed)
    materialize_sharded(sharded, path, n_shards, ("shard",),
                        ("shuffle_ord", id_col))


def read_release_stream(spark, out_dir: str, split: str = "train"):
    """The CONSUMER side of the release contract: enumerate one split's
    rows in exactly the order a sequential trainer reads them — shard by
    shard, within a shard in the written file order (pack hash, then pack
    key, then seq_no), every pack contiguous.

    Parquet does not guarantee read order across row groups under parallel
    scans, so the reader re-sorts per shard by the SAME total-order key the
    writer used (one exchange keyed on shard — at training time this runs
    once per shard file on one reader, not as a cluster job). Returns
    (shard, read_ord, doc_id, pack_key, pack_id, seq_no, n_tok, tokens) —
    read_ord is the within-shard position, the trainer's step number."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = (spark.read.parquet(out_dir)
          .filter(F.col("split") == split))
    w = W.partitionBy("shard").orderBy("shuffle_ord", "pack_key", "pack_id",
                                       "seq_no")
    return (df.withColumn("read_ord", F.row_number().over(w) - 1)
            .select("shard", "read_ord", "doc_id", "pack_key", "pack_id",
                    "seq_no", "n_tok", "tokens"))


# -- exact token-budget selection --------------------------------------------------
_SRC_OK = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_.:-"


def _check_budgets(budgets: dict[str, int]) -> None:
    """Budgets are exact integer token counts; source names inline into
    both engines' SQL as literals, so they are VALIDATED, not escaped
    (PARITY trap 24)."""
    if not budgets:
        raise ValueError("budgets must be a non-empty dict")
    for s, b in budgets.items():
        if not s or any(ch not in _SRC_OK for ch in s):
            raise ValueError(f"source {s!r}: literal-safe names only")
        if not isinstance(b, int) or b < 0:
            raise ValueError(f"budget for {s!r} must be an int >= 0: {b}")


def _budget_case(budgets: dict[str, int], source_col: str) -> str:
    whens = " ".join(f"WHEN {source_col} = '{s}' THEN {b}"
                     for s, b in budgets.items())
    return f"CAST(CASE {whens} END AS BIGINT)"


def select_token_budget(seqs: DataFrame, budgets: dict[str, int],
                        salt: str = "token-budget",
                        source_col: str = "source", id_col: str = "doc_id",
                        tok_col: str = "n_tok") -> DataFrame:
    """(id, source, n_tok, cum_tok): per budgeted source, a deterministic
    pseudo-random subset whose token count fills the budget exactly as far
    as whole documents allow — cumulative n_tok in mix-hash order stays
    ≤ budget (hard cap: a doc that would overflow is excluded, as is
    everything after it in hash order). Sources absent from ``budgets``
    are excluded entirely (an unbudgeted source earned no tokens).

    The hash order (the wide shuffle key, salted per use-site) is what
    makes the selection a uniform sample AND reproducible across reruns,
    engines, partitionings, and cluster sizes — the with_split property
    applied to a COUNT constraint that hash-range thresholds cannot
    express (docs have unequal n_tok).

    Shape at scale: one window exchange PARTITIONED BY source — fine while
    no single source dominates a task; use
    :func:`select_token_budget_scalable` past that (bounded
    (source, slice) partitions, the frontier_schedule_scalable pattern)."""
    _check_budgets(budgets)
    from pyspark.sql import Window as W

    h = _HW_SPARK.format(col=id_col, salt=salt)
    w = (W.partitionBy(source_col).orderBy(F.expr(h), F.col(id_col))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (seqs
            .filter(F.col(source_col).isin(list(budgets)))
            .withColumn("cum_tok",
                        F.sum(F.col(tok_col).cast("bigint")).over(w))
            .filter(F.col("cum_tok")
                    <= F.expr(_budget_case(budgets, source_col)))
            .select(id_col, source_col, tok_col, "cum_tok"))


def select_token_budget_sql_duck(seqs_sql: str, budgets: dict[str, int],
                                 salt: str = "token-budget",
                                 source_col: str = "source",
                                 id_col: str = "doc_id",
                                 tok_col: str = "n_tok") -> str:
    _check_budgets(budgets)
    h = _HW_DUCK.format(col=id_col, salt=salt)
    in_list = ", ".join(f"'{s}'" for s in budgets)
    return f"""
    WITH sel AS (SELECT {id_col}, {source_col}, {tok_col}, {h} AS h
                 FROM ({seqs_sql}) sq
                 WHERE {source_col} IN ({in_list})),
    c AS (SELECT {id_col}, {source_col}, {tok_col},
                 CAST(sum({tok_col}) OVER (PARTITION BY {source_col}
                      ORDER BY h, {id_col}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_tok
          FROM sel)
    SELECT * FROM c
    WHERE cum_tok <= {_budget_case(budgets, source_col)}"""


def select_token_budget_scalable(seqs: DataFrame, budgets: dict[str, int],
                                 n_slices: int = 64,
                                 salt: str = "token-budget",
                                 source_col: str = "source",
                                 id_col: str = "doc_id",
                                 tok_col: str = "n_tok") -> DataFrame:
    """Output-identical to :func:`select_token_budget` with BOUNDED window
    partitions: the wide hash is RANGE-sliced (slice = h intdiv
    ceil(2^48 / n_slices) — equal hashes land in one slice, so
    (slice asc, h asc, id) IS the global (h asc, id) order), cumsum runs
    per (source, slice), and per-slice totals (a sources × n_slices table,
    broadcastable) provide the cross-slice offsets — the
    frontier_schedule_scalable / node_batches_scalable pattern applied to
    a running SUM instead of a rank."""
    _check_budgets(budgets)
    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1: {n_slices}")
    from pyspark.sql import Window as W

    div = (2 ** 48 + n_slices - 1) // n_slices
    h = _HW_SPARK.format(col=id_col, salt=salt)
    base = (seqs.filter(F.col(source_col).isin(list(budgets)))
            .withColumn("_h", F.expr(h))
            .withColumn("_slice", F.expr(f"CAST(_h DIV {div} AS INT)")))
    wl = (W.partitionBy(source_col, "_slice").orderBy("_h", id_col)
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    local = base.withColumn(
        "_cum_local", F.sum(F.col(tok_col).cast("bigint")).over(wl))
    totals = (base.groupBy(source_col, "_slice")
              .agg(F.sum(F.col(tok_col).cast("bigint")).alias("_t")))
    wo = (W.partitionBy(source_col).orderBy("_slice")
          .rowsBetween(W.unboundedPreceding, -1))
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_t").over(wo), F.lit(0))).drop("_t")
    return (local
            .join(F.broadcast(offsets), [source_col, "_slice"])
            .withColumn("cum_tok", F.col("_cum_local") + F.col("_off"))
            .filter(F.col("cum_tok")
                    <= F.expr(_budget_case(budgets, source_col)))
            .select(id_col, source_col, tok_col, "cum_tok"))
