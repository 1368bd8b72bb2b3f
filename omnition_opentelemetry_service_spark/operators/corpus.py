"""Corpus-hygiene operators for the training-data pipeline: Gopher-style
repetition metrics, benchmark-contamination checks, and deterministic
stratified sampling.

These extend the reference's processor surface (the reference's processors
gate spans by memory/attributes — processor/*, e.g.
processor/attributeskeyprocessor/processor.go:24-52) with the document-level
gates a 100 TB pretraining pipeline runs between parse and routing. Every
operator is expression-level or a map-side-combinable aggregation — no
Python in the hot path — and each ships a DuckDB-parity SQL twin so pytest
verifies values cross-engine (same contract as the driver's oracle gate).

Scale notes are inline per operator; none materializes an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

def tx_ws() -> str:
    """Default unit separator: the ONE explicit whitespace class
    (functions/text.WS — Java's \\s set, spelled out so DuckDB's RE2,
    whose \\s omits \\x0B, matches identically)."""
    from ..functions.text import WS

    return WS


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher / MassiveText quality rules, Rae et al. 2021:
# "duplicate line fraction", "top n-gram fraction"). Our unit is a UNIT —
# a line when the text has newlines, a word for single-line corpora.
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     sep: str = tx_ws()) -> DataFrame:
    """Per-document repetition profile over units split by ``sep``:

    - n_units / n_distinct_units
    - max_unit_repeat — occurrences of the most repeated unit
    - dup_unit_frac   — fraction of unit occurrences that are repeats
                        (0.0 when every unit is unique), rounded to 6 dp

    Shape at scale: explode → two groupBys keyed by (doc, unit) then (doc).
    Both are map-side combinable and key cardinality is bounded by document
    length, so no skew beyond the longest document; never all-pairs.
    """
    units = (
        docs.select(id_col, F.explode(F.split(F.trim(F.col(text_col)), sep))
                    .alias("unit"))
        .filter(F.length("unit") > 0)
    )
    per_unit = units.groupBy(id_col, "unit").agg(F.count(F.lit(1)).alias("c"))
    return per_unit.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_units"),
        F.count(F.lit(1)).alias("n_distinct_units"),
        F.max("c").alias("max_unit_repeat"),
        F.round((F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 6)
        .alias("dup_unit_frac"),
    )


def repetition_stats_sql_duck(table: str = "documents", id_col: str = "doc_id",
                              text_col: str = "text",
                              sep: str = tx_ws()) -> str:
    return f"""
    WITH units AS (
      SELECT {id_col}, unnest(string_split_regex(trim({text_col}, ' '), '{sep}')) AS unit
      FROM {table}
    ), nonempty AS (
      SELECT * FROM units WHERE len(unit) > 0
    ), per_unit AS (
      SELECT {id_col}, unit, count(*) AS c FROM nonempty GROUP BY 1, 2
    )
    SELECT {id_col},
           CAST(sum(c) AS BIGINT) AS n_units,
           count(*) AS n_distinct_units,
           max(c) AS max_unit_repeat,
           round((sum(c) - count(*)) * 1.0 / sum(c), 6) AS dup_unit_frac
    FROM per_unit GROUP BY 1
    """


# -- shared word-n-gram construction (ONE definition per engine) -------------
# The gram logic appears in four operators (top_ngram_fraction, word_ngrams
# and their DuckDB twins); a semantics fix applied to fewer than all four
# would silently desynchronize them, so both engines' forms live here.
# Empty/whitespace-only docs yield ZERO grams in both engines — the naive
# forms diverged exactly there (Spark array_join([]) gives the '' gram,
# DuckDB list_aggregate([]) gives NULL).


def _words_expr(text_col: str) -> str:
    from ..functions.text import WS_SQL_SPARK

    return (f"filter(split(trim({text_col}), '{WS_SQL_SPARK}'), "
            f"w -> length(w) > 0)")


def _grams_expr(n: int, text_col: str) -> str:
    """Spark SQL: array of word {n}-grams of ``text_col`` (docs shorter
    than n words collapse to one gram; no words → empty array). The word
    array binds once through a transform-wrapper lambda (the
    CollapseProject re-evaluation trap — see functions/text.py)."""
    case = (f"CASE WHEN size(ws) = 0 THEN CAST(array() AS array<string>) "
            f"WHEN size(ws) < {n} THEN array(array_join(ws, ' ')) "
            f"ELSE transform(sequence(1, size(ws) - {n} + 1), "
            f"j -> array_join(slice(ws, j, {n}), ' ')) END")
    return f"transform(array({_words_expr(text_col)}), ws -> {case})[0]"


def _words_sql_duck(text_col: str) -> str:
    from ..functions.text import WS_SQL_DUCK

    # trim(x, ' '): Duck's bare trim strips ALL unicode whitespace while
    # the Spark twin's trim strips only 0x20 — pin space-only semantics.
    return (f"list_filter(string_split_regex(trim({text_col}, ' '), "
            f"'{WS_SQL_DUCK}'), w -> len(w) > 0)")


def _grams_case_duck(n: int, ws: str = "ws") -> str:
    """DuckDB: the gram CASE over an already-bound word-list column."""
    return (f"CASE WHEN len({ws}) = 0 THEN CAST([] AS VARCHAR[]) "
            f"WHEN len({ws}) < {n} THEN [list_aggregate({ws}, 'string_agg', ' ')] "
            f"ELSE list_transform(range(len({ws}) - {n} + 1), "
            f"j -> list_aggregate(list_slice({ws}, CAST(j + 1 AS INTEGER), "
            f"CAST(j + {n} AS INTEGER)), 'string_agg', ' ')) END")


def top_ngram_fraction(docs: DataFrame, n: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document fraction of word n-gram occurrences taken by the single
    most frequent n-gram (Gopher's "top n-gram fraction" filter signal).

    Expression shape: the word array binds once through a transform-wrapper
    lambda (the CollapseProject re-evaluation trap — see
    functions/text.py:_winnowing_sql), n-grams via transform(sequence),
    then the max count is found by counting each DISTINCT n-gram against
    the full list. O(d·u) array reads per doc where d = distinct n-grams,
    u = total — bounded by document length squared in the worst case but
    document-local, so it parallelizes perfectly and never shuffles.
    """
    expr = _grams_expr(n, text_col)
    counted = (
        "transform(array_distinct(gs), g -> size(filter(gs, x -> x = g)))"
    )
    return (
        docs.select(id_col, F.expr(expr).alias("gs"))
        .select(
            id_col,
            F.size("gs").alias("n_ngrams"),
            F.expr(f"array_max({counted})").alias("top_ngram_count"),
        )
        .withColumn("top_ngram_frac",
                    F.round(F.col("top_ngram_count") / F.col("n_ngrams"), 6))
    )


def top_ngram_fraction_sql_duck(table: str = "documents", n: int = 2,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> str:
    return f"""
    WITH ws AS (
      SELECT {id_col}, {_words_sql_duck(text_col)} AS ws FROM {table}
    ), gs AS (
      SELECT {id_col}, {_grams_case_duck(n)} AS gs
      FROM ws
    )
    SELECT {id_col}, len(gs) AS n_ngrams,
      list_max(list_transform(list_distinct(gs),
               g -> len(list_filter(gs, x -> x = g)))) AS top_ngram_count,
      round(list_max(list_transform(list_distinct(gs),
            g -> len(list_filter(gs, x -> x = g)))) * 1.0 / len(gs), 6)
        AS top_ngram_frac
    FROM gs
    """


# ---------------------------------------------------------------------------
# Benchmark contamination (eval-set n-gram overlap; the per-doc gate every
# pretraining pipeline runs before a data release).
# ---------------------------------------------------------------------------


def word_ngrams(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, gram) — distinct word n-grams per document, exploded. Docs with
    no words yield no rows (explode of the empty gram array)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.expr(_grams_expr(n, text_col)))).alias("gram"),
    )


def contamination_check(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-document count of distinct word n-grams shared with a benchmark
    (eval) set: (doc_id, n_grams, n_contaminated, contamination_frac).

    Shape at scale: the benchmark side is small by construction (eval sets
    are KBs–MBs vs the 100 TB corpus), so its distinct gram set broadcasts;
    the corpus side is one scan + explode + broadcast LEFT SEMI-style join +
    per-doc count. No shuffle of corpus grams against each other, never
    doc×doc pairs. Left join (not semi) so uncontaminated docs still report
    a zero row — every doc WITH grams is scored (docs with no words have
    no grams in either engine and yield no row; they cannot be
    contaminated).
    """
    doc_grams = word_ngrams(docs, n, id_col, text_col)
    bench_grams = (
        word_ngrams(benchmark, n, id_col, text_col)
        .select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = doc_grams.join(broadcast(bench_grams), "gram", "left")
    return (
        joined.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint")
            .alias("n_contaminated"),
        )
        .withColumn("contamination_frac",
                    F.round(F.col("n_contaminated") / F.col("n_grams"), 6))
    )


def contamination_check_sql_duck(table: str = "documents",
                                 bench_pred: str = "doc_id % 97 = 0",
                                 n: int = 3, id_col: str = "doc_id",
                                 text_col: str = "text") -> str:
    return f"""
    WITH ws AS (
      SELECT {id_col} AS id, {_words_sql_duck(text_col)} AS ws FROM {table}
    ), doc_grams AS (
      SELECT id, unnest(list_distinct({_grams_case_duck(n)})) AS gram FROM ws
    ), bench_grams AS (
      SELECT DISTINCT gram FROM doc_grams WHERE {bench_pred.replace(id_col, 'id')}
    )
    SELECT d.id AS {id_col},
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_contaminated,
           round(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) * 1.0
                 / count(*), 6) AS contamination_frac
    FROM doc_grams d LEFT JOIN bench_grams b USING (gram)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Span-level (substring) duplication — the Lee et al. 2021 "Deduplicating
# Training Data Makes Language Models Better" signal: n-gram SPANS repeated
# across documents, distinct from document-level near-dup (a boilerplate
# footer shared by a million otherwise-unique pages is invisible to MinHash
# doc similarity but dominates this metric).
# ---------------------------------------------------------------------------


def doc_gram_counts(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, gram, c) — each distinct word n-gram per document with its
    within-document occurrence count.

    The per-(doc, gram) count is computed DOC-LOCALLY with array expressions
    (same O(d·u) trick as top_ngram_fraction): the (id, gram) pair never
    shuffles just to be counted — the only exchange downstream consumers pay
    is their own groupBy/join on `gram`. At 10^12 rows that removes the
    highest-cardinality shuffle key in the whole span-dedup job (doc×gram),
    leaving the vastly smaller gram key space.

    Tradeoff (documented, not hidden): d·u is quadratic for a long document
    of mostly-unique grams — fine for web-scale docs (≤ ~10^4 grams →
    ≤ ~10^8 doc-local ops, no shuffle), pathological for book-length
    outliers. doc_gram_counts_exploded is the LINEAR twin (explode +
    groupBy(id, gram), map-side partial agg) that pays one extra exchange
    of the combined (id, gram, c) set instead; route long docs there."""
    grams = _grams_expr(n, text_col)
    pairs = (f"transform(array({grams}), gs -> transform(array_distinct(gs), "
             f"g -> named_struct('gram', g, 'c', "
             f"size(filter(gs, x -> x = g)))))[0]")
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(pairs)).alias("p"),
    ).select("id", F.col("p.gram").alias("gram"), F.col("p.c").alias("c"))


def doc_gram_counts_exploded(docs: DataFrame, n: int = 3,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Linear-time twin of doc_gram_counts for long-document corpora:
    explode every gram occurrence, groupBy(id, gram). O(u) per doc; the
    exchange carries map-side-combined (id, gram, c) partials. Same output
    (parity-pinned in tests)."""
    return (
        docs.select(F.col(id_col).alias("id"),
                    F.explode(F.expr(_grams_expr(n, text_col))).alias("gram"))
        .groupBy("id", "gram").agg(F.count(F.lit(1)).alias("c"))
    )


def duplicated_spans(docs: DataFrame, n: int = 3, min_docs: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus-wide duplicated spans: (gram, n_docs, n_occurrences) for every
    word n-gram appearing in ≥ ``min_docs`` DISTINCT documents, the
    cross-document repeated-substring inventory.

    Shape at scale: one scan → doc-local gram counting (doc_gram_counts) →
    ONE map-side-combinable groupBy on gram. n_docs is count(*) over
    per-doc-distinct rows — no count-distinct expansion. The gram is kept
    as a string here for the cross-engine oracle; the 100 TB variant keys
    the aggregation by xxhash64(gram) instead (8-byte shuffle keys, spans
    recovered by a second filtered pass), an encoding change only."""
    dg = doc_gram_counts(docs, n, id_col, text_col)
    return (
        dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("c").cast("bigint").alias("n_occurrences"))
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicated_spans_sql_duck(table: str = "documents", n: int = 3,
                              min_docs: int = 2, id_col: str = "doc_id",
                              text_col: str = "text") -> str:
    return f"""
    WITH ws AS (
      SELECT {id_col} AS id, {_words_sql_duck(text_col)} AS ws FROM {table}
    ), gs AS (
      SELECT id, {_grams_case_duck(n)} AS gs FROM ws
    ), occ AS (
      SELECT id, unnest(gs) AS gram FROM gs
    ), per_doc AS (
      SELECT id, gram, count(*) AS c FROM occ GROUP BY 1, 2
    )
    SELECT gram, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occurrences
    FROM per_doc GROUP BY 1 HAVING count(*) >= {min_docs}
    """


def span_dedup_stats(docs: DataFrame, n: int = 3, min_docs: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document span-duplication profile against the corpus-wide hot-span
    set: (doc_id, n_gram_occ, n_dup_occ, dup_span_frac) — the fraction of a
    document's n-gram occurrences that are corpus-duplicated. The gate a
    substring-dedup pass reads to pick trim/drop victims (a doc that is 90%
    shared boilerplate gets dropped; 2% gets span-trimmed upstream).

    Shape at scale: doc_gram_counts twice-consumed (derive the hot set, then
    join against it) — callers running both at 100 TB persist that frame or
    accept two scans. The hot-set join is a gram equi-join whose build side
    is the aggregated duplicated-span inventory (≪ corpus for sane
    min_docs); AQE picks broadcast when it fits, hash otherwise. Docs whose
    text yields zero grams have no occurrences and emit no row (same
    convention as contamination_check)."""
    dg = doc_gram_counts(docs, n, id_col, text_col)
    hot = (duplicated_spans(docs, n, min_docs, id_col, text_col)
           .select("gram").withColumn("hit", F.lit(1)))
    joined = dg.join(hot, "gram", "left")
    return (
        joined.groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("c").cast("bigint").alias("n_gram_occ"),
            F.sum(F.col("c") * F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint").alias("n_dup_occ"),
        )
        .withColumn("dup_span_frac",
                    F.round(F.col("n_dup_occ") / F.col("n_gram_occ"), 6))
    )


def span_dedup_stats_sql_duck(table: str = "documents", n: int = 3,
                              min_docs: int = 2, id_col: str = "doc_id",
                              text_col: str = "text") -> str:
    return f"""
    WITH ws AS (
      SELECT {id_col} AS id, {_words_sql_duck(text_col)} AS ws FROM {table}
    ), gs AS (
      SELECT id, {_grams_case_duck(n)} AS gs FROM ws
    ), occ AS (
      SELECT id, unnest(gs) AS gram FROM gs
    ), per_doc AS (
      SELECT id, gram, count(*) AS c FROM occ GROUP BY 1, 2
    ), hot AS (
      SELECT gram FROM per_doc GROUP BY 1 HAVING count(*) >= {min_docs}
    )
    SELECT p.id AS {id_col},
           CAST(sum(p.c) AS BIGINT) AS n_gram_occ,
           CAST(sum(CASE WHEN h.gram IS NULL THEN 0 ELSE p.c END) AS BIGINT)
             AS n_dup_occ,
           round(sum(CASE WHEN h.gram IS NULL THEN 0 ELSE p.c END) * 1.0
                 / sum(p.c), 6) AS dup_span_frac
    FROM per_doc p LEFT JOIN hot h USING (gram)
    GROUP BY 1
    """


# -- token-level spans over the pre-tokenized sequence table -----------------
# The same substring-dedup signal on the BASELINE.json input shape (doc_id,
# tokens array<int>): spans are fixed k-token windows. Unlike the word form,
# sequences shorter than k yield NO spans (a window is a fixed length, not a
# whole-doc collapse) — pinned in both engines.


def _token_grams_expr(k: int, tokens_col: str) -> str:
    """Spark SQL: array of k-token window keys ('t1 t2 … tk' strings — the
    cross-engine-stable span identity; the 100 TB variant keys by
    xxhash64 of the same string)."""
    return (
        f"CASE WHEN size({tokens_col}) < {k} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({tokens_col}) - {k} + 1), "
        f"i -> array_join(transform(slice({tokens_col}, i, {k}), "
        f"t -> CAST(t AS STRING)), ' ')) END"
    )


def _token_grams_sql_duck(k: int, tokens_col: str) -> str:
    return (
        f"CASE WHEN len({tokens_col}) < {k} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(range(len({tokens_col}) - {k} + 1), "
        f"i -> list_aggregate(list_transform(list_slice({tokens_col}, "
        f"CAST(i + 1 AS INTEGER), CAST(i + {k} AS INTEGER)), "
        f"t -> CAST(t AS VARCHAR)), 'string_agg', ' ')) END"
    )


def token_contamination_check(seqs: DataFrame, benchmark: DataFrame,
                              k: int = 8, id_col: str = "doc_id",
                              tokens_col: str = "tokens") -> DataFrame:
    """Benchmark decontamination on the NORTH-STAR token shape: per
    sequence, the count of distinct k-TOKEN windows shared with an eval
    benchmark's sequences → (doc_id, n_grams, n_contaminated,
    contamination_frac). The token-grain twin of contamination_check —
    post-tokenization pipelines must decontaminate the table they actually
    train on (word-grain overlap misses tokenizer-boundary paraphrases of
    an eval answer; the eval set is tokenized with the SAME vocab).

    Shape at scale: the benchmark side is eval-set-sized (KBs–MBs) → its
    distinct window set BROADCASTS; the corpus side is one scan + explode
    + broadcast left join + per-doc count — corpus windows never shuffle
    against each other, never doc×doc. Sequences shorter than k have no
    windows in either engine and yield no row (they cannot be
    contaminated). Window identity is _token_grams_expr's space-joined
    string (ONE definition per engine; the 100 TB variant keys by xxhash64
    of the same string)."""
    doc_grams = seqs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(
            F.expr(_token_grams_expr(k, tokens_col)))).alias("gram"))
    bench_grams = (
        benchmark.select(F.explode(F.array_distinct(
            F.expr(_token_grams_expr(k, tokens_col)))).alias("gram"))
        .distinct().withColumn("hit", F.lit(1)))
    joined = doc_grams.join(broadcast(bench_grams), "gram", "left")
    return (
        joined.groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint")
             .alias("n_contaminated"))
        .withColumn("contamination_frac",
                    F.round(F.col("n_contaminated") / F.col("n_grams"), 6)))


def token_contamination_sql_duck(seqs_cte: str, bench_pred: str,
                                 k: int = 8, id_col: str = "doc_id",
                                 tokens_col: str = "tokens") -> str:
    """DuckDB twin over a ``seq`` CTE (duck_prelude shape); ``bench_pred``
    selects the benchmark slice by the same deterministic predicate in
    both engines (evaluated against seq's own columns, e.g. seq_no)."""
    return f"""{seqs_cte},
    tg AS (
      SELECT {id_col} AS id, ({bench_pred}) AS is_bench,
             list_distinct({_token_grams_sql_duck(k, tokens_col)}) AS grams
      FROM seq
    ), doc_grams AS (
      SELECT id, unnest(grams) AS gram FROM tg
    ), bench_grams AS (
      SELECT DISTINCT unnest(grams) AS gram FROM tg WHERE is_bench
    )
    SELECT d.id AS {id_col},
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_contaminated,
           round(sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) * 1.0
                 / count(*), 6) AS contamination_frac
    FROM doc_grams d LEFT JOIN bench_grams b USING (gram)
    GROUP BY 1
    """


def token_span_counts(seqs: DataFrame, k: int = 8, id_col: str = "doc_id",
                      tokens_col: str = "tokens") -> DataFrame:
    """(id, gram, c) — distinct k-token windows per sequence with in-sequence
    occurrence counts.

    Uses the LINEAR explode + groupBy(id, gram) shape, not doc_gram_counts'
    doc-local O(d·u) trick: a training sequence has thousands of
    mostly-UNIQUE windows (d ≈ u ≈ n_tok), so the doc-local count would be
    quadratic per row at exactly the corpus this table holds; the map-side
    partial agg means the exchange carries already-combined (id, gram, c)
    tuples."""
    return (
        seqs.select(F.col(id_col).alias("id"),
                    F.explode(F.expr(_token_grams_expr(k, tokens_col)))
                    .alias("gram"))
        .groupBy("id", "gram").agg(F.count(F.lit(1)).alias("c"))
    )


def duplicated_token_spans(seqs: DataFrame, k: int = 8, min_docs: int = 2,
                           id_col: str = "doc_id",
                           tokens_col: str = "tokens") -> DataFrame:
    """(gram, n_docs, n_occurrences) for k-token windows shared by ≥
    ``min_docs`` sequences — the exact-substring duplication inventory at
    the token level (what Lee et al. 2021 deduplicate with a suffix array;
    the fixed-k windowed form is the shuffle-friendly equivalent: any
    duplicated run of length ≥ k is caught by its constituent windows)."""
    dg = token_span_counts(seqs, k, id_col, tokens_col)
    return (
        dg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("c").cast("bigint").alias("n_occurrences"))
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicated_token_spans_sql_duck(seqs_cte: str, k: int = 8,
                                    min_docs: int = 2,
                                    id_col: str = "doc_id",
                                    tokens_col: str = "tokens") -> str:
    return f"""
    WITH seqs AS ({seqs_cte}), gs AS (
      SELECT {id_col} AS id, {_token_grams_sql_duck(k, tokens_col)} AS gs
      FROM seqs
    ), occ AS (
      SELECT id, unnest(gs) AS gram FROM gs
    ), per_doc AS (
      SELECT id, gram, count(*) AS c FROM occ GROUP BY 1, 2
    )
    SELECT gram, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occurrences
    FROM per_doc GROUP BY 1 HAVING count(*) >= {min_docs}
    """


def token_span_dedup_stats(seqs: DataFrame, k: int = 8, min_docs: int = 2,
                           id_col: str = "doc_id",
                           tokens_col: str = "tokens") -> DataFrame:
    """Per-sequence (doc_id, n_span_occ, n_dup_occ, dup_span_frac) against
    the corpus hot-window set — the trim/drop gate for token-level
    substring dedup. Same two-consumer scan note as span_dedup_stats."""
    dg = token_span_counts(seqs, k, id_col, tokens_col)
    hot = (duplicated_token_spans(seqs, k, min_docs, id_col, tokens_col)
           .select("gram").withColumn("hit", F.lit(1)))
    joined = dg.join(hot, "gram", "left")
    return (
        joined.groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("c").cast("bigint").alias("n_span_occ"),
            F.sum(F.col("c") * F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint").alias("n_dup_occ"),
        )
        .withColumn("dup_span_frac",
                    F.round(F.col("n_dup_occ") / F.col("n_span_occ"), 6))
    )


def token_span_dedup_stats_sql_duck(seqs_cte: str, k: int = 8,
                                    min_docs: int = 2,
                                    id_col: str = "doc_id",
                                    tokens_col: str = "tokens") -> str:
    return f"""
    WITH seqs AS ({seqs_cte}), gs AS (
      SELECT {id_col} AS id, {_token_grams_sql_duck(k, tokens_col)} AS gs
      FROM seqs
    ), occ AS (
      SELECT id, unnest(gs) AS gram FROM gs
    ), per_doc AS (
      SELECT id, gram, count(*) AS c FROM occ GROUP BY 1, 2
    ), hot AS (
      SELECT gram FROM per_doc GROUP BY 1 HAVING count(*) >= {min_docs}
    )
    SELECT p.id AS {id_col},
           CAST(sum(p.c) AS BIGINT) AS n_span_occ,
           CAST(sum(CASE WHEN h.gram IS NULL THEN 0 ELSE p.c END) AS BIGINT)
             AS n_dup_occ,
           round(sum(CASE WHEN h.gram IS NULL THEN 0 ELSE p.c END) * 1.0
                 / sum(p.c), 6) AS dup_span_frac
    FROM per_doc p LEFT JOIN hot h USING (gram)
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Token-vocabulary statistics over the pre-tokenized sequence table (the
# BASELINE.json input shape: doc_id, tokens array<int>, n_tok, source).
# ---------------------------------------------------------------------------


def token_vocab_stats(seqs: DataFrame, tokens_col: str = "tokens",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-token corpus statistics: total occurrences and the number of
    sequences containing the token — the vocabulary-coverage histogram a
    tokenizer audit reads before training.

    Shape at scale: explode is a flatMap (no shuffle); the groupBy on
    token id is map-side combinable and the key space is the vocab size
    (≤ ~10^5-10^6), so partial aggregates collapse hard before the single
    exchange. n_seqs counts each (token, doc) once via the per-row
    array_distinct — no count-distinct shuffle.
    """
    occ = seqs.select(F.col(id_col), F.explode(tokens_col).alias("token"))
    per_doc_once = seqs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col)).alias("token"))
    freq = occ.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    docs = per_doc_once.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_seqs"))
    return freq.join(docs, "token")


def token_vocab_stats_sql_duck(seqs_cte: str, tokens_col: str = "tokens",
                               id_col: str = "doc_id") -> str:
    """Oracle twin over a CTE body producing the same sequence table."""
    return f"""
    WITH seqs AS ({seqs_cte}),
    occ AS (
      SELECT {id_col}, unnest({tokens_col}) AS token FROM seqs
    ),
    once AS (
      SELECT {id_col}, unnest(list_distinct({tokens_col})) AS token FROM seqs
    ),
    freq AS (SELECT token, count(*) AS freq FROM occ GROUP BY 1),
    docs AS (SELECT token, count(*) AS n_seqs FROM once GROUP BY 1)
    SELECT freq.token, freq.freq, docs.n_seqs
    FROM freq JOIN docs USING (token)
    """


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (per-stratum rates, reproducible across
# engines and runs — no RNG; the sampling decision is a pure function of the
# row key, so a resumed/re-run job draws the identical sample).
# ---------------------------------------------------------------------------


def stratified_sample(df: DataFrame, strata_col: str, rates: dict[str, float],
                      key_col: str = "doc_id",
                      default_rate: float = 0.0) -> DataFrame:
    """Keep each row iff md5(strata:key) mod 10^6 < rate·10^6 for its
    stratum's rate. Pure map-side filter — pushes past scans, no shuffle,
    and the same row set survives at any parallelism (the resume guarantee
    queued-retry needs: a re-run samples identically).

    NULL strata/key rows are DROPPED in both engines (the quota_per_
    stratum rule; PARITY trap 25): Spark's concat NULLs the hash and the
    filter drops the row, while DuckDB's concat would silently IGNORE the
    NULL arg and sample the row at its rate — the explicit guard pins the
    Spark semantics in the twin.
    """
    bucket = F.expr(
        f"CAST(conv(substring(md5(concat({strata_col}, ':', "
        f"CAST({key_col} AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"
    )
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    # floor, explicitly: Spark's CAST(double AS BIGINT) truncates but
    # DuckDB's ROUNDS — a rate whose rate*1e6 has fractional part >= 0.5
    # would keep one extra bucket in the oracle. floor() on both sides
    # pins the same threshold in both engines.
    return df.filter(F.col(strata_col).isNotNull()
                     & F.col(key_col).isNotNull()
                     & (bucket < F.floor(rate * 1_000_000).cast("bigint")))


def stratified_sample_pred_duck(strata_col: str, rates: dict[str, float],
                                key_col: str = "doc_id",
                                default_rate: float = 0.0) -> str:
    """WHERE-clause twin of stratified_sample for the DuckDB oracle."""
    rate = f"{default_rate}"
    for k, v in sorted(rates.items()):
        rate = f"CASE WHEN {strata_col} = '{k}' THEN {v} ELSE {rate} END"
    bucket = (f"CAST(concat('0x', substr(md5(concat({strata_col}, ':', "
              f"CAST({key_col} AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000")
    # floor before CAST: DuckDB CAST(double AS BIGINT) rounds half-up while
    # Spark's truncates — see stratified_sample. NULL guard: trap 25 (Duck
    # concat ignores NULL args — without it a NULL-stratum row hashes the
    # surviving ':key' and gets sampled where Spark drops it).
    return (f"({strata_col} IS NOT NULL AND {key_col} IS NOT NULL AND "
            f"({bucket}) < CAST(floor(({rate}) * 1000000) AS BIGINT))")


# ---------------------------------------------------------------------------
# The composed cleaning pass: the full near-dup corpus filter.
# ---------------------------------------------------------------------------


def corpus_filter_full(docs: DataFrame, quality_min: float = 0.5,
                       jaccard_threshold: float = 0.3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """The complete training-data cleaning pass, composed end-to-end from
    the individual operators: quality + language gates → exact-fingerprint
    collapse → MinHash-LSH near-dup CLUSTER collapse (not just pairwise
    drop — (a,b),(b,c) keeps exactly one of the three).

    Stage order is the scale order: the cheap expression-level gates run
    first and shrink the corpus BEFORE any shingling/hashing is paid; the
    exact collapse (one md5 groupBy) runs before MinHash so byte-identical
    duplicates never reach the LSH join; the near-dup stage then operates
    on the smallest possible survivor set. Per-stage shapes are each
    operator's own (no all-pairs anywhere): fingerprint groupBy with
    map-side partials, band-key equi-join, candidate-only exact-Jaccard
    verify, connected components over the (tiny) verified-pair edge list
    on the driver (one Arrow collect, graph.connected_components), and one
    broadcast join of the label table onto the survivors, whose
    ``keep`` rows ARE the output — no second join back onto them.

    Reference analog: the processor CHAIN itself — receivers feed a linear
    sequence of gates each of which may drop a batch
    (processor/memorylimiter/memorylimiter.go:114-129 is one link); here
    the chain's links are corpus gates and the unit is a document.

    Cache lifecycle: CALLER-owned, same contract as dedup.py — the
    signature/shingle caches created by the composed stages are released
    via registry.release_caches / clearCache after the consuming action.
    """
    from ..functions import text as tx
    from . import dedup as dd
    from .graph import near_dup_keep_list

    scored = docs.select(
        F.col(id_col), F.col(text_col),
        tx.quality_score(text_col).alias("quality"),
        tx.lang_id(text_col).alias("lang"),
        tx.fingerprint(text_col).alias("fp"),
    )
    gated = scored.filter(
        (F.col("quality") >= quality_min) & (F.col("lang") != "und"))
    # Exact collapse as ONE min_by aggregation — no keeper join. A keeper
    # table is one row per DISTINCT fingerprint (corpus-sized at 10^12
    # docs), so the old broadcast(keepers) join was a scale bug; min_by
    # also collapses hot fingerprints map-side before the exchange.
    # Persist the survivors: two consumers read them (the shingle table
    # and the keep-list join), and each would otherwise re-run the full
    # scan + quality/lang/fingerprint scoring. Caller-released, like `sh`
    # below.
    exact = (
        gated.groupBy("fp")
        .agg(F.min_by(F.struct(id_col, text_col, "lang", "quality"),
                      F.col(id_col)).alias("r"))
        .select(F.col(f"r.{id_col}").alias(id_col),
                F.col(f"r.{text_col}").alias(text_col),
                F.col("r.lang").alias("lang"),
                F.col("r.quality").alias("quality"))
        .persist()
    )
    sh = exact.select(F.col(id_col),
                      tx.char_shingles(text_col).alias("shingles")).persist()
    cands = dd.minhash_candidates(
        dd.minhash_signatures_pandas(sh, id_col=id_col), id_col="id")
    pairs = dd.jaccard_verify(cands, sh, id_col=id_col,
                              threshold=jaccard_threshold)
    keep = near_dup_keep_list(exact, pairs.select("id_a", "id_b"),
                              id_col=id_col)
    return keep.filter(F.col("keep")).select(id_col, "lang", "quality")


def corpus_filter_full_sql_duck(quality_min: float = 0.5,
                                jaccard_threshold: float = 0.3) -> str:
    """DuckDB twin of corpus_filter_full over the `documents` view: same
    stage order, recursive-CTE component labels for the cluster collapse."""
    from ..functions import text as tx
    from . import dedup as dd

    sh5 = tx.char_shingles_sql_duck("text", 5)
    sig = dd.minhash_signature_sql_duck("shingles")
    return f"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, text,
             {tx.quality_score_sql_duck('text')} AS quality,
             {tx.lang_id_sql_duck('text')} AS lang,
             {tx.fingerprint_sql_duck('text')} AS fp
      FROM documents),
    gated AS (SELECT * FROM scored
              WHERE quality >= {quality_min} AND lang != 'und'),
    keepers AS (SELECT fp, min(doc_id) AS keep_id FROM gated GROUP BY fp),
    exact AS (
      SELECT g.doc_id, g.text, g.lang, g.quality
      FROM gated g JOIN keepers k ON g.fp = k.fp AND g.doc_id = k.keep_id),
    sh AS (SELECT doc_id, {sh5} AS shingles FROM exact),
    sig AS (SELECT doc_id, {sig} AS s FROM sh),
    bands AS (
      SELECT doc_id, concat(CAST(b AS VARCHAR), ':',
               array_to_string(list_slice(s, b * {dd.LSH_ROWS} + 1,
                                          b * {dd.LSH_ROWS} + {dd.LSH_ROWS}), ',')) AS band_key
      FROM sig, (SELECT unnest(range({dd.LSH_BANDS})) AS b)),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh sa ON c.id_a = sa.doc_id
      JOIN sh sb ON c.id_b = sb.doc_id
      WHERE round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                  len(list_distinct(sa.shingles || sb.shingles)), 6)
            >= {jaccard_threshold}),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified),
    reach(id, comp) AS (
      SELECT u, u FROM sym
      UNION
      SELECT s.u, r.comp FROM sym s JOIN reach r ON s.v = r.id),
    comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
    SELECT e.doc_id, e.lang, e.quality
    FROM exact e LEFT JOIN comp c ON e.doc_id = c.id
    WHERE coalesce(c.comp, e.doc_id) = e.doc_id
    """


# ---------------------------------------------------------------------------
# Corpus-wide line-level dedup (C4, Raffel et al. 2020 §2.2 "we removed ...
# repeated boilerplate"; RefinedWeb, Penedo et al. 2023 — line-wise
# deduplication of nav menus / cookie banners). A line whose TRIMMED form
# occurs >= min_count times across the whole corpus is removed EVERYWHERE
# (the boilerplate-removal reading: a line that common carries no signal —
# keep-one-occurrence would need a global keeper election for no benefit).
# Blank lines never match (they are structure, not content) and survive.
# ---------------------------------------------------------------------------


def common_lines(docs: DataFrame, min_count: int = 2,
                 text_col: str = "text") -> DataFrame:
    """(line, n_occurrences) for every trimmed non-blank line occurring
    >= min_count times corpus-wide — the removal set and the boilerplate
    diagnostic. One explode + one map-side-combinable groupBy."""
    return (docs
            .select(F.explode(F.split(F.col(text_col), '\n')).alias("raw"))
            .select(F.trim(F.col("raw")).alias("line"))
            .filter(F.col("line") != "")
            .groupBy("line").agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= int(min_count)))


def _rebuild_from_kept(base: DataFrame, kept: DataFrame,
                       id_col: str, text_col: str) -> DataFrame:
    """THE shared line-dedup reconstruction (one definition for the
    global and grouped forms — a fix to the rebuild applied to one copy
    would silently desynchronize the other): regroup kept lines by doc,
    array_sort on (pos, raw) (pos unique per doc → deterministic under
    any partitioning), rejoin with newlines; NULL text stays NULL,
    everything-removed becomes ''."""
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                lambda s: s["raw"]), "\n").alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"))
    return (base.join(agg, id_col, "left")
            .select(
                id_col,
                F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
                .otherwise(F.coalesce("kept_text", F.lit("")))
                .alias("clean_text"),
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                (F.coalesce("n_lines", F.lit(0))
                 - F.coalesce("n_kept", F.lit(0))).alias("n_removed")))


def line_dedup(docs: DataFrame, min_count: int = 2, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_lines, n_removed): every doc with corpus-wide
    common lines stripped, original order and original (untrimmed) forms
    preserved; a NULL text stays NULL with n_lines 0.

    Shape at scale — three line-grain exchanges, no corpus-sized join:
    count lines by trimmed form (map-side combinable), anti-join the
    exploded lines against the removal set (plain equi-join on the line
    string; Catalyst broadcasts it when small, which boilerplate sets
    usually are), and regroup by the high-cardinality doc id. The struct
    sort inside each doc is array_sort on (pos, line) — pos is unique per
    doc, so reconstruction is deterministic under any partitioning."""
    ls = F.split(F.col(text_col), '\n')
    base = docs.select(id_col, text_col, F.size(ls).alias("n_lines"))
    ex = (docs.select(
        F.col(id_col),
        F.posexplode(ls).alias("pos", "raw"))
        .withColumn("line", F.trim(F.col("raw"))))
    rm = common_lines(docs, min_count, text_col)
    kept = ex.join(rm.select("line"), "line", "left_anti")
    return _rebuild_from_kept(base, kept, id_col, text_col)


def line_dedup_sql_duck(table: str = "documents", min_count: int = 2,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    """DuckDB twin: same trimmed-form counts (trim(x, ' ') — PARITY.md
    trap 5), same remove-everywhere rule, string_agg ORDER BY pos for the
    deterministic reconstruction."""
    return f"""
    WITH ls AS (SELECT {id_col}, {text_col},
                       string_split({text_col}, chr(10)) AS lines
                FROM {table}),
    ex AS (
      SELECT {id_col}, pos, lines[pos] AS raw,
             trim(lines[pos], ' ') AS line
      FROM ls, unnest(range(1, len(lines) + 1)) t(pos)),
    rm AS (
      SELECT line FROM ex WHERE line <> ''
      GROUP BY line HAVING count(*) >= {int(min_count)}),
    kept AS (
      SELECT e.* FROM ex e ANTI JOIN rm r ON e.line = r.line),
    agg AS (
      SELECT {id_col},
             string_agg(raw, chr(10) ORDER BY pos) AS kept_text,
             count(*) AS n_kept
      FROM kept GROUP BY {id_col})
    SELECT b.{id_col},
           CASE WHEN b.{text_col} IS NULL THEN NULL
                ELSE coalesce(a.kept_text, '') END AS clean_text,
           CAST(coalesce(len(string_split(b.{text_col}, chr(10))), 0)
                AS INTEGER) AS n_lines,
           CAST(coalesce(len(string_split(b.{text_col}, chr(10))), 0)
                - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM {table} b LEFT JOIN agg a ON b.{id_col} = a.{id_col}"""


def common_lines_grouped(docs: DataFrame, group_col: str,
                         min_count: int = 2,
                         text_col: str = "text") -> DataFrame:
    """(group, line, n_occurrences): trimmed non-blank lines occurring
    >= min_count times WITHIN one group — the per-host boilerplate set.
    A site's nav/footer repeats on every page of THAT host while being
    globally rare, so the corpus-wide count (common_lines) never reaches
    min_count for it; keying the count by (group, line) is the CCNet
    shard-local reading with the group as the shard. One explode + one
    map-side-combinable groupBy on (group, line) — the composite key also
    spreads a globally-hot line (e.g. a cookie banner shared by many
    hosts) across groups instead of one reducer."""
    return (docs
            .select(F.col(group_col).alias("grp"),
                    F.explode(F.split(F.col(text_col), '\n')).alias("raw"))
            .select("grp", F.trim(F.col("raw")).alias("line"))
            .filter(F.col("line") != "")
            .groupBy("grp", "line")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= int(min_count))
            .withColumnRenamed("grp", group_col))


def line_dedup_grouped(docs: DataFrame, group_col: str, min_count: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_lines, n_removed): line_dedup with the
    removal set keyed PER GROUP (canonical host via urls.url_host, or
    source) — a line is stripped from a doc only when common within that
    doc's own group. NULL-group docs form their own group (Spark's
    groupBy keeps a NULL key and the join below matches it via the
    null-safe equality), so ungrouped docs still get within-group
    dedup rather than silently skipping removal.

    Shape at scale: identical to line_dedup (three line-grain exchanges,
    no corpus-sized join) with (group, line) as the removal-join key —
    strictly better skewed than the global line key."""
    ls = F.split(F.col(text_col), '\n')
    base = docs.select(id_col, text_col, F.size(ls).alias("n_lines"))
    ex = (docs.select(
        F.col(id_col), F.col(group_col).alias("_g"),
        F.posexplode(ls).alias("pos", "raw"))
        .withColumn("line", F.trim(F.col("raw"))))
    rm = (common_lines_grouped(docs, group_col, min_count, text_col)
          .select(F.col(group_col).alias("_g"), "line"))
    kept = ex.join(rm, [ex["_g"].eqNullSafe(rm["_g"]),
                        ex["line"] == rm["line"]], "left_anti")
    return _rebuild_from_kept(base, kept, id_col, text_col)


def line_dedup_grouped_sql_duck(table: str = "documents",
                                group_col: str = "source",
                                min_count: int = 2, id_col: str = "doc_id",
                                text_col: str = "text") -> str:
    """DuckDB twin of line_dedup_grouped: same trimmed-form counts per
    (group, line), NULL-group matched via IS NOT DISTINCT FROM (the
    null-safe-equality twin of eqNullSafe)."""
    return f"""
    WITH ls AS (SELECT {id_col}, {group_col} AS grp, {text_col},
                       string_split({text_col}, chr(10)) AS lines
                FROM {table}),
    ex AS (
      SELECT {id_col}, grp, pos, lines[pos] AS raw,
             trim(lines[pos], ' ') AS line
      FROM ls, unnest(range(1, len(lines) + 1)) t(pos)),
    rm AS (
      SELECT grp, line FROM ex WHERE line <> ''
      GROUP BY grp, line HAVING count(*) >= {int(min_count)}),
    kept AS (
      SELECT e.* FROM ex e ANTI JOIN rm r
      ON e.grp IS NOT DISTINCT FROM r.grp AND e.line = r.line),
    agg AS (
      SELECT {id_col},
             string_agg(raw, chr(10) ORDER BY pos) AS kept_text,
             count(*) AS n_kept
      FROM kept GROUP BY {id_col})
    SELECT b.{id_col},
           CASE WHEN b.{text_col} IS NULL THEN NULL
                ELSE coalesce(a.kept_text, '') END AS clean_text,
           CAST(coalesce(len(string_split(b.{text_col}, chr(10))), 0)
                AS INTEGER) AS n_lines,
           CAST(coalesce(len(string_split(b.{text_col}, chr(10))), 0)
                - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM {table} b LEFT JOIN agg a ON b.{id_col} = a.{id_col}"""


# ---------------------------------------------------------------------------
# Per-stratum quota cap (RefinedWeb-style "at most N documents per domain",
# Penedo et al. 2023 §3: per-domain caps stop a handful of mega-domains from
# dominating the corpus the way rate-based sampling cannot — a rate keeps a
# FRACTION of a hot domain, a quota keeps a COUNT).
# ---------------------------------------------------------------------------


def quota_per_stratum(df: DataFrame, cap: int, strata_col: str = "source",
                      key_col: str = "doc_id", n_salts: int = 32,
                      salt: str = "quota-v1") -> DataFrame:
    """Keep at most ``cap`` rows per stratum — deterministically the ``cap``
    rows with the SMALLEST 48-bit salted hash of the key (uniform choice,
    reproducible across runs/parallelism; key tiebreak for byte-identical
    reruns). Strata smaller than the cap survive whole.

    NULL keys are EXCLUDED (both engines): the selection hash needs an
    identity, and no deterministic NULL rule survives cross-engine parity
    — Spark's concat makes the hash NULL and sorts ASC NULLS FIRST
    (always kept) while DuckDB's concat ignores the NULL arg and competes
    a phantom hash NULLS LAST (PARITY.md trap 25); several NULL-key rows
    would also tie unbreakably on (hash, key), making row_number
    nondeterministic. Same routing rule as reject_oversized /
    quarantine_split: rows failing the key predicate go to a counted-out
    side, never silently into the sample.

    Shape at scale (the skew case IS the use case — the hot domain is why
    the quota exists): a single ``Window.partitionBy(stratum)`` would
    serialize the hottest domain onto one task, so selection is two-phase
    and EXACT: phase 1 takes the per-(stratum, hash%n_salts) local top-cap
    (every global top-cap row is top-cap within its own salt class — rank
    within a subset never exceeds global rank), bounding phase 2's exact
    per-stratum window to ≤ n_salts·cap rows per stratum. Phase-1 window
    partitions are ~|stratum|/n_salts (size n_salts for the observed skew);
    both exchanges hash-partition, nothing collects. Reference analog: the
    same hot-`source`-key discipline as the salted two-phase aggregation
    the north star names (components.go pipeline fan-out counters).
    """
    from pyspark.sql import Window

    from .mixture import mix_hash_wide

    if cap < 1:
        raise ValueError(f"quota cap must be >= 1: {cap}")
    h = mix_hash_wide(key_col, salt)
    salted = (df.filter(F.col(key_col).isNotNull())
              .withColumn("_qh", h)
              .withColumn("_qs", F.pmod(F.col("_qh"),
                                        F.lit(int(n_salts)))))
    w1 = (Window.partitionBy(strata_col, "_qs")
          .orderBy(F.asc("_qh"), F.asc(key_col)))
    survivors = (salted.withColumn("_qr", F.row_number().over(w1))
                 .filter(F.col("_qr") <= int(cap)).drop("_qr", "_qs"))
    w2 = Window.partitionBy(strata_col).orderBy(F.asc("_qh"), F.asc(key_col))
    return (survivors.withColumn("_qr", F.row_number().over(w2))
            .filter(F.col("_qr") <= int(cap)).drop("_qr", "_qh"))


def quota_per_stratum_sql_duck(table: str = "documents", cap: int = 40,
                               strata_col: str = "source",
                               key_col: str = "doc_id",
                               salt: str = "quota-v1",
                               cols: str = "doc_id, source") -> str:
    """DuckDB twin: the one-window form (the oracle never needs the salt
    split — phase 1 is a pure superset step, so both forms select the same
    rows)."""
    from .mixture import mix_hash_wide_sql_duck

    h = mix_hash_wide_sql_duck(key_col, salt)
    return f"""
    SELECT {cols} FROM (
      SELECT *, row_number() OVER (PARTITION BY {strata_col}
                ORDER BY {h} ASC, {key_col} ASC) AS qr
      FROM {table} WHERE {key_col} IS NOT NULL)
    WHERE qr <= {int(cap)}"""


# ---------------------------------------------------------------------------
# ExactSubstr REMOVAL (Lee et al. 2021 §4.1, "ExactSubstr"): cut the
# duplicated token runs OUT of each sequence, not just inventory them.
# duplicated_token_spans / token_span_dedup_stats answer "how duplicated is
# this doc"; this operator performs the actual surgery the paper ships —
# every token position covered by a k-token window that also appears in
# another sequence is removed, EXCEPT in the window's canonical keeper
# sequence (min id over the sequences containing the gram), so exactly one
# copy of every duplicated run survives corpus-wide.
# ---------------------------------------------------------------------------


def _cut_starts(seqs: DataFrame, k: int, min_docs: int, id_col: str,
                tokens_col: str) -> DataFrame:
    """(id, pos) — 1-based window starts to cut: occurrences of a hot gram
    (shared by >= min_docs sequences) in every sequence EXCEPT the gram's
    keeper (min id). Shuffles: explode -> groupBy(gram) for the hot set
    (map-side partial min/countDistinct), equi-join occ<->hot on gram
    (co-partitioned by the groupBy), then the caller's groupBy(id). The
    exploded occ table is recomputed by the join rather than persisted —
    at corpus scale a cached explode is bigger than the rescan (the
    span_dedup_stats two-consumer note)."""
    occ = seqs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(_token_grams_expr(k, tokens_col)))
        .alias("pos0", "gram"),
    ).select("id", (F.col("pos0") + 1).alias("pos"), "gram")
    hot = (occ.groupBy("gram")
           .agg(F.countDistinct("id").alias("n_docs"),
                F.min("id").alias("keep_id"))
           .filter(F.col("n_docs") >= int(min_docs))
           .select("gram", "keep_id"))
    return (occ.join(hot, "gram")
            .filter(F.col("id") != F.col("keep_id"))
            .select("id", "pos"))


def remove_duplicated_token_spans(seqs: DataFrame, k: int = 8,
                                  min_docs: int = 2, id_col: str = "doc_id",
                                  tokens_col: str = "tokens") -> DataFrame:
    """ExactSubstr-cut (Lee et al. 2021): per sequence, drop every token
    position covered by a cross-sequence-duplicated k-window whose keeper
    is another sequence. Returns the full input row set (cut or not) as
    (id_col, n_before, n_kept, kept_tokens) — callers needing the
    space-joined string form use remove_duplicated_token_spans_str.

    Semantics (deterministic, engine-identical):
    - hot gram = k-window string shared by >= min_docs DISTINCT sequences;
      its keeper is the min id (string compare — ASCII ids in both
      engines). The keeper keeps ALL its occurrences (including in-doc
      repeats: in-doc repetition is Gopher's job, repetition_stats);
      every other sequence cuts positions [pos, pos+k-1] per occurrence.
    - overlapping cut windows merge naturally (position-level union);
      sequences shorter than k have no windows and pass through whole.

    Shape at scale: two corpus exchanges (gram, then id for the cut-list
    groupBy) plus one id-keyed left join back to the input — no
    all-pairs anywhere; the cut list per sequence is bounded by its
    window count. The doc-local rebuild is O(n_tok * n_cut_starts) worst
    case, both factors bounded by the sequence-length cap the pipeline
    enforces upstream (caps.reject_oversized).
    """
    cuts = (_cut_starts(seqs, k, min_docs, id_col, tokens_col)
            .groupBy(F.col("id").alias(id_col))
            .agg(F.sort_array(F.collect_set("pos")).alias("_cut_starts")))
    kept = (
        f"CASE WHEN _cut_starts IS NULL THEN {tokens_col} "
        f"ELSE transform(filter(sequence(1, size({tokens_col})), "
        f"p -> NOT exists(_cut_starts, s -> p >= s AND p <= s + {k} - 1)), "
        f"p -> {tokens_col}[p - 1]) END"
    )
    return (seqs.join(cuts, id_col, "left")
            .select(F.col(id_col),
                    F.size(tokens_col).alias("n_before"),
                    F.expr(kept).alias("kept_tokens"))
            .withColumn("n_kept", F.size("kept_tokens"))
            .select(id_col, "n_before", "n_kept", "kept_tokens"))


def remove_duplicated_token_spans_str(seqs: DataFrame, k: int = 8,
                                      min_docs: int = 2,
                                      id_col: str = "doc_id",
                                      tokens_col: str = "tokens"
                                      ) -> DataFrame:
    """String-keyed projection of the cut result (kept_str = space-joined
    kept tokens) — the cross-engine value-hash surface (array columns
    stringify engine-differently; strings don't)."""
    out = remove_duplicated_token_spans(seqs, k, min_docs, id_col,
                                        tokens_col)
    return out.select(
        id_col, "n_before", "n_kept",
        F.array_join(F.expr("transform(kept_tokens, t -> CAST(t AS STRING))"),
                     " ").alias("kept_str"))


def remove_duplicated_token_spans_sql_duck(seqs_cte: str, k: int = 8,
                                           min_docs: int = 2,
                                           id_col: str = "doc_id",
                                           tokens_col: str = "tokens"
                                           ) -> str:
    """DuckDB twin of remove_duplicated_token_spans_str — fully relational
    (positions exploded, covered positions removed by a NOT EXISTS range
    predicate; the oracle need not mirror the doc-local array rebuild,
    only its values). string_agg over empty group -> the LEFT JOIN +
    coalesce pins Spark's array_join('')-on-empty semantics (trap 26)."""
    return f"""
    WITH seqs0 AS ({seqs_cte}), gs AS (
      SELECT {id_col} AS id, {tokens_col} AS toks,
             CASE WHEN len({tokens_col}) < {k}
               THEN CAST([] AS STRUCT(pos INTEGER, gram VARCHAR)[])
               ELSE list_transform(range(len({tokens_col}) - {k} + 1),
                 i -> {{'pos': CAST(i + 1 AS INTEGER),
                       'gram': list_aggregate(list_transform(
                          list_slice({tokens_col}, CAST(i + 1 AS INTEGER),
                                     CAST(i + {k} AS INTEGER)),
                          t -> CAST(t AS VARCHAR)), 'string_agg', ' ')}})
             END AS ws
      FROM seqs0
    ), occ AS (
      SELECT id, u.pos AS pos, u.gram AS gram
      FROM (SELECT id, unnest(ws) AS u FROM gs)
    ), hot AS (
      SELECT gram, min(id) AS keep_id FROM occ
      GROUP BY 1 HAVING count(DISTINCT id) >= {min_docs}
    ), cuts AS (
      SELECT o.id, o.pos FROM occ o JOIN hot h USING (gram)
      WHERE o.id <> h.keep_id
    ), positions AS (
      SELECT id, p + 1 AS p, toks[p + 1] AS tok
      FROM (SELECT id, toks, unnest(range(len(toks))) AS p FROM gs)
    ), kept AS (
      SELECT ps.id,
             count(*) AS n_kept,
             string_agg(CAST(ps.tok AS VARCHAR), ' ' ORDER BY ps.p)
               AS kept_str
      FROM positions ps
      WHERE NOT EXISTS (SELECT 1 FROM cuts c
                        WHERE c.id = ps.id
                          AND ps.p BETWEEN c.pos AND c.pos + {k} - 1)
      GROUP BY 1
    )
    SELECT g.id AS {id_col},
           CAST(len(g.toks) AS INTEGER) AS n_before,
           -- NULL tokens stay NULL (the Spark side's quarantine
           -- convention); the coalesce covers only the everything-cut
           -- EMPTY case (trap 26)
           CASE WHEN g.toks IS NULL THEN NULL
                ELSE CAST(coalesce(kp.n_kept, 0) AS INTEGER) END AS n_kept,
           CASE WHEN g.toks IS NULL THEN NULL
                ELSE coalesce(kp.kept_str, '') END AS kept_str
    FROM gs g LEFT JOIN kept kp ON g.id = kp.id"""


# ---------------------------------------------------------------------------
# Host-reputation gate: aggregate document quality to the HOST (domain)
# level, then gate documents by their host's mean — the domain-reputation
# pass web pipelines run alongside per-doc gates (a spam domain's
# individually-passable pages should still fall together; conversely one
# bad page on a reputable domain is the per-doc gate's job, not this
# one's). Reference analog: per-`source` tag aggregation in obsreport
# counters (the reference aggregates per origin; here the origin verdict
# feeds back as a filter).
# ---------------------------------------------------------------------------

_Q_SCALE = 1_000_000  # quality_score is rounded to 6 dp -> *1e6 is integral


def host_quality_stats(docs: DataFrame, host_col: str = "host",
                       text_col: str = "text") -> DataFrame:
    """(host, n_docs, sum_q_scaled): per-host doc count and the EXACT
    integer sum of quality_score*1e6 (the score is 6-dp by contract, so
    the scaled value is integral — summing BIGINTs sidesteps the float
    fold-order trap (PARITY #11) entirely; no mean is materialized, the
    gate compares cross-multiplied integers). One map-side-combinable
    exchange on host; NULL hosts are excluded (no identity to aggregate
    — their docs are exempt from the gate, the blocklist NULL rule)."""
    from ..functions import text as tx

    return (docs.filter(F.col(host_col).isNotNull())
            .groupBy(host_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.round(tx.quality_score(text_col) * _Q_SCALE)
                       .cast("bigint")).alias("sum_q_scaled")))


def host_quality_gate(docs: DataFrame, min_host_quality: float = 0.4,
                      host_col: str = "host",
                      text_col: str = "text") -> DataFrame:
    """Keep docs whose host's MEAN quality >= min_host_quality (plus all
    NULL-host docs — no host identity, so no reputation verdict; the
    per-doc gates still apply to them elsewhere). The threshold compare
    is exact integers: sum_q_scaled >= round(th*1e6) * n_docs — no
    division, no float (mirrors the span/ahash cross-multiplication
    rule).

    Shape at scale: one bounded host-stats exchange (#hosts rows), then
    ONE left join of docs against the PASSING host list (NULL hosts fall
    through the join unmatched and are kept by the filter — no second
    consumer of the docs scan) — host dims are domain-cardinality
    (millions, not corpus-sized), so Catalyst broadcasts them under any
    realistic threshold; no window over the corpus, no skew (the join
    key is the host, and hot hosts hash-join fine because the build side
    is one row per host)."""
    th = int(round(float(min_host_quality) * _Q_SCALE))
    passing = (host_quality_stats(docs, host_col, text_col)
               .filter(F.col("sum_q_scaled") >= th * F.col("n_docs"))
               .select(host_col).withColumn("_pass", F.lit(1)))
    return (docs.join(passing, host_col, "left")
            .filter(F.col("_pass").isNotNull() | F.col(host_col).isNull())
            .drop("_pass"))


def host_quality_gate_pred_duck(table: str, min_host_quality: float = 0.4,
                                host_col: str = "host",
                                text_col: str = "text") -> str:
    """DuckDB WHERE-clause twin of host_quality_gate over ``table``."""
    from ..functions import text as tx

    th = int(round(float(min_host_quality) * _Q_SCALE))
    q = tx.quality_score_sql_duck(text_col)
    return f"""({host_col} IS NULL OR {host_col} IN (
      SELECT {host_col} FROM {table}
      WHERE {host_col} IS NOT NULL
      GROUP BY {host_col}
      HAVING sum(CAST(round(({q}) * {_Q_SCALE}) AS BIGINT))
             >= {th} * count(*)))"""


# ---------------------------------------------------------------------------
# C4 heuristic cleaning (Raffel et al. 2020, JMLR 21(140) §2.2 — the
# line-level rule gate that produced C4 from Common Crawl). Line rules:
# keep only lines that end in a terminal punctuation mark, have at least
# `min_words_per_line` words, and do not mention javascript. Document
# rules: at least `min_kept_lines` surviving lines ("three sentences"),
# no "lorem ipsum", no curly bracket, no bad-list word (the paper uses
# the LDNOOBW list; a tame spam stand-in ships as the default). This is
# the rule family the existing gates (quality_score / repetition /
# contamination) do NOT cover: all of those score whole documents, C4's
# signature move is per-LINE surgery before the document verdict.
#
# Shape at scale: pure projection — the line split, filters and re-join
# are doc-local array expressions, zero shuffle, whole-stage codegen
# (pinned in tests/test_c4.py). Extends the reference's per-span gating
# (processor/attributeskeyprocessor/processor.go:24-52) to line grain.
# ---------------------------------------------------------------------------

C4_TERMINAL_PUNCT = (".", "!", "?", '"')
# Stand-in for the paper's LDNOOBW bad-words list (kept printable; the
# parameter exists so a real deployment drops the full list in).
C4_BAD_WORDS = ("viagra", "casino", "porn", "xxx")


def c4_clean(docs: DataFrame, min_words_per_line: int = 5,
             min_kept_lines: int = 3,
             bad_words: tuple[str, ...] = C4_BAD_WORDS,
             id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, keep, n_lines, n_kept, clean_text): C4 §2.2 rules over every
    doc. ``clean_text`` is the kept TRIMMED lines joined with newline when
    the doc passes, else NULL; a NULL text yields keep=false, counts 0
    (NULL routed to the counted side — PARITY trap 27 convention).

    Every predicate is built from the parity-hardened blocks: the explicit
    whitespace class (trap 1), lower_fold (trap 4), trim-space-only
    (trap 5)."""
    from ..functions.text import WS, lower_fold

    mw, mk = int(min_words_per_line), int(min_kept_lines)
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def _line_ok(raw):
        t = F.trim(raw)
        last = t.substr(F.length(t), F.lit(1))
        return ((F.length(t) > 0)
                & last.isin(*C4_TERMINAL_PUNCT)
                & (F.size(F.split(t, WS)) >= mw)
                & (~lower_fold(t).contains("javascript")))

    # NOT F.transform(..., F.trim): a two-arg-capable callable receives
    # (element, index) and becomes the two-parameter trim(str, trimStr) —
    # it trims INDEX DIGITS, not whitespace (silent, deprecation-warned).
    kept = F.transform(F.filter(lines, _line_ok), lambda l: F.trim(l))
    n_kept = F.when(text.isNull(), F.lit(0)).otherwise(F.size(kept))
    words = F.split(lower_fold(F.trim(text)), WS)
    has_bad = F.arrays_overlap(
        words, F.array(*[F.lit(w) for w in bad_words]))
    keep = (text.isNotNull()
            & (n_kept >= mk)
            & ~lower_fold(text).contains("lorem ipsum")
            & ~text.contains("{")
            & ~has_bad)
    return docs.select(
        id_col,
        keep.alias("keep"),
        F.when(text.isNull(), F.lit(0)).otherwise(F.size(lines))
        .cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        F.when(keep, F.array_join(kept, "\n"))
        .otherwise(F.lit(None).cast("string")).alias("clean_text"))


def c4_clean_sql_duck(table: str = "documents", min_words_per_line: int = 5,
                      min_kept_lines: int = 3,
                      bad_words: tuple[str, ...] = C4_BAD_WORDS,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """DuckDB twin: same rules from the same blocks (WS class, lower_fold
    skew table, trim(x,' ')); the kept-lines join is CASEd on keep so the
    empty-list string-join divergence (trap 26) has no surface."""
    from ..functions.text import WS_SQL_DUCK, lower_fold_sql_duck

    mw, mk = int(min_words_per_line), int(min_kept_lines)
    punct = ", ".join(f"'{p}'" for p in C4_TERMINAL_PUNCT)
    bads = ", ".join(f"'{w}'" for w in bad_words)
    t = "trim(l, ' ')"
    pred = (f"len({t}) > 0 "
            f"AND list_contains([{punct}], substr({t}, len({t}), 1)) "
            f"AND len(string_split_regex({t}, '{WS_SQL_DUCK}')) >= {mw} "
            f"AND NOT contains({lower_fold_sql_duck(t)}, 'javascript')")
    tl = lower_fold_sql_duck(text_col)
    trimmed_text = f"trim({text_col}, ' ')"
    tw = (f"string_split_regex({lower_fold_sql_duck(trimmed_text)},"
          f" '{WS_SQL_DUCK}')")
    return f"""
    WITH k AS (
      SELECT {id_col}, {text_col},
             string_split({text_col}, chr(10)) AS lines,
             list_transform(
               list_filter(string_split({text_col}, chr(10)),
                           l -> {pred}),
               l -> trim(l, ' ')) AS kept
      FROM {table}),
    v AS (
      SELECT {id_col}, {text_col}, lines, kept,
             CASE WHEN {text_col} IS NULL THEN FALSE
                  ELSE len(kept) >= {mk}
                   AND NOT contains({tl}, 'lorem ipsum')
                   AND NOT contains({text_col}, '{{')
                   AND NOT len(list_filter({tw},
                         w -> list_contains([{bads}], w))) > 0
             END AS keep
      FROM k)
    SELECT {id_col}, keep,
           CAST(CASE WHEN {text_col} IS NULL THEN 0
                     ELSE len(lines) END AS INTEGER) AS n_lines,
           CAST(CASE WHEN {text_col} IS NULL THEN 0
                     ELSE len(kept) END AS INTEGER) AS n_kept,
           CASE WHEN keep THEN array_to_string(kept, chr(10))
                ELSE NULL END AS clean_text
    FROM v"""


def c4_fixture_sql(text_col: str = "text", id_col: str = "doc_id") -> str:
    """Engine-NEUTRAL SQL building a deterministic multi-line page from the
    single-line fixture corpus (documents.text is word soup with no
    newlines or punctuation, so the C4 rules would be vacuous on it raw —
    same move as html_fixture_sql / url_fixture_sql). Every rule binds:
    a too-short line, a 1-in-3 missing-terminal-punct line, an
    always-present javascript line, and 1-in-{{11,13,17}} docs carrying
    lorem-ipsum / curly-brace / bad-word pages. concat is CASE-guarded on
    NULL text (trap 25: DuckDB concat ignores NULL args)."""
    t, i = text_col, id_col
    body = (
        f"concat('Too short.', chr(10), "
        f"substr({t}, 1, 60), "
        f"CASE WHEN {i} % 3 = 0 THEN ' sentence one ends here.' "
        f"     WHEN {i} % 3 = 1 THEN ' is this a question?' "
        f"     ELSE ' no terminal punct' END, chr(10), "
        f"'Please enable JavaScript and cookies in your browser now.', "
        f"chr(10), "
        f"CASE WHEN {i} % 11 = 0 THEN "
        f"concat('Lorem ipsum dolor sit amet consectetur elit.', chr(10)) "
        f"ELSE '' END, "
        f"CASE WHEN {i} % 13 = 0 THEN "
        f"concat('function f() {{ return 1; }}', chr(10)) ELSE '' END, "
        f"CASE WHEN {i} % 17 = 0 THEN "
        f"concat('Play casino games and win big prizes tonight!', chr(10)) "
        f"ELSE '' END, "
        f"substr({t}, 61, 60), ' and the middle sentence ends here.', "
        f"chr(10), "
        f"substr({t}, 121, 60), ' finally the last sentence ends the page.')"
    )
    return (f"CASE WHEN {t} IS NULL THEN CAST(NULL AS STRING) "
            f"ELSE {body} END")
