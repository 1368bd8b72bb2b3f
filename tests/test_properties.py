"""Property-based tests (hypothesis): each property generates a BATCH of
cases and runs ONE Spark job against an independent Python model — Spark
semantics must match the model on arbitrary inputs, not just fixtures.
Few examples per property (Spark job ≈ 1s); hypothesis still explores edge
cases (empty strings, unicode, zero-length arrays) via its shrinker."""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark.functions import parse as pf
from omnition_opentelemetry_service_spark.operators import packing as pk
from omnition_opentelemetry_service_spark.operators.caps import truncatable

SET = settings(max_examples=5, deadline=None, derandomize=True,
               suppress_health_check=[HealthCheck.function_scoped_fixture])

word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=1,
               max_size=12)
msg_text = st.text(alphabet=st.characters(blacklist_characters='"\n\r',
                                          codec="utf-8"), max_size=30)


@SET
@given(st.lists(st.tuples(word, word, st.integers(0, 10**6), msg_text),
                min_size=1, max_size=20))
def test_grok_roundtrip(spark, cases):
    """A payload assembled from arbitrary components parses back exactly."""
    rows = [
        (i, f"2026-01-01T00:00:{i % 60:02d}Z host={h} lvl={l} "
            f"src=websrc n={n} trace={'0' * 32} msg=\"{m}\"")
        for i, (h, l, n, m) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, "i long, payload string")
    got = {r.i: (r.host, r.lvl, r.n_tok, r.msg, r.valid)
           for r in pf.parse_payload_native(df).collect()}
    for i, (h, l, n, m) in enumerate(cases):
        assert got[i] == (h, l, n, m, True)


@SET
@given(st.lists(st.text(max_size=40), min_size=1, max_size=20),
       st.integers(1, 20))
def test_truncatable_matches_python(spark, texts, max_len):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, s string")
    got = {r.i: (r.s_value, r.s_truncated)
           for r in df.select("i", *truncatable("s", max_len)).collect()}
    for i, t in enumerate(texts):
        assert got[i] == (t[:max_len], max(len(t) - max_len, 0))


@SET
@given(st.lists(st.integers(1, 4096), min_size=1, max_size=40),
       st.integers(128, 4096))
def test_packing_matches_python(spark, n_toks, budget):
    rows = [(f"d{i:04d}", "k", i, n) for i, n in enumerate(n_toks)]
    df = spark.createDataFrame(rows, "doc_id string, source string, "
                                     "seq_no long, n_tok int")
    got = {r.seq_no: r.pack_id
           for r in pk.with_pack_id(df, budget=budget).collect()}
    off = 0
    for i, n in enumerate(n_toks):
        assert got[i] == off // budget
        off += n


@SET
@given(st.lists(st.lists(st.integers(0, 50256), max_size=30),
                min_size=1, max_size=15))
def test_token_checksum_matches_python(spark, arrays):
    from omnition_opentelemetry_service_spark.functions.tokens import (
        tokens_checksum,
    )

    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)],
        "i long, tokens array<int>")
    got = {r.i: r.cs for r in
           df.select("i", tokens_checksum().alias("cs")).collect()}
    M = 144115188075855859
    for i, a in enumerate(arrays):
        acc = 7
        for t in a:
            acc = (acc * 31 + t) % M
        assert got[i] == acc


@SET
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=30),
       st.floats(0.0, 100.0))
def test_sampler_deterministic_and_bounded(spark, seqs, pct):
    """Sampler keeps iff LCG-hash < pct*100 — matches the Python model and
    never depends on partitioning."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.operators.router import (
        sampler_pass,
    )

    df = spark.createDataFrame(
        [(s, 1, float(pct)) for s in set(seqs)],
        "seq_no long, rule_id int, sample_pct double")
    kept = {r.seq_no for r in df.filter(sampler_pass()).collect()}
    for s in set(seqs):
        h = ((s + 1 * fx.RULE_SALT) * fx.SAMPLE_A + fx.SAMPLE_B) % fx.SAMPLE_MOD
        assert (s in kept) == (h < int(pct * 100))


payload_like = st.one_of(
    # well-formed-ish assembled payloads (msg may embed key=value noise)
    st.tuples(word, word, st.integers(0, 10**6), msg_text).map(
        lambda t: f"2026-01-01T00:00:00Z host={t[0]} lvl={t[1]} "
                  f"src=websrc n={t[2]} trace={'a' * 32} msg=\"{t[3]}\""),
    # arbitrary garbage (never matches the anchored shape)
    st.text(max_size=80),
)


@SET
@given(st.lists(payload_like, min_size=1, max_size=25))
def test_split_parse_equals_native_on_arbitrary_strings(spark, payloads):
    """parse_payload_split ≡ parse_payload_native for EVERY input string:
    valid payloads extract identically (the anchored rlike pins the shape);
    anything else yields identical all-null invalid rows."""
    rows = [(i, p, 0, 0, None) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(
        rows, "doc_id long, payload string, stream_id int, msg_seq int, "
              "node_host string")
    n = sorted(tuple(r) for r in pf.parse_payload_native(df).collect())
    s = sorted(tuple(r) for r in pf.parse_payload_split(df).collect())
    assert n == s


@SET
@given(st.lists(st.text(max_size=60), min_size=1, max_size=15))
def test_simhash_pandas_matches_expr_on_arbitrary_text(spark, texts):
    """The memoized numpy SimHash path is bit-identical to the JVM fold on
    ARBITRARY text — including Unicode whitespace (U+00A0, U+2028…), where
    an idiomatic Python .split() would silently diverge from Java's
    ASCII-only '\\s' (the pandas path replicates the JVM tokenization
    character class exactly)."""
    from omnition_opentelemetry_service_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    expr_form = {r.doc_id: r.sh for r in df.select(
        "doc_id", dd.simhash_expr("text").alias("sh")).collect()}
    pandas_form = {r.id: r.sh for r in
                   dd.simhash_signatures_pandas(df).collect()}
    assert expr_form == pandas_form


@SET
@given(st.lists(st.text(max_size=60), min_size=1, max_size=15))
def test_minhash_pandas_matches_fold_on_arbitrary_text(spark, texts):
    """Zero-shuffle numpy MinHash == the JVM fold minhash_signature_expr on
    arbitrary text (same md5-prefix hash, same affine family) for every doc
    with at least one shingle; docs with an empty or NULL shingle array get
    no pandas row (the fold gives them the all-MH_PRIME identity)."""
    from omnition_opentelemetry_service_spark.functions import text as tx
    from omnition_opentelemetry_service_spark.operators import dedup as dd

    n = len(texts)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).withColumn("shingles", tx.char_shingles("text")).unionByName(
        spark.createDataFrame([(n, None, []), (n + 1, None, None)],
                              "doc_id long, text string, "
                              "shingles array<string>"))
    fold = {r.doc_id: (r.n, list(r.minhash or [])) for r in df.select(
        "doc_id", F.coalesce(F.size("shingles"), F.lit(0)).alias("n"),
        dd.minhash_signature_expr("shingles").alias("minhash")).collect()}
    pandas_form = {r.id: list(r.minhash)
                   for r in dd.minhash_signatures_pandas(df).collect()}
    assert pandas_form == {i: mh for i, (k, mh) in fold.items() if k > 0}
    assert fold[n] == (0, [dd.MH_PRIME] * dd.MH_HASHES)
    assert n not in pandas_form and n + 1 not in pandas_form


@SET
@given(st.lists(st.text(max_size=50), min_size=1, max_size=12),
       st.integers(2, 4))
def test_span_dedup_matches_duckdb_on_arbitrary_text(spark, texts, n):
    """Word-span duplication (duplicated_spans / span_dedup_stats) is
    value-identical between Spark and DuckDB on ARBITRARY text — including
    unicode whitespace and the short-doc whole-text-collapse branch — and
    the doc-local / exploded counting twins agree."""
    import duckdb
    import pandas as pd
    from omnition_opentelemetry_service_spark.operators import corpus

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))

    hot = sorted(map(tuple,
                     corpus.duplicated_spans(df, n=n, min_docs=2).collect()))
    o_hot = sorted(map(tuple, con.execute(
        corpus.duplicated_spans_sql_duck(n=n, min_docs=2)).fetchall()))
    assert hot == o_hot

    stats = sorted(map(tuple,
                       corpus.span_dedup_stats(df, n=n, min_docs=2).collect()))
    o_stats = sorted(map(tuple, con.execute(
        corpus.span_dedup_stats_sql_duck(n=n, min_docs=2)).fetchall()))
    assert stats == o_stats

    a = sorted(map(tuple, corpus.doc_gram_counts(df, n=n).collect()))
    b = sorted(map(tuple, corpus.doc_gram_counts_exploded(df, n=n).collect()))
    assert a == b


@SET
@given(st.lists(st.text(max_size=60), min_size=1, max_size=20))
def test_tokenize_cross_engine_on_arbitrary_text(spark, texts):
    """Token ids match DuckDB on ARBITRARY unicode text — including the
    regex-engine edge cases ('\\x0b' is \\s in Java but not in RE2; the
    explicit whitespace class pins one semantics for both engines)."""
    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.operators import tokenize

    texts = list(texts) + ["a\x0bb", "x y  z"]  # forced edges
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "i long, text string")
    got = {r.i: list(r.toks) for r in sdf.select(
        "i", tokenize.tokens_expr("text").alias("toks")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "text"]))
    want = {int(r[0]): [int(x) for x in r[1]] for r in con.execute(
        f"SELECT i, {tokenize.tokens_sql_duck('text')} FROM t").fetchall()}
    assert got == want


@SET
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=40),
                min_size=1, max_size=10))
def test_fingerprint_and_words_cross_engine_on_arbitrary_text(spark, texts):
    """fingerprint + simhash word split match DuckDB on arbitrary unicode —
    the explicit [ \\t\\n\\x0b\\f\\r]+ class is what makes VT-containing
    text agree (RE2's \\s omits \\x0b; Java's includes it)."""
    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.functions import text as tx
    from omnition_opentelemetry_service_spark.operators import dedup as dd

    texts = list(texts) + ["a\x0bb c", "\x0b lead", "trail\x0b"]
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "i long, text string")
    got = {(r.i): (r.fp, r.sh) for r in sdf.select(
        "i", tx.fingerprint("text").alias("fp"),
        dd.simhash_expr("text").alias("sh")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "text"]))
    sh_duck = f"""
    SELECT i, {tx.fingerprint_sql_duck('text')} AS fp,
      (SELECT CAST({" + ".join(
        f"(CASE WHEN sum(CASE WHEN (CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(dd.SIMHASH_BITS))} AS BIGINT)
       FROM unnest(list_filter(string_split_regex(
            {tx.lower_fold_sql_duck(tx.trim_sql_duck('t.text'))},
            '[ \\t\\n\\x0B\\f\\r]+'), w -> len(w) > 0)) AS u(w)) AS sh
    FROM t"""
    want = {int(r[0]): (r[1], r[2]) for r in con.execute(sh_duck).fetchall()}
    for i in got:
        assert got[i][0] == want[i][0], f"fingerprint mismatch on {texts[i]!r}"
        g_sh = got[i][1]
        w_sh = want[i][1]
        if g_sh is None or w_sh is None:
            # empty word list: Spark's fold yields the all-zero-votes pack
            # (0), DuckDB's empty subquery yields NULL — normalize both
            g_sh = g_sh or 0
            w_sh = w_sh or 0
        assert g_sh == w_sh, f"simhash mismatch on {texts[i]!r}"


@SET
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=50),
                min_size=1, max_size=10),
       st.integers(2, 5), st.integers(2, 5))
def test_winnowing_matches_python_model_on_arbitrary_text(spark, texts, k, w):
    """Winnowing fingerprints == an independent python implementation of
    Schleimer/Wilkerson/Aiken on arbitrary unicode — same normalization
    (shared gram definition incl. the astral fold), same md5-prefix hash,
    same window minima."""
    import hashlib
    import re

    from omnition_opentelemetry_service_spark.functions import text as tx

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {r.i: sorted(r.fp) for r in df.select(
        "i", tx.winnowing_fingerprints("text", k, w).alias("fp")).collect()}

    ws = re.compile("[ \t\n\x0b\f\r]+")
    astral = re.compile("[\U00010000-\U0010FFFF]")
    for i, t in rows:
        # normalization order mirrors _norm_grams_sql: astral fold, ws->space,
        # trim(space only), lower_fold
        s = astral.sub("�", t)
        s = ws.sub(" ", s)
        s = tx.lower_fold_py(s.strip(" "))
        grams = [s] if len(s) < k else [s[j:j + k]
                                        for j in range(len(s) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
              for g in grams]
        if len(hs) <= w:
            want = sorted({min(hs)})
        else:
            want = sorted({min(hs[j:j + w])
                           for j in range(len(hs) - w + 1)})
        assert got[i] == want, (t, k, w)


@SET
@given(st.lists(st.text(alphabet="ab X\n\t", max_size=40),
                min_size=1, max_size=12),
       st.integers(2, 3))
def test_line_dedup_matches_duckdb_on_arbitrary_text(spark, texts, mc):
    """line_dedup ≡ its DuckDB twin on arbitrary newline-bearing text: the
    tiny alphabet forces heavy cross-doc line collisions, tabs exercise the
    space-only trim rule (a '\\t'-padded line is NOT the same line), and
    trailing newlines pin the keep-trailing-empty split semantics of all
    three engines."""
    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.operators import corpus

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, corpus.line_dedup(df, min_count=mc).collect()))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted((int(r[0]), r[1], int(r[2]), int(r[3])) for r in con.execute(
        corpus.line_dedup_sql_duck(min_count=mc)).fetchall())
    assert got == want


@SET
@given(st.lists(st.text(alphabet="abc \n\u00a0", max_size=30),
                min_size=2, max_size=10))
def test_dsir_scores_match_python_on_arbitrary_text(spark, texts):
    """dsir fit+score ≡ an independent python model on arbitrary text —
    including U+00A0, which python .split() would treat as whitespace but
    the engines' explicit ASCII class does not (the model replicates the
    WS class exactly)."""
    import hashlib
    import math
    import re

    from omnition_opentelemetry_service_spark.operators import dsir

    B = 32
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 2 == 0)
    lam, lam0 = dsir.dsir_fit(target, df, n_buckets=B)

    ws_rx = re.compile("[ \t\n\x0b\f\r]+")

    def grams(t):
        words = [w for w in ws_rx.split((t or "").strip(" ")) if w]
        if len(words) < 2:
            return list(words)
        return words + [f"{a} {b}" for a, b in zip(words, words[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    t_cnt: dict[int, int] = {}
    r_cnt: dict[int, int] = {}
    for i, t in rows:
        for g in grams(t):
            b = bucket(g)
            r_cnt[b] = r_cnt.get(b, 0) + 1
            if i % 2 == 0:
                t_cnt[b] = t_cnt.get(b, 0) + 1
    td = float(sum(t_cnt.values()) + B)
    rd = float(sum(r_cnt.values()) + B)
    want_lam = {b: round(math.log((t_cnt.get(b, 0) + 1) / td)
                         - math.log((r_cnt.get(b, 0) + 1) / rd), 9)
                for b in set(t_cnt) | set(r_cnt)}
    assert lam == want_lam

    got = {r.doc_id: (r.n_grams, r.dsir_score) for r in
           dsir.dsir_scores(df, lam, lam0, n_buckets=B).collect()}
    for i, t in rows:
        gs = grams(t)
        if not gs:
            assert i not in got
            continue
        want = round(sum(lam.get(bucket(g), lam0) for g in gs), 6)
        assert got[i][0] == len(gs)
        assert abs(got[i][1] - want) < 2e-6, (i, t)


@SET
@given(st.lists(
    st.one_of(
        st.text(max_size=30),
        st.sampled_from([
            "<p>", "</p>", "<div class='x'>", "<br/>", "<param a=1>",
            "<script>", "</script>", "<style>", "</style>", "<!--", "-->",
            "&amp;", "&lt;", "&amp;lt;", "&nbsp;", "&copy;", "<i>", "</i>",
            "\n", "\t", "\x0b", "<", ">", "<h3>", "</h3>",
        ])),
    min_size=1, max_size=25))
def test_strip_html_matches_duckdb_on_arbitrary_markup(spark, pieces):
    """strip_html is value-identical between Spark and DuckDB on ARBITRARY
    interleavings of text, tags, malformed fragments and entities —
    including unclosed blocks, bare angle brackets, and the '<param>' vs
    '<p>' word-boundary edge."""
    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.functions import html as hh

    html = "".join(pieces)
    sdf = spark.createDataFrame([(html,)], "h string")
    got = sdf.select(hh.strip_html("h").alias("t")).collect()[0].t
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"h": [html]}))
    want = con.execute(
        f"SELECT {hh.strip_html_sql_duck('h')} FROM t").fetchone()[0]
    assert got == want


@SET
@given(st.lists(st.lists(st.integers(0, 9), max_size=12),
                min_size=1, max_size=10),
       st.integers(2, 4))
def test_span_removal_matches_duckdb_on_arbitrary_tokens(spark, arrays, k):
    """ExactSubstr-cut (remove_duplicated_token_spans) is value-identical
    between Spark and DuckDB on ARBITRARY token arrays — tiny vocab forces
    dense window collisions, in-doc repeats, and overlap merges; short and
    empty arrays exercise the no-window pass-through."""
    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.operators import corpus

    rows = [(f"d{i:03d}", list(a)) for i, a in enumerate(arrays)]
    sdf = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = sorted(map(tuple, corpus.remove_duplicated_token_spans_str(
        sdf, k=k, min_docs=2).collect()))
    con = duckdb.connect()
    con.register("seqs_in", pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "tokens": [r[1] for r in rows]}))
    want = sorted(map(tuple, con.execute(
        corpus.remove_duplicated_token_spans_sql_duck(
            "SELECT doc_id, tokens FROM seqs_in", k=k, min_docs=2))
        .fetchall()))
    assert got == want


@SET
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=24),
                min_size=1, max_size=15))
def test_char_entropy_cross_engine_on_arbitrary_unicode(spark, texts):
    """char_entropy is EXACTLY equal across engines on arbitrary unicode —
    the value-sorted fold makes the claim collation-independent (UTF-16
    code-unit vs UTF-8 byte order never reorders the sum), and a python
    Counter model bounds the value itself."""
    import math
    from collections import Counter

    import duckdb

    from omnition_opentelemetry_service_spark.functions import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    got = {r.doc_id: r.e for r in df.select(
        "doc_id", tx.char_entropy("text").alias("e")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    duck = dict(con.execute(
        f"SELECT doc_id, {tx.char_entropy_sql_duck('text')} FROM d"
    ).fetchall())
    assert got == duck

    for i, t in enumerate(texts):
        if len(t) == 0:
            assert got[i] is None
            continue
        n = len(t)
        want = round(-sum((c / n) * math.log2(c / n)
                          for c in Counter(t).values()), 6)
        assert abs(got[i] - want) < 2e-6
