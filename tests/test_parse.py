"""Parse stage: grok compilation, split vs native parity, quarantine
counting (protocol-violation analog, octrace/opencensus.go:119-121)."""

from __future__ import annotations

from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark import fixtures as fx
from omnition_opentelemetry_service_spark.functions import parse as p

N = 400
EXPECTED_MALFORMED = sum(
    1 for i in range(N) if i % fx.MALFORMED_MOD == fx.MALFORMED_RESIDUE
)


def test_grok_to_regex_compiles_fields():
    rx, fields = p.grok_to_regex("%{WORD:a} n=%{INT:b}")
    assert rx == r"^(\w+) n=(\d+)$"
    assert fields == ["a", "b"]


def test_native_parse_extracts_typed_fields(spark):
    rows = p.parse_payload_native(fx.raw_payloads(spark, N)).orderBy("doc_id").collect()
    assert len(rows) == N
    r0 = rows[0]  # i=0
    assert r0.valid
    assert r0.ts_str == "2026-01-01T00:00:00Z"
    assert r0.host == "h0"
    assert r0.lvl == "INFO"
    assert r0.src == "web"
    assert r0.n_tok == fx.N_TOK_MIN
    assert r0.msg == "seq 0"
    bad = [r for r in rows if not r.valid]
    assert len(bad) == EXPECTED_MALFORMED
    assert all(r.n_tok is None and r.ts_str is None for r in bad)


def test_quarantine_split_counts(spark):
    parsed = p.parse_payload_native(fx.raw_payloads(spark, N))
    good, bad = p.quarantine_split(parsed)
    assert good.count() == N - EXPECTED_MALFORMED
    assert bad.count() == EXPECTED_MALFORMED
    assert "valid" not in good.columns


def test_with_event_time_roundtrip(spark):
    parsed = p.parse_payload_native(fx.raw_payloads(spark, 50))
    et = p.with_event_time(parsed).filter(F.col("valid"))
    row = et.filter(F.col("doc_id") == "doc-000000000001").collect()[0]
    assert row.event_time.isoformat().startswith("2026-01-01T00:00:01")


def test_zipkin_branch_agrees_with_grok_branch(spark):
    """All three receiver formats carry the same underlying facts (same
    index arithmetic): the Zipkin nested-JSON decode must extract identical
    (src, n_tok, trace_hex, ts_str) to the grok decode for every valid row."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.functions import parse as p

    n = 200
    grok = {r.doc_id: (r.src, r.n_tok, r.trace_hex, r.ts_str)
            for r in p.parse_payload_native(fx.raw_payloads(spark, n))
            .filter("valid")
            .select("doc_id", "src", "n_tok", "trace_hex", "ts_str").collect()}
    zk = {r.doc_id: (r.src, r.n_tok, r.trace_hex, r.ts_str)
          for r in p.parse_zipkin_gateway(fx.raw_zipkin_payloads(spark, n))
          .filter("valid")
          .select("doc_id", "src", "n_tok", "trace_hex", "ts_str").collect()}
    assert len(zk) == n  # zipkin branch has no malformed rows
    for doc_id, vals in grok.items():
        assert zk[doc_id] == vals


def test_split_parse_identical_to_native(spark):
    """The structural fast path must be row-identical to the regex parse on
    the fixture distribution (valid + malformed rows)."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.functions import parse as p

    pay = fx.raw_payloads(spark, 2000)
    n = p.parse_payload_native(pay)
    s = p.parse_payload_split(pay)
    assert n.exceptAll(s).count() == 0
    assert s.exceptAll(n).count() == 0


def test_split_parse_adversarial_payloads(spark):
    """Hand-built edge cases: msg containing other fields' key=value text,
    truncated/garbage payloads, empty msg — split must agree with native."""
    from omnition_opentelemetry_service_spark.functions import parse as p

    rows = [
        # msg contains ' host=evil lvl=FAKE' — positional tokens must not bite
        ("d1", '2026-01-01T00:00:00Z host=h1 lvl=INFO src=web n=5 '
               'trace=' + "ab" * 16 + ' msg="x host=evil lvl=FAKE n=9"'),
        # empty msg
        ("d2", '2026-01-01T00:00:00Z host=h2 lvl=WARN src=code n=7 '
               'trace=' + "cd" * 16 + ' msg=""'),
        # msg containing the literal text msg= (no quote — [^"]* allows it)
        ("d3", '2026-01-01T00:00:00Z host=h3 lvl=ERROR src=wiki n=1 '
               'trace=' + "ef" * 16 + ' msg="see msg= docs"'),
        # malformed: truncated
        ("d4", "2026-01-01T00:00:0"),
        # malformed: wrong field order
        ("d5", '2026-01-01T00:00:00Z lvl=INFO host=h1 src=web n=5 '
               'trace=' + "ab" * 16 + ' msg="x"'),
        # malformed: garbage
        ("d6", "not a log line at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload string") \
        .withColumn("stream_id", F.lit(0)).withColumn("msg_seq", F.lit(0)) \
        .withColumn("node_host", F.lit(None).cast("string"))
    n = {r.doc_id: r.asDict() for r in p.parse_payload_native(df).collect()}
    s = {r.doc_id: r.asDict() for r in p.parse_payload_split(df).collect()}
    assert n == s
    assert n["d1"]["host"] == "h1" and n["d1"]["msg"] == "x host=evil lvl=FAKE n=9"
    assert n["d2"]["msg"] == ""
    assert not n["d4"]["valid"] and not n["d5"]["valid"] and not n["d6"]["valid"]


def test_parse_impls_agree_on_unicode_payloads(spark):
    """Both parse impls must mark a unicode-host payload INVALID the same
    way: Java's \\w and \\d are ASCII, as are RE2's (the DuckDB oracle)."""
    from omnition_opentelemetry_service_spark.functions import parse as pf

    rows = [
        (1, '2026-01-01T00:00:00Z host=héllo lvl=info src=websrc n=5 '
            f'trace={"0" * 32} msg="x"'),
        (2, '2026-01-01T00:00:00Z host=ok lvl=info src=websrc n=١٢٣ '
            f'trace={"0" * 32} msg="x"'),
        (3, '2026-01-01T00:00:00Z host=ok lvl=info src=websrc n=5 '
            f'trace={"0" * 32} msg="x"'),
    ]
    df = spark.createDataFrame(
        [(str(i), p) for i, p in rows], "doc_id string, payload string") \
        .withColumn("stream_id", F.lit(0)).withColumn("msg_seq", F.lit(0)) \
        .withColumn("node_host", F.lit(None).cast("string"))
    for impl in (pf.parse_payload_native, pf.parse_payload_split):
        got = {int(r.doc_id): r.valid for r in impl(df).collect()}
        assert got == {1: False, 2: False, 3: True}, impl.__name__


def test_parse_fuzz_three_engines_agree(spark):
    """4000 seeded random payloads (valid / truncated / mutated / garbage /
    unicode) — native, split, and the DuckDB oracle form must agree
    row-for-row. The durable form of the session fuzz that validated the
    parse family end-to-end."""
    import random

    import duckdb
    import pandas as pd

    from omnition_opentelemetry_service_spark.functions import parse as pfn

    rng = random.Random(20260819)

    def rnd_word():
        return "".join(rng.choice("abzAZ09_é💥-= ")
                       for _ in range(rng.randint(0, 6)))

    def payload(valid_bias):
        if rng.random() < valid_bias:
            h = rnd_word().replace(" ", "")
            msg = "".join(rng.choice('ab c=x" \\ é💥\t')
                          for _ in range(rng.randint(0, 12))).replace('"', "")
            return (f"2026-01-{rng.randint(10, 28):02d}T"
                    f"{rng.randint(10, 23):02d}:00:00Z "
                    f"host={h or 'h'} lvl=info src=websrc "
                    f"n={rng.randint(0, 999)} "
                    f"trace={'%032x' % rng.getrandbits(128)} msg=\"{msg}\"")
        base = payload(1.0)
        op = rng.choice(["cut", "insert", "noise", "case"])
        if op == "cut":
            return base[:rng.randint(0, len(base))]
        if op == "insert":
            i = rng.randint(0, len(base))
            return base[:i] + rng.choice(' "\n=x') + base[i:]
        if op == "case":
            return base.upper()
        return "".join(rng.choice(' x="\n\t héllo💥')
                       for _ in range(rng.randint(0, 60)))

    rows = [(f"d{i:05d}", payload(0.6), 0, 0, None) for i in range(4000)]
    df = spark.createDataFrame(
        rows, "doc_id string, payload string, stream_id int, msg_seq int, "
              "node_host string")
    cols = ["doc_id", "ts_str", "host", "lvl", "src", "n_tok", "trace_hex",
            "msg", "valid"]

    def grab(d):
        return sorted((tuple(r[c] for c in cols)
                       for r in d.select(cols).collect()),
                      key=lambda t: t[0])

    n = grab(pfn.parse_payload_native(df))
    assert n == grab(pfn.parse_payload_split(df))
    nv = sum(1 for r in n if r[-1])
    assert 0 < nv < len(n)  # the fuzz produced both populations

    con = duckdb.connect()
    con.register("pay", pd.DataFrame([(r[0], r[1]) for r in rows],
                                     columns=["doc_id", "payload"]))
    rx = pfn.PAYLOAD_REGEX
    sel = ", ".join(
        f"CASE WHEN regexp_matches(payload,'{rx}') "
        f"THEN regexp_extract(payload,'{rx}',{i + 1}) END {name}"
        for i, name in enumerate(
            ["ts_str", "host", "lvl", "src", "n_raw", "trace_hex", "msg"]))
    duck = sorted(
        ((r[0], r[1], r[2], r[3], r[4],
          int(r[5]) if r[5] is not None else None, r[6], r[7], bool(r[8]))
         for r in con.execute(
            f"SELECT doc_id, {sel}, regexp_matches(payload,'{rx}') AS valid "
            f"FROM pay").fetchall()),
        key=lambda t: t[0])
    assert [tuple(r) for r in n] == duck


def test_jaeger_branch_agrees_with_grok_branch(spark):
    """The Jaeger-JSON decode (process.serviceName, tags as array of
    {key,vType,vStr} structs — components.go:47) must extract identical
    (src, n_tok, trace_hex, ts_str) to the grok decode for every valid
    row. The fixture's decoy FIRST tag ('lvl') pins that the decoder
    searches the tag array rather than reading position 0."""
    from omnition_opentelemetry_service_spark import fixtures as fx
    from omnition_opentelemetry_service_spark.functions import parse as p

    n = 200
    grok = {r.doc_id: (r.src, r.n_tok, r.trace_hex, r.ts_str)
            for r in p.parse_payload_native(fx.raw_payloads(spark, n))
            .filter("valid")
            .select("doc_id", "src", "n_tok", "trace_hex", "ts_str").collect()}
    jg = {r.doc_id: (r.src, r.n_tok, r.trace_hex, r.ts_str)
          for r in p.parse_jaeger_gateway(fx.raw_jaeger_payloads(spark, n))
          .filter("valid")
          .select("doc_id", "src", "n_tok", "trace_hex", "ts_str").collect()}
    assert len(jg) == n  # jaeger branch has no malformed rows
    for doc_id, vals in grok.items():
        assert jg[doc_id] == vals


def test_jaeger_decode_is_array_search_not_positional(spark):
    """Reordering the tag array must not change the extracted n_tok; a
    missing n_tok tag must yield NULL, not the decoy value."""
    from omnition_opentelemetry_service_spark.functions import parse as p

    rows = [
        ("a", '{"traceID":"t1","operationName":"x","startTime":1,'
              '"process":{"serviceName":"web","tags":['
              '{"key":"n_tok","vType":"string","vStr":"7"},'
              '{"key":"lvl","vType":"string","vStr":"INFO"}]}}'),
        ("b", '{"traceID":"t2","operationName":"y","startTime":2,'
              '"process":{"serviceName":"web","tags":['
              '{"key":"lvl","vType":"string","vStr":"42"}]}}'),
        ("c", "not json at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload string")
    out = {r.doc_id: r for r in p.parse_jaeger_gateway(df).collect()}
    assert out["a"].n_tok == 7          # order-independent
    assert out["b"].n_tok is None       # decoy never read as n_tok
    assert out["c"].valid is False      # malformed row quarantined
