"""Vectorized grok/regex parse of raw payload lines — the receiver analog.

The reference's receivers decode wire formats into TraceData
(octrace/opencensus.go:100-147 for gRPC, opencensusreceiver/opencensus.go:
261-268 for the HTTP/JSON gateway). Here, "decode" is a regex/grok parse of
a raw log line into typed columns, with a quarantine path for malformed rows
(the protocol-violation analog, octrace/opencensus.go:119-121: bad first
message → error + dropped-span counters, never a crash).

One serving parse, ``parse_payload_split``: one validity regex, then
positional token extraction — JVM-side, inside whole-stage codegen, no
Python. ``parse_payload_native`` (one ``regexp_extract`` per field) is the
reference the tests compare it against, row for row; no serving module
calls it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# grok-style aliases → regex fragments (public grok idiom).
GROK_LIB = {
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z",
    "WORD": r"\w+",
    "INT": r"\d+",
    "HEX32": r"[0-9a-f]{32}",
    "QUOTED": r'[^"]*',
}

# %{NAME:field} grok template for the fixture payload format.
PAYLOAD_GROK = (
    "%{TIMESTAMP_ISO8601:ts} host=%{WORD:host} lvl=%{WORD:lvl} "
    'src=%{WORD:src} n=%{INT:n} trace=%{HEX32:trace} msg="%{QUOTED:msg}"'
)


def grok_to_regex(grok: str) -> tuple[str, list[str]]:
    """Compile a %{NAME:field} grok template into an anchored regex and the
    ordered capture-field list."""
    import re

    fields: list[str] = []

    def sub(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        fields.append(field)
        return f"({GROK_LIB[name]})"

    pattern = re.sub(r"%\{(\w+):(\w+)\}", sub, grok)
    return f"^{pattern}$", fields


PAYLOAD_REGEX, _PAYLOAD_FIELDS = grok_to_regex(PAYLOAD_GROK)


def parse_payload_native(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-field regexp_extract parse — the test-side reference for
    parse_payload_split (row-identical on every input string; pytest +
    hypothesis). Malformed rows get valid=false and NULL fields (quarantine
    filter happens downstream so drops can be counted)."""
    p = F.col(payload_col)
    groups = {name: F.regexp_extract(p, PAYLOAD_REGEX, i + 1)
              for i, name in enumerate(_PAYLOAD_FIELDS)}
    valid = p.rlike(PAYLOAD_REGEX)
    out = df
    mapping = {
        "ts_str": groups["ts"],
        "host": groups["host"],
        "lvl": groups["lvl"],
        "src": groups["src"],
        "n_tok": groups["n"].cast("int"),
        "trace_hex": groups["trace"],
        "msg": groups["msg"],
    }
    for name, col in mapping.items():
        out = out.withColumn(name, F.when(valid, col))
    return out.withColumn("valid", valid).drop(payload_col)


def parse_payload_split(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """The serving parse: ONE validity regex + positional token
    extraction. Output is row-identical to parse_payload_native (pytest +
    the pipeline oracle assert it), ~2.6× faster (measured single-core on
    4M rows: 69.5s regex vs 26.6s split) because the regex engine runs once
    per row instead of once per extracted field.

    Safety of the positional form: `rlike` anchors the full shape, so on
    valid rows fields 1-6 are exactly space-delimited tokens (each `\\w+`/
    digits/hex — no embedded spaces) and only the trailing quoted msg can
    contain spaces; msg itself is `[^"]*` so the LAST ` msg="` occurrence is
    always the real delimiter even if msg contains text like ' host=evil'.
    Invalid rows never evaluate the extractors (CASE WHEN short-circuit), so
    ANSI element_at can't fault on truncated payloads."""
    p = F.col(payload_col)
    valid = p.rlike(PAYLOAD_REGEX)
    # limit=7: stop splitting after the 6 structural tokens — the msg tail
    # may contain arbitrarily many spaces and would otherwise be split into
    # words nobody reads (pure allocation; measured ~10% off the parse
    # stage on 4M rows). Elements 1-6 are identical to the unlimited form
    # on valid rows; msg comes from substring_index, not from parts.
    parts = F.split(p, " ", 7)

    def tok(i: int, prefix: str) -> F.Column:
        return F.substring(F.element_at(parts, i), len(prefix) + 2, 1 << 30)

    msg_tail = F.substring_index(p, ' msg="', -1)
    mapping = {
        "ts_str": F.element_at(parts, 1),
        "host": tok(2, "host"),
        "lvl": tok(3, "lvl"),
        "src": tok(4, "src"),
        "n_tok": tok(5, "n").cast("int"),
        "trace_hex": tok(6, "trace"),
        "msg": F.substring(msg_tail, 1, F.length(msg_tail) - 1),
    }
    out = df
    for name, col in mapping.items():
        out = out.withColumn(name, F.when(valid, col))
    return out.withColumn("valid", valid).drop(payload_col)


JSON_GATEWAY_SCHEMA = "ts string, src string, n int, msg string"


def parse_json_gateway(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """JSON parse branch — the HTTP/JSON gateway + jaeger/zipkin receiver
    analog (alternate per-format decode, components.go:47-48): `from_json`
    is JVM-side (Jackson under codegen), one parse per row, no Python.
    Output columns align with the grok branch so `unionByName` fuses
    multi-format receivers into one pipeline."""
    parsed = F.from_json(F.col(payload_col), JSON_GATEWAY_SCHEMA)
    return (
        df.withColumn("_p", parsed)
        .select(
            *[c for c in df.columns if c != payload_col],
            F.col("_p.ts").alias("ts_str"),
            F.col("_p.src").alias("src"),
            F.col("_p.n").alias("n_tok"),
            F.col("_p.msg").alias("msg"),
            F.col("_p.ts").isNotNull().alias("valid"),
        )
    )


ZIPKIN_SCHEMA = (
    "traceId string, name string, timestamp long, "
    "localEndpoint struct<serviceName:string>, tags map<string,string>"
)


def parse_zipkin_gateway(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Zipkin receiver analog (components.go:48) — a third wire shape:
    nested-JSON spans (localEndpoint object, string tag map, epoch-micros
    timestamp). Decode is `from_json` with a nested schema + projection to
    the common parsed columns, all JVM-side; `unionByName` fuses it with the
    grok and flat-JSON branches into one pipeline."""
    parsed = F.from_json(F.col(payload_col), ZIPKIN_SCHEMA)
    return (
        df.withColumn("_p", parsed)
        .select(
            *[c for c in df.columns if c != payload_col],
            F.date_format(
                F.timestamp_micros(F.col("_p.timestamp")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_str"),
            F.col("_p.localEndpoint.serviceName").alias("src"),
            F.col("_p.tags")["n_tok"].cast("int").alias("n_tok"),
            F.col("_p.name").alias("msg"),
            F.col("_p.traceId").alias("trace_hex"),
            F.col("_p.timestamp").isNotNull().alias("valid"),
        )
    )


JAEGER_SCHEMA = (
    "traceID string, operationName string, startTime long, "
    "process struct<serviceName:string, "
    "tags:array<struct<key:string,vType:string,vStr:string>>>"
)


def parse_jaeger_gateway(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Jaeger receiver analog (components.go:47) — the FOURTH wire shape:
    Jaeger-JSON spans carry process.serviceName and tags as an ARRAY OF
    STRUCTS {key, vType, vStr} (vs Zipkin's string tag map). Decode is
    `from_json` with the nested schema; tag lookup is a genuine array
    SEARCH (`filter(tags, t -> t.key = ...)`) — positional access would
    read whatever tag happens to be first. All JVM-side; output columns
    align with the other branches for `unionByName` fusion."""
    parsed = F.from_json(F.col(payload_col), JAEGER_SCHEMA)
    # get(..., 0), not [0]: a span with no n_tok tag filters to an EMPTY
    # array, and ANSI mode raises on out-of-bounds [] indexing — get()
    # returns NULL, the quarantine convention.
    n_tok = F.expr(
        "get(filter(_p.process.tags, t -> t.key = 'n_tok'), 0).vStr"
    ).cast("int")
    return (
        df.withColumn("_p", parsed)
        .select(
            *[c for c in df.columns if c != payload_col],
            F.date_format(
                F.timestamp_micros(F.col("_p.startTime")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_str"),
            F.col("_p.process.serviceName").alias("src"),
            n_tok.alias("n_tok"),
            F.col("_p.operationName").alias("msg"),
            F.col("_p.traceID").alias("trace_hex"),
            F.col("_p.startTime").isNotNull().alias("valid"),
        )
    )


def quarantine_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) — quarantined rows keep doc_id + raw context for
    the dropped-spans counter path (obsreport analog, SURVEY.md §2.4).
    A NULL `valid` quarantines (coalesce to false): a three-valued split
    would silently drop the row from BOTH outputs."""
    valid = F.coalesce(F.col("valid"), F.lit(False))
    good = parsed.filter(valid).drop("valid")
    bad = parsed.filter(~valid).drop("valid")
    return good, bad


# THE timestamp pattern (one definition — every consumer goes through
# event_time_expr; a variant dropping the quoted 'Z' would parse it as a
# UTC offset and silently skew outside the pinned UTC session)
EVENT_TIME_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def event_time_expr(ts_col: str = "ts_str") -> Column:
    return F.to_timestamp(ts_col, EVENT_TIME_FMT)


def with_event_time(parsed: DataFrame) -> DataFrame:
    """ts_str → TimestampType (reference ptypes/ptime/timestamp.go:24-29
    analog: proto Timestamp ↔ time.Time becomes string ↔ TimestampType)."""
    return parsed.withColumn("event_time", event_time_expr())
