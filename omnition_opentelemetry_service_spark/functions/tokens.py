"""Token-array helpers. The per-row invariant for the whole pipeline is
token-array equality (BASELINE.json input_hint), so everything here is
loss-free and engine-portable (DuckDB can reproduce each expression)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_str(col: str | Column = "tokens") -> Column:
    """Canonical string form of a token array — the cross-engine equality
    surface (Spark array<int> vs DuckDB list<int> hash differently; their
    comma-joined string forms compare exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(c.cast("array<string>"), ",")


def token_group_cols(col: str | Column = "tokens") -> list[Column]:
    """THE exact-dedup grouping key for token arrays at scale:
    (xxhash64, murmur3, length) — 96 hash bits plus the length, all
    computed NATIVELY over the array (no per-token string materialization).
    Measured 2.9× faster than md5(array_join(cast(array<string>))) on the
    dedup-specific work at sf0.1 (3.4s vs 9.6s over 4M rows), and the gap
    is structural: the md5 form allocates one string per token per row.

    Collision envelope: with 10^12 distinct arrays, expected false-merge
    pairs ≈ (10^12)²/2^97 ≈ 6·10⁻⁶ — negligible (md5's 128 bits are
    1.5·10⁻¹⁵; both are 'exact' in the same practical sense). DuckDB has
    neither xxhash64 nor Spark's murmur3, so cross-engine twins GROUP BY
    their own md5 fingerprint and compare the grouped OUTPUT (keeper,
    count) — grouping equality is what the contract needs, not equal hash
    values."""
    c = F.col(col) if isinstance(col, str) else col
    return [F.xxhash64(c).alias(TOKEN_GROUP_NAMES[0]),
            F.hash(c).alias(TOKEN_GROUP_NAMES[1]),
            F.size(c).alias(TOKEN_GROUP_NAMES[2])]


TOKEN_GROUP_NAMES = ("_tg_h1", "_tg_h2", "_tg_len")


def tokens_checksum(col: str | Column = "tokens") -> Column:
    """Order-sensitive polynomial checksum of the token array, JVM-side via
    ``aggregate``: acc = (acc*31 + tok) mod M (M < 2^57 so acc*31+t stays < 2^63 under ANSI arithmetic). The tests
    pin it against the same fold in Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        c,
        F.lit(7).cast("long"),
        lambda acc, t: (acc * 31 + t.cast("long")) % F.lit(144115188075855859),
    ).alias("tokens_checksum")
