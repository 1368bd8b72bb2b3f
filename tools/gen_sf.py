"""Deterministic 10× scale-up of a testdata SF directory (VERDICT r4 ask
#2: a 10× scale point so per-query scaling ratios are measured in a regime
where fixed costs don't dominate).

/root/testdata is read-only and the driver ships no sf1, so sf1 is derived
from sf0.1 by REPLICATION WITH KEY REMAPPING — the TPC-H dbgen approach
(dimension tables fixed, fact keys offset per copy), chosen over a
fresh-sample generator because it provably preserves every per-copy
distribution (value histograms, join fan-outs, group cardinalities per
key-range) while scaling row counts exactly 10×:

- region/nation: fixed dims (TPC-H semantics — they never scale).
- customer/supplier/part/orders/lineitem/events: copy c ∈ [0,10) offsets
  every entity key by c × OFF(table) where OFF is a round number above the
  table's max key, so FK joins stay 1:N with the same fan-out (copy 0 is
  the identity — sf0.1 is a strict subset of sf1).
- documents: doc_id offset; text passes through a per-copy Caesar
  rotation over lowercase, uppercase and digits (copy 0 identity).
  Rotation preserves length, word structure and within-copy similarity
  EXACTLY while decorrelating cross-copy shingles (punctuation/
  whitespace is the only residual invariant class — on the fixture
  corpus, measured zero cross-copy MinHash candidates) — naive text
  replication would give every doc 9 spurious near-duplicates and
  inflate MinHash/SimHash candidate pairs ~100×, turning the sf1 ratio
  into a data artifact instead of a plan measurement. n_chars is
  preserved by construction.
- embeddings: vec_id offset; the vector is cyclically rotated by c
  positions — a permutation (orthogonal) transform, so norms and ALL
  within-copy pairwise dot products are preserved exactly while cross-copy
  vectors decorrelate; ANN candidate structure scales linearly like the
  corpus.

Everything is a column expression over a parquet scan (no driver-side
rows, no Python UDFs): at a real 100 TB scale-up the same job shape —
scan → project → write — runs shuffle-free on any cluster size.

Usage: python tools/gen_sf.py [src_dir] [dst_dir] [factor]
       defaults: /root/testdata/sf0.1 /tmp/spark_graft_testdata/sf1 10
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# (table, [key columns to offset by the named entity's OFF])
KEYED = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
# entity → (table, key col) its OFF is computed from
ENTITY_KEY = {
    "customer": ("customer", "c_custkey"),
    "supplier": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "orders": ("orders", "o_orderkey"),
    "events": ("events", "event_id"),
    "events_user": ("events", "user_id"),
    "documents": ("documents", "doc_id"),
    "embeddings": ("embeddings", "vec_id"),
}
DIMS = ["region", "nation"]


def _offsets(spark: SparkSession, src: str) -> dict[str, int]:
    """OFF(entity) = the smallest power of 10 strictly above the max key —
    round, deterministic, collision-free (key' = key + c*OFF)."""
    out = {}
    for ent, (tbl, col) in ENTITY_KEY.items():
        mx = (spark.read.parquet(os.path.join(src, f"{tbl}.parquet"))
              .agg(F.max(col)).collect()[0][0]) or 0
        off = 10
        while off <= mx:
            off *= 10
        out[ent] = off
    return out


def _rot_text(col: F.Column, c: int) -> F.Column:
    """Per-copy Caesar rotation over lowercase, uppercase AND digits
    (copy 0 = identity). All three classes rotate because char_shingles
    lowercases AFTER this transform — un-rotated uppercase or digit runs
    would survive normalization identical across copies and hand
    digit-heavy docs spurious cross-copy near-duplicates (the data
    artifact this module exists to avoid; punctuation/whitespace is the
    only residual invariant class). Digit rotation has period 10, hence
    the factor <= 10 guard in generate()."""
    if c == 0:
        return col
    low = string.ascii_lowercase
    up = string.ascii_uppercase
    dig = string.digits
    src = low + up + dig
    rot = (low[c:] + low[:c] + up[c:] + up[:c]
           + dig[c % 10:] + dig[:c % 10])
    return F.translate(col, src, rot)


def _one_copy(df: DataFrame, table: str, c: int,
              offs: dict[str, int]) -> DataFrame:
    for col, ent in KEYED.get(table, {}).items():
        # offset in long, then refuse (per row, inside the same scan) a key
        # its own column type cannot hold: a narrowing cast would wrap it
        # into another copy's key range with ANSI mode off
        dtype = dict(df.dtypes)[col]
        key = F.col(col).cast("long") + F.lit(c * offs[ent])
        bits = {"tinyint": 8, "smallint": 16, "int": 32}.get(dtype)
        if bits:
            key = F.when(
                ~key.between(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1),
                F.raise_error(F.lit(
                    f"gen_sf: {table}.{col} + {c * offs[ent]} does not fit "
                    f"{dtype}"))
            ).otherwise(key)  # a NULL key stays NULL
        df = df.withColumn(col, key.cast(dtype))
    if table == "documents":
        df = df.withColumn("text", _rot_text(F.col("text"), c))
    if table == "embeddings" and c > 0:
        # cyclic rotation by c: a permutation, hence orthogonal — norms and
        # within-copy dot products preserved exactly
        df = df.withColumn(
            "embedding",
            F.expr(f"concat(slice(embedding, size(embedding) - {c} + 1, {c}),"
                   f" slice(embedding, 1, size(embedding) - {c}))"))
    return df


def generate(spark: SparkSession, src: str, dst: str,
             factor: int = 10) -> None:
    if not 2 <= factor <= 10:
        # the per-copy rotations are injective only up to their period:
        # digits rotate with period 10 (copy 10 would be a digit-identity
        # copy → spurious cross-copy near-dups) and the embedding roll
        # must stay below the vector dim — 10 is also all the bench's
        # ratio measurement ever needs
        raise ValueError(f"gen_sf factor must be in [2, 10], got {factor}")
    os.makedirs(dst, exist_ok=True)
    offs = _offsets(spark, src)
    for table in DIMS + list(KEYED):
        path = os.path.join(src, f"{table}.parquet")
        out = os.path.join(dst, f"{table}.parquet")
        base = spark.read.parquet(path)
        if table in DIMS:
            scaled = base
        else:
            copies = [_one_copy(spark.read.parquet(path), table, c, offs)
                      for c in range(factor)]
            scaled = copies[0]
            for cp in copies[1:]:
                scaled = scaled.unionByName(cp)
        # file layout ~16 MB/partition at factor 10 on the biggest table —
        # small enough to parallelize local[32] scans, large enough to keep
        # scan setup out of the measurements
        n_parts = max(8, factor) if table not in DIMS else 1
        scaled.repartition(n_parts).write.mode("overwrite").parquet(out)
    with open(os.path.join(dst, "_GENERATED"), "w") as f:
        f.write(_marker(src, factor))


def _marker(src: str, factor: int) -> str:
    """Marker content = parameters + an md5 of this module's source: a
    stale /tmp dir (generated by an older gen_sf, a different source SF,
    or a different factor) must never silently feed the bench's sf1 ratio
    section as if it were the current 10× derivation — the same staleness
    defense fixtures._source_fingerprint gives the fixture cache."""
    import hashlib

    with open(os.path.abspath(__file__), "rb") as f:
        fp = hashlib.md5(f.read()).hexdigest()
    return f"src={src} factor={factor} gen_md5={fp}\n"


def ensure_sf1(spark: SparkSession,
               src: str = "/root/testdata/sf0.1",
               dst: str = "/tmp/spark_graft_testdata/sf1") -> str:
    """Generate once per machine; marker-gated WITH content validation
    (src + factor + generator fingerprint — regenerates on any mismatch).
    Returns the sf1 dir (its basename 'sf1' is what n_rows_for_sf_dir
    keys fixture scale off)."""
    marker_path = os.path.join(dst, "_GENERATED")
    want = _marker(src, 10)
    have = None
    if os.path.exists(marker_path):
        with open(marker_path) as f:
            have = f.read()
    if have != want:
        generate(spark, src, dst, factor=10)
    return dst


if __name__ == "__main__":
    from omnition_opentelemetry_service_spark.session import get_spark

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = (sys.argv[2] if len(sys.argv) > 2
           else "/tmp/spark_graft_testdata/sf1")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark(app_name="gen-sf")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, src, dst, factor)
    print(f"wrote {dst}")
    spark.stop()
