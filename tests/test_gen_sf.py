"""tools/gen_sf.py — the deterministic 10× scale-up behind the bench's
sf1 ratio measurements (BASELINE.md §"10× scale point"). The ratios are
only meaningful if the derivation preserves what it claims: per-copy
distributions exactly, FK fan-outs exactly, near-dup/ANN pair density
linearly. Generated at factor=2 from sf0.001 to keep the test cheap."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import gen_sf  # noqa: E402

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dst(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gensf") / "sf0.002")
    gen_sf.generate(spark, SRC, out, factor=2)
    return out


def test_counts_dims_fixed_facts_scaled(spark, dst):
    for t in gen_sf.DIMS:
        n0 = spark.read.parquet(f"{SRC}/{t}.parquet").count()
        n1 = spark.read.parquet(f"{dst}/{t}.parquet").count()
        assert n1 == n0, t
    for t in gen_sf.KEYED:
        n0 = spark.read.parquet(f"{SRC}/{t}.parquet").count()
        n1 = spark.read.parquet(f"{dst}/{t}.parquet").count()
        assert n1 == 2 * n0, t


def test_copy0_identity_and_key_disjointness(spark, dst):
    """Copy 0 is the source verbatim (strict-subset claim) and copy keys
    never collide; every lineitem still joins an order (fan-out exactly
    preserved)."""
    src = {tuple(r) for r in
           spark.read.parquet(f"{SRC}/orders.parquet").collect()}
    out = [tuple(r) for r in
           spark.read.parquet(f"{dst}/orders.parquet").collect()]
    assert src < set(out)
    keys = [r[0] for r in out]
    assert len(keys) == len(set(keys))
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{dst}/lineitem.parquet")
    od = spark.read.parquet(f"{dst}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"))
    assert li.join(od, "l_orderkey", "left_anti").count() == 0


def test_document_rotation_preserves_structure_and_decorrelates(spark, dst):
    """Per-copy Caesar rotation: length/n_chars preserved exactly, copy-0
    text identical to source, cross-copy texts differ (decorrelated
    shingles) unless the source text had no lowercase letters."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{dst}/documents.parquet")
    assert docs.filter(F.length("text") != F.col("n_chars")).count() == 0
    src = {r.doc_id: r.text for r in
           spark.read.parquet(f"{SRC}/documents.parquet").collect()}
    off = gen_sf._offsets(spark, SRC)["documents"]
    pairs = {r.doc_id: r.text for r in docs.collect()}
    diff = same = 0
    for did, text in src.items():
        assert pairs[did] == text  # copy 0 identity
        c1 = pairs[did + off]
        assert len(c1) == len(text)
        if c1 != text:
            diff += 1
        else:
            same += 1
            # identical across copies only when NOTHING rotatable exists
            assert not any(ch.isalnum() and ch.isascii() for ch in text)
    assert diff > same  # rotation actually decorrelates the corpus


def test_factor_guard_and_marker_staleness(spark, dst, tmp_path):
    """factor outside the rotations' injective range is rejected; a stale
    or mismatched _GENERATED marker forces regeneration (ensure_sf1 must
    never serve a dir produced by different parameters or an older
    generator as if it were the current derivation)."""
    with pytest.raises(ValueError, match="factor"):
        gen_sf.generate(spark, SRC, str(tmp_path / "x"), factor=11)
    with pytest.raises(ValueError, match="factor"):
        gen_sf.generate(spark, SRC, str(tmp_path / "x"), factor=1)
    out = str(tmp_path / "sf1")
    os.makedirs(out)
    with open(os.path.join(out, "_GENERATED"), "w") as f:
        f.write("src=somewhere-else factor=3 gen_md5=stale\n")
    got = gen_sf.ensure_sf1(spark, src=SRC, dst=out)
    assert got == out
    with open(os.path.join(out, "_GENERATED")) as f:
        assert f.read() == gen_sf._marker(SRC, 10)  # regenerated
    n0 = spark.read.parquet(f"{SRC}/documents.parquet").count()
    assert spark.read.parquet(f"{out}/documents.parquet").count() == 10 * n0


def test_embedding_rotation_is_orthogonal(spark, dst):
    """Cyclic rotation: copy-1 vectors are exact rolls of copy-0 vectors —
    norms and within-copy dot products preserved by construction."""
    import numpy as np

    emb = {r.vec_id: list(r.embedding) for r in
           spark.read.parquet(f"{dst}/embeddings.parquet").collect()}
    off = gen_sf._offsets(spark, SRC)["embeddings"]
    src_ids = [v for v in emb if v < off]
    for vid in src_ids[:20]:
        a = np.array(emb[vid])
        b = np.array(emb[vid + off])
        assert np.array_equal(b, np.roll(a, 1)), vid
        assert abs(float(a @ a) - float(b @ b)) < 1e-9


def test_generation_is_deterministic(spark, dst, tmp_path):
    """Same source, same factor → byte-identical logical content."""
    out2 = str(tmp_path / "again")
    gen_sf.generate(spark, SRC, out2, factor=2)
    a = sorted(tuple(r) for r in
               spark.read.parquet(f"{dst}/documents.parquet").collect())
    b = sorted(tuple(r) for r in
               spark.read.parquet(f"{out2}/documents.parquet").collect())
    assert a == b


def test_key_offset_refuses_an_overflowing_key(spark):
    """A 32-bit key whose offset value no longer fits its column must fail
    loudly, never wrap into a colliding key — also with ANSI mode off,
    where a plain cast wraps silently. Keys that fit keep their dtype."""
    df = spark.createDataFrame([(7,), (None,), (2_000_000_000,)],
                               "c_custkey int")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        out = gen_sf._one_copy(df, "customer", 1, {"customer": 10**9})
        assert dict(out.dtypes)["c_custkey"] == "int"
        with pytest.raises(Exception, match="does not fit"):
            out.collect()
        fits = gen_sf._one_copy(df.filter("c_custkey < 100 OR c_custkey "
                                          "IS NULL"), "customer", 1,
                                {"customer": 10**9})
        assert sorted(fits.collect(), key=str) == [(1_000_000_007,), (None,)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
