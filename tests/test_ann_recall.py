"""ANN quality contract: recall@k of every approximate index vs the exact
scan, with pinned floors a regression would trip (VERDICT r2 ask 7).

Two data regimes, both pinned:

- **Planted clusters** (structure an index SHOULD exploit): recall ≥ 0.9
  floors are meaningful here — a bucketing/probing bug drops them.
- **Fixture embeddings** (measured structureless: max pairwise cosine
  0.479, median top-1 neighbor cosine 0.36 at sf0.001 — i.i.d.-random-like,
  so ANY partitioning index's recall ≈ its candidate fraction; the curse
  of dimensionality, not an index bug): floors are pinned at
  measured-minus-margin and the CURVE contracts (more probes → more
  recall; probe-everything → exact) are the real invariants.
"""

from __future__ import annotations

import numpy as np
import pytest

from omnition_opentelemetry_service_spark.operators import pq
from omnition_opentelemetry_service_spark.operators import similarity as sim
from omnition_opentelemetry_service_spark.sources.loader import load

SF_DIR = "/root/testdata/sf0.001"
K = 5
NQ = 8


@pytest.fixture(scope="module")
def emb(spark):
    df = load(spark, SF_DIR, "embeddings").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def exact(emb):
    return sim.brute_force_topk_pandas(emb, n_queries=NQ, k=K).persist()


@pytest.fixture(scope="module")
def planted(spark):
    rows = []
    for c in range(4):
        for i in range(40):
            vec = [0.0] * 64
            for d in range(16):
                vec[c * 16 + d] = 1.0 + 0.01 * ((i * 7 + d) % 5)
            rows.append((c * 40 + i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = df.persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def planted_exact(planted):
    return sim.brute_force_topk_pandas(planted, n_queries=NQ, k=K).persist()


# -- planted structure: the ≥0.9 floors ---------------------------------------
def test_planted_lsh_recall_floor(planted, planted_exact):
    r = sim.recall_at_k(
        sim.lsh_ann_topk_multiprobe(planted, NQ, K, radius=0), planted_exact)
    assert r >= 0.9, f"planted lsh recall {r}"


def test_planted_ivf_recall_floor(planted, planted_exact):
    r = sim.recall_at_k(
        sim.ivf_ann_topk(planted, NQ, K, nprobe=1), planted_exact)
    assert r >= 0.9, f"planted ivf nprobe=1 recall {r}"


def test_planted_ivf_pq_recall_floor(spark, planted):
    """IVF-PQ vs an independent exact-L2 numpy oracle on planted data —
    the compressed-domain index must keep ≥ 0.9 of true neighbors."""
    from omnition_opentelemetry_service_spark.operators import kmeans as km

    rows = planted.collect()  # 160 rows — test-only oracle
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows])
    queries = [(int(i), [float(x) for x in mat[j]])
               for j, i in enumerate(ids) if i < NQ]
    exact_pairs = set()
    for qid, vec in queries:
        d = ((mat - np.array(vec)) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        top = [int(ids[j]) for j in order if ids[j] != qid][:K]
        exact_pairs.update((qid, n) for n in top)

    cents, _ = km.kmeans_train(planted, k=4, max_iter=5, metric="l2")
    books = pq.pq_train(planted, m=8, k=8, max_iter=4)
    got = {(r.query_id, r.id) for r in pq.ivf_pq_topk(
        planted, queries, cents, books, k=K, nprobe=2).collect()}
    # 0.75, not 0.9: the planted intra-cluster margins (~1e-4 L2²) sit
    # BELOW the quantization cell size at every codebook size measured
    # (k_codes 8/16/32 all give 0.8), so the missing pairs are ADC ties
    # resolved by id — inherent to compressed-domain ranking, not a bug.
    # The 1.0-granularity contract is cluster membership, asserted below
    # (and pruning exactness is pinned separately in test_pq).
    r = len(exact_pairs & got) / len(exact_pairs)
    assert r >= 0.75, f"planted ivf_pq recall vs exact-L2 {r}"
    cluster = {int(i): int(i) // 40 for i in ids}
    assert all(cluster[q] == cluster[n] for q, n in got), \
        "ivf_pq pulled a neighbor from another planted cluster"


# -- fixture distribution: measured floors + curve contracts -------------------
def test_fixture_ivf_recall_curve(emb, exact):
    """More probes → monotonically more recall; probe-everything → exact.
    Absolute floors are measured-minus-margin on the structureless fixture
    (nprobe=2 measured 0.55, nprobe=4 measured 0.875 at sf0.001)."""
    nlist = sim.ivf_centroids(emb).count()
    r2 = sim.recall_at_k(sim.ivf_ann_topk(emb, NQ, K, nprobe=2), exact)
    r4 = sim.recall_at_k(sim.ivf_ann_topk(emb, NQ, K, nprobe=4), exact)
    rall = sim.recall_at_k(
        sim.ivf_ann_topk(emb, NQ, K, nprobe=nlist), exact)
    assert r2 >= 0.45, f"ivf nprobe=2 recall {r2}"
    assert r4 >= 0.75, f"ivf nprobe=4 recall {r4}"
    assert r2 <= r4 <= rall == 1.0, (r2, r4, rall)


def test_fixture_multiprobe_lsh_recall_curve(emb, exact):
    """Multi-probe radius is the LSH recall knob: strictly monotone on the
    fixture, with measured floors (r1 0.15, r2 0.35, r3 0.675)."""
    r0 = sim.recall_at_k(
        sim.lsh_ann_topk_multiprobe(emb, NQ, K, radius=0), exact)
    r2 = sim.recall_at_k(
        sim.lsh_ann_topk_multiprobe(emb, NQ, K, radius=2), exact)
    r3 = sim.recall_at_k(
        sim.lsh_ann_topk_multiprobe(emb, NQ, K, radius=3), exact)
    assert r0 <= r2 <= r3, (r0, r2, r3)
    assert r2 >= 0.25, f"multiprobe r=2 recall {r2}"
    assert r3 >= 0.5, f"multiprobe r=3 recall {r3}"


def test_multiprobe_radius0_equals_plain_lsh(emb):
    a = sorted(map(tuple, sim.lsh_ann_topk(emb, NQ, K).collect()))
    b = sorted(map(tuple,
                   sim.lsh_ann_topk_multiprobe(emb, NQ, K, radius=0).collect()))
    assert a == b


def test_multiprobe_rejects_bad_radius(emb):
    with pytest.raises(ValueError, match="radius"):
        sim.lsh_ann_topk_multiprobe(emb, NQ, K, radius=-1)
    with pytest.raises(ValueError, match="radius"):
        sim.lsh_ann_topk_multiprobe(emb, NQ, K, n_planes=8, radius=9)


def test_scanned_fraction_exact_on_hand_built_keys(spark):
    """(3 rows in key a, 2 in b); q0 probes {a} and lives in a — scans the
    2 OTHER a-rows of 4 non-self rows = 0.5. q-pair probing everything = 1."""
    corpus = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("b",)], "key string")
    probes = spark.createDataFrame([(0, "a")], "query_id long, key string")
    assert sim._scanned_fraction(probes, corpus, n_queries=1) == 0.5
    both = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "a"), (1, "b")], "query_id long, key string")
    assert sim._scanned_fraction(both, corpus, n_queries=2) == 1.0


def test_candidate_fraction_curves(emb, exact):
    """Cost side of the quality contract: fraction grows with probes and
    reaches exactly 1.0 when everything is probed; recall/fraction (lift)
    must beat random even on the structureless fixture — the index
    concentrates true neighbors into its candidates."""
    nlist = sim.ivf_centroids(emb).count()
    f1 = sim.ivf_candidate_fraction(emb, NQ, nprobe=1)
    f2 = sim.ivf_candidate_fraction(emb, NQ, nprobe=2)
    fall = sim.ivf_candidate_fraction(emb, NQ, nprobe=nlist)
    assert 0 < f1 <= f2 <= fall == 1.0, (f1, f2, fall)
    l0 = sim.lsh_candidate_fraction(emb, NQ, radius=0)
    l2 = sim.lsh_candidate_fraction(emb, NQ, radius=2)
    lall = sim.lsh_candidate_fraction(emb, NQ, radius=sim.LSH_PLANES)
    assert 0 < l0 <= l2 <= lall == 1.0, (l0, l2, lall)
    # lift: ivf nprobe=2 measured 0.55 recall at ~0.17 scan on sf0.001
    r2 = sim.recall_at_k(sim.ivf_ann_topk(emb, NQ, K, nprobe=2), exact)
    assert r2 / f2 > 1.5, f"ivf lift {r2}/{f2}"


def test_recall_at_k_contract(spark, emb, exact):
    assert sim.recall_at_k(exact, exact) == 1.0
    empty = exact.filter("query_id < 0")
    assert sim.recall_at_k(empty, exact) == 0.0
    with pytest.raises(ValueError, match="empty"):
        sim.recall_at_k(exact, empty)


# -- target-driven probe depth (VERDICT r4 ask #3) ----------------------------
def test_choose_nprobe_planted_hits_recall_target(planted):
    """Planted structure: nprobe=1 already reads >= 0.9 (floor test above),
    so a 0.9 target must be met at the shallowest schedule point."""
    out = sim.choose_ivf_nprobe(planted, n_queries=NQ, k=K,
                                target_recall=0.9)
    assert out["met"] and out["recall"] >= 0.9
    assert out["nprobe"] == 1
    assert out["curve"][0]["nprobe"] == 1  # auditable curve ships


def test_choose_nprobe_scan_budget_deepest_under_cap(emb):
    """Scan-budget mode: the chosen point is the deepest sampled nprobe
    whose measured fraction stays under the cap, and the cap is honored."""
    f1 = sim.ivf_candidate_fraction(emb, NQ, nprobe=1)
    f2 = sim.ivf_candidate_fraction(emb, NQ, nprobe=2)
    cap = (f1 + f2) / 2  # between the first two curve points
    out = sim.choose_ivf_nprobe(emb, n_queries=NQ, k=K, max_scan_frac=cap)
    assert out["met"] and out["nprobe"] == 1
    assert out["scan_frac"] <= cap
    # the curve shows WHY it stopped: the next point blew the cap
    assert out["curve"][-1]["scan_frac"] > cap


def test_choose_nprobe_unreachable_target_reports_met_false(emb):
    """Structureless fixture, max_nprobe=1 (~1/6 of the corpus scanned):
    a 0.999 recall target is unreachable — the helper must say so (met
    False) while still returning the best measured point, never invent an
    unmeasured answer."""
    out = sim.choose_ivf_nprobe(emb, n_queries=NQ, k=K,
                                target_recall=0.999, max_nprobe=1)
    assert not out["met"]
    assert out["nprobe"] == 1 and out["recall"] < 0.999


def test_choose_nprobe_full_depth_reaches_exact(emb):
    """With no cap the schedule ends at nprobe=nlist (a full scan): any
    target <= 1.0 is eventually met and the final point's recall is 1.0."""
    out = sim.choose_ivf_nprobe(emb, n_queries=NQ, k=K, target_recall=1.0)
    assert out["met"] and out["recall"] == 1.0
    assert out["curve"][-1]["scan_frac"] == 1.0
    # monotone cost curve: scan fraction non-decreasing along the schedule
    fracs = [p["scan_frac"] for p in out["curve"]]
    assert fracs == sorted(fracs)


def test_choose_nprobe_requires_a_budget(emb):
    with pytest.raises(ValueError, match="budget"):
        sim.choose_ivf_nprobe(emb, n_queries=NQ, k=K)


def test_choose_nprobe_leaves_a_disk_only_caller_cache(spark):
    """A corpus the CALLER persisted belongs to the caller whatever its
    storage level: a DISK_ONLY cache must still be there afterwards. (The
    filter gives it a plan of its own: the cache manager would otherwise
    match the module's MEMORY_AND_DISK `emb` cache.)"""
    from pyspark import StorageLevel

    df = (load(spark, SF_DIR, "embeddings").filter("vec_id >= 0")
          .persist(StorageLevel.DISK_ONLY))
    df.count()
    try:
        sim.choose_ivf_nprobe(df, n_queries=NQ, k=K, target_recall=0.0,
                              max_nprobe=1)
        assert df.storageLevel == StorageLevel.DISK_ONLY
    finally:
        df.unpersist()


def test_choose_nprobe_compares_raw_recall(planted, monkeypatch):
    """The point that meets the target is the one returned, even when its
    recall rounds (3 decimals) to the same value as a weaker earlier
    point's: 0.8996 and 0.9001 both print as 0.9, only the second meets
    a 0.9 target."""
    raw = iter([0.8996, 0.9001])
    monkeypatch.setattr(sim, "ivf_ann_topk", lambda *a, **kw: None)
    monkeypatch.setattr(sim, "recall_at_k", lambda *a: next(raw))
    monkeypatch.setattr(sim, "ivf_candidate_fraction", lambda *a, **kw: 0.5)
    out = sim.choose_ivf_nprobe(planted, n_queries=NQ, k=K,
                                target_recall=0.9)
    assert [p["nprobe"] for p in out["curve"]] == [1, 2]
    assert out["met"] and out["nprobe"] == 2
