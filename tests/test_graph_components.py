"""Connected components (operators/graph.py): value parity of the numpy
kernel and of the Spark operator against a DuckDB recursive-CTE oracle,
composition into the near-dup keep-list, and the job-count /
cache-lifecycle contracts."""

from __future__ import annotations

import duckdb
import hypothesis.strategies as st
import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark.operators import dedup as dd
from omnition_opentelemetry_service_spark.operators import graph
from omnition_opentelemetry_service_spark.sources.loader import load

SF = "/root/testdata/sf0.001"


def test_components_hand_graph(spark):
    # two chains and a triangle: {1,2,3,4} {10,11} {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    got = {r.id: r.comp for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_components_match_duckdb_on_real_near_dups(spark):
    """Edges = the registry's verified near-dup pairs at sf0.001; labels
    must match DuckDB's recursive-CTE fixed point value-for-value."""
    docs = dd.with_minhash(load(spark, SF, "documents")).persist()
    pairs = dd.jaccard_verify(dd.minhash_candidates(docs), docs,
                              threshold=0.3).persist()
    assert pairs.count() > 0  # non-vacuous: the fixture has near-dups
    comp = graph.connected_components(pairs)
    got = sorted((r.id, r.comp) for r in comp.collect())

    edge_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    con = duckdb.connect()
    vals = ", ".join(f"({a}, {b})" for a, b in edge_rows)
    oracle = con.execute(graph.components_sql_duck(
        f"SELECT * FROM (VALUES {vals}) AS t(id_a, id_b)")).fetchall()
    assert got == sorted(oracle)
    spark.catalog.clearCache()


def test_components_release_their_caches(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out = graph.connected_components(edges)
    out.count()
    out.unpersist()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


def test_long_chain_converges_with_shortcut(spark):
    """A 200-node path is the adversarial near-dup chain: pointer doubling
    collapses it in O(log d) rounds, where pure propagation would need
    200."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long")
    got = graph.connected_components(edges)
    assert got.count() == 201
    assert got.filter(F.col("comp") != 0).count() == 0


def _duck_components(src: np.ndarray, dst: np.ndarray) -> list:
    con = duckdb.connect()
    con.register("e", pa.table({"id_a": pa.array(src, pa.int64()),
                                "id_b": pa.array(dst, pa.int64())}))
    return sorted(con.execute(graph.components_sql_duck(
        "SELECT id_a, id_b FROM e")).fetchall())


_PATH = [(i, i + 1) for i in range(200)]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.lists(st.tuples(st.integers(-5, 40), st.integers(-5, 40)),
                max_size=40))
@example([])                                  # no edges
@example([(1, 2), (1, 2), (1, 2)])            # duplicate edges
@example([(1, 2), (2, 1), (3, 4), (4, 3)])    # both orientations
@example([(5, 5), (6, 6), (6, 7)])            # self-loops
@example(_PATH)                               # the 200-node path
@example(_PATH[::-1])                         # ... listed from the far end
def test_label_components_match_duckdb(edges):
    """The numpy kernel alone (no Spark per example) reaches the same
    (id, min reachable id) fixed point as the recursive-CTE oracle."""
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    ids, comp = graph.label_components(src, dst)
    assert sorted(zip(ids.tolist(), comp.tolist())) == \
        _duck_components(src, dst)


def test_no_verified_pairs_every_doc_keeps_itself(spark):
    docs = load(spark, SF, "documents")
    none = spark.createDataFrame([], "id_a long, id_b long")
    keep = graph.near_dup_keep_list(docs, none)
    assert keep.columns == docs.columns + ["keeper", "keep"]
    rows = keep.select("doc_id", "keeper", "keep").collect()
    assert len(rows) == docs.count() > 0
    assert all(r.keep and r.keeper == r.doc_id for r in rows)


def _keep_list_jobs(spark, pairs: list) -> tuple[int, int]:
    """Spark jobs started (building the keep-list, then also consuming
    it) for ``pairs`` over docs 0..299, counted by job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"near_dup_keep_list_jobs_{len(pairs)}"
    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    sc.setJobGroup(group, "job-count test")
    try:
        keep = graph.near_dup_keep_list(docs, edges)
        built = len(tracker.getJobIdsForGroup(group))
        assert keep.filter("keep").count() == 300 - len(pairs)
        return built, len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_near_dup_keep_list_runs_a_constant_number_of_jobs(spark):
    """The cluster collapse is one Arrow collect of the edge list, however
    long the chains: building the keep-list starts ONE Spark job, and the
    whole build + count costs the same small number of jobs for one pair
    as for the 200-node path."""
    built, total = _keep_list_jobs(spark, _PATH)
    assert built == 1
    assert total <= 4, total
    assert _keep_list_jobs(spark, [(7, 8)]) == (built, total)


def test_near_dup_keep_list_one_keeper_per_cluster(spark):
    docs = dd.with_minhash(load(spark, SF, "documents")).persist()
    pairs = dd.jaccard_verify(dd.minhash_candidates(docs), docs,
                              threshold=0.3).persist()
    keep = graph.near_dup_keep_list(load(spark, SF, "documents"), pairs)
    # every doc is scored exactly once
    assert keep.count() == load(spark, SF, "documents").count()
    # exactly one keeper per component, and it keeps itself
    per_cluster = keep.groupBy("keeper").agg(
        F.sum(F.col("keep").cast("int")).alias("n_kept"))
    assert per_cluster.filter(F.col("n_kept") != 1).count() == 0
    # chains collapse: a component's every member points at the same keeper
    multi = keep.groupBy("keeper").count().filter(F.col("count") > 1)
    assert multi.count() > 0  # fixture really has clusters
    spark.catalog.clearCache()
