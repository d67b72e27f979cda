import networkx as nx
import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.triangles import (
    avg_local_clustering_coefficient, global_clustering_coefficient,
    global_triangle_count, local_clustering_coefficients, triangle_counts,
    triangle_edge_scores, triangle_list,
)
from networkit_spark.sources.generators import rmat_edges
from tests.conftest import K4_EDGES, P4_EDGES, PR8_EDGES, job_counts
from tests.oracles import lcc_ref, triangles_ref


def _vals(df, col, n):
    rows = {r["id"]: r[col] for r in df.collect()}
    return np.array([rows[i] for i in range(n)])


def test_k4_goldens(spark):
    g = Graph.from_rows(spark, K4_EDGES, directed=False)
    assert global_triangle_count(g) == 4
    assert _vals(triangle_counts(g), "triangles", 4).tolist() == [3, 3, 3, 3]
    edge_scores = triangle_edge_scores(g).collect()
    assert all(r["triangles"] == 2 for r in edge_scores) and len(edge_scores) == 6
    assert np.allclose(_vals(local_clustering_coefficients(g), "lcc", 4), 1.0)
    assert abs(global_clustering_coefficient(g) - 1.0) < 1e-12


def test_p4_no_triangles(spark):
    g = Graph.from_rows(spark, P4_EDGES, directed=False)
    assert global_triangle_count(g) == 0
    assert _vals(triangle_counts(g), "triangles", 4).tolist() == [0, 0, 0, 0]


def test_pr8_hand_counted(spark):
    g = Graph.from_rows(spark, PR8_EDGES, directed=False)
    tri, total = triangles_ref(PR8_EDGES, 8)
    assert global_triangle_count(g) == total == 2
    assert _vals(triangle_counts(g), "triangles", 8).tolist() == tri.tolist()
    assert np.allclose(_vals(local_clustering_coefficients(g), "lcc", 8),
                       lcc_ref(PR8_EDGES, 8))


def test_karate_vs_oracle(spark, karate):
    edges, n = karate
    g = Graph.from_rows(spark, edges, directed=False)
    tri, total = triangles_ref(edges, n)
    assert global_triangle_count(g) == total
    assert _vals(triangle_counts(g), "triangles", n).tolist() == tri.tolist()
    assert np.allclose(_vals(local_clustering_coefficients(g), "lcc", n),
                       lcc_ref(edges, n))


def test_multi_edges_and_self_loops_ignored(spark):
    # duplicate edges + self loops must not inflate counts
    edges = K4_EDGES + [(0, 1), (1, 0), (2, 2)]
    g = Graph.from_rows(spark, edges, directed=False)
    assert global_triangle_count(g) == 4


def test_quadrangle_scores_trivial(spark):
    """ChibaNishizekiQuadrangleEdgeScoreGTest.cpp:16-36 (C4)."""
    from networkit_spark.operators.triangles import quadrangle_edge_scores
    g = Graph.from_rows(spark, [(0, 1), (0, 2), (1, 3), (2, 3)],
                        directed=False)
    got = {(r["lo"], r["hi"]): r["quadrangles"]
           for r in quadrangle_edge_scores(g).collect()}
    assert got == {(0, 1): 1, (0, 2): 1, (1, 3): 1, (2, 3): 1}


def test_quadrangle_scores_simple(spark):
    """ChibaNishizekiQuadrangleEdgeScoreGTest.cpp:38-76 (7-node)."""
    from networkit_spark.operators.triangles import quadrangle_edge_scores
    edges = [(0, 1), (0, 3), (0, 4), (0, 6), (1, 2), (1, 3), (2, 3),
             (3, 5), (3, 6), (4, 5)]
    g = Graph.from_rows(spark, edges, directed=False)
    got = {(r["lo"], r["hi"]): r["quadrangles"]
           for r in quadrangle_edge_scores(g).collect()}
    assert got == {(0, 1): 2, (0, 3): 2, (0, 4): 1, (0, 6): 1,
                   (1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 5): 1,
                   (3, 6): 1, (4, 5): 1}


# ---- hermetic exactness on skewed inputs, plan cost, cached tables --------

def test_networkx_karate_vs_nx(spark):
    """networkx's karate club graph against ``nx.triangles`` (45 in
    total) and the common-neighbour count of every edge."""
    kg = nx.karate_club_graph()
    g = Graph.from_rows(spark, list(kg.edges()), directed=False)
    assert global_triangle_count(g) == sum(nx.triangles(kg).values()) // 3 == 45
    assert _vals(triangle_counts(g), "triangles", 34).tolist() == [
        nx.triangles(kg)[i] for i in range(34)]
    got = {(r["lo"], r["hi"]): r["triangles"]
           for r in triangle_edge_scores(g).collect()}
    assert got == {(min(u, v), max(u, v)): len(set(kg[u]) & set(kg[v]))
                   for u, v in kg.edges()}


RMAT9_N = 1 << 9  # ids 0..511 from R-MAT; id 512 is isolated


@pytest.fixture(scope="module")
def rmat9_rows(spark):
    """Hub-skewed R-MAT-9 edge rows, stored with reversed duplicates and
    self-loops."""
    rows = sorted((r["src"], r["dst"])
                  for r in rmat_edges(spark, 9, edge_factor=8, seed=3).collect())
    return rows + [(v, u) for u, v in rows[::3]] + [(0, 0), (7, 7), (511, 511)]


def _rmat9(spark, rows):
    """A fresh graph over ``rows`` whose explicit vertex table adds an
    isolated vertex."""
    edges = spark.createDataFrame(rows, "src long, dst long")
    return Graph(edges, directed=False, vertices=spark.range(RMAT9_N + 1))


def _neighbours(rows):
    nbrs = {}
    for u, v in rows:
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    return nbrs


def test_rmat9_counts_and_edge_scores_vs_oracle(spark, rmat9_rows):
    rows = rmat9_rows
    g = _rmat9(spark, rows)
    tri, total = triangles_ref(rows, RMAT9_N + 1)
    assert total > 100 and tri[RMAT9_N] == 0
    counts = {r["id"]: r["triangles"] for r in triangle_counts(g).collect()}
    assert counts == dict(enumerate(tri.tolist()))
    assert global_triangle_count(g) == total
    nbrs = _neighbours(rows)
    got = {(r["lo"], r["hi"]): r["triangles"]
           for r in triangle_edge_scores(g).collect()}
    assert got == {(min(u, v), max(u, v)): len(nbrs[u] & nbrs[v])
                   for u, v in rows if u != v}


def test_triangle_list_corners_in_orientation_order(spark, rmat9_rows):
    rows = rmat9_rows
    rank = {u: (len(s), u) for u, s in _neighbours(rows).items()}
    tris = triangle_list(_rmat9(spark, rows)).collect()
    assert len(tris) == triangles_ref(rows, RMAT9_N + 1)[1]
    assert all(rank[r["a"]] < rank[r["b"]] < rank[r["c"]] for r in tris)


def test_triangle_counts_job_count_and_no_cached_tables(spark, rmat9_rows):
    """One ``triangle_counts`` write on a graph no earlier call has seen
    is a handful of Spark jobs (one per shuffle plus the write; a
    re-planned self-join shows up here as many more) and leaves no cached
    table behind."""
    g = _rmat9(spark, rmat9_rows)
    sc = spark.sparkContext
    persistent = sc._jsc.sc().getPersistentRDDs
    base = persistent().size()
    sc.setJobGroup("tri-jobs", "tri-jobs")
    try:
        triangle_counts(g).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= job_counts(sc, ["tri-jobs"])["tri-jobs"] <= 8
    assert persistent().size() == base
