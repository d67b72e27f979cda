"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: PageRank over the customer→supplier link
graph derived from sf0.001, returned as a ranking (reference
Centrality::ranking order).

``queries()`` — one entry per implemented operator family (SURVEY.md §2 +
the training-data pipeline ops); each callable takes (spark, sf_dir) and
returns a DataFrame.

``oracle_sql()`` — DuckDB-runnable ANSI SQL twin for each query. Hash
parity rules used throughout (see networkit_spark.functions docstrings):
  - every float output is ROUND(x, 6) emitted as DOUBLE on BOTH sides —
    rounded float64 bit patterns agree across engines, whereas DECIMAL
    reaches the comparison as Decimal objects on the Spark side but
    float64 on the DuckDB side and hash-mismatches despite equal values;
  - every hash is md5-derived (identical in Spark and DuckDB);
  - iterative kernels are run for a FIXED iteration count on both sides
    (deterministic trajectories; the convergence-driven variants are the
    library defaults and are pytest-verified against NumPy oracles).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from networkit_spark.functions import dedup as D
from networkit_spark.functions import similarity as S
from networkit_spark.functions import text as T
from networkit_spark.graph import Graph
from networkit_spark.operators.components import connected_components, component_sizes
from networkit_spark.operators.lpa import label_propagation, modularity
from networkit_spark.operators.pagerank import pagerank, ranking
from networkit_spark.operators.triangles import (
    local_clustering_coefficients, triangle_counts, triangle_list,
)
from networkit_spark.sources.generators import rmat_repos
from networkit_spark.sources.repos import graph_from_repos
from networkit_spark.sources import tpch_graph as TG

def _r6(col) -> F.Column:
    """Canonical float output: round to 6 decimals, stay DOUBLE."""
    return F.round(col.cast("double"), 6)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: customer/supplier PageRank ranking at sf0.001."""
    g = TG.graph_customer_supplier(spark, "/root/testdata/sf0.001")
    pr = pagerank(g, damp=0.85, tol=1e-6)
    return ranking(pr).select("id", _r6(F.col("rank")).alias("rank"))


# ---------------------------------------------------------------------------
# graph queries (Spark side)
# ---------------------------------------------------------------------------

def q_edges_cs(spark, sf_dir):
    return TG.edges_customer_supplier(spark, sf_dir).select(
        "src", "dst", F.col("weight").cast("double").alias("weight"))


def q_degrees_cs(spark, sf_dir):
    from networkit_spark.operators.degrees import out_degrees
    g = TG.graph_customer_supplier(spark, sf_dir)
    return out_degrees(g)


def q_wdegrees_cs(spark, sf_dir):
    from networkit_spark.operators.degrees import weighted_out_degrees
    g = TG.graph_customer_supplier(spark, sf_dir)
    return weighted_out_degrees(g).select("id", F.col("wdeg").cast("double").alias("wdeg"))


def q_pagerank_cs_k10(spark, sf_dir):
    g = TG.graph_customer_supplier(spark, sf_dir)
    pr = pagerank(g, damp=0.85, fixed_iters=10)
    return pr.select("id", _r6(F.col("rank")).alias("rank"))


def q_cc_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return connected_components(g, algorithm="minlabel")


def q_cc_star_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return connected_components(g, algorithm="star")


def q_cc_sizes_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return component_sizes(connected_components(g))


def q_triangles_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return triangle_counts(g)


def q_global_triangles_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return triangle_list(g).agg(F.count(F.lit(1)).alias("triangles"))


def q_lcc_pp(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return local_clustering_coefficients(g).select(
        "id", _r6(F.col("lcc")).alias("lcc"))


def q_lpa_pp_k4(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    return label_propagation(g, theta=-1, max_iter=4)


def q_modularity_pp_lpa4(spark, sf_dir):
    g = TG.graph_part_part(spark, sf_dir)
    labels = label_propagation(g, theta=-1, max_iter=4)
    m = modularity(g, labels)
    return spark.createDataFrame([(m,)], "modularity double").select(
        _r6(F.col("modularity")).alias("modularity"))


def q_supplier_common_customers(spark, sf_dir):
    e = TG.edges_customer_supplier(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("s1"), F.col("b.dst").alias("s2"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )


def q_supplier_jaccard(spark, sf_dir):
    e = TG.edges_customer_supplier(spark, sf_dir).select("src", "dst")
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .groupBy(F.col("a.dst").alias("s1"), F.col("b.dst").alias("s2"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    return (
        common.join(deg.withColumnRenamed("dst", "s1")
                    .withColumnRenamed("deg", "d1"), "s1")
        .join(deg.withColumnRenamed("dst", "s2")
              .withColumnRenamed("deg", "d2"), "s2")
        .select("s1", "s2",
                _r6(F.col("common") / (F.col("d1") + F.col("d2") - F.col("common"))
                    ).alias("jaccard"))
    )


def q_supplier_adamic_adar(spark, sf_dir):
    e = TG.edges_customer_supplier(spark, sf_dir).select("src", "dst")
    cdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("cdeg"))
    a, b = e.alias("a"), e.alias("b")
    wedges = (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .select(F.col("a.src").alias("c"), F.col("a.dst").alias("s1"),
                F.col("b.dst").alias("s2"))
    )
    return (
        wedges.join(cdeg.withColumnRenamed("src", "c"), "c")
        .filter(F.col("cdeg") >= 2)
        .groupBy("s1", "s2")
        .agg(_r6(F.sum(1.0 / F.log("cdeg"))).alias("aa"),
             F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
        .select("s1", "s2", "aa")
    )


def q_supplier_resource_alloc(spark, sf_dir):
    """ResourceAllocation over the supplier projection (Σ 1/deg(c) for
    shared customers c, restricted to pairs with >= 2 shared)."""
    e = TG.edges_customer_supplier(spark, sf_dir).select("src", "dst")
    cdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("cdeg"))
    a, b = e.alias("a"), e.alias("b")
    wedges = (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.dst") < F.col("b.dst")))
        .select(F.col("a.src").alias("c"), F.col("a.dst").alias("s1"),
                F.col("b.dst").alias("s2"))
    )
    return (
        wedges.join(cdeg.withColumnRenamed("src", "c"), "c")
        .groupBy("s1", "s2")
        .agg(_r6(F.sum(1.0 / F.col("cdeg"))).alias("ra"),
             F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
        .select("s1", "s2", "ra")
    )


def q_coarsen_cs_by_nation(spark, sf_dir):
    """Contract the customer side by nation (ParallelPartitionCoarsening
    shape): (nation, supplier, weight)."""
    e = TG.edges_customer_supplier(spark, sf_dir)
    cust = TG.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("src"), F.col("c_nationkey").alias("nation"))
    return (
        e.join(cust, "src")
        .groupBy(F.col("nation").cast("long").alias("nation"),
                 F.col("dst").alias("supplier"))
        .agg(F.sum("weight").cast("double").alias("weight"))
    )


def q_assortativity_pp(spark, sf_dir):
    from networkit_spark.operators.degrees import assortativity
    g = TG.graph_part_part(spark, sf_dir)
    r = assortativity(g)
    return spark.createDataFrame([(r,)], "assortativity double").select(
        _r6(F.col("assortativity")).alias("assortativity"))


def q_bfs_cs_d6(spark, sf_dir):
    """BFS (≤6 hops) over the undirected cs graph from the smallest
    customer id; unreachable -> NULL."""
    from networkit_spark.operators.distances import bfs
    src = TG.load(spark, sf_dir, "customer").agg(
        F.min("c_custkey")).collect()[0][0]
    g = TG.graph_customer_supplier(spark, sf_dir)
    und = Graph(g.edges, directed=False, weighted=True,
                vertices=g.vertices)
    return bfs(und, source=int(src), max_depth=6)


def q_eigen_pp_k8(spark, sf_dir):
    from networkit_spark.operators.centrality import eigenvector_centrality
    g = TG.graph_part_part(spark, sf_dir)
    return eigenvector_centrality(g, fixed_iters=8).select(
        "id", _r6(F.col("score")).alias("score"))


def q_katz_pp_k8(spark, sf_dir):
    from networkit_spark.operators.centrality import katz_centrality
    g = TG.graph_part_part(spark, sf_dir)
    return katz_centrality(g, alpha=0.01, beta=0.1, fixed_iters=8).select(
        "id", _r6(F.col("score")).alias("score"))


def q_sssp_cs(spark, sf_dir):
    """Weighted SSSP (Bellman-Ford supersteps) on the undirected cs
    graph from the smallest customer; unreachable -> NULL."""
    from networkit_spark.operators.distances import sssp
    src = TG.load(spark, sf_dir, "customer").agg(
        F.min("c_custkey")).collect()[0][0]
    g = TG.graph_customer_supplier(spark, sf_dir)
    und = Graph(g.edges, directed=False, weighted=True, vertices=g.vertices)
    out = sssp(und, source=int(src))
    return out.select("id", _r6(F.col("dist")).alias("dist"))


def q_kcore_pp(spark, sf_dir):
    from networkit_spark.operators.kcore import core_decomposition
    g = TG.graph_part_part(spark, sf_dir)
    return core_decomposition(g)


def q_nf_pp_h3(spark, sf_dir):
    from networkit_spark.operators.distances import neighborhood_function
    g = TG.graph_part_part(spark, sf_dir)
    return neighborhood_function(g, 3)


def q_sparsify_jaccard_pp(spark, sf_dir):
    from networkit_spark.operators.sparsification import jaccard_edge_scores
    g = TG.graph_part_part(spark, sf_dir)
    return (
        jaccard_edge_scores(g)
        .filter(F.col("score") >= 0.08)
        .select("lo", "hi", _r6(F.col("score")).alias("score"))
    )


def q_sparsify_scan_pp(spark, sf_dir):
    from networkit_spark.operators.sparsification import scan_scores
    g = TG.graph_part_part(spark, sf_dir)
    return scan_scores(g).select("lo", "hi", _r6(F.col("score")).alias("score"))


def q_sparsify_local_degree_pp(spark, sf_dir):
    from networkit_spark.operators.sparsification import local_degree_scores
    g = TG.graph_part_part(spark, sf_dir)
    return local_degree_scores(g).select(
        "lo", "hi", _r6(F.col("score")).alias("score"))


def q_emb_cosine_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4, exact
    all-pairs baseline — the LSH-bucketed path is the scale variant)."""
    from networkit_spark.functions.similarity import cosine_dup_pairs
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    return cosine_dup_pairs(emb, threshold=0.4).select(
        "a", "b", _r6(F.col("cos")).alias("cos"))


def q_docs_ngram_jaccard(spark, sf_dir):
    """Character-3-gram Jaccard near-dup pairs (threshold 0.8) over the
    documents table — the n-gram flavor of near-dup detection (exact
    all-pairs at gate scale; candidate-restricted via LSH at corpus
    scale)."""
    from networkit_spark.functions.dedup import ngram_jaccard_pairs
    r6 = (F.floor(F.col("jaccard").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6)
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3,
                               threshold=0.8).select(
        "a", "b", r6.alias("jaccard"))


def q_jacobi_pps1w(spark, sf_dir):
    """8 damped-Jacobi sweeps on (L+I)x = deg over the weighted
    pp(p_size=1) graph — deterministic float recurrence, DuckDB twin
    unrolls the same sweeps."""
    from networkit_spark.graph import Graph
    from networkit_spark.operators.degrees import weighted_out_degrees
    from networkit_spark.operators.numerics import (
        jacobi_relaxation, laplacian_matrix)
    g = TG.graph_pps1_weighted(spark, sf_dir)
    L = laplacian_matrix(g)
    A = L.union(g.vertices.select(F.col("id").alias("row"),
                                  F.col("id").alias("col"),
                                  F.lit(1.0).alias("val")))
    b = weighted_out_degrees(g).select("id", F.col("wdeg").alias("val"))
    x = jacobi_relaxation(A, b, iters=8)
    r6 = (F.floor(F.col("val").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6)
    return x.select("id", r6.alias("val"))


def q_hub_dist_pps1_k4(spark, sf_dir):
    """Truncated 4-hub labeling index with batch dominance PRUNING
    (top-4 degree hubs, ties id asc) + the min-over-common-hubs query
    for every vertex pair — the PrunedLabeling surface. Pruning shrinks
    the index without changing any query answer (exactness argument in
    hub_labels.prune_labels), so the unpruned oracle stays valid."""
    from networkit_spark.operators.hub_labels import (
        hub_labeling, query_distances)
    g = TG.graph_pp_size1(spark, sf_dir)
    labels = hub_labeling(g, n_hubs=4, pruned=True)
    v = g.vertices
    pairs = (v.select(F.col("id").alias("u"))
             .join(v.select(F.col("id").alias("v")),
                   F.col("u") < F.col("v")))
    # covered pairs only: a NULL-bearing long column degrades to float64
    # in pandas on one side but not the other — keep the dtype stable
    return query_distances(labels, pairs).filter(F.col("d").isNotNull())


def q_ari_pps1(spark, sf_dir):
    """Per-pair AdjustedRandIndex (bug-for-bug reference parity: b = c =
    |union|, AdjustedRandIndex.cpp:26-39) on pp(p_size=1)."""
    from networkit_spark.operators.linkpred import adjusted_rand_index
    g = TG.graph_pp_size1(spark, sf_dir)
    r6 = (F.floor(F.col("score").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6)
    return adjusted_rand_index(g).select("u", "v", r6.alias("score"))


def q_diameter_range_pps1(spark, sf_dir):
    """SumSweep estimatedDiameterRange with error=0 — returns the EXACT
    diameter as (lb, ub), deterministic regardless of sweep-root choices
    (the loop runs until the bounds meet). Oracle: max finite BFS
    distance over all sources."""
    from networkit_spark.operators.closeness import diameter_range
    g = TG.graph_pp_size1(spark, sf_dir)
    lb, ub = diameter_range(g, error=0.0)
    return spark.createDataFrame([(int(lb), int(ub))], "lb long, ub long")


def q_wbetweenness_pps1w(spark, sf_dir):
    """Exact WEIGHTED betweenness (Dijkstra-semantics Brandes) on the
    weighted pp(p_size=1) graph; oracle = the same three fixpoints
    (Bellman-Ford, sigma, delta) unrolled 16 rounds in DuckDB."""
    from networkit_spark.operators.betweenness import weighted_betweenness
    g = TG.graph_pps1_weighted(spark, sf_dir)
    r6 = (F.floor(F.col("score").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6)
    return weighted_betweenness(g).select("id", r6.alias("score"))


def q_sparsify_ccts_pp(spark, sf_dir):
    from networkit_spark.operators.sparsification import (
        chance_corrected_triangle_scores)
    g = TG.graph_part_part(spark, sf_dir)
    # CCTS scores are exact dyadic rationals that can land exactly on
    # 6-decimal midpoints where Spark (HALF_UP) and DuckDB (HALF_EVEN)
    # disagree — use explicit floor(x·1e6 + 0.5)/1e6 on BOTH sides
    r6 = (F.floor(F.col("score").cast("double") * 1e6 + 0.5)
          .cast("double") / 1e6)
    return chance_corrected_triangle_scores(g).select(
        "lo", "hi", r6.alias("score"))


def q_algdist_pp(spark, sf_dir):
    """Algebraic distance edge scores (2 md5-seeded systems, 3 smoothing
    iterations) — deterministic and DuckDB-reproducible."""
    from networkit_spark.operators.algebraic import algebraic_edge_scores
    g = TG.graph_part_part(spark, sf_dir)
    return algebraic_edge_scores(g, n_systems=2, n_iters=3, omega=0.5,
                                 norm=2, seed=42, rng="md5").select(
        "lo", "hi", _r6(F.col("score")).alias("score"))


def q_edge_ids_pp(spark, sf_dir):
    from networkit_spark.operators.graph_tools import index_edges
    g = TG.graph_part_part(spark, sf_dir)
    return index_edges(g).select("src", "dst", "edge_id")


def q_compact_lpa_pp(spark, sf_dir):
    from networkit_spark.operators.graph_tools import compact_partition
    g = TG.graph_part_part(spark, sf_dir)
    labels = label_propagation(g, theta=-1, max_iter=4)
    return compact_partition(labels)


def q_spanning_forest_count_pp(spark, sf_dir):
    """Spanning-forest size = n − #components — an exact invariant of
    ANY spanning forest, so the deterministic BFS-forest result is
    value-checkable without fixing the tree shape."""
    from networkit_spark.operators.structures import spanning_forest
    g = TG.graph_part_part(spark, sf_dir)
    return spanning_forest(g).agg(F.count(F.lit(1)).alias("n_tree_edges"))


def q_missing_links_count_pp(spark, sf_dir):
    from networkit_spark.operators.graph_tools import missing_links
    g = TG.graph_part_part(spark, sf_dir)
    return missing_links(g).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# text / dedup queries
# ---------------------------------------------------------------------------

def q_docs_token_stats(spark, sf_dir):
    q = T.quality_columns("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        _r6(q["avg_token_len"]).alias("avg_token_len"),
        _r6(q["stop_ratio"]).alias("stop_ratio"),
        _r6(q["punct_ratio"]).alias("punct_ratio"),
        _r6(q["quality"]).alias("quality"),
    )


def q_docs_language_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.language_id("text").alias("lang_pred"))


def q_docs_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.fingerprint("text").alias("fp"))


def q_docs_bpe_tokens(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.bpe_ish_token_count("text").alias("n_bpe_tokens"))


def q_docs_exact_dups(spark, sf_dir):
    return D.exact_duplicates(_docs(spark, sf_dir))


def q_docs_minhash(spark, sf_dir):
    return D.minhashes(_docs(spark, sf_dir), k=8)


def q_docs_lsh_pairs(spark, sf_dir):
    # 2-word shingles, k=16 signatures in 4 bands of r=4: the
    # P(candidate) = 1-(1-j^4)^4 S-curve thresholds near j~0.6. Unigram
    # tokens are useless on this corpus (31-word vocabulary => unigram
    # sets are ~0.6 Jaccard for RANDOM pairs); shingling restores
    # discrimination — the classic shingle->minhash->band pipeline.
    return D.lsh_candidate_pairs(_docs(spark, sf_dir), k=16, bands=4,
                                 shingle=2)


def q_docs_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir), bits=16)


def q_docs_lsh_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs, k=16, bands=4, shingle=2)
    return D.jaccard_pairs(docs, pairs=pairs, shingle=2).select(
        "a", "b", _r6(F.col("jaccard")).alias("jaccard"))


# ---------------------------------------------------------------------------
# embedding queries
# ---------------------------------------------------------------------------

def _emb_double(spark, sf_dir):
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )


def q_ann_cosine_top5(spark, sf_dir):
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    out = S.cosine_topk(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", _r6(F.col("cos")).alias("cos"),
                      "rnk")


def q_ann_ivf_top3(spark, sf_dir):
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter("vec_id < 10")
    out = S.ivf_topk(emb, queries, k=3)
    return out.select("query_id", "neighbor_id", _r6(F.col("cos")).alias("cos"),
                      "rnk")


def q_ann_lsh_cells(spark, sf_dir):
    """Hyperplane-LSH cell assignment (similarity.assign_cells): the
    scale-path cell builder, value-checked — the md5-parity plane
    weights are deterministic constants, so DuckDB reproduces the signs
    bit-for-bit."""
    emb = _emb_double(spark, sf_dir)
    return S.assign_cells(emb, planes=4)


def q_ann_ivf_lsh_top3(spark, sf_dir):
    """The COMPOSED scale path: ivf_topk searching within the
    hyperplane-LSH cells that assign_cells itself produced (round-2
    residual: the ivf gate fed the ground-truth label as the cell)."""
    emb = _emb_double(spark, sf_dir)
    cells = S.assign_cells(emb, planes=4).withColumnRenamed("id", "vec_id")
    embc = emb.join(cells, "vec_id")
    queries = embc.filter("vec_id < 10")
    out = S.ivf_topk(embc, queries, k=3, cell_col="cell")
    return out.select("query_id", "neighbor_id",
                      _r6(F.col("cos")).alias("cos"), "rnk")


def q_embedding_centroids(spark, sf_dir):
    emb = _emb_double(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy(F.col("label").cast("long").alias("label"),
                 (F.col("pos") + 1).alias("dim"))
        .agg(_r6(F.avg("v")).alias("centroid"))
    )


# ---------------------------------------------------------------------------
# events queries (streaming semantics in batch form)
# ---------------------------------------------------------------------------

def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.unix_timestamp(F.window("ts", "1 hour").start).alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"),
             _r6(F.sum("value")).alias("sum_value"))
    )


def q_events_type_stats(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _r6(F.avg("value")).alias("avg_value"),
        F.count_distinct("user_id").alias("users"),
    )


def q_events_top_users(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# north-rule corpus pipeline. The gated variants run the FULL pipeline
# (RMAT skeleton → rendered (repo,path,commit,lang,content) corpus →
# regex import extraction → hashed-id graph → kernel) with the md5-keyed
# generator/ids so DuckDB can reproduce every stage bit-for-bit; the
# xxhash64-keyed defaults remain the scale path (bench + entry()).
# ---------------------------------------------------------------------------

def _corpus_graph_md5(spark):
    return graph_from_repos(
        rmat_repos(spark, scale=8, edge_factor=8, seed=42, rng="md5"),
        directed=True, hash_fn="md5")


def q_corpus_pagerank_top20(spark, sf_dir):
    g = _corpus_graph_md5(spark)
    pr = pagerank(g, damp=0.85, fixed_iters=12)
    # top-20 ordered by the ROUNDED rank (then id): ordering on the raw
    # double would make the cut depend on sub-1e-6 float noise
    return (pr.select("id", _r6(F.col("rank")).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("id")).limit(20))


def q_corpus_components(spark, sf_dir):
    g = _corpus_graph_md5(spark)
    return component_sizes(connected_components(g, algorithm="star"))


def q_corpus_scc(spark, sf_dir):
    """StronglyConnectedComponents on the directed md5 corpus graph
    (import graphs ARE directed — weak CC alone loses cycle structure)."""
    from networkit_spark.operators.scc import strongly_connected_components
    g = _corpus_graph_md5(spark)
    return strongly_connected_components(g)



# ---------------------------------------------------------------------------
# exact path-based centralities on the small pp(p_size=1) subgraph
# ---------------------------------------------------------------------------

def q_betweenness_pps1(spark, sf_dir):
    from networkit_spark.operators.betweenness import betweenness
    g = TG.graph_pp_size1(spark, sf_dir)
    return betweenness(g).select("id", _r6(F.col("score")).alias("score"))


def q_harmonic_pps1(spark, sf_dir):
    from networkit_spark.operators.closeness import harmonic_closeness
    g = TG.graph_pp_size1(spark, sf_dir)
    return harmonic_closeness(g).select(
        "id", _r6(F.col("score")).alias("score"))


def q_ecc_pps1(spark, sf_dir):
    from networkit_spark.operators.closeness import eccentricity
    g = TG.graph_pp_size1(spark, sf_dir)
    return eccentricity(g)


def q_approx_betweenness_pps1(spark, sf_dir):
    """RK eps/delta-sampled betweenness on pp(p_size=1). Sampling uses
    xxhash64-seeded exponential races, which DuckDB cannot bit-reproduce
    — registered WITHOUT an oracle (rows-only driver check; the eps
    error bound vs exact Brandes is pytest-verified)."""
    from networkit_spark.operators.betweenness import approx_betweenness
    g = TG.graph_pp_size1(spark, sf_dir)
    return approx_betweenness(g, epsilon=0.2, delta=0.2).select(
        "id", _r6(F.col("score")).alias("score"))


def q_hyperbolicity_pps1(spark, sf_dir):
    """Gromov δ-hyperbolicity of the pp(p_size=1) subgraph (max over
    its 2 components — Hyperbolicity.cpp 4-point condition)."""
    from networkit_spark.operators.hyperbolicity import hyperbolicity
    g = TG.graph_pp_size1(spark, sf_dir)
    d = hyperbolicity(g, check_connected=False)
    return spark.createDataFrame([(float(d),)], "delta double").select(
        _r6(F.col("delta")).alias("delta"))


def q_quadrangles_pps1(spark, sf_dir):
    """Per-edge quadrangle counts on pp(p_size=1)
    (ChibaNishizekiQuadrangleEdgeScore.cpp semantics)."""
    from networkit_spark.operators.triangles import quadrangle_edge_scores
    g = TG.graph_pp_size1(spark, sf_dir)
    return quadrangle_edge_scores(g)


def q_bcc_pps1(spark, sf_dir):
    """Per-vertex biconnected-component membership on pp(p_size=1):
    n_blocks = #distinct BCC labels on incident edges, is_articulation =
    n_blocks >= 2 (BiconnectedComponents.cpp block-cut-tree facts; the
    oracle recomputes both from the defining property — components of
    G-v restricted to v's neighbors)."""
    from networkit_spark.operators.bcc import biconnected_components
    g = TG.graph_pp_size1(spark, sf_dir)
    bc = biconnected_components(g)
    inc = bc.select(F.col("src").alias("id"), "component").union(
        bc.select(F.col("dst").alias("id"), "component"))
    per = inc.groupBy("id").agg(
        F.countDistinct("component").alias("n_blocks"))
    return g.vertices.join(per, "id", "left").select(
        "id",
        F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
        (F.coalesce("n_blocks", F.lit(0)) >= 2).cast("int")
        .alias("is_articulation"))


def q_group_closeness_pps1(spark, sf_dir):
    """Greedy 3-set group closeness on pp(p_size=1) (GroupCloseness.cpp
    greedy with exact distances; unreachable sentinel 2n; ties to the
    smaller id). Integer output — no float parity concerns."""
    from networkit_spark.operators.closeness import group_closeness
    g = TG.graph_pp_size1(spark, sf_dir)
    picks = group_closeness(g, k=3)
    return spark.createDataFrame(
        [(i + 1, int(p)) for i, p in enumerate(picks)],
        "rank int, id long")


def q_scd_sweep_pps1(spark, sf_dir):
    """PageRankNibble substrate on pp(p_size=1): batched ACL
    approximate personalized PageRank from the smallest non-isolated
    vertex, then the full conductance sweep table (PageRankNibble.cpp
    bestSweepSet semantics; tie_digits=6 makes the p/vol ordering
    engine-stable)."""
    from networkit_spark.operators.scd import (
        approximate_pagerank, sweep_table,
    )
    g = TG.graph_pp_size1(spark, sf_dir)
    seed = g.edges.agg(F.min("src")).collect()[0][0]
    pr = approximate_pagerank(g, int(seed), alpha=0.15, epsilon=1e-3)
    return sweep_table(g, pr, tie_digits=6).select(
        "id", F.col("rank").cast("long").alias("rank"),
        _r6(F.col("cond")).alias("cond"))


def q_simple_paths_pps1(spark, sf_dir):
    """All simple paths (<=8 edges) on pp(p_size=1) from the smallest
    non-isolated vertex to the largest vertex exactly 3 hops away
    (AllSimplePaths.h semantics); rows are dash-joined path strings so
    both engines compare arrays identically."""
    from networkit_spark.operators.distances import bfs
    from networkit_spark.operators.paths import all_simple_paths
    g = TG.graph_pp_size1(spark, sf_dir)
    s = int(g.edges.agg(F.min("src")).collect()[0][0])
    d3 = bfs(g, s).filter(F.col("dist") == 3)
    t = int(d3.agg(F.max("id")).collect()[0][0])
    paths = all_simple_paths(g, s, t, cutoff=8)
    return paths.select(
        F.concat_ws("-", F.transform("path", lambda x: x.cast("string")))
        .alias("path"))


def q_centralization_pps1(spark, sf_dir):
    """Freeman degree centralization of pp(p_size=1)
    (Centrality.cpp:62-80 with the DegreeCentrality maximum n-1)."""
    from networkit_spark.operators.degrees import degree_centralization
    g = TG.graph_pp_size1(spark, sf_dir)
    c = degree_centralization(g)
    return spark.createDataFrame([(float(c),)], "centralization double").select(
        _r6(F.col("centralization")).alias("centralization"))


def q_plm_pp(spark, sf_dir):
    """PLM (Louvain) on the pp subgraph induced on p_size <= 5 parts,
    capped at 4 move rounds x 2 levels: PLM's sweep cost is round
    LATENCY (a chain of tiny sequential jobs), so the driver budget is
    bought by capping rounds, not shrinking data (full pp at defaults
    runs 145s at sf0.01 — the partition_sim_pp lesson). Summarized as
    (n_communities, modularity). Registered WITHOUT an oracle (rows-only driver
    check): PLM's greedy trajectory depends on join-order-free
    max-gain races that DuckDB cannot bit-reproduce; modularity
    quality and reference-fixture behavior are pytest-verified
    (tests/test_plm.py, tests/test_lfr.py)."""
    from networkit_spark.operators.plm import plm
    pv = TG.load(spark, sf_dir, "part").filter(F.col("p_size") <= 5) \
        .select(F.col("p_partkey").alias("id"))
    e = TG.edges_part_part(spark, sf_dir)
    e = (e.join(pv.withColumnRenamed("id", "src"), "src", "left_semi")
         .join(pv.withColumnRenamed("id", "dst"), "dst", "left_semi")
         .select("src", "dst", "weight"))
    g = Graph(e, directed=False, weighted=False, vertices=pv)
    labels = plm(g, max_rounds=4, max_levels=2)
    m = modularity(g, labels)
    k = labels.select("label").distinct().count()
    return spark.createDataFrame(
        [(k, float(m))], "n_communities long, modularity double").select(
        "n_communities", _r6(F.col("modularity")).alias("modularity"))


def q_msf_pps1w(spark, sf_dir):
    """THE maximum spanning forest of the weighted pp(p_size=1) graph
    under the strict key (weight, a, b) — distributed Borůvka (msf.py).
    Oracle: cycle property — an edge is in the unique max forest iff no
    path between its endpoints uses only strictly key-greater edges
    (recursive-CTE reachability per edge)."""
    from networkit_spark.operators.msf import maximum_spanning_forest
    g = TG.graph_pps1_weighted(spark, sf_dir)
    f = maximum_spanning_forest(g)
    return f.select("a", "b", _r6(F.col("weight")).alias("weight"))


def q_umsf_pps1w(spark, sf_dir):
    """Union of ALL maximum spanning forests of the weighted
    pp(p_size=1) graph (UnionMaximumSpanningForest.cpp:42-79: member
    iff endpoints disconnected in the strictly-heavier subgraph).
    Oracle: per-weight-threshold recursive-CTE reachability."""
    from networkit_spark.operators.msf import union_maximum_spanning_forest
    g = TG.graph_pps1_weighted(spark, sf_dir)
    f = union_maximum_spanning_forest(g)
    return f.select("a", "b", _r6(F.col("weight")).alias("weight"))


def q_alg_triangles_pp(spark, sf_dir):
    """Per-node triangle counts as diag(A³)/2 — the algebraic layer
    (AlgebraicTriangleCounting.h:63-70) over the pp graph."""
    from networkit_spark.operators.semiring import (
        algebraic_triangle_counting,
    )
    g = TG.graph_part_part(spark, sf_dir)
    return algebraic_triangle_counting(g)


def q_prefix_jaccard_pps1(spark, sf_dir):
    """PrefixJaccardScore (triangle attribute) per pp(p_size=1) edge
    (PrefixJaccardScore.cpp:19-147) — the full per-prefix argmax, with
    a complete SQL twin (ranks, prefix-entry events, windowed cumsum)."""
    from networkit_spark.operators.sparsification import (
        prefix_jaccard_scores,
    )
    g = TG.graph_pp_size1(spark, sf_dir)
    return prefix_jaccard_scores(g).select(
        "lo", "hi", _r6(F.col("score")).alias("score"))


def q_seir_pps1_p1(spark, sf_dir):
    """SEIR census on pp(p_size=1) with trans_p=1, e_time=0, i_time=1,
    zero = min part id (EpidemicSimulationSEIR.cpp semantics). At p=1
    the trajectory is the BFS wavefront — a node at distance d is
    E at tick 2d-2, I at 2d-1, R from 2d — so the oracle derives the
    full census from the unrolled BFS distance table."""
    from networkit_spark.operators.epidemics import (
        epidemic_simulation_seir,
    )
    g = TG.graph_pp_size1(spark, sf_dir)
    zero = int(g.vertices.agg(F.min("id")).collect()[0][0])
    return epidemic_simulation_seir(
        g, zero=zero, t_max=22, trans_p=1.0, e_time=0, i_time=1,
        seed=0).select("t", "state", F.col("count").alias("cnt"))


def q_fr_layout_pps1(spark, sf_dir):
    """Grid-bucketed FruchtermanReingold layout of pp(p_size=1)
    (FruchtermanReingold.cpp:23-160; repulsion restricted to
    grid-neighbor cells). Registered WITHOUT an oracle (rows-only
    driver check): per-node force sums are partition-order float
    reductions, so values are not bit-reproducible in SQL; frame
    bounds, displacement cap, and clique-separation structure are
    pytest-verified."""
    from networkit_spark.operators.layout import fruchterman_reingold
    g = TG.graph_pp_size1(spark, sf_dir)
    return fruchterman_reingold(g, max_iter=10, seed=3).select(
        "id", _r6(F.col("x")).alias("x"), _r6(F.col("y")).alias("y"))


def q_multilevel_fr_pps1(spark, sf_dir):
    """MultilevelLayouter (MultilevelLayouter.cpp:33-80): PLP-cluster →
    contract → recursive layout → prolong → FR refine. Rows-only for
    the same float-reduction reason as fr_layout_pps1."""
    from networkit_spark.operators.layout import multilevel_layout
    g = TG.graph_pp_size1(spark, sf_dir)
    return multilevel_layout(g, n_thresh=15, fr_iter=4, seed=3).select(
        "id", _r6(F.col("x")).alias("x"), _r6(F.col("y")).alias("y"))


def q_pivot_mds_pps1(spark, sf_dir):
    """PivotMDS 2-D layout of pp(p_size=1) (PivotMDS.cpp:23-106).
    Registered WITHOUT an oracle (rows-only driver check): the k×k
    eigensolve is not SQL-expressible; the full pipeline is verified
    in pytest against a pure-numpy replication on karate."""
    from networkit_spark.operators.layout import pivot_mds
    g = TG.graph_pp_size1(spark, sf_dir)
    return pivot_mds(g, dim=2, num_pivots=8, seed=3).select(
        "id", _r6(F.col("x0")).alias("x0"), _r6(F.col("x1")).alias("x1"))


# ---------------------------------------------------------------------------
# partition quality / similarity measures
# ---------------------------------------------------------------------------

def _brand_labels(spark, sf_dir):
    return TG.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("label"))


def q_community_eval_pp_brand(spark, sf_dir):
    """EdgeCut + Coverage + Modularity of the p_brand partition on the
    pp graph (reference EdgeCut/Coverage/Modularity quality measures)."""
    from networkit_spark.operators.community_eval import coverage, edge_cut
    g = TG.graph_part_part(spark, sf_dir)
    labels = _brand_labels(spark, sf_dir)
    row = (edge_cut(g, labels), coverage(g, labels), modularity(g, labels))
    return spark.createDataFrame(
        [row], "edge_cut double, coverage double, modularity double"
    ).select(_r6(F.col("edge_cut")).alias("edge_cut"),
             _r6(F.col("coverage")).alias("coverage"),
             _r6(F.col("modularity")).alias("modularity"))


def q_conductance_pp_size(spark, sf_dir):
    """Conductance of the 2-partition {p_size <= 25} on the pp graph."""
    from networkit_spark.operators.community_eval import conductance
    g = TG.graph_part_part(spark, sf_dir)
    labels = TG.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        (F.col("p_size") <= 25).cast("int").alias("label"))
    c = conductance(g, labels)
    return spark.createDataFrame([(c,)], "conductance double").select(
        _r6(F.col("conductance")).alias("conductance"))


def q_local_eval_pp_brand(spark, sf_dir):
    """Per-community local evaluation measures (IntrapartitionDensity,
    PartitionHubDominance, IsolatedInterpartitionConductance) of the
    p_brand partition on the pp graph."""
    from networkit_spark.operators.community_eval import (
        intrapartition_density, isolated_interpartition_conductance,
        partition_hub_dominance)
    g = TG.graph_part_part(spark, sf_dir)
    labels = _brand_labels(spark, sf_dir)
    d = intrapartition_density(g, labels)
    h = partition_hub_dominance(g, labels)
    c = isolated_interpartition_conductance(g, labels)
    return (
        d.join(h, "label").join(c, "label")
        .select("label", _r6(F.col("density")).alias("density"),
                _r6(F.col("dominance")).alias("dominance"),
                _r6(F.col("value")).alias("iic"))
    )


def q_partition_sim_pp(spark, sf_dir):
    """All five partition-similarity measures between the p_size-bucket
    partition (floor(p_size/10)) and the p_brand partition on the pp graph.

    Static column partitions keep the DuckDB oracle cheap (the previous
    LPA(4)-vs-brand variant needed a 142 s unrolled-LPA oracle); LPA itself
    is still value-gated by lpa_pp_k4 / modularity_pp_lpa4.
    """
    from networkit_spark.operators.community_eval import (
        adjusted_rand_dissimilarity, graph_structural_rand_dissimilarity,
        jaccard_dissimilarity, nmi_distance, rand_dissimilarity)
    g = TG.graph_part_part(spark, sf_dir)
    sizeb = TG.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.floor(F.col("p_size") / 10).cast("long").alias("label"))
    brand = _brand_labels(spark, sf_dir)
    row = (rand_dissimilarity(sizeb, brand),
           adjusted_rand_dissimilarity(sizeb, brand),
           jaccard_dissimilarity(sizeb, brand),
           graph_structural_rand_dissimilarity(g, sizeb, brand),
           nmi_distance(sizeb, brand))
    return spark.createDataFrame(
        [row], "rand_d double, ari_d double, jaccard_d double, "
               "gsrand_d double, nmi_d double"
    ).select(_r6(F.col("rand_d")).alias("rand_d"),
             _r6(F.col("ari_d")).alias("ari_d"),
             _r6(F.col("jaccard_d")).alias("jaccard_d"),
             _r6(F.col("gsrand_d")).alias("gsrand_d"),
             _r6(F.col("nmi_d")).alias("nmi_d"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order = the driver's CORRECTNESS window (first ~50).
    # Round-5 rotation: the queries never checked before round 5 lead,
    # then core regressions fill the window; the union across rounds
    # covers every query.
    return {
        # --- never driver-checked through round 4 (rotation block) ---
        "harmonic_pps1": q_harmonic_pps1,
        "ecc_pps1": q_ecc_pps1,
        "hyperbolicity_pps1": q_hyperbolicity_pps1,
        "approx_betweenness_pps1": q_approx_betweenness_pps1,
        "quadrangles_pps1": q_quadrangles_pps1,
        "bcc_pps1": q_bcc_pps1,
        "group_closeness_pps1": q_group_closeness_pps1,
        "centralization_pps1": q_centralization_pps1,
        "scd_sweep_pps1": q_scd_sweep_pps1,
        "simple_paths_pps1": q_simple_paths_pps1,
        "community_eval_pp_brand": q_community_eval_pp_brand,
        "conductance_pp_size": q_conductance_pp_size,
        "local_eval_pp_brand": q_local_eval_pp_brand,
        "partition_sim_pp": q_partition_sim_pp,
        "plm_pp": q_plm_pp,
        "msf_pps1w": q_msf_pps1w,
        "umsf_pps1w": q_umsf_pps1w,
        "alg_triangles_pp": q_alg_triangles_pp,
        "prefix_jaccard_pps1": q_prefix_jaccard_pps1,
        "seir_pps1_p1": q_seir_pps1_p1,
        "pivot_mds_pps1": q_pivot_mds_pps1,
        "fr_layout_pps1": q_fr_layout_pps1,
        "multilevel_fr_pps1": q_multilevel_fr_pps1,
        "corpus_pagerank_top20": q_corpus_pagerank_top20,
        "corpus_components": q_corpus_components,
        "corpus_scc": q_corpus_scc,
        # --- core regressions (window filler) ---
        "edges_cs": q_edges_cs,
        "degrees_cs": q_degrees_cs,
        "wdegrees_cs": q_wdegrees_cs,
        "pagerank_cs_k10": q_pagerank_cs_k10,
        "cc_pp": q_cc_pp,
        "cc_star_pp": q_cc_star_pp,
        "cc_sizes_pp": q_cc_sizes_pp,
        "triangles_pp": q_triangles_pp,
        "global_triangles_pp": q_global_triangles_pp,
        "lcc_pp": q_lcc_pp,
        "lpa_pp_k4": q_lpa_pp_k4,
        "modularity_pp_lpa4": q_modularity_pp_lpa4,
        "kcore_pp": q_kcore_pp,
        "betweenness_pps1": q_betweenness_pps1,
        "wbetweenness_pps1w": q_wbetweenness_pps1w,
        "diameter_range_pps1": q_diameter_range_pps1,
        "bfs_cs_d6": q_bfs_cs_d6,
        "sssp_cs": q_sssp_cs,
        "assortativity_pp": q_assortativity_pp,
        "edge_ids_pp": q_edge_ids_pp,
        "hub_dist_pps1_k4": q_hub_dist_pps1_k4,
        "docs_exact_dups": q_docs_exact_dups,
        "docs_lsh_jaccard": q_docs_lsh_jaccard,
        "docs_ngram_jaccard": q_docs_ngram_jaccard,
        "emb_cosine_dups": q_emb_cosine_dups,
        "ann_cosine_top5": q_ann_cosine_top5,
        "events_hourly": q_events_hourly,
        # --- balance of the registry ---
        "supplier_common_customers": q_supplier_common_customers,
        "supplier_jaccard": q_supplier_jaccard,
        "supplier_adamic_adar": q_supplier_adamic_adar,
        "supplier_resource_alloc": q_supplier_resource_alloc,
        "coarsen_cs_by_nation": q_coarsen_cs_by_nation,
        "eigen_pp_k8": q_eigen_pp_k8,
        "katz_pp_k8": q_katz_pp_k8,
        "nf_pp_h3": q_nf_pp_h3,
        "sparsify_jaccard_pp": q_sparsify_jaccard_pp,
        "sparsify_scan_pp": q_sparsify_scan_pp,
        "sparsify_local_degree_pp": q_sparsify_local_degree_pp,
        "sparsify_ccts_pp": q_sparsify_ccts_pp,
        "ari_pps1": q_ari_pps1,
        "jacobi_pps1w": q_jacobi_pps1w,
        "algdist_pp": q_algdist_pp,
        "compact_lpa_pp": q_compact_lpa_pp,
        "spanning_forest_count_pp": q_spanning_forest_count_pp,
        "missing_links_count_pp": q_missing_links_count_pp,
        "docs_token_stats": q_docs_token_stats,
        "docs_language_id": q_docs_language_id,
        "docs_fingerprint": q_docs_fingerprint,
        "docs_bpe_tokens": q_docs_bpe_tokens,
        "docs_minhash": q_docs_minhash,
        "docs_lsh_pairs": q_docs_lsh_pairs,
        "docs_simhash": q_docs_simhash,
        "ann_ivf_top3": q_ann_ivf_top3,
        "ann_lsh_cells": q_ann_lsh_cells,
        "ann_ivf_lsh_top3": q_ann_ivf_lsh_top3,
        "embedding_centroids": q_embedding_centroids,
        "events_type_stats": q_events_type_stats,
        "events_top_users": q_events_top_users,
    }


def oracle_sql() -> dict[str, str]:
    from networkit_spark.entry_oracles import build_oracles

    return build_oracles()
