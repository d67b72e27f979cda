"""Triangle counting from degree-ordered out-lists, plus clustering
coefficients.

Reference semantics:
  - Orientation rule (/root/reference/networkit/cpp/edgescores/
    TriangleEdgeScore.cpp:24-26): edge u→v is an "out edge" iff
    deg(u)>deg(v), ties broken by id. We orient LOW→HIGH by (deg, id)
    (the mirror image, as SURVEY.md §2.4 notes) so each undirected edge
    appears exactly once and out-degree in the oriented graph is bounded
    by O(√(2m)) — the classical bound that keeps every vertex's wedge
    list small on power-law graphs.
  - Each triangle {u,v,w} is counted once as an oriented wedge
    (u→v, u→w), v<w in the orientation order, closed by oriented edge
    v→w; per-node counts attribute 1 to each corner, matching
    TriangleEdgeScore.cpp:61-103 (one find per corner).
  - LCC (/root/reference/networkit/cpp/centrality/
    LocalClusteringCoefficient.cpp:14,47-83):
    c(u) = 2·tri(u)/(deg(u)(deg(u)-1)), 0 if deg<2; self-loops excluded.
  - Global CC (/root/reference/networkit/cpp/global/
    ClusteringCoefficient.cpp:168-218): Σ 2·tri(u) / Σ deg(u)(deg(u)-1).
  - Algebraic identity tri = diag(A³)/2 validates the counts
    (/root/reference/networkit/cpp/algebraic/algorithms/
    AlgebraicTriangleCounting.h:63-70).

Plan shape (``triangle_counts``, four shuffles, nothing cached): one
pass over ``g.edges`` builds each vertex's sorted out-list (two
shuffles: deduplicate + degree on the first endpoint, then the other
endpoint's degree); one generator turns every out-list into edge rows
and wedge rows keyed by the pair they close, and a single keyed shuffle
keeps the wedges whose key group holds an edge; one ``groupBy("id")``
over corner rows and 0-rows counts per vertex. No self-join, no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from networkit_spark.graph import Graph


def _distinct_edges(g: Graph) -> DataFrame:
    """Canonical undirected simple edges (lo, hi), self-loops dropped —
    triangle counting treats the graph as simple undirected."""
    return (
        g.edges.filter("src != dst")
        .select(F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi"))
        .distinct()
    )


def _out_lists(g: Graph) -> DataFrame:
    """(u, outs: array<long>) — u's out-neighbours, the neighbours after
    u in (deg, id) order, sorted in that order. Vertices without an
    out-neighbour have no row.

    Two shuffles over the symmetric simple edge rows (x, y): on x to
    deduplicate them and count deg(x), then on y, where y sees each
    neighbour x with deg(x) and its own degree is its row count. No
    vertex ever holds its full neighbour list."""
    both = F.explode(F.array(
        F.struct(F.col("src").alias("x"), F.col("dst").alias("y")),
        F.struct(F.col("dst").alias("x"), F.col("src").alias("y"))))
    adj = (
        g.edges.filter("src != dst").select(both.alias("e")).select("e.x", "e.y")
        .repartition("x").distinct()
        .withColumn("deg_x", F.count(F.lit(1)).over(Window.partitionBy("x")))
        .withColumn("deg_y", F.count(F.lit(1)).over(Window.partitionBy("y")))
    )
    after = (F.col("deg_x") > F.col("deg_y")) | (
        (F.col("deg_x") == F.col("deg_y")) & (F.col("x") > F.col("y"))
    )
    return (
        adj.filter(after)
        .groupBy(F.col("y").alias("u"))
        .agg(F.array_sort(F.collect_list(F.struct("deg_x", "x"))).alias("outs"))
        .select("u", F.transform("outs", lambda o: o["x"]).alias("outs"))
    )


def triangle_list(g: Graph) -> DataFrame:
    """(a, b, c) — one row per triangle. a is the (deg,id)-smallest corner;
    b before c in (deg, id) orientation order.

    Each out-list of u emits an edge row keyed (u, v) for every
    out-neighbour v, and a wedge row keyed (v, w) carrying u for every
    out-neighbour pair v before w. After one shuffle on the key, a wedge
    closes exactly when its key group also holds an edge row."""
    outs = F.col("outs")
    k = F.size(outs)
    edge_rows = F.transform(outs, lambda v: F.struct(
        F.col("u").alias("k1"), v.alias("k2"), F.lit(None).cast("long").alias("a")))
    wedge_rows = F.flatten(F.transform(outs, lambda v, i: F.transform(
        F.slice(outs, i + 2, k - i - 1),
        lambda w: F.struct(v.alias("k1"), w.alias("k2"), F.col("u").alias("a")))))
    rows = (
        _out_lists(g)
        .select(F.explode(F.concat(edge_rows, wedge_rows)).alias("r"))
        .select("r.k1", "r.k2", "r.a")
    )
    closed = F.max(F.col("a").isNull()).over(Window.partitionBy("k1", "k2"))
    return (
        rows.withColumn("closed", closed)
        .filter(F.col("closed") & F.col("a").isNotNull())
        .select("a", F.col("k1").alias("b"), F.col("k2").alias("c"))
    )


def triangle_counts(g: Graph) -> DataFrame:
    """(id, triangles) for every vertex (0 for triangle-free ones): one
    aggregation over a 1-row per triangle corner and a 0-row per edge
    endpoint and explicit vertex."""
    corners = triangle_list(g).select(
        F.explode(F.array("a", "b", "c")).alias("id"), F.lit(1).alias("t"))
    zeros = g.edges.select(
        F.explode(F.array("src", "dst")).alias("id"), F.lit(None).cast("int").alias("t"))
    if g._vertices_extra is not None:  # isolated vertices of an explicit table
        zeros = zeros.union(g._vertices_extra.select("id", F.lit(None).cast("int")))
    return (
        corners.union(zeros)
        .groupBy("id").agg(F.count("t").alias("triangles"))
    )


def triangle_edge_scores(g: Graph) -> DataFrame:
    """(lo, hi, triangles) per undirected edge — TriangleEdgeScore: one
    aggregation over a 1-row per triangle side and a 0-row per stored
    simple edge."""
    tris = triangle_list(g)
    sides = tris.select(F.explode(F.array(
        F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
        F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
        F.struct(F.col("b").alias("x"), F.col("c").alias("y")))).alias("s"))
    ones = sides.select(
        F.least("s.x", "s.y").alias("lo"), F.greatest("s.x", "s.y").alias("hi"),
        F.lit(1).alias("t"))
    zeros = g.edges.filter("src != dst").select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi"),
        F.lit(None).cast("int").alias("t"))
    return (
        ones.union(zeros)
        .groupBy("lo", "hi").agg(F.count("t").alias("triangles"))
    )


def global_triangle_count(g: Graph) -> int:
    return triangle_list(g).count()


def local_clustering_coefficients(g: Graph, counts: DataFrame | None = None) -> DataFrame:
    """(id, lcc) — c(u) = 2·tri(u)/(deg(u)(deg(u)-1)), 0 if deg<2."""
    e = _distinct_edges(g)
    deg = (
        e.select(F.col("lo").alias("id")).union(e.select(F.col("hi").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    )
    if counts is None:
        counts = triangle_counts(g)
    return (
        counts.join(deg, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1.0)),
            ).otherwise(F.lit(0.0)).alias("lcc"),
        )
    )


def global_clustering_coefficient(g: Graph) -> float:
    """exactGlobal: Σ 2·tri(u) / Σ deg(u)(deg(u)-1)."""
    e = _distinct_edges(g)
    deg = (
        e.select(F.col("lo").alias("id")).union(e.select(F.col("hi").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(g)
    row = (
        tri.join(deg, "id", "left")
        .agg(
            F.sum(2.0 * F.col("triangles")).alias("num"),
            F.sum(F.coalesce(F.col("deg") * (F.col("deg") - 1.0), F.lit(0.0))).alias("den"),
        )
        .collect()[0]
    )
    den = float(row["den"] or 0.0)
    return (float(row["num"] or 0.0) / den) if den > 0 else 0.0


def avg_local_clustering_coefficient(g: Graph) -> float:
    row = local_clustering_coefficients(g).agg(F.avg("lcc")).collect()[0]
    return float(row[0] or 0.0)


def _adjacency_arrays(g: Graph) -> DataFrame:
    """(id, nbrs: array<long> sorted, deg) adjacency arrays for the
    wedge samplers. Hub arrays are as long as the hub degree — fine for
    sampling (one row per vertex, no shuffle amplification)."""
    e = _distinct_edges(g)
    sym = e.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).union(
        e.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
    return sym.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs"),
        F.count(F.lit(1)).alias("deg"))


def _h60(*cols):
    from networkit_spark.sources.generators import _md5_int60
    return _md5_int60(*cols)


def approx_avg_local_cc(g: Graph, trials: int = 1000,
                        seed: int = 42) -> float:
    """Wedge-sampling estimate of the average local clustering
    coefficient (reference ClusteringCoefficient::approxAvgLocal,
    ClusteringCoefficient.cpp:133-164): per trial, pick a uniform vertex
    of degree ≥ 2, two distinct uniform neighbors, and test whether the
    wedge closes. Deterministic md5 counter randomness; sampling is a
    broadcast join of the (tiny) trial table against the adjacency
    arrays — no per-row Python, no driver loop."""
    from networkit_spark.operators.graph_tools import ordered_dense_ids

    spark = g.edges.sparkSession
    adj = _adjacency_arrays(g).filter(F.col("deg") >= 2)
    eligible = ordered_dense_ids(adj.select("id"), ["id"], "idx").persist()
    n_elig = eligible.count()
    if n_elig == 0:
        return 0.0
    t = spark.range(trials).select(F.col("id").alias("t"))
    pick = t.select(
        "t", F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(0)),
                    F.lit(n_elig)).alias("idx"))
    wedge = (
        pick.join(eligible, "idx").join(adj, "id")
        .select(
            "t", "id", "deg",
            F.element_at("nbrs",
                         (F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(1)),
                                 F.col("deg")) + 1).cast("int")).alias("u"),
            F.col("nbrs").alias("nbrs"),
        )
    )
    # second neighbor drawn from the deg-1 others (skip-over-u trick:
    # draw j in [0, deg-2]; if slot >= slot(u) shift by one)
    i1 = F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(1)), F.col("deg"))
    j = F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(2)), F.col("deg") - 1)
    i2 = F.when(j >= i1, j + 1).otherwise(j)
    wedge = wedge.select(
        "t", F.col("u"),
        F.element_at("nbrs", (i2 + 1).cast("int")).alias("w"))
    e = _distinct_edges(g)
    closed = (
        wedge.select("t", F.least("u", "w").alias("lo"),
                     F.greatest("u", "w").alias("hi"))
        .join(e, ["lo", "hi"], "left_semi")
        .count()
    )
    eligible.unpersist()
    return closed / float(trials)


def approx_global_cc(g: Graph, trials: int = 1000, seed: int = 42) -> float:
    """Wedge-sampling estimate of the global clustering coefficient
    (ClusteringCoefficient::approxGlobal, .cpp:221-280): vertices drawn
    ∝ deg·(deg−1) (each vertex's wedge count) via interval containment
    against the degree-weight prefix sums, then one uniform wedge each.
    The r-in-[lo,hi) lookup is a broadcast range join of the tiny trial
    table — the distributed equivalent of the reference's binary search."""
    spark = g.edges.sparkSession
    adj = _adjacency_arrays(g).filter(F.col("deg") >= 2)
    from networkit_spark.operators.graph_tools import ordered_prefix_sums

    # degree-weight prefix sums in id order — distributed two-pass, no
    # global sort
    w = adj.select("id", "nbrs", "deg",
                   (F.col("deg") * (F.col("deg") - 1))
                   .cast("double").alias("wt"))
    cum = ordered_prefix_sums(w, ["id"], "wt", "hi_cum").select(
        "id", "nbrs", "deg",
        (F.col("hi_cum") - F.col("wt")).alias("lo_cum"), "hi_cum").persist()
    total = cum.agg(F.max("hi_cum")).collect()[0][0]
    if not total:
        return 0.0
    t = spark.range(trials).select(F.col("id").alias("t"))
    r = t.select("t", F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(0)),
                             F.lit(int(total))).alias("r"))
    pick = cum.join(
        F.broadcast(r),
        (F.col("r") >= F.col("lo_cum")) & (F.col("r") < F.col("hi_cum")))
    i1 = F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(1)), F.col("deg"))
    j = F.pmod(_h60(F.col("t"), F.lit(seed), F.lit(2)), F.col("deg") - 1)
    i2 = F.when(j >= i1, j + 1).otherwise(j)
    wedge = pick.select(
        "t",
        F.element_at("nbrs", (i1 + 1).cast("int")).alias("u"),
        F.element_at("nbrs", (i2 + 1).cast("int")).alias("w"))
    e = _distinct_edges(g)
    closed = (
        wedge.select("t", F.least("u", "w").alias("lo"),
                     F.greatest("u", "w").alias("hi"))
        .join(e, ["lo", "hi"], "left_semi")
        .count()
    )
    cum.unpersist()
    return closed / float(trials)


def quadrangle_edge_scores(g: Graph) -> DataFrame:
    """(lo, hi, quadrangles) per undirected edge — the number of (not
    necessarily induced) 4-cycles containing the edge (reference
    ChibaNishizekiQuadrangleEdgeScore.cpp:15-97; fixture values from
    ChibaNishizekiQuadrangleEdgeScoreGTest.cpp:16-76).

    Distributed shape instead of the reference's degree-ordered serial
    sweep: a quadrangle u-v-w-x-u through edge (u,v) pairs a neighbor
    w of v with a common neighbor x of {u, w}, x != v. So
    score(u,v) = Σ_{w ∈ N(v)\\{u}} (cn(u,w) - 1), where the -1 removes
    x = v (v is always a common neighbor of u and w here). Two hash
    joins + two aggregations, all JVM-side: (1) the wedge self-join
    builds cn(a,b) for pairs with ≥1 common neighbor (Σ deg² wedge
    rows — the same bound as the triangle join, AQE handles hub skew);
    (2) each directed edge looks up its neighbors' cn rows. Each
    quadrangle through {u,v} is counted exactly once per direction, so
    the canonical (lo→hi) direction alone is the score."""
    e = _distinct_edges(g)
    sym = (e.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
           .union(e.select(F.col("hi").alias("src"),
                           F.col("lo").alias("dst"))))
    w = sym.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    cn = (
        w.join(w.select(F.col("c"), F.col("a").alias("b")), "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn"))
    )
    cn_sym = cn.union(cn.select(F.col("b").alias("a"),
                                F.col("a").alias("b"), "cn"))
    paths = (
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        .join(sym.select(F.col("src").alias("v"), F.col("dst").alias("w")),
              "v")
        .filter(F.col("w") != F.col("u"))
        # v is a common neighbor of u and w, so cn(u,w) >= 1 and the
        # inner join never drops a path
        .join(cn_sym.select(F.col("a").alias("u"), F.col("b").alias("w"),
                            "cn"), ["u", "w"])
    )
    scores = paths.groupBy("u", "v").agg(
        F.sum(F.col("cn") - F.lit(1)).alias("quadrangles"))
    return (
        e.join(scores.select(F.col("u").alias("lo"), F.col("v").alias("hi"),
                             "quadrangles"), ["lo", "hi"], "left")
        .select("lo", "hi",
                F.coalesce("quadrangles", F.lit(0)).cast("long")
                .alias("quadrangles"))
    )
