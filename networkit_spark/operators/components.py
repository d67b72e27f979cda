"""Connected components — iterative min-label propagation and
small-star/large-star contraction.

Reference semantics (/root/reference/networkit/cpp/components/
ParallelConnectedComponents.cpp): labels start as singletons (:29-36), each
step every node takes the min label over its closed neighborhood (:55-77),
until no label changes; the sequential BFS oracle
(ConnectedComponents.cpp:22-55) defines the component partition itself.
Output is canonicalized to min-member-id (which min-label propagation
with labels initialized to node ids produces natively).

Two algorithms:

``algorithm="minlabel"``
    label'[u] = min(label[u], min_{v∈N(u)} label[v]) as a join + hash
    aggregation per superstep; ``_changed`` counts updates; stops at 0.
    O(diameter) supersteps — right for small-diameter web/link graphs.
    (The reference coarsens after 8 iterations, :49/:81-94; the star
    algorithm below is the scalable equivalent with the same fixpoint.)

``algorithm="star"``
    Alternating large-star/small-star edge rewriting (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14 — the
    published distributed formulation of the same min-label fixpoint):
      large-star: ∀u connect every neighbor v>u to m(u)=min(Γ(u)∪{u})
      small-star: ∀u connect every neighbor v≤u to m(u)
    converging in O(log n) rounds on any graph; fixpoint reached when the
    edge multiset fingerprint is stable, at which point edges form stars
    centered at component minima.

Both run under the checkpointed SuperstepRunner (resume mid-iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from networkit_spark.graph import Graph
from networkit_spark.plans.superstep import SuperstepRunner


def _sym_edges(g: Graph) -> DataFrame:
    """Both directions regardless of directedness (weak connectivity —
    reference WeaklyConnectedComponents.cpp:32-74 unions in+out), no
    self-loops, no weights."""
    e = g.edges.filter("src != dst").select("src", "dst")
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def connected_components(
    g: Graph,
    algorithm: str = "minlabel",
    max_iter: int = 200,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id: long, component: long), component = min member id."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark, job_id="cc-anon", ephemeral=True)
    if algorithm == "minlabel":
        return _cc_minlabel(g, runner, max_iter)
    if algorithm == "star":
        return _cc_star(g, runner, max_iter)
    raise ValueError(f"unknown algorithm {algorithm!r}")


def _cc_minlabel(g: Graph, runner: SuperstepRunner, max_iter: int) -> DataFrame:
    sym = _sym_edges(g).persist()
    vertices = g.vertices

    def init_fn() -> DataFrame:
        return vertices.select("id", F.col("id").alias("component"))

    def step_fn(state: DataFrame, k: int) -> DataFrame:
        labels = state.select("id", "component")
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        return (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least("component", F.coalesce("nbr_min", "component")).alias("component"),
                (F.coalesce("nbr_min", "component") < F.col("component"))
                .cast("int").alias("_changed"),
            )
        )

    def stop_fn(metrics: dict, k: int) -> bool:
        return metrics.get("changed", 1) == 0

    def finalize_fn(labels: DataFrame) -> DataFrame:
        sym.unpersist()
        return labels

    return runner.run(init_fn, step_fn, stop_fn, max_iter=max_iter,
                      finalize_fn=finalize_fn)


def _cc_star(g: Graph, runner: SuperstepRunner, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star over the edge set itself."""
    vertices = g.vertices.persist()

    def canon(e: DataFrame) -> DataFrame:
        return e.filter("src != dst").select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()

    def init_fn() -> DataFrame:
        # store edges big->small; dst is always the smaller endpoint
        return canon(g.edges)

    def step_fn(state: DataFrame, k: int) -> DataFrame:
        e = state.select("src", "dst")
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        if k % 2 == 0:  # large-star: (v, m(u)) for v > u
            out = (
                sym.join(mins, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            )
        else:  # small-star: (v, m(u)) for v ∈ N≤(u) ∪ {u}
            nbr_rows = (
                sym.join(mins, "src")
                .filter(F.col("dst") <= F.col("src"))
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            )
            self_rows = mins.select(F.col("src"), F.col("m").alias("dst"))
            out = nbr_rows.union(self_rows)
        return canon(out)

    def stop_fn(metrics: dict, k: int) -> bool:
        # fixpoint only when BOTH phases are no-ops: the edge-set
        # fingerprint must be stable across two consecutive phase outputs
        # (out_k == out_{k-1} == out_{k-2}); a single-pair match can be a
        # transient coincidence (Kiveris et al. terminate on zero changes
        # per phase — this is the same test expressed on state hashes).
        h = runner.history
        if len(h) < 2:
            return False
        cur = (metrics.get("rows"), metrics.get("fingerprint"))
        prev = (h[-2].get("rows"), h[-2].get("fingerprint"))
        if len(h) >= 3:
            prev2 = (h[-3].get("rows"), h[-3].get("fingerprint"))
        else:
            return False
        return cur == prev == prev2

    def finalize_fn(e: DataFrame) -> DataFrame:
        # final edges are stars centered at component minima: one
        # min-neighbor pass assigns every node its center.
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        centers = sym.groupBy(F.col("src").alias("id")).agg(
            F.least(F.min("dst"), F.min("src")).alias("component")
        )
        out = (
            vertices.join(centers, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
        )
        vertices.unpersist()
        return out

    return runner.run(init_fn, step_fn, stop_fn, max_iter=max_iter,
                      finalize_fn=finalize_fn)


def component_sizes(labels: DataFrame) -> DataFrame:
    """Partition::subsetSizeMap (/root/reference/networkit/cpp/structures/
    Partition.h:252) — (component, size)."""
    return labels.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


def num_components(labels: DataFrame) -> int:
    return labels.select("component").distinct().count()


def extract_largest_component(g: Graph, labels: DataFrame) -> Graph:
    """workflows.extractLargestComponent (/root/reference/networkit/
    workflows.py:17-38): CC → largest label → induced subgraph."""
    largest = (
        component_sizes(labels)
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(1)
        .select("component")
    )
    nodes = labels.join(F.broadcast(largest), "component").select("id")
    return g.subgraph_from_nodes(nodes)
