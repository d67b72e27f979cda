"""PageRank — power iteration with teleport, reference semantics.

Replicates /root/reference/networkit/cpp/centrality/PageRank.cpp:20-71:

  - init: pr[u] = 1/n for every existing node        (PageRank.cpp:22-27)
  - step: pr'[u] = damp * Σ_{(v,u)∈E} pr[v]·w(v,u)/wdeg(v) + (1-damp)/n
          pulled over in-edges                        (PageRank.cpp:35-46)
  - stop: sqrt(Σ_u (pr[u]-pr'[u])²) ≤ tol — L2 norm   (PageRank.cpp:48-57)
  - post: divide by global sum so Σ pr = 1            (PageRank.cpp:60-68)
  - NO dangling-mass redistribution during iteration: mass from
    out-degree-0 nodes vanishes each step and is recovered only by the
    final normalization (documented divergence from textbook PageRank).

Execution strategies (both shuffle-minimal, both "no per-row Python"):

``mode="dataframe"``
    Scatter/gather as join + hash aggregation: the static coefficient
    table ``(src, dst, coef = damp·w/wdeg(src))`` is computed once with
    one edge shuffle (wdeg is a window sum over the ``src`` partition)
    and persisted partitioned by ``src``; each superstep ships only the
    (per-vertex, edge-count-independent) rank vector to the edge
    partitions, then shuffles partial sums by ``dst``. Catalyst's partial
    aggregation does the map-side combine; AQE coalesces post-shuffle.

``mode="blocks"``
    The north-rule strategy: edges materialized into hash(src)-partitioned
    adjacency blocks and iterated with cogrouped ``applyInPandas`` —
    per-block numpy scatter with in-block partial aggregation by ``dst``
    (each block emits ≤1 row per distinct dst — bounds any receiver's
    fan-in to num_blocks rows), then a built-in final aggregation.
    High out-degree hubs (out-deg > ``hub_threshold``) are "salted":
    their adjacency is partitioned by ``dst`` instead of ``src`` (spreads
    the hot vertex's edges across all partitions) and their few ranks are
    broadcast-joined each superstep.

Both modes feed their messages into ONE aggregation per superstep: the
union of the message rows ``(dst, mass)`` and one self row per vertex
carrying its old rank, grouped by vertex id. That gives the new rank
and ``_delta`` with no join back to the vertex set or the old ranks, and
every vertex survives through its self row. The result is written as the
checkpoint of the :class:`SuperstepRunner` (one action, resumable
mid-iteration). Measured with a job group per superstep on local[4]
and a 200-vertex graph (``tests/test_superstep.py``): a steady
``dataframe`` superstep runs 3 Spark jobs (rank broadcast, message
shuffle, checkpoint write); setup, init and the first superstep
together run 9.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from networkit_spark.graph import Graph
from networkit_spark.plans.superstep import SuperstepRunner

_SCATTER_SCHEMA = "dst long, mass double"


def _scatter_block(edges_pdf: pd.DataFrame, ranks_pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-block scatter: contrib = coef * rank[src], partially aggregated
    by dst inside the block (vectorized pandas, no per-row Python)."""
    if len(edges_pdf) == 0 or len(ranks_pdf) == 0:
        return pd.DataFrame({"dst": pd.Series(dtype="int64"),
                             "mass": pd.Series(dtype="float64")})
    ranks = ranks_pdf.set_index("id")["rank"]
    src_rank = ranks.reindex(edges_pdf["src"]).to_numpy()
    mass = edges_pdf["coef"].to_numpy() * src_rank
    out = pd.DataFrame({"dst": edges_pdf["dst"].to_numpy(), "mass": mass})
    return out.groupby("dst", as_index=False, sort=False)["mass"].sum()


def _coef_edges(g: Graph, damp: float) -> DataFrame:
    """Static per-edge coefficient damp·w/wdeg(src), partitioned by
    ``src`` — computed once, reused every superstep. wdeg is a window sum
    over the src partition, so the table costs one edge-sized shuffle."""
    wdeg = F.sum("weight").over(Window.partitionBy("src"))
    return g.symmetrized().repartition("src").select(
        "src", "dst", (F.lit(damp) * F.col("weight") / wdeg).alias("coef"))


def pagerank(
    g: Graph,
    damp: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 250,
    mode: str = "dataframe",
    num_blocks: int | None = None,
    hub_threshold: int = 1 << 20,
    norm: str = "l2",
    fixed_iters: int | None = None,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id: long, rank: double), Σ rank = 1.

    ``norm``: "l2" (reference, PageRank.cpp:48-57) or "l1" (the north_star
    names L1; both norms are recorded in superstep metrics regardless).
    ``fixed_iters``: run exactly k supersteps with no convergence check
    (deterministic variant used for SQL-oracle parity in the driver gate).
    """
    spark = g.edges.sparkSession
    n = g.num_vertices()
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")
    teleport = (1.0 - damp) / n
    coef = _coef_edges(g, damp)
    persisted = []

    if mode == "blocks":
        if num_blocks is None:
            num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        out_deg = coef.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
        hubs = out_deg.filter(F.col("odeg") > hub_threshold).select("src").persist()
        n_hubs = hubs.count()
        coef_main = coef.join(hubs, "src", "left_anti")
        blocks = (
            coef_main.withColumn("block", F.pmod(F.xxhash64("src"), F.lit(num_blocks)))
            .repartition(num_blocks, "block")
            .persist()
        )
        blocks.count()
        persisted += [hubs, blocks]
        if n_hubs > 0:
            coef_hub = (
                coef.join(F.broadcast(hubs), "src", "left_semi")
                .repartition(num_blocks, "dst")
                .persist()
            )
            coef_hub.count()
            persisted.append(coef_hub)
        else:
            coef_hub = None
    else:
        coef = coef.persist()
        coef.count()
        persisted.append(coef)

    def init_fn() -> DataFrame:
        return g.vertices.select("id", F.lit(1.0 / n).alias("rank"))

    def step_fn(state: DataFrame, k: int) -> DataFrame:
        ranks = state.select("id", "rank")
        if mode == "blocks":
            ranks_b = ranks.withColumn(
                "block", F.pmod(F.xxhash64("id"), F.lit(num_blocks))
            )
            msgs = (
                blocks.groupby("block")
                .cogroup(ranks_b.groupby("block"))
                .applyInPandas(_scatter_block, schema=_SCATTER_SCHEMA)
            )
            if coef_hub is not None:
                hub_ranks = ranks.join(
                    F.broadcast(hubs.withColumnRenamed("src", "id")), "id", "left_semi"
                )
                hub_msgs = (
                    coef_hub.join(F.broadcast(hub_ranks), coef_hub.src == hub_ranks.id)
                    .select("dst", (F.col("coef") * F.col("rank")).alias("mass"))
                )
                msgs = msgs.unionByName(hub_msgs)
        else:
            msgs = (
                coef.join(ranks.withColumnRenamed("id", "src"), "src")
                .select("dst", (F.col("coef") * F.col("rank")).alias("mass"))
            )
        # one aggregation per vertex: its in-messages plus a self row that
        # carries the old rank, so every vertex survives (also teleport-only
        # and isolated ones) and _delta needs no join back to the state
        own = ranks.select("id", F.lit(0.0).alias("mass"),
                           F.col("rank").alias("_prev"))
        agg = (
            msgs.select(F.col("dst").alias("id"), "mass",
                        F.lit(None).cast("double").alias("_prev"))
            .unionByName(own)
            .groupBy("id")
            .agg(F.sum("mass").alias("mass"), F.max("_prev").alias("_prev"))
        )
        new_rank = F.col("mass") + F.lit(teleport)
        if fixed_iters is not None:
            return agg.select("id", new_rank.alias("rank"))
        return agg.select("id", new_rank.alias("rank"),
                          (new_rank - F.col("_prev")).alias("_delta"))

    def stop_fn(metrics: dict, k: int) -> bool:
        if fixed_iters is not None:
            return k >= fixed_iters - 1
        key = "l2_delta" if norm == "l2" else "l1_delta"
        return metrics.get(key, float("inf")) <= tol

    def finalize_fn(ranks: DataFrame) -> DataFrame:
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        return ranks.select("id", (F.col("rank") / F.lit(float(total))).alias("rank"))

    if runner is None:
        runner = SuperstepRunner(spark, job_id="pagerank-anon", ephemeral=True)
    try:
        return runner.run(
            init_fn, step_fn, stop_fn,
            max_iter=(fixed_iters if fixed_iters is not None else max_iter),
            finalize_fn=finalize_fn,
        )
    finally:
        # the result reads only the checkpoint, never these tables
        for p in persisted:
            p.unpersist()


def ranking(scores: DataFrame, score_col: str = "rank") -> DataFrame:
    """Reference Centrality::ranking() — sort desc by score, asc by id
    (/root/reference/networkit/cpp/centrality/Centrality.cpp:29-42)."""
    return scores.orderBy(F.desc(score_col), F.asc("id"))
