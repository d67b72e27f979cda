#!/usr/bin/env python
"""Capture .explain('formatted') for the engine's key plans → stdout.

Used to audit: column pruning into parquet scans (ReadSchema), predicate
pushdown (PushedFilters), exchange reuse across supersteps, broadcast
joins for small sides, and WholeStageCodegen coverage of the hot
expressions. Findings are summarized in docs/PLANS.md.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from networkit_spark.session import get_spark
from networkit_spark.graph import Graph
from networkit_spark.operators.pagerank import _coef_edges
from networkit_spark.operators.triangles import triangle_counts
from networkit_spark.sources import tpch_graph as TG
from networkit_spark.sources.repos import derive_edges


def show(title: str, df) -> None:
    print(f"\n{'=' * 70}\n## {title}\n{'=' * 70}")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    out = buf.getvalue()
    print(out)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="explain", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. edge derivation from a wide corpus-like table: column pruning
    repos = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.lit("r").alias("repo"),
        F.concat(F.lit("src/mod_"), F.col("doc_id").cast("string"), F.lit(".py")).alias("path"),
        F.lit("c").alias("commit"), F.lit("py").alias("lang"),
        F.col("text").alias("content"))
    show("corpus edge derivation (check: content never shuffles)", derive_edges(repos))

    # 2. cs-graph derivation: pushdown + pruning on parquet scans
    show("cs edge derivation (check: ReadSchema minimal)",
         TG.edges_customer_supplier(spark, sf))

    # 3. one PageRank superstep: join strategy + partial aggregation
    g = TG.graph_customer_supplier(spark, sf)
    n = g.num_vertices()
    coef = _coef_edges(g, 0.85).persist()
    coef.count()
    ranks = g.vertices.select("id", F.lit(1.0 / n).alias("rank"))
    msgs = (
        coef.join(ranks.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id"), (F.col("coef") * F.col("rank")).alias("mass"))
    )
    new = (
        msgs.unionByName(ranks.select("id", F.lit(0.0).alias("mass")))
        .groupBy("id").agg((F.sum("mass") + F.lit(0.15 / n)).alias("rank"))
    )
    show("PageRank superstep (check: InMemoryTableScan for coef; "
         "partial+final HashAggregate over the message/self-row union)", new)

    # 4. triangle counts: out-lists, keyed wedge closure, one aggregation
    gpp = TG.graph_part_part(spark, sf)
    show("triangle counts (check: four Exchanges above the edge "
         "derivation, no self-join, no InMemoryTableScan)",
         triangle_counts(gpp))

    # 5. filter pushdown check on a raw scan
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    show("filtered doc scan (check: PushedFilters contains lang filter)",
         docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"))

    spark.stop()


if __name__ == "__main__":
    main()
