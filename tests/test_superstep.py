"""Checkpoint/resume machinery tests (north rule: resumable mid-iteration
with per-partition lineage + metrics)."""

import json
import os

import numpy as np
import pytest

from networkit_spark.graph import Graph
from networkit_spark.operators.pagerank import pagerank
from networkit_spark.plans.superstep import SuperstepRunner
from tests.conftest import PR8_EDGES, job_counts
from tests.oracles import pagerank_ref


def test_checkpoint_files_written(spark, tmp_path):
    g = Graph.from_rows(spark, PR8_EDGES, directed=False)
    runner = SuperstepRunner(spark, job_id="pr-ckpt", state_dir=str(tmp_path))
    pagerank(g, fixed_iters=3, runner=runner)
    job_dir = tmp_path / "pr-ckpt"
    iters = sorted(p.name for p in job_dir.iterdir() if p.name.startswith("iter="))
    assert iters == ["iter=00000", "iter=00001", "iter=00002"]
    metrics = [json.loads(l) for l in (job_dir / "metrics.jsonl").read_text().splitlines()]
    assert [m["iter"] for m in metrics] == [0, 1, 2]
    assert all(m["rows"] == 8 and "wall_ms" in m for m in metrics)
    parts = [json.loads(l) for l in (job_dir / "partitions.jsonl").read_text().splitlines()]
    assert sum(p["rows"] for p in parts if p["iter"] == 2) == 8
    # manifest-style lineage: one record per written file with rows+bytes
    assert all("file" in p and p["bytes"] > 0 for p in parts)
    # global content fingerprint lives in the per-superstep metrics
    assert all("fingerprint" in m for m in metrics)


def test_resume_mid_iteration_identical(spark, tmp_path):
    """Kill after superstep k, restart, final scores identical to an
    uninterrupted run (SURVEY.md §5.2 item 6)."""
    g = Graph.from_rows(spark, PR8_EDGES, directed=False)

    full = pagerank(g, fixed_iters=12,
                    runner=SuperstepRunner(spark, "pr-full", state_dir=str(tmp_path)))
    full_scores = {r["id"]: r["rank"] for r in full.collect()}

    # run 1: "killed" after 5 supersteps (max_iter caps it)
    pagerank(g, fixed_iters=5,
             runner=SuperstepRunner(spark, "pr-resume", state_dir=str(tmp_path)))
    # verify partial durable state exists
    assert os.path.exists(tmp_path / "pr-resume" / "iter=00004" / "_SUCCESS")

    # run 2: resume the same job to 12 total supersteps
    r2 = SuperstepRunner(spark, "pr-resume", state_dir=str(tmp_path), resume=True)
    resumed = pagerank(g, fixed_iters=12, runner=r2)
    resumed_scores = {r["id"]: r["rank"] for r in resumed.collect()}

    # the resumed run must pick up from iter 4's durable state, not restart
    assert r2.resumed_from == 4
    for i in full_scores:
        assert full_scores[i] == pytest.approx(resumed_scores[i], abs=1e-15)


def test_resume_skips_if_converged(spark, tmp_path):
    g = Graph.from_rows(spark, PR8_EDGES, directed=False)
    r1 = SuperstepRunner(spark, "pr-done", state_dir=str(tmp_path))
    out1 = pagerank(g, tol=1e-4, runner=r1)
    s1 = {r["id"]: r["rank"] for r in out1.collect()}
    # resume: converged metrics already recorded → no new supersteps
    r2 = SuperstepRunner(spark, "pr-done", state_dir=str(tmp_path), resume=True)
    out2 = pagerank(g, tol=1e-4, runner=r2)
    s2 = {r["id"]: r["rank"] for r in out2.collect()}
    assert r2.history and all(m["iter"] <= max(x["iter"] for x in r1.history)
                              for m in r2.history)
    for i in s1:
        assert s1[i] == pytest.approx(s2[i], abs=1e-15)


def test_lineage_fingerprint_deterministic(spark, tmp_path):
    g = Graph.from_rows(spark, PR8_EDGES, directed=False)
    fps = []
    for job in ("fp-a", "fp-b"):
        r = SuperstepRunner(spark, job, state_dir=str(tmp_path))
        pagerank(g, fixed_iters=3, runner=r)
        fps.append([m["fingerprint"] for m in r.history])
    assert fps[0] == fps[1]  # same input + same supersteps → same lineage


def test_power_iteration_one_action_per_superstep(spark):
    # round-2 "What's wrong" #3: eigen/Katz collected the L2 norm on the
    # driver every superstep — an extra full job per iteration. The lazy
    # normalization folds the norm into the next step's expressions via
    # the _norm2 observation metric; assert the job count stays at
    # ~one action per superstep (was ~two).
    from networkit_spark.graph import Graph
    from networkit_spark.operators.centrality import eigenvector_centrality

    g = Graph.from_rows(spark, [(i, i + 1, 1.0) for i in range(8)],
                        directed=False)
    g.num_vertices()  # materialize count outside the measured group
    sc = spark.sparkContext
    from networkit_spark.plans.superstep import SuperstepRunner

    runner = SuperstepRunner(spark, job_id="eigen-jobcount", ephemeral=True)
    sc.setJobGroup("eigen-jobcount", "power-iteration action audit")
    try:
        out = eigenvector_centrality(g, fixed_iters=6, runner=runner)
        rows = {r["id"]: r["score"] for r in out.collect()}
    finally:
        sc.setJobGroup("", "")
    assert len(rows) == 9 and abs(sum(v * v for v in rows.values()) - 1.0) < 1e-9
    # the norm must come from the FUSED observation metric, not a
    # per-superstep collect: every iteration's metrics carry norm2
    assert runner.history and all("norm2" in m for m in runner.history)
    # raw job counts include AQE query-stage and broadcast-exchange jobs
    # (~8/superstep here); the eager-norm version adds one full
    # agg+collect query (~3-4 more jobs) per superstep → ~70+ total
    jobs = sc.statusTracker().getJobIdsForGroup("eigen-jobcount")
    assert len(jobs) <= 55, f"{len(jobs)} jobs for 6 supersteps"


# ---- Spark job counts and cached-table lifetime -----------------------------

def _random_graph(spark, n=200, m=1200, seed=7):
    """Directed random graph with a few isolated and teleport-only
    vertices (ids >= n - 5 get no edges)."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n - 5, m)
    dst = rng.integers(0, n - 5, m)
    rows = sorted({(int(u), int(v)) for u, v in zip(src, dst) if u != v})
    return Graph.from_rows(spark, rows, directed=True, n=n)


class _GroupPerSuperstep(SuperstepRunner):
    """Tags each superstep's Spark work with its own job group. The
    metrics row of superstep k lands right after its checkpoint write and
    before superstep k+1 starts, so switching the group there attributes
    every job to the superstep that ran it."""

    def _append_jsonl(self, fname, rows):
        super()._append_jsonl(fname, rows)
        if fname == "metrics.jsonl":
            group = "%s-%d" % (self.job_id, rows[-1]["iter"] + 1)
            self.spark.sparkContext.setJobGroup(group, group)


def test_pagerank_superstep_job_count(spark, tmp_path):
    """A steady-state PageRank superstep is one checkpoint write: with AQE
    it runs 3 Spark jobs (the rank-vector broadcast, the message
    shuffle, the write). A schema-inference read-back or a join back to
    the old ranks shows up here as extra jobs."""
    g = _random_graph(spark)
    g.num_vertices()
    sc = spark.sparkContext
    runner = _GroupPerSuperstep(spark, "pr-jobs", state_dir=str(tmp_path))
    sc.setJobGroup("pr-jobs-0", "pr-jobs-0")
    try:
        pagerank(g, tol=1e-12, max_iter=6, runner=runner)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(runner.history) == 6
    steady = ["pr-jobs-%d" % k for k in range(1, 6)]
    counts = job_counts(sc, steady)
    assert all(1 <= c <= 3 for c in counts.values()), counts


def test_scratch_cut_reads_back_without_a_job(spark):
    from pyspark.sql import functions as F

    from networkit_spark.plans.scratch import Scratch

    df = spark.range(40, numPartitions=2).select(
        "id", (F.col("id") * 0.5).alias("x"),
        F.col("id").cast("string").alias("s"),
        F.array("id", F.lit(7)).alias("a"))
    sc = spark.sparkContext
    with Scratch(spark, "cut-jobs") as scratch:
        plain_dir = scratch.dir + "/plain"
        sc.setJobGroup("cut-plain-write", "cut-plain-write")
        df.write.parquet(plain_dir)
        sc.setJobGroup("cut-plain-read", "cut-plain-read")
        plain = spark.read.parquet(plain_dir)
        sc.setJobGroup("cut", "cut")
        out = scratch.cut(df)
        counts = job_counts(sc, ["cut-plain-write", "cut-plain-read", "cut"])
        # the plain read infers the schema with a job; the cut's read-back
        # carries the written schema, so the cut costs only its write
        assert counts["cut-plain-read"] >= 1
        assert counts["cut"] == counts["cut-plain-write"], counts
        assert ([(f.name, f.dataType) for f in out.schema]
                == [(f.name, f.dataType) for f in plain.schema])
        assert sorted(out.collect()) == sorted(df.collect())


def test_scratch_never_reuses_a_path(spark):
    from networkit_spark.plans.scratch import Scratch

    with Scratch(spark, "cut-names") as scratch:
        a = scratch.cut(spark.range(3), "st")
        # re-cutting under the same name must not overwrite the input scan
        b = scratch.cut(a.selectExpr("id + 10 AS id"), "st")
        assert sorted(r.id for r in b.collect()) == [10, 11, 12]
        assert sorted(r.id for r in a.collect()) == [0, 1, 2]


class _Boom(Exception):
    pass


class _CrashAfter(SuperstepRunner):
    """Raises right after superstep 1's metrics row, as a crash would."""

    def _append_jsonl(self, fname, rows):
        super()._append_jsonl(fname, rows)
        if fname == "metrics.jsonl" and rows[-1]["iter"] >= 1:
            raise _Boom()


@pytest.mark.parametrize("mode", ["dataframe", "blocks"])
def test_pagerank_releases_cached_tables(spark, tmp_path, mode):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    base = persistent().size()
    g = _random_graph(spark, n=60, m=300)
    kw = {"mode": mode}
    if mode == "blocks":  # small hub threshold: coef_hub is cached too
        kw.update(hub_threshold=8, num_blocks=4)
    out = pagerank(g, tol=1e-6, max_iter=4,
                   runner=SuperstepRunner(spark, "pr-free", state_dir=str(tmp_path)),
                   **kw)
    assert out.count() == 60
    assert persistent().size() == base
    with pytest.raises(_Boom):
        pagerank(g, tol=1e-12,
                 runner=_CrashAfter(spark, "pr-crash", state_dir=str(tmp_path)),
                 **kw)
    assert persistent().size() == base
