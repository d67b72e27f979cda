"""Resumable superstep runner.

The reference runs iterations inside one OpenMP process
(/root/reference/networkit/cpp/centrality/PageRank.cpp:30-58 — a while loop
over parallelForNodes). On Spark, each iteration is a distributed job and the
loop lives on the driver; the per-vertex state DataFrame must be

  1. lineage-cut every superstep so the logical plan doesn't grow
     unboundedly, and
  2. checkpointed durably so a killed job resumes mid-iteration
     (BASELINE.json north_rule: "resumable from checkpoint with
     per-partition lineage + metrics").

Both are ONE mechanism here: every superstep writes the new state to a
partitioned parquet checkpoint and reads it back; the read-back DataFrame is
a fresh scan (lineage fully cut, stats = real file sizes) and the write is
the durable checkpoint. This deliberately avoids ``localCheckpoint``:
its ``rewriteStatsAndConstraints`` re-derives sizeInBytes from the child
plan, and in an iterative join plan where the state is referenced twice the
BigInt size estimate doubles its bit-length every superstep — Catalyst ends
up burning minutes in BigInteger math by iteration ~20. Parquet round-trips
reset stats to reality. On a cluster the write becomes
``writeTo(...).append()`` on an Iceberg table partitioned by ``iter``; the
local layout is Iceberg-style parquet + manifests:

    {state_dir}/{job_id}/iter=00042/part-*.parquet   (atomic via _SUCCESS)
    {state_dir}/{job_id}/metrics.jsonl               (one row per superstep)
    {state_dir}/{job_id}/partitions.jsonl            (per-partition lineage)

Cost model: ONE action per superstep — the checkpoint write carries
the convergence aggregates as ``df.observe`` observation metrics (row
count, order-independent bit_xor(xxhash64) content fingerprint, l1/l2/
changed norms), and per-partition lineage comes from the written parquet
file footers (rows + bytes per file — exactly what an Iceberg manifest
records), costing no extra job. The read-back scan is given the written
schema (``plans.scratch.write_cut``), so it plans without a
schema-inference job; only a resume, which has no schema in hand, reads
its last ``iter=`` dir plainly. With AQE every query stage still counts
as a Spark job: a PageRank superstep on a small graph runs 3 (see
``operators.pagerank``). Kernels report convergence through reserved
state columns: ``_delta`` (new−old per vertex → l1/l2 norms) and
``_changed`` (0/1 per vertex → changed count); both land in metrics.jsonl
every superstep.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from networkit_spark.plans.scratch import state_root, write_cut

METRIC_COLS = ("_delta", "_changed", "_norm2")


class SuperstepRunner:
    def __init__(
        self,
        spark: SparkSession,
        job_id: str,
        state_dir: str | None = None,
        resume: bool = True,
        retain: int | None = None,
        ephemeral: bool = False,
    ):
        """``ephemeral=True`` puts state in a throwaway temp dir (unit
        tests / anonymous runs); ``retain=k`` keeps only the latest k
        iteration checkpoints (production space bound)."""
        self.spark = spark
        self.job_id = job_id
        if ephemeral:
            # throwaway state still lives under the SHARED root (not
            # driver /tmp) so ephemeral runs stay cluster-portable
            import uuid

            state_dir = "%s/ephemeral/%s" % (
                state_root().rstrip("/"), uuid.uuid4().hex[:12])
            resume = False
        self.state_dir = state_dir or os.environ.get("NKS_STATE_DIR", "/root/repo/.state")
        self.job_dir = os.path.join(self.state_dir, job_id)
        self.resume = resume
        self.retain = retain
        self.ephemeral = ephemeral
        self.history: list[dict] = []
        self.resumed_from: int | None = None

    # -- checkpoint plumbing ----------------------------------------------

    def _iter_dir(self, k: int) -> str:
        return os.path.join(self.job_dir, f"iter={k:05d}")

    def _complete_iters(self) -> list[int]:
        if not os.path.isdir(self.job_dir):
            return []
        out = []
        for name in os.listdir(self.job_dir):
            if name.startswith("iter=") and os.path.exists(
                os.path.join(self.job_dir, name, "_SUCCESS")
            ):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def _append_jsonl(self, fname: str, rows: list[dict]) -> None:
        os.makedirs(self.job_dir, exist_ok=True)
        with open(os.path.join(self.job_dir, fname), "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # -- the loop ----------------------------------------------------------

    def run(
        self,
        init_fn: Callable[[], DataFrame],
        step_fn: Callable[[DataFrame, int], DataFrame],
        stop_fn: Callable[[dict, int], bool],
        max_iter: int = 100,
        finalize_fn: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Run supersteps until ``stop_fn(metrics, k)`` or ``max_iter``.

        ``step_fn(state, k) -> new_state`` may attach ``_delta`` /
        ``_changed`` metric columns (dropped before ``finalize_fn``). On
        resume, continues from the last durably-complete iteration.
        """
        start_k = 0
        state: DataFrame | None = None

        if self.resume:
            done = self._complete_iters()
            if done:
                last = done[-1]
                state = self.spark.read.parquet(self._iter_dir(last))
                start_k = last + 1
                self.resumed_from = last
                mpath = os.path.join(self.job_dir, "metrics.jsonl")
                if os.path.exists(mpath):
                    with open(mpath) as f:
                        self.history = [json.loads(line) for line in f if line.strip()]
                    last_m = next((m for m in reversed(self.history) if m["iter"] == last), None)
                    if last_m and stop_fn(last_m, last):
                        return self._finish(state, finalize_fn)

        if state is None:
            state = write_cut(init_fn(), os.path.join(self.job_dir, "init"))

        k = start_k
        while k < max_iter:
            t0 = time.monotonic()
            # ONE action: the checkpoint write carries the convergence
            # aggregates as observation metrics; per-partition lineage
            # comes from the written parquet footers (no extra job).
            new_state, metrics = self._checkpoint_observed(
                step_fn(state, k), k)
            metrics["wall_ms"] = int((time.monotonic() - t0) * 1000)
            self._append_jsonl("metrics.jsonl",
                               [{"job_id": self.job_id, "iter": k, **metrics}])
            self._gc(k)
            state = new_state
            self.history.append({"job_id": self.job_id, "iter": k, **metrics})
            if stop_fn(metrics, k):
                break
            k += 1

        return self._finish(state, finalize_fn)

    def _checkpoint_observed(self, df: DataFrame, k: int):
        """Checkpoint write with fused observation metrics (convergence
        norms + row count + content fingerprint in the SAME job), plus
        Iceberg-manifest-style per-partition lineage from the parquet
        footers."""
        public = [c for c in df.columns if not c.startswith("_")]
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in public])).alias("fingerprint"),
        ]
        cols = set(df.columns)
        if "_delta" in cols:
            aggs.append(F.sum(F.col("_delta") * F.col("_delta")).alias("sq"))
            aggs.append(F.sum(F.abs(F.col("_delta"))).alias("ab"))
        if "_changed" in cols:
            aggs.append(F.sum(F.col("_changed").cast("long")).alias("chg"))
        if "_norm2" in cols:
            aggs.append(F.sum(F.col("_norm2")).alias("n2"))
        obs = Observation(f"iter{k}")
        path = self._iter_dir(k)
        state = write_cut(df.observe(obs, *aggs), path)
        got = obs.get

        metrics: dict = {"rows": int(got["rows"] or 0),
                         "fingerprint": int(got["fingerprint"] or 0)}
        if "_delta" in cols:
            metrics["l2_delta"] = float(got["sq"] or 0.0) ** 0.5
            metrics["l1_delta"] = float(got["ab"] or 0.0)
        if "_changed" in cols:
            metrics["changed"] = int(got["chg"] or 0)
        if "_norm2" in cols:
            metrics["norm2"] = float(got["n2"] or 0.0)

        lineage = []
        try:
            import pyarrow.parquet as pq
            for f in sorted(glob.glob(os.path.join(path, "part-*"))):
                md = pq.ParquetFile(f).metadata
                lineage.append({
                    "job_id": self.job_id, "iter": k,
                    "file": os.path.basename(f),
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(f),
                })
        except Exception:
            pass
        if lineage:
            self._append_jsonl("partitions.jsonl", lineage)
        return state, metrics

    def _gc(self, k: int) -> None:
        if self.retain is None:
            return
        for done in self._complete_iters():
            if done <= k - self.retain:
                shutil.rmtree(self._iter_dir(done), ignore_errors=True)

    def _finish(self, state: DataFrame, finalize_fn) -> DataFrame:
        public = [c for c in state.columns if not c.startswith("_")]
        out = state.select(*public)
        out = finalize_fn(out) if finalize_fn else out
        if self.ephemeral:
            out = out.persist()
            out.count()
            self._rm(self.state_dir)
        return out

    def _rm(self, path: str) -> None:
        """Scheme-aware recursive delete (hdfs://s3a://file all work)."""
        try:
            jvm = self.spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
            fs.delete(p, True)
        except Exception:
            shutil.rmtree(path, ignore_errors=True)
