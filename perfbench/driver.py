"""The Spark driver process of one benchmark job.

``run.py`` starts a fresh driver process for every job, as a spark-submit
job would start, so every job pays the JVM's JIT and codegen warm-up. The
driver ingests the corpus into a freshly persisted graph and runs the
workload's kernels on fresh durable job dirs. Every call into the library is
timed from outside; every kernel result is written to parquet for the
correctness gate; a JSON record of timings and spans goes to ``--out``.

    python3 perfbench/driver.py --config <driver.json> --out <result.json>

PageRank is crashed mid-run: the runner hook raises right after superstep
``kill_after``'s metrics row is appended, so nothing else is written and the
job dir holds exactly what a crash at that point leaves. The driver then
drops every cached table, stops the SparkContext, starts a new one, ingests
again and resumes the job with a fresh runner on the same job id.

With ``trace`` on, each span tags its Spark work with
``setJobGroup("<job id>/<span path>")`` and every SparkContext writes an
uncompressed, unrolled event log, so ``run.py`` can attribute jobs, tasks
and shuffle bytes to spans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from networkit_spark import Graph, get_spark  # noqa: E402
from networkit_spark.operators.components import connected_components  # noqa: E402
from networkit_spark.operators.lpa import label_propagation  # noqa: E402
from networkit_spark.operators.pagerank import pagerank  # noqa: E402
from networkit_spark.operators.triangles import triangle_counts  # noqa: E402
from networkit_spark.plans.superstep import SuperstepRunner  # noqa: E402
from networkit_spark.sources.repos import (  # noqa: E402
    file_id_col, graph_from_repos, ingest, verify_sha)

class Tracer:
    """In-memory spans (name, start, end, parent, run id). Durations are
    always measured; with ``trace`` on, the open span path also becomes the
    Spark job group of the work started inside it."""

    def __init__(self, trace: bool, run_id: str):
        self.trace = trace
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.sc = None

    def set_group(self) -> None:
        if self.trace and self.sc is not None:
            path = "/".join([self.run_id] + [s["name"] for s in self.stack])
            self.sc.setJobGroup(path, path)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1]["name"] if self.stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time()}
        self.stack.append(rec)
        self.set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self.set_group()
            self.spans.append(rec)


class Crash(Exception):
    """Raised by the runner hook to crash a first attempt."""


class BenchRunner(SuperstepRunner):
    """The library's durable runner, observed from outside: records when
    ``run`` is entered and when each superstep's metrics row lands, wraps
    the loop in a ``superstep.loop`` span, and with ``kill_after`` set
    aborts right after that superstep's metrics row is durable."""

    def __init__(self, tracer: Tracer, *args, kill_after=None, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.kill_after = kill_after
        self.t_run = None
        self.step_times: list[float] = []

    def run(self, *args, **kwargs):
        self.t_run = time.time()
        with self.tracer.span("superstep.loop"):
            return super().run(*args, **kwargs)

    def _append_jsonl(self, fname, rows):
        super()._append_jsonl(fname, rows)
        if fname != "metrics.jsonl":
            return
        self.step_times.append(time.time())
        if self.kill_after is not None and rows[-1]["iter"] >= self.kill_after:
            raise Crash()

    def record(self, t_call: float) -> dict:
        return {"t_call": t_call, "t_run": self.t_run,
                "step_times": self.step_times, "resumed_from": self.resumed_from,
                "history": [{k: h.get(k) for k in ("iter", "wall_ms", "changed")}
                            for h in self.history]}


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _ingest(spark, tracer: Tracer, cfg: dict, timings: dict, values: dict):
    """Corpus parquet to a persisted edge table plus the vertex count."""
    directed = cfg["spec"]["directed"]
    with tracer.span("ingest") as sp:
        repos = spark.read.parquet(cfg["corpus"])
        g0 = graph_from_repos(repos, directed=directed)
        edges = g0.edges.persist()
        values["m"] = edges.count()
        g = Graph(edges, directed=directed, weighted=False,
                  vertices=repos.select(file_id_col().alias("id")))
        with tracer.span("graph.num_vertices") as nv:
            values["n"] = g.num_vertices()
    timings["ingest_s"] = timings.get("ingest_s", 0.0) + sp["end"] - sp["start"]
    timings["num_vertices_s"] = (timings.get("num_vertices_s", 0.0)
                                 + nv["end"] - nv["start"])
    return repos, g


def run_job(session: "Session", tracer: Tracer, cfg: dict) -> dict:
    """The workload's job on job dirs named after ``cfg["job_id"]``."""
    spec = cfg["spec"]
    job_id = cfg["job_id"]
    out_dir = os.path.join(cfg["out_dir"], job_id)
    timings: dict = {}
    values: dict = {}
    t_start = time.time()
    repos, g = _ingest(session.spark, tracer, cfg, timings, values)

    def runner(kernel: str, **kw) -> BenchRunner:
        return BenchRunner(tracer, session.spark, job_id + "-" + kernel,
                           state_dir=cfg["state_dir"], **kw)

    ops = spec["kernels"]
    if "pagerank" in ops:
        with tracer.span("pagerank") as sp:
            r = runner("pagerank", kill_after=spec["kill_after"])
            try:
                pagerank(g, tol=spec["tol"], runner=r)
                raise RuntimeError("pagerank converged before the planned "
                                   "crash at superstep %d" % spec["kill_after"])
            except Crash:
                pass
        timings["pagerank_s"] = sp["end"] - sp["start"]
        values["pagerank"] = r.record(sp["start"])
        # the crashed attempt's cached tables and context go away; the
        # resume sees only what is on disk
        with tracer.span("restart") as sp:
            session.restart()
        timings["restart_s"] = sp["end"] - sp["start"]
        repos, g = _ingest(session.spark, tracer, cfg, timings, values)
        with tracer.span("resume") as sp:
            r = runner("pagerank")
            _write(pagerank(g, tol=spec["tol"], runner=r),
                   os.path.join(out_dir, "pagerank"))
        timings["resume_s"] = sp["end"] - sp["start"]
        values["resume"] = r.record(sp["start"])
    if "cc" in ops:
        with tracer.span("cc") as sp:
            r = runner("cc")
            _write(connected_components(g, algorithm="star", runner=r),
                   os.path.join(out_dir, "cc"))
        timings["cc_s"] = sp["end"] - sp["start"]
        values["cc"] = r.record(sp["start"])
    if "lpa" in ops:
        with tracer.span("lpa") as sp:
            r = runner("lpa")
            _write(label_propagation(g, max_iter=spec["lpa_max_iter"], runner=r),
                   os.path.join(out_dir, "lpa"))
        timings["lpa_s"] = sp["end"] - sp["start"]
        values["lpa"] = r.record(sp["start"])
    if "triangles" in ops:
        with tracer.span("triangles") as sp:
            _write(triangle_counts(g), os.path.join(out_dir, "triangles"))
        timings["triangles_s"] = sp["end"] - sp["start"]
    if "verify_sha" in ops:
        with tracer.span("verify_sha") as sp:
            values["sha_mismatches"] = verify_sha(ingest(repos), repos)
        timings["verify_sha_s"] = sp["end"] - sp["start"]
    t_end = time.time()

    # untimed: the derived edge set, for the gate
    with tracer.span("gate.write"):
        _write(g.edges.select("src", "dst"), os.path.join(out_dir, "edges"))
        _write(repos.select(file_id_col().alias("id"), "path"),
               os.path.join(out_dir, "ids"))
    return {"job_id": job_id, "t_start": t_start, "t_end": t_end,
            "timings": timings, "values": values}


class Session:
    """The driver's SparkSession; ``restart`` replaces it with a fresh one,
    as a restarted job would get."""

    def __init__(self, tracer: Tracer, cfg: dict):
        self.tracer = tracer
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(cfg["work_dir"], "warehouse"),
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir=" + cfg["tmp_dir"],
        }
        if tracer.trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = None
        self.start()

    def start(self) -> None:
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.tracer.set_group()
        self.spark.sql("SELECT 1").collect()

    def restart(self) -> None:
        self.spark.catalog.clearCache()
        self.spark.stop()
        self.start()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.config) as f:
        cfg = json.load(f)
    tracer = Tracer(bool(cfg["trace"]), cfg["job_id"])
    with tracer.span("session"):
        session = Session(tracer, cfg)
    rec = {"ready_wall": time.time()}
    rec.update(run_job(session, tracer, cfg))
    rec["spans"] = tracer.spans
    with open(args.out, "w") as f:
        json.dump(rec, f)
    session.spark.stop()


if __name__ == "__main__":
    main()
