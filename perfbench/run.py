"""The benchmark of record: corpus-to-result graph jobs on local Spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Closed loop, one job at a time. Every job is a fresh Spark driver process
(``driver.py``) on ``local[<cpus>]`` with shuffle partitions = cpus, so every
job pays driver start-up and JIT warm-up as a spark-submit job does. Jobs are
started until ``--seconds`` have passed, at least one; every metric is the
median over the run's jobs. Each job ingests the corpus into a freshly
persisted graph and runs the workload's kernels on fresh durable job dirs.
In the kill-and-resume workload every job crashes its PageRank mid-run and
resumes it in a fresh SparkContext.

After the jobs, the correctness gate checks every output of every job against
reference-semantics oracles (``oracle.py``); a mismatch counts as a failed
operation.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the same jobs with spans as Spark job groups and the Spark event log on,
and reports the per-layer metrics; spans and engine counters are also written
to ``perfbench/.out/``. The last stdout line is the JSON result; the lines
before it show run provenance and every metric with its unit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402
import trace  # noqa: E402

MB = 1 << 20
DRIVER_TIMEOUT_S = 150
MAX_JOBS = 8

WORKLOADS = {
    # superstep loop dominates: a small rank vector shuffled behind fixed
    # per-superstep job latency; crashed mid-run, resumed in a fresh context
    "import-pagerank": {
        "skeleton": "rmat", "scale": 13, "edge_factor": 8, "rng_stream": 1,
        "directed": True, "kernels": ["pagerank"],
        "tol": 3e-4, "kill_after": 2,
    },
    # clustered, skewed, undirected: CC and LPA shuffle edge-sized data
    # every superstep; LPA does not converge and runs to its cap
    "import-communities": {
        "skeleton": "hyperbolic", "n": 4096, "avg_degree": 16, "gamma": 2.7,
        "rng_stream": 2, "directed": False, "kernels": ["cc", "lpa"],
        "lpa_max_iter": 3,
    },
    # no superstep loop; content-heavy, so regex extraction and sha2 work,
    # and the hub skew makes the one-shot wedge join heavy
    "fat-corpus": {
        "skeleton": "rmat", "scale": 13, "edge_factor": 4, "pad_bytes": 3400,
        "rng_stream": 3, "directed": False,
        "kernels": ["triangles", "verify_sha"],
    },
}

END_TO_END = {"setup_s": "s", "ingest_s": "s", "kernel_s": "s", "job_s": "s"}
KERNEL_TIMINGS = ("pagerank_s", "resume_s", "cc_s", "lpa_s", "triangles_s",
                  "verify_sha_s")
SELF_SPANS = ("ingest", "graph.num_vertices", "pagerank", "resume", "cc",
              "lpa", "triangles", "verify_sha", "superstep.loop")
ENGINE_SPANS = ("ingest", "pagerank", "resume", "cc", "lpa", "triangles",
                "verify_sha")
OUTPUT_COLUMN = {"pagerank": "rank", "cc": "component", "lpa": "label",
                 "triangles": "triangles"}


class BenchError(RuntimeError):
    pass


# -- processes ----------------------------------------------------------------

def _group_members(pgid: int) -> list[tuple[str, int]]:
    """(state, rss pages) of every process in process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            out.append((fields[0], int(fields[21])))
    return out


def _alive(pgid: int) -> bool:
    return any(st != "Z" for st, _ in _group_members(pgid))


def _stop_group(proc: subprocess.Popen, grace: float) -> None:
    """Give the driver's process group ``grace`` seconds to exit on its own
    (the JVM removes its local dirs on the way out), then kill what is left
    and wait for it."""
    deadline = time.monotonic() + grace
    while _alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while _alive(proc.pid):
        if time.monotonic() > deadline:
            raise BenchError("driver process group %d did not stop" % proc.pid)
        time.sleep(0.05)


def run_driver(cfg: dict, ctx: dict) -> dict:
    """Run one driver process to completion while sampling the resident
    memory of its whole process group (JVM included)."""
    base = os.path.join(ctx["work"], cfg["job_id"])
    cfg_path, out_path, log_path = base + ".json", base + ".result.json", base + ".log"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    page = os.sysconf("SC_PAGE_SIZE")
    peak = [0]
    t_spawn = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"),
             "--config", cfg_path, "--out", out_path],
            cwd=ROOT, env=ctx["env"], stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
    done = threading.Event()

    def sample() -> None:
        while not done.is_set():
            rss = sum(r for st, r in _group_members(proc.pid) if st != "Z")
            peak[0] = max(peak[0], rss * page)
            done.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    rc = "timeout"
    try:
        rc = proc.wait(timeout=DRIVER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        done.set()
        sampler.join()
        _stop_group(proc, grace=20 if rc == 0 else 0)
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError("driver exited with %s\n%s" % (rc, tail))
    with open(out_path) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready_wall"] - t_spawn
    rec["peak_rss_mb"] = peak[0] / MB
    return rec


# -- correctness gate ---------------------------------------------------------

def _read(path: str, *cols: str) -> list[np.ndarray]:
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_numpy() for c in cols]


class Gate:
    """Reference results of one corpus, computed once, checked against every
    job's outputs."""

    def __init__(self, spec: dict, skel: dict, ids_dir: str):
        self.spec = spec
        self.n, self.src, self.dst = skel["n"], skel["src"], skel["dst"]
        n = self.n
        fid, path = _read(ids_dir, "id", "path")
        index = np.array([int(p.rsplit("_", 1)[1].split(".")[0]) for p in path])
        self.ids = np.empty(n, dtype=np.int64)
        self.ids[index] = fid
        self.order = np.argsort(self.ids)
        self.edge_keys = np.unique(self.src * n + self.dst)
        self.want: dict = {}
        self.values: dict = {}
        kernels = spec["kernels"]
        ids, src, dst = self.ids, self.src, self.dst
        if "pagerank" in kernels:
            self.want["pagerank"] = oracle.pagerank(n, src, dst, spec["tol"])
        if "cc" in kernels:
            self.want["cc"] = oracle.components(n, src, dst, ids)
        if "lpa" in kernels:
            self.want["lpa"] = oracle.canonical(oracle.label_propagation(
                n, src, dst, ids, spec["lpa_max_iter"]), ids)
        if "triangles" in kernels:
            self.want["triangles"] = oracle.triangle_counts(n, src, dst)
            self.values["triangles"] = int(self.want["triangles"].sum()) // 3
            self.values["wedges"] = oracle.oriented_wedges(n, src, dst, ids)

    def _to_index(self, x: np.ndarray) -> np.ndarray:
        pos = np.minimum(np.searchsorted(self.ids, x, sorter=self.order), self.n - 1)
        if not np.array_equal(self.ids[self.order[pos]], x):
            raise ValueError("output holds an unknown vertex id")
        return self.order[pos]

    def _per_vertex(self, path: str, col: str) -> np.ndarray:
        vid, val = _read(path, "id", col)
        idx = self._to_index(vid)
        if len(idx) != self.n or len(np.unique(idx)) != self.n:
            raise ValueError("%s does not cover every vertex once" % path)
        res = np.empty(self.n, dtype=val.dtype)
        res[idx] = val
        return res

    def _matches(self, out_dir: str, name: str) -> bool:
        if name == "edges":
            s, d = _read(os.path.join(out_dir, "edges"), "src", "dst")
            got = np.unique(self._to_index(s) * self.n + self._to_index(d))
            return np.array_equal(got, self.edge_keys)
        got = self._per_vertex(os.path.join(out_dir, name), OUTPUT_COLUMN[name])
        if name == "lpa":
            got = oracle.canonical(got, self.ids)
        if name == "pagerank":
            return np.allclose(got, self.want[name], rtol=1e-6, atol=1e-12)
        return np.array_equal(got, self.want[name])

    def check(self, out_dir: str, rec: dict) -> list[str]:
        """Names of the checks the job's outputs fail; sets rec["checks"]."""
        failed = []
        names = ["edges"] + list(self.want)
        for name in names:
            try:
                ok = self._matches(out_dir, name)
            except (ValueError, OSError) as e:
                print("gate %s: %s" % (name, e), file=sys.stderr)
                ok = False
            if not ok:
                failed.append(name)
        rec["checks"] = len(names)
        if "verify_sha" in self.spec["kernels"]:
            rec["checks"] += 1
            if rec["values"]["sha_mismatches"] != 0:
                failed.append("verify_sha")
        return failed


# -- metrics ------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def job_metrics(rep: dict, shape: dict, gate: Gate,
                ctx: dict) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metrics of one job from its driver record."""
    v = rep["values"]
    spans = rep["spans"]
    timings = {k: rep["timings"].get(k, 0.0) for k in KERNEL_TIMINGS + (
        "ingest_s", "num_vertices_s", "restart_s")}
    m, n = v["m"], v["n"]
    e2e = {
        "setup_s": rep["setup_s"],
        "ingest_s": timings["ingest_s"],
        "kernel_s": sum(timings[k] for k in KERNEL_TIMINGS),
        "job_s": rep["t_end"] - rep["t_start"],
    }

    loops = {k: v[k] for k in ("resume", "cc", "lpa") if k in v}
    walls = [h["wall_ms"] for lp in loops.values() for h in lp["history"]]
    pr_steps = len(loops["resume"]["history"]) if "resume" in loops else 0
    ckpt = [os.path.join(ctx["state"], d, it)
            for d in os.listdir(ctx["state"]) if d.startswith(rep["job_id"] + "-")
            for it in os.listdir(os.path.join(ctx["state"], d))
            if it.startswith("iter=")]
    layer = {
        "driver.peak_rss_mb": rep["peak_rss_mb"],
        "session.get_spark_s": next(
            s["end"] - s["start"] for s in spans if s["name"] == "session"),
        "sources.content_mb": shape["content_bytes"] / MB,
        "sources.content_mb_per_s":
            shape["content_bytes"] / MB / timings["ingest_s"],
        "sources.refs": shape["refs"],
        "sources.edges": m,
        "sources.refs_resolved": m / shape["refs"],
        "sources.sha_mismatches": v.get("sha_mismatches", 0),
        "sources.verify_sha_s": timings["verify_sha_s"],
        "graph.n": n,
        "graph.m": m,
        "graph.num_vertices_s": timings["num_vertices_s"],
        "pagerank.supersteps": pr_steps,
        "pagerank.setup_s": 0.0,
        "pagerank.call_s": timings["pagerank_s"] + timings["resume_s"],
        "pagerank.resume_s": timings["resume_s"],
        "pagerank.superstep_edges_per_s": 0.0,
        "cc.supersteps": len(loops["cc"]["history"]) if "cc" in loops else 0,
        "cc.call_s": timings["cc_s"],
        "lpa.supersteps": len(loops["lpa"]["history"]) if "lpa" in loops else 0,
        "lpa.changed_last":
            loops["lpa"]["history"][-1]["changed"] if "lpa" in loops else 0,
        "lpa.call_s": timings["lpa_s"],
        "triangles.count": gate.values.get("triangles", 0),
        "triangles.wedges": gate.values.get("wedges", 0),
        "triangles.closed_wedge_ratio":
            gate.values["triangles"] / gate.values["wedges"]
            if gate.values.get("wedges") else 0.0,
        "triangles.call_s": timings["triangles_s"],
        "superstep.count": len(walls),
        "superstep.wall_ms_p50": statistics.median(walls) if walls else 0.0,
        "superstep.wall_ms_max": max(walls) if walls else 0.0,
        "superstep.first_wall_ms": walls[0] if walls else 0.0,
        "superstep.jobs": 0.0,
        "superstep.tasks": 0.0,
        "checkpoint.bytes": (sum(_dir_bytes(p) for p in ckpt) / len(ckpt)
                             if ckpt else 0.0),
        "resume.from_superstep": 0,
        "resume.restart_s": 0.0,
        "resume.first_step_s": 0.0,
        "resume.read_bytes": 0,
    }
    if "resume" in loops:
        first = v["pagerank"]
        res = loops["resume"]
        layer["pagerank.setup_s"] = first["t_run"] - first["t_call"]
        layer["pagerank.superstep_edges_per_s"] = (
            m * pr_steps / layer["pagerank.call_s"])
        layer["resume.from_superstep"] = res["resumed_from"]
        layer["resume.restart_s"] = timings["restart_s"]
        if res["step_times"]:
            layer["resume.first_step_s"] = res["step_times"][0] - res["t_call"]
        layer["resume.read_bytes"] = _dir_bytes(os.path.join(
            ctx["state"], rep["job_id"] + "-pagerank",
            "iter=%05d" % res["resumed_from"]))
    selfs = trace.self_times(spans)
    for s in SELF_SPANS:
        layer["self.%s_s" % s] = selfs.get(s, 0.0)
    if ctx["trace"]:
        counters = {g.split("/", 1)[1]: c for g, c in ctx["counters"].items()
                    if g.split("/", 1)[0] == rep["job_id"] and "/" in g}
        loop = {c: sum(val[c] for g, val in counters.items()
                       if g.endswith("superstep.loop")) for c in trace.COUNTERS}
        if walls:
            layer["superstep.jobs"] = loop["jobs"] / len(walls)
            layer["superstep.tasks"] = loop["tasks"] / len(walls)
        layer["spark.failed_tasks"] = sum(c["failed_tasks"] for c in counters.values())
        wall = {}
        for s in spans:
            wall[s["name"]] = wall.get(s["name"], 0.0) + s["end"] - s["start"]
        for s in ENGINE_SPANS:
            tot = {c: sum(val[c] for g, val in counters.items()
                          if g.split("/")[0] == s)
                   for c in trace.COUNTERS if c != "failed_tasks"}
            for c, x in tot.items():
                layer["spark.%s.%s" % (s, c)] = x
            busy = wall.get(s, 0.0) * ctx["cpus"]
            layer["spark.%s.slot_util" % s] = tot["task_run_s"] / busy if busy else 0.0
    return e2e, layer


def _layer_unit(name: str) -> str:
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("edges_per_s"):
        return "edges/s"
    if name.endswith("_s"):
        return "s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "resolved", "slot_util")):
        return "ratio"
    return "count"


# -- main ---------------------------------------------------------------------

def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        out = ""
    return out or "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so every driver process group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "networkit_spark", "__init__.py")):
        print("networkit_spark is not in %s; run from a full checkout" % ROOT,
              file=sys.stderr)
        return 2
    spec = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()

    # keyed by the spec too, so editing a workload regenerates its inputs
    spec_key = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()
    cache = os.path.join(HERE, ".cache", "%s-s%d-%s" % (
        args.workload, args.seed, spec_key[:10]))
    shape = corpus.build(spec, args.seed, cache)
    skel = dict(np.load(os.path.join(cache, "skeleton.npz")))
    skel["n"] = int(skel["n"])

    run = "%s-s%d-%d" % (args.workload, args.seed, os.getpid())
    work = os.path.join(HERE, ".work", run)
    ctx = {"run": run, "work": work, "trace": args.trace, "cpus": cpus,
           "corpus": os.path.join(cache, "corpus"),
           "spark_local": os.path.join(work, "spark-local")}
    for d in ("state", "tmp", "eventlog", "out"):
        ctx[d] = os.path.join(work, d)
        os.makedirs(ctx[d])
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus), "NKS_STATE_DIR": ctx["state"],
        "SPARK_LOCAL_DIRS": ctx["spark_local"],
        "TMPDIR": ctx["tmp"], "NKS_DRIVER_MEM": "1g",
    })
    ctx["env"] = env

    cfg = {"spec": spec, "trace": args.trace, "corpus": ctx["corpus"],
           "state_dir": ctx["state"], "out_dir": ctx["out"], "work_dir": work,
           "tmp_dir": ctx["tmp"], "eventlog_dir": ctx["eventlog"]}
    try:
        jobs = []
        t0 = time.monotonic()
        while not jobs or (time.monotonic() - t0 < args.seconds
                           and len(jobs) < MAX_JOBS):
            jobs.append(run_driver(dict(cfg, job_id="job%d" % len(jobs)), ctx))
        gate = Gate(spec, skel, os.path.join(ctx["out"], "job0", "ids"))
        if args.trace:
            ctx["counters"] = trace.engine_counters(ctx["eventlog"])
        attempted = failed = 0
        per_job = []
        for rec in jobs:
            bad = gate.check(os.path.join(ctx["out"], rec["job_id"]), rec)
            # ingests and kernel calls are operations, as are the checks
            attempted += rec["checks"] + sum(
                1 for k in rec["timings"] if k not in ("num_vertices_s", "restart_s"))
            failed += len(bad)
            if bad:
                print("%s failed the correctness gate: %s"
                      % (rec["job_id"], ", ".join(bad)), file=sys.stderr)
            per_job.append(job_metrics(rec, shape, gate, ctx))
        # scratch the library or Spark should have removed by now
        leftovers = [os.path.join(ctx["state"], "ephemeral"),
                     os.path.join(ctx["state"], "scratch"), ctx["spark_local"]]
        leaked = sum(len(os.listdir(d)) for d in leftovers if os.path.isdir(d))
    except BenchError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: statistics.median(j[1][k] for j in per_job)
                   for k in per_job[0][1]}
        metrics.update({
            "plans.leaked_dirs": leaked,
            "trace.job_s": statistics.median(j[0]["job_s"] for j in per_job),
            "trace.jobs": len(per_job),
        })
        units = {k: _layer_unit(k) for k in metrics}
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "trace-%s.json" % run), "w") as f:
            json.dump({"spans": [s for rec in jobs for s in rec["spans"]],
                       "counters": ctx["counters"]}, f)
    else:
        metrics = {k: statistics.median(j[0][k] for j in per_job) for k in END_TO_END}
        units = END_TO_END
    print(json.dumps({"provenance": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "master": "local[%d]" % cpus, "jobs": len(per_job),
        "load_before": load_before, "load_after": os.getloadavg(),
        "git_sha": _git_sha(), "shape": shape}}))
    for rec, (e2e, layer) in zip(jobs, per_job):
        shown = dict(e2e)
        shown.update({k: layer[k] for k in (
            "driver.peak_rss_mb", "pagerank.call_s", "pagerank.resume_s", "pagerank.superstep_edges_per_s",
            "cc.call_s", "lpa.call_s", "triangles.call_s", "sources.verify_sha_s")
            if layer[k]})
        print("%s %s" % (rec["job_id"],
                         " ".join("%s=%.4g" % kv for kv in shown.items())))
    for k, val in metrics.items():
        print("%-40s %14.6g %s" % (k, val, units[k]))
    print("failed_ops %d/%d" % (failed, attempted))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(val), "unit": units[k]}
                    for k, val in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
