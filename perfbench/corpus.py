"""Seeded corpus generation for the benchmark — numpy and pyarrow only, no
Spark, so inputs do not depend on the program under test.

A corpus is an edge skeleton over files ``0..n-1`` rendered backwards into
the ``repos(repo, path, commit, lang, content)`` table that
``networkit_spark.sources.repos`` reads: file ``i`` holds one import line per
out-neighbour ``j`` in its language's syntax, plus a few imports of external
modules that resolve to no file. The import graph the program derives must
therefore equal the skeleton exactly, which the correctness gate checks.

Each corpus is written once per (workload, seed) as several parquet files —
the stand-in for an Iceberg table — with the skeleton beside it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = "synthorg/linkgraph"
LANGS = ("py", "js", "java", "go", "c")
IMPORT_LINE = {
    "py": "import {}",
    "js": "const m = require('{}');",
    "java": "import {};",
    "go": 'import "{}"',
    "c": '#include "{}.h"',
}
EXTERNAL = ("os", "sys", "json", "util", "log", "net", "io", "time")
PARQUET_FILES = 8


def rmat_skeleton(rng: np.random.Generator, scale: int, edge_factor: int,
                  a=0.57, b=0.19, c=0.19) -> tuple[np.ndarray, np.ndarray]:
    """Directed R-MAT edges over 2^scale vertices; duplicates and self-loops
    dropped. Same quadrant recursion as the library's ``rmat_edges``."""
    n = 1 << scale
    m = n * edge_factor
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for j in range(scale):
        u = rng.random(m)
        src |= (u >= a + b).astype(np.int64) << j
        dst |= (((u >= a) & (u < a + b)) | (u >= a + b + c)).astype(np.int64) << j
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def hyperbolic_skeleton(rng: np.random.Generator, n: int, avg_degree: float,
                        gamma: float) -> tuple[np.ndarray, np.ndarray]:
    """Threshold random hyperbolic graph (undirected, src < dst): points in
    a disc of radius R, an edge wherever hyperbolic distance <= R. R is the
    cold-regime closed form the library's ``hyperbolic_edges`` uses. Radii
    are drawn stratified (one point per 1/n quantile of the radial law), so
    the edge count varies little from seed to seed."""
    alpha = (gamma - 1.0) / 2.0
    plexp = 2 * alpha + 1
    xi_inv = (plexp - 2) / (plexp - 1)
    R = 2 * math.log(n / (avg_degree * (math.pi / 2) * xi_inv * xi_inv))
    u = (rng.permutation(n) + rng.random(n)) / n
    r = np.arccosh(1.0 + u * (math.cosh(alpha * R) - 1.0)) / alpha
    theta = rng.random(n) * 2 * math.pi
    ch, sh, cosh_R = np.cosh(r), np.sinh(r), math.cosh(R)
    srcs, dsts = [], []
    chunk = 256
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        rows = np.arange(lo, hi)
        d = (ch[rows, None] * ch[None, :]
             - sh[rows, None] * sh[None, :]
             * np.cos(theta[rows, None] - theta[None, :]))
        i, j = np.nonzero(d <= cosh_R)
        i = rows[i]
        keep = j > i
        srcs.append(i[keep])
        dsts.append(j[keep])
    return np.concatenate(srcs), np.concatenate(dsts)


def _padding_pool(rng: np.random.Generator, size: int) -> list[str]:
    """Non-import code lines; none matches any import regex."""
    ops = ("+", "-", "*", "^", "|")
    return [
        "    v%d = step_%d(v%d %s %d)  # %08x" % (
            k, rng.integers(1000), k // 2, ops[k % len(ops)],
            rng.integers(1 << 20), rng.integers(1 << 32))
        for k in range(size)
    ]


def render(rng: np.random.Generator, n: int, src: np.ndarray, dst: np.ndarray,
           pad_bytes: int = 0) -> tuple[pa.Table, dict]:
    """Render the skeleton into a corpus table. Returns (table, shape)."""
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    starts = np.searchsorted(src, np.arange(n + 1))
    langs = rng.integers(len(LANGS), size=n)
    n_ext = rng.integers(0, 4, size=n)
    ext_pick = rng.integers(len(EXTERNAL), size=(n, 3))
    pool = _padding_pool(rng, 512)
    pad_lines = pad_bytes * len(pool) // sum(len(s) + 1 for s in pool)
    paths, commits, lang_col, contents = [], [], [], []
    refs = 0
    content_bytes = 0
    for i in range(n):
        lang = LANGS[langs[i]]
        tmpl = IMPORT_LINE[lang]
        lines = ["// module mod_%d" % i]
        lines += [tmpl.format(EXTERNAL[e]) for e in ext_pick[i, : n_ext[i]]]
        lines += [tmpl.format("mod_%d" % j) for j in dst[starts[i]:starts[i + 1]]]
        refs += int(n_ext[i]) + int(starts[i + 1] - starts[i])
        if pad_lines:
            lines += [pool[k] for k in rng.integers(len(pool), size=pad_lines)]
        lines.append("")
        lines.append("def main():\n    return %d\n" % i)
        body = "\n".join(lines)
        path = "src/mod_%d.%s" % (i, lang)
        paths.append(path)
        lang_col.append(lang)
        commits.append(hashlib.sha1(path.encode()).hexdigest())
        contents.append(body)
        content_bytes += len(body)
    table = pa.table({
        "repo": pa.array([REPO] * n, pa.string()),
        "path": pa.array(paths, pa.string()),
        "commit": pa.array(commits, pa.string()),
        "lang": pa.array(lang_col, pa.string()),
        "content": pa.array(contents, pa.string()),
    })
    return table, {"refs": refs, "content_bytes": content_bytes}


def build(spec: dict, seed: int, out_dir: str) -> dict:
    """Generate the corpus for ``spec`` and ``seed`` into ``out_dir``
    (corpus/part-*.parquet, skeleton.npz, shape.json), unless present.
    Returns the shape record."""
    shape_path = os.path.join(out_dir, "shape.json")
    if os.path.exists(shape_path):
        with open(shape_path) as f:
            return json.load(f)
    rng = np.random.default_rng([seed, spec["rng_stream"]])
    if spec["skeleton"] == "rmat":
        n = 1 << spec["scale"]
        src, dst = rmat_skeleton(rng, spec["scale"], spec["edge_factor"])
    else:
        n = spec["n"]
        src, dst = hyperbolic_skeleton(rng, n, spec["avg_degree"], spec["gamma"])
    table, shape = render(rng, n, src, dst, spec.get("pad_bytes", 0))
    deg = np.bincount(src, minlength=n) + np.bincount(dst, minlength=n)
    shape.update(n=n, m=int(len(src)), max_degree=int(deg.max()))

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "corpus"))
    step = -(-n // PARQUET_FILES)
    for p, lo in enumerate(range(0, n, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(tmp, "corpus", "part-%05d.parquet" % p))
    np.savez(os.path.join(tmp, "skeleton.npz"), src=src, dst=dst, n=n)
    with open(os.path.join(tmp, "shape.json"), "w") as f:
        json.dump(shape, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return shape
