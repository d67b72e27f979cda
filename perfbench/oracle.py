"""Reference-semantics oracles for the correctness gate: vectorized numpy
(and DuckDB for triangles), run outside every timed region.

All oracles work on the generated skeleton, in file-index space
``0..n-1``; ``ids[i]`` is the vertex id the program gave file ``i``, needed
wherever the program's semantics depend on id order (tie-breaks, canonical
labels).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, tol: float,
             damp: float = 0.85, max_iter: int = 250) -> np.ndarray:
    """Power iteration with teleport, L2 stop, no dangling redistribution,
    final normalization (the library's defaults for damp and max_iter)."""
    coef = damp / np.bincount(src, minlength=n)[src]
    pr = np.full(n, 1.0 / n)
    teleport = (1.0 - damp) / n
    for _ in range(max_iter):
        new = np.bincount(dst, weights=coef * pr[src], minlength=n) + teleport
        delta = np.sqrt(np.sum((new - pr) ** 2))
        pr = new
        if delta <= tol:
            break
    return pr / pr.sum()


def components(n: int, src: np.ndarray, dst: np.ndarray,
               ids: np.ndarray) -> np.ndarray:
    """Weakly connected components labelled by their minimum member id."""
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, src, lab[dst])
        np.minimum.at(new, dst, lab[src])
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            break
        lab = new
    rep = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(rep, lab, ids)
    return rep[lab]


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray,
                      ids: np.ndarray, max_iter: int) -> np.ndarray:
    """Synchronous PLP: every vertex with neighbours adopts the label of
    heaviest incident weight, ties to the smallest label; labels start as
    vertex ids; stop once at most theta = n/1e5 vertices changed (the
    library's default) or after ``max_iter`` supersteps."""
    theta = n / 1e5
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    labels = ids.copy()
    for _ in range(max_iter):
        nl = labels[s]
        order = np.lexsort((nl, d))
        dd, ll = d[order], nl[order]
        first = np.ones(len(dd), dtype=bool)
        first[1:] = (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])
        starts = np.flatnonzero(first)
        w = np.diff(np.append(starts, len(dd)))
        gd, gl = dd[starts], ll[starts]
        best = np.lexsort((gl, -w, gd))
        take = np.ones(len(best), dtype=bool)
        take[1:] = gd[best][1:] != gd[best][:-1]
        winners = best[take]
        new = labels.copy()
        new[gd[winners]] = gl[winners]
        changed = np.count_nonzero(new != labels)
        labels = new
        if changed <= theta:
            break
    return labels


def canonical(labels: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Relabel every community by its minimum member id."""
    uniq, inv = np.unique(labels, return_inverse=True)
    rep = np.full(len(uniq), np.iinfo(np.int64).max)
    np.minimum.at(rep, inv, ids)
    return rep[inv]


def triangle_counts(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-vertex triangle counts of the simple undirected graph."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    edges = pa.table({"s": lo[lo != hi], "d": hi[lo != hi]})
    con = duckdb.connect()
    try:
        con.register("t", edges)
        rows = con.execute("""
            WITH e AS (SELECT DISTINCT s AS lo, d AS hi FROM t),
            tri AS (
              SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM e e1 JOIN e e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
              JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)
            SELECT id, count(*) AS cnt FROM (
              SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri) GROUP BY id""").fetchnumpy()
    finally:
        con.close()
    out = np.zeros(n, dtype=np.int64)
    out[rows["id"].astype(np.int64)] = rows["cnt"]
    return out


def oriented_wedges(n: int, src: np.ndarray, dst: np.ndarray,
                    ids: np.ndarray) -> int:
    """Wedges the degree-ordered triangle kernel enumerates: each simple
    edge oriented from its (degree, id)-smaller end, then
    sum over vertices of C(out-degree, 2)."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    key = np.unique(lo[lo != hi] * n + hi[lo != hi])
    lo, hi = key // n, key % n
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    lo_first = (deg[lo] < deg[hi]) | ((deg[lo] == deg[hi]) & (ids[lo] < ids[hi]))
    out = np.bincount(np.where(lo_first, lo, hi), minlength=n)
    return int(np.sum(out * (out - 1) // 2))
