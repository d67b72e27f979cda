from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from networkit_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests
    s = get_spark(app_name="nks-tests", shuffle_partitions=8)
    yield s
    s.stop()


# ---- golden graphs (FIXTURES.md §2) ----------------------------------------

PR8_EDGES = [  # CentralityGTest.cpp:243-283 (8-node weighted)
    (0, 2, 3.0), (1, 2, 2.0), (2, 3, 3.0), (2, 4, 2.0), (2, 5, 1.5),
    (3, 5, 3.0), (4, 5, 2.0), (5, 6, 3.0), (5, 7, 2.0),
]
PR8_EXPECTED = [0.0753, 0.0565, 0.2552, 0.1319, 0.0942, 0.2552, 0.0753, 0.0565]

CC20_EDGES = [  # ConnectedComponentsGTest.cpp:29-62 (20 nodes, 5 components)
    (0, 1), (1, 2), (2, 4), (4, 8), (8, 16), (16, 19),
    (3, 5), (5, 6), (6, 7), (7, 9),
    (10, 11), (10, 18), (10, 12), (18, 17),
    (13, 14),
]
CC20_N = 20

K4_EDGES = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
P4_EDGES = [(0, 1), (1, 2), (2, 3)]

DIR_DANGLING_EDGES = [(0, 1), (1, 2), (2, 0), (3, 2), (4, 2), (2, 5)]
DIR_DANGLING_N = 6


def load_karate():
    """Parse the reference's METIS karate fixture (34 nodes, 78 edges)."""
    path = "/root/reference/input/karate.graph"
    edges = []
    with open(path) as f:
        header = f.readline().split()
        n = int(header[0])
        for i, line in enumerate(f):
            u = i  # 0-based; file is 1-based
            for tok in line.split():
                v = int(tok) - 1
                if u < v:
                    edges.append((u, v))
    return edges, n


@pytest.fixture(scope="session")
def karate():
    return load_karate()


def job_counts(sc, groups):
    """Spark jobs per job group, read through the public status tracker
    once a sentinel job shows that the listener has caught up."""
    sentinel = "flush-%d" % time.monotonic_ns()
    sc.setJobGroup(sentinel, sentinel)
    sc.parallelize([0], 1).count()
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(sentinel):
            break
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {g: len(tracker.getJobIdsForGroup(g)) for g in groups}
