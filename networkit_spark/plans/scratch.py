"""Cluster-portable scratch areas for lineage cuts.

Iterative operators must cut lineage per round (docs/PLANS.md rule 1:
a parquet round-trip — chained persist() does NOT bound the logical
plan). Before round 3 those ad-hoc cuts lived in driver-local
``tempfile.mkdtemp`` dirs: correct on local[32], broken on any real
multi-node cluster (executors cannot coherently write the driver's
``file:/tmp``). This module gives every operator the SAME storage root
the SuperstepRunner checkpoints to — ``NKS_STATE_DIR``, which on a
cluster is a shared URI (``hdfs://…``, ``s3a://…``, NFS) — so a cut
written by one executor is readable by all, and cleanup goes through
the Hadoop FileSystem API (scheme-aware), not ``shutil``.

A ``Scratch`` also fuses change-detection into the cut: ``cut_observed``
collects aggregate metrics (row counts, changed counts) as
``df.observe`` observation metrics in the SAME job as the parquet
write, so loop conditions cost zero extra actions.

``write_cut`` is the one lineage-cut primitive shared by ``Scratch`` and
the SuperstepRunner: the read-back scan carries the written schema, so
it plans without the schema-inference job a bare ``read.parquet`` runs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession


def write_cut(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to parquet at ``path`` and return a fresh scan of
    it: the lineage cut. ``path`` must not be an input of ``df``."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def state_root() -> str:
    """The engine's shared storage root (NKS_STATE_DIR). On a cluster
    this must be a URI every executor can reach."""
    return os.environ.get("NKS_STATE_DIR", "/root/repo/.state")


class Scratch:
    """A throwaway scratch directory under the shared state root.

    ``cut(df)`` = parquet round-trip lineage cut; ``cut_observed``
    additionally returns observation metrics collected during the
    write (one action total). ``cleanup()`` deletes the directory via
    the Hadoop FileSystem matching the root's scheme.
    """

    def __init__(self, spark: SparkSession, prefix: str):
        self.spark = spark
        self.dir = "%s/scratch/%s-%s" % (
            state_root().rstrip("/"), prefix, uuid.uuid4().hex[:12])
        self._n = 0

    def _path(self, name: str | None) -> str:
        """A path no earlier cut used: the counter is always part of it,
        so a cut never overwrites a scan that its own input reads."""
        self._n += 1
        return "%s/%s-%d" % (self.dir, name or "s", self._n)

    def cut(self, df: DataFrame, name: str | None = None) -> DataFrame:
        return write_cut(df, self._path(name))

    def cut_observed(self, df: DataFrame, aggs: list,
                     keep: list[str] | None = None,
                     name: str | None = None):
        """Cut ``df`` while collecting ``aggs`` as observation metrics
        in the same write job. ``keep`` selects the columns that land in
        the parquet file (metric-only helper columns stay out of the
        cut). Returns (read_back_df, metrics_dict)."""
        path = self._path(name)
        obs = Observation("cut%d" % self._n)
        out = df.observe(obs, *aggs)
        if keep is not None:
            out = out.select(*keep)
        return write_cut(out, path), obs.get

    def cleanup(self) -> None:
        try:
            jvm = self.spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(self.dir)
            fs = p.getFileSystem(
                self.spark._jsc.hadoopConfiguration())
            fs.delete(p, True)
        except Exception:
            pass  # scratch GC is best-effort; never fail the query

    def __enter__(self) -> "Scratch":
        return self

    def __exit__(self, *exc) -> None:
        self.cleanup()
