"""Lineage cuts: one call site shape, the mechanism follows the deployment.

The engine truncates expensive shared subtrees and iterative-loop plans with
``df.transform(lineage_cut)`` (lazy) or ``df.transform(lineage_cut,
eager=True)`` (inside loops that probe each round). The mechanism is not a
setting; it is a fact of the master:

- a ``local`` master gets ``localCheckpoint`` — executor-local blocks, the
  cheapest cut (guide §5). One process holds every executor, so there is no
  executor to lose.
- any other master gets a reliable ``checkpoint`` into Spark's own
  checkpoint dir (``spark.checkpoint.dir`` or ``setCheckpointDir``), which
  survives executor loss. With no dir set the cut raises: a node-local
  tempdir would silently defeat the reliability the cut exists for.

Keying on the master, not on whether a checkpoint dir happens to be set,
keeps one dir set on a shared context from switching every later job.

:func:`release` frees a cut frame's state under either mechanism; loops
call it on the round they supersede.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _local_master(df: DataFrame) -> bool:
    return df.sparkSession.sparkContext.master.startswith("local")


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage with the mechanism the master calls for."""
    if _local_master(df):
        return df.localCheckpoint(eager=eager)
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "lineage_cut on a non-local master needs a reliable checkpoint "
            "dir: set spark.checkpoint.dir to shared storage"
        )
    return df.checkpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks (and, for a reliable checkpoint, the file) pinned by
    a frame returned from :func:`lineage_cut`. The frame must not be read
    afterwards."""
    sc = df.sparkSession.sparkContext
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.unpersist(True)
    ck = rdd.getCheckpointFile()
    if ck.isDefined():
        path = sc._jvm.org.apache.hadoop.fs.Path(ck.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
