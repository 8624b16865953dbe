"""The one way a frame is materialised.

Operators pin a frame when it feeds several consumers or an iterative
loop (lineage must not grow per round). Everything about how is
decided here, with no caller input:

* policy — reliable ``checkpoint`` when Spark has a checkpoint dir
  (``SparkContext.setCheckpointDir``, the deployment's own setting),
  so a lost executor's blocks are recomputed from storage; local
  ``localCheckpoint`` (executor blocks, no lineage) otherwise;
* when — a local copy is lazy: the first action that reads the frame
  writes its blocks, so pinning runs no job of its own (under AQE the
  shuffle stages below the pin still run while the plan is built). A
  reliable copy is eager: a lazy one is written by a second job that
  recomputes the frame after the first action;
* already pinned — a ``cache()``/``persist()`` frame, or one whose
  root RDD is checkpointed or marked for a local checkpoint, comes
  back as it is;
* partitioning kept (``key=``) — see below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from stark_spark.session import bind, clone_session


def _pinned(df: DataFrame) -> bool:
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return True
    root = df._jdf.queryExecution().analyzed()
    if root.getClass().getSimpleName() != "LogicalRDD":
        return False
    rdd = root.rdd()
    return rdd.isCheckpointed() or rdd.isLocallyCheckpointed()


def materialize(df: DataFrame, *, key: str | None = None) -> DataFrame:
    """``df`` pinned under the policy above.

    ``key``: hash-partition on that column first and keep the
    partitioning in the result, so a loop's joins and aggregates on
    ``key`` leave this side in place and shuffle only the other one
    (one setup shuffle instead of one per round). A checkpoint keeps
    ``outputPartitioning`` only when its plan is not adaptive, so the
    copy runs on a clone of the session with AQE off (probed on Spark
    4.1.2); the caller's session is never changed and the result is
    handed back to it, where AQE stays on."""
    if _pinned(df):
        return df
    spark = df.sparkSession
    if key is not None:
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = bind(df.repartition(p, key), clone_session(
            spark, {"spark.sql.adaptive.enabled": "false"}))
    reliable = spark.sparkContext.getCheckpointDir() is not None
    out = df.checkpoint(True) if reliable else df.localCheckpoint(False)
    return out if key is None else bind(out, spark)
