"""Skyline (Pareto-front) operator.

Reference (`PlainSpatialRDDFunctions.scala:425-586`,
`spatial/Skyline.scala:25-52`): distance-space transform → grid/angular
partition → local skyline per partition → global merge; dominance =
strictly better in ≥1 dimension, no worse in any
(`Skyline.centroidDominates` :12-22, minimizing both dims).

Our shape: two-stage exact skyline —

1. **local pass**: `applyInPandas` per partition computes each
   partition's skyline with a vectorized numpy dominance sweep
   (sort by x, running min over y). Output is tiny (skyline of a
   random partition ≈ O(log n) points).
2. **global pass**: coalesce the survivors to one partition, same
   sweep. Identical answer to a single-node skyline; the local pass is
   the `rdd.aggregate(Skyline)` equivalent with map-side combine.

The angular-partitioned variant (`skylineAngular`, PSF:519-586) is the
same algorithm with the stage-1 grouping key = angular bucket
(`atan2`) — exposed via ``group_col``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def _local_skyline(pdf: pd.DataFrame, x: str, y: str) -> pd.DataFrame:
    """Vectorized 2-D min-min skyline: sort by (x, y), keep rows whose y
    is a strict running minimum; equal points all survive (ties kept,
    matching 'not dominated' semantics)."""
    if len(pdf) == 0:
        return pdf
    s = pdf.sort_values([x, y], kind="mergesort").reset_index(drop=True)
    keep = []
    best_y = None
    best_x = None
    for i in range(len(s)):
        xi, yi = s[x].iat[i], s[y].iat[i]
        if best_y is None or yi < best_y or (yi == best_y and xi == best_x):
            keep.append(i)
            best_y = yi if best_y is None else min(best_y, yi)
            best_x = xi
    return s.iloc[keep]


#: stage-1 survivor count above which the global merge switches from
#: the single-task coalesce(1) sweep to the distributed range merge
GLOBAL_MERGE_LIMIT = 100_000


def _merge_distributed(local_sky: DataFrame, x: str, y: str,
                       schema, n_parts: int = 32) -> DataFrame:
    """Exact distributed skyline merge for LARGE stage-1 fronts (an
    anti-correlated corpus makes every point a skyline point, so the
    coalesce(1) sweep would put O(n) rows in one task).

    Range-partition survivors by (x, y), sweep each partition
    locally, then filter across partitions with a prefix-min of y:
    a point p can only be dominated by a lexicographically smaller
    point q (q.x <= p.x), which lives in an earlier partition (or
    p's own, handled by the local sweep) — p survives iff
    p.y < min(y) over all earlier partitions. Equal (x, y) ties
    hash to one partition (range partitioning is a deterministic
    function of the key), so tie-keeping is purely local. The only
    driver-side data is one (partition, min_y) row per partition."""
    ranged = local_sky.repartitionByRange(
        n_parts, F.col(x), F.col(y))

    def local2(it):
        chunks = list(it)
        if chunks:
            yield _local_skyline(pd.concat(chunks, ignore_index=True),
                                 x, y)

    swept = materialize(ranged.mapInPandas(local2, schema=schema)
                              .withColumn("_pid", F.spark_partition_id()))
    mins = swept.groupBy("_pid").agg(F.min(y).alias("_my")).collect()
    prefix: dict[int, object] = {}
    run = None
    for r in sorted(mins, key=lambda r: r["_pid"]):
        prefix[r["_pid"]] = run
        run = r["_my"] if run is None else min(run, r["_my"])
    keep = F.lit(False)
    for pid, before in prefix.items():
        this = F.col("_pid") == F.lit(pid)
        if before is not None:
            this = this & (F.col(y) < F.lit(before))
        keep = keep | this
    return swept.where(keep).drop("_pid")


def skyline(df: DataFrame, x: str = "x", y: str = "y",
            group_col: str | None = None,
            maximize: tuple = ()) -> DataFrame:
    """Exact 2-D skyline minimizing (x, y).

    ``group_col``: optional stage-1 grouping key (angular buckets give
    the reference's `skylineAngular`; default = Spark's physical
    partitioning via a synthetic partition id).

    ``maximize``: dimension names to MAXIMIZE instead of minimize —
    the common case of the reference's pluggable ``dominates``
    function (`PSF:425`, `Skyline.centroidDominates`); implemented by
    negating those columns around the min-min sweep, so every
    direction combination shares one kernel.
    """
    flip = [c for c in (x, y) if c in maximize]
    if flip:
        inner = df
        for c in flip:
            inner = inner.withColumn(c, -F.col(c))
        out = skyline(inner, x, y, group_col=group_col)
        for c in flip:
            out = out.withColumn(c, -F.col(c))
        return out
    schema = df.schema

    def local(pdf: pd.DataFrame) -> pd.DataFrame:
        return _local_skyline(pdf.drop(columns=["_g"]), x, y)

    if group_col is None:
        staged = df.withColumn("_g", F.spark_partition_id())
    else:
        staged = df.withColumn("_g", F.col(group_col))
    local_sky = staged.groupBy("_g").applyInPandas(local, schema=schema)

    def global_pass(it):
        chunks = list(it)
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        yield _local_skyline(rows, x, y)

    # Merge-path choice needs the stage-1 front size, but counting
    # the pinned front costs a job of its own even for tiny inputs.
    # Cheap gate first: Catalyst's optimized-plan size estimate is
    # free (file-size based, no job). The estimate is
    # COMPRESSED on-disk size for file scans — RLE/dictionary parquet
    # can sit well under 1 byte/row (r8 advice #2) — so demand an 8×
    # margin (est·8 < LIMIT) before skipping the exact count. The
    # residual window (input >8× compressed AND front over the limit)
    # degrades to one slow single-task merge — a resource risk only,
    # never a wrong result. Large/unknown estimates pay the exact
    # count on the materialized front and pick exactly.
    try:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan()
                        .stats().sizeInBytes())
    except Exception:
        est_bytes = None
    if est_bytes is not None and est_bytes * 8 < GLOBAL_MERGE_LIMIT:
        return local_sky.coalesce(1).mapInPandas(global_pass,
                                                 schema=schema)
    local_sky = materialize(local_sky)
    if local_sky.count() > GLOBAL_MERGE_LIMIT:
        return _merge_distributed(local_sky, x, y, schema)
    return local_sky.coalesce(1).mapInPandas(global_pass, schema=schema)


def angular_bucket(x: str = "x", y: str = "y", n: int = 16,
                   ref_x: float = 0.0, ref_y: float = 0.0):
    """Angular-space bucket id (`AngularPartitioner.scala:13-100`)."""
    import math
    ang = F.atan2(F.col(y) - F.lit(ref_y), F.col(x) - F.lit(ref_x))
    return F.least(F.lit(n - 1),
                   F.floor(ang / F.lit(math.pi / 2 / n)).cast("int"))
