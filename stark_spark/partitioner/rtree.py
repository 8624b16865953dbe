"""Sort-Tile-Recursive (STR) partitioner over a sample.

Reference: `partitioner/RTreePartitioner.scala:11-118` — STR bulk-load
over (sampled) MBRs on the driver; the R-tree's leaf bounds become the
partitions.

Our shape: one `df.sample().select(x,y).toPandas()` (bounded driver
transfer), STR slicing in numpy — sort by x into √p vertical strips at
sample quantiles, sort each strip by y into √p slabs — producing a
RECTANGULAR TILING (slice boundaries, not leaf MBRs, so every future
point has exactly one partition; the reference needs a nearest-leaf
fallback for points outside sampled bounds, `RTreePartitioner.scala:
96-117`). Assignment is a native nested CASE over the boundaries —
codegen, no UDF, no shuffle beyond the caller's `repartition`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# driver-side sample cap of `str_partitioner`, whatever the data size
MAX_SAMPLE = 200_000


@dataclass(frozen=True)
class StrSpec:
    """x strip boundaries (len s-1, interior) and per-strip y boundaries
    (s rows × (rows_per_strip-1) interior bounds)."""
    x_bounds: tuple[float, ...]
    y_bounds: tuple[tuple[float, ...], ...]

    @property
    def num_partitions(self) -> int:
        return sum(len(yb) + 1 for yb in self.y_bounds)

    def partition_expr(self, x: Column, y: Column) -> Column:
        """Native partition id: nested boundary CASE (≤ p comparisons)."""
        base = 0
        expr = None
        for si, yb in enumerate(self.y_bounds):
            in_strip = None
            if si < len(self.x_bounds):
                in_strip = x < F.lit(self.x_bounds[si])
            pid = F.lit(base + len(yb))  # last slab default
            for k in range(len(yb) - 1, -1, -1):
                pid = F.when(y < F.lit(yb[k]), F.lit(base + k)).otherwise(pid)
            if expr is None:
                expr = pid if in_strip is None else F.when(in_strip, pid)
            else:
                expr = (expr.otherwise(pid) if in_strip is None
                        else expr.when(in_strip, pid))
            base += len(yb) + 1
        return expr.cast("int")

    def partition_of(self, px: float, py: float) -> int:
        si = 0
        while si < len(self.x_bounds) and px >= self.x_bounds[si]:
            si += 1
        yb = self.y_bounds[si]
        k = 0
        while k < len(yb) and py >= yb[k]:
            k += 1
        return sum(len(b) + 1 for b in self.y_bounds[:si]) + k


def str_partitioner(df: DataFrame, num_partitions: int, *,
                    x: str = "xmin", y: str = "ymin",
                    sample_fraction: float | None = None) -> StrSpec:
    """Fit an STR tiling from a sample (driver-side, like the
    reference's driver bulk-load — but the transfer is capped at
    `MAX_SAMPLE` rows regardless of data size)."""
    n = df.count()
    if sample_fraction is None:
        sample_fraction = min(1.0, MAX_SAMPLE / max(n, 1))
    pdf = (df.select(F.col(x).alias("x"), F.col(y).alias("y"))
             .sample(fraction=sample_fraction, seed=42).toPandas())
    xs = pdf["x"].to_numpy()
    ys = pdf["y"].to_numpy()
    s = max(1, int(np.ceil(np.sqrt(num_partitions))))
    rows = max(1, int(np.ceil(num_partitions / s)))

    # lexicographic (x, y) order — not x alone: with tied x values an
    # x-only sort makes strip membership depend on input row order
    # (partition layout), and the fitted tiling must be reproducible
    # across cluster layouts (it is also what the SQL oracle mirrors)
    order = np.lexsort((ys, xs))
    strips = np.array_split(order, s)
    x_bounds = []
    for i in range(len(strips) - 1):
        # boundary between strip i and i+1 = first x of the next strip
        x_bounds.append(float(xs[strips[i + 1][0]]))
    y_bounds = []
    for st in strips:
        yy = np.sort(ys[st], kind="mergesort")
        slabs = np.array_split(np.arange(len(yy)), rows)
        yb = [float(yy[sl[0]]) for sl in slabs[1:] if len(sl)]
        y_bounds.append(tuple(yb))
    return StrSpec(tuple(x_bounds), tuple(y_bounds))


def str_repartition(df: DataFrame, num_partitions: int, *,
                    x: str = "xmin", y: str = "ymin",
                    col: str = "part") -> DataFrame:
    spec = str_partitioner(df, num_partitions, x=x, y=y)
    out = df.withColumn(col, spec.partition_expr(F.col(x), F.col(y)))
    return out.repartition(spec.num_partitions, col)
