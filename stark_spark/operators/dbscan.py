"""Distributed DBSCAN.

Reference (`dbscan/DBScan.scala` 542 LoC, MR-DBSCAN after He et al.):
① global MBB → ② cost-based partitioning expanded by eps → ③ replicate
points to all overlapping partitions → ④ local sequential DBSCAN →
⑤ merge-point detection → ⑥ transitive closure **on the driver**
(`DBScan.scala:164-168`, marked `FIXME: Bad!`) → ⑦ relabel.

Our shape keeps ①–⑤ but fixes two scale problems (SURVEY.md §7 risk):
the closure runs distributively, and core-ness is decided in each
point's HOME cell (where ALL its ≤eps neighbors are guaranteed present
via halo replication) — a point's neighborhood seen from a foreign
cell is truncated, so deciding core-ness there under-counts.

Pipeline:

1. **halo replication** — native explode of each point to every cell
   its ±eps box covers (its home cell plus neighbors);
2. **core pass** (`applyInPandas` per cell): neighbor counts for home
   points only → globally-correct `is_core`;
3. **cluster pass** (per cell, with core flags joined in): BFS over
   core points; border points get the label of a core neighbor;
4. **equivalence edges**: a core point labeled in ≥2 cells links those
   labels; **connected components** via hash-min label propagation
   (joins only, O(log diameter) rounds over the tiny label graph —
   one node per (cell, local_cluster), not per point);
5. relabel: home rows take the min component (deterministic border
   assignment), dense-ranked by smallest member key. Noise = -1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from stark_spark.materialize import materialize
from stark_spark.partitioner.grid import GridSpec


_DENSE_LIMIT = 8000


def _dense_adj(xs: np.ndarray, ys: np.ndarray, eps: float):
    """Dense ε-adjacency (incl. self) when the cell pile is small
    enough for an n² bool matrix — one vectorized numpy pass instead
    of per-point python neighbor loops. None above the limit."""
    n = len(xs)
    if n > _DENSE_LIMIT:
        return None
    d2 = ((xs[:, None] - xs[None, :]) ** 2 +
          (ys[:, None] - ys[None, :]) ** 2)
    return d2 <= eps * eps


def _grid_hash(xs: np.ndarray, ys: np.ndarray, eps: float):
    cell: dict[tuple[int, int], list[int]] = {}
    inv = 1.0 / eps
    gx = np.floor(xs * inv).astype(np.int64)
    gy = np.floor(ys * inv).astype(np.int64)
    for i in range(len(xs)):
        cell.setdefault((gx[i], gy[i]), []).append(i)

    def neighbors(i: int) -> list[int]:
        out = []
        cx, cy = gx[i], gy[i]
        e2 = eps * eps
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in cell.get((cx + dx, cy + dy), ()):
                    if (xs[j] - xs[i]) ** 2 + (ys[j] - ys[i]) ** 2 <= e2:
                        out.append(j)
        return out

    return neighbors


def dbscan(df: DataFrame, eps: float, min_pts: int, *, key: str,
           grid: GridSpec, x: str = "xmin", y: str = "ymin") -> DataFrame:
    """Returns (key, cluster, is_core); cluster = -1 for noise."""
    pts = df.select(F.col(key).alias("_k"),
                    F.col(x).cast("double").alias("_x"),
                    F.col(y).cast("double").alias("_y"))
    pts = pts.withColumn("_cell", F.explode(
        grid.cells_array_expr(F.col("_x"), F.col("_y"),
                              F.col("_x"), F.col("_y"), expand=eps)))
    home = grid.cell_expr(F.col("_x"), F.col("_y"))
    # pin the replica set hash-partitioned on _cell with the
    # partitioning kept: both applyInPandas passes group by _cell, so
    # pass 1 needs no exchange of its own, and neither does pass 2
    # when its join broadcasts the core flags (the streamed replica
    # side keeps its partitioning; guide §2.4 — two operations keyed
    # the same way share one exchange).
    pts = pts.withColumn("_home", (F.col("_cell") == home).cast("int"))
    pts = materialize(pts, key="_cell")

    # --- pass 1: globally-correct core flags, computed in home cells ----
    core_schema = StructType([StructField("_k", LongType()),
                              StructField("_core", IntegerType())])

    def core_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        xs, ys = pdf["_x"].to_numpy(), pdf["_y"].to_numpy()
        idx = np.nonzero(pdf["_home"].to_numpy() == 1)[0]
        adj = _dense_adj(xs, ys, eps)
        if adj is not None:
            flags = (adj[idx].sum(axis=1) >= min_pts).astype(int)
        else:
            neighbors = _grid_hash(xs, ys, eps)
            flags = [1 if len(neighbors(i)) >= min_pts else 0 for i in idx]
        return pd.DataFrame({"_k": pdf["_k"].to_numpy()[idx],
                             "_core": np.asarray(flags, dtype=np.int32)})

    core = pts.groupBy("_cell").applyInPandas(core_pass, core_schema)

    # --- pass 2: local clustering with known core flags ------------------
    piled = pts.join(core, "_k")  # every replica learns its global core flag

    lab_schema = StructType([
        StructField("_k", LongType()),
        StructField("_home", IntegerType()),
        StructField("_core", IntegerType()),
        StructField("_lab", StringType()),
    ])

    def cluster_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["_cell"].iat[0])
        xs, ys = pdf["_x"].to_numpy(), pdf["_y"].to_numpy()
        is_core = pdf["_core"].to_numpy() == 1
        n = len(pdf)
        adj = _dense_adj(xs, ys, eps)
        if adj is not None:
            def neighbors(i):
                return np.nonzero(adj[i])[0]
        else:
            neighbors = _grid_hash(xs, ys, eps)
        lab = np.full(n, -1, dtype=np.int64)
        cid = 0
        for i in range(n):
            if not is_core[i] or lab[i] != -1:
                continue
            lab[i] = cid
            stack = [i]
            while stack:
                p = stack.pop()
                for q in neighbors(p):
                    if is_core[q] and lab[q] == -1:
                        lab[q] = cid
                        stack.append(q)
            cid += 1
        # Emission: core → its own label; border → one row per DISTINCT
        # candidate core-neighbor label (the global argmin by cluster
        # rank is resolved after connected components — deterministic,
        # unlike picking the min LOCAL cid here, which depends on the
        # nondeterministic row order of the pandas group); noise → one
        # null-label row.
        ks = pdf["_k"].to_numpy()
        hm = pdf["_home"].to_numpy()
        co = pdf["_core"].to_numpy()
        out_k, out_h, out_c, out_l = [], [], [], []
        for i in range(n):
            if is_core[i]:
                labs = [f"{c}:{lab[i]}"]
            else:
                cand = sorted({int(lab[q]) for q in neighbors(i) if is_core[q]})
                labs = [f"{c}:{l}" for l in cand] or [None]
            for lv in labs:
                out_k.append(ks[i])
                out_h.append(hm[i])
                out_c.append(co[i])
                out_l.append(lv)
        return pd.DataFrame({"_k": out_k, "_home": out_h,
                             "_core": out_c, "_lab": out_l})

    labeled = materialize(piled.groupBy("_cell").applyInPandas(
        cluster_pass, lab_schema))

    # --- equivalence edges from multi-cell core points -------------------
    core_labs = labeled.where((F.col("_core") == 1) & F.col("_lab").isNotNull()) \
                       .select("_k", "_lab")
    e1 = core_labs.select(F.col("_k").alias("k1"), F.col("_lab").alias("a"))
    e2 = core_labs.select(F.col("_k").alias("k1"), F.col("_lab").alias("b"))
    edges = (e1.join(e2, "k1").where(F.col("a") != F.col("b"))
               .select("a", "b").distinct())

    # --- connected components over the LABEL graph -----------------------
    # The graph is per-cell cluster labels, not points — orders of
    # magnitude smaller than the data (at 100 TB it is O(cells ×
    # clusters/cell)). Shared primitive: driver union-find under the
    # edge threshold, distributed hash-min above it (operators/graph.py;
    # this replaces the reference's unguarded driver collect,
    # DBScan.scala:164-168 `FIXME: Bad!`).
    from stark_spark.operators.graph import connected_components
    comp = (connected_components(edges,
                                 nodes=core_labs.select("_lab").distinct())
            .select(F.col("node").alias("_lab"), "comp"))

    # --- relabel home rows -----------------------------------------------
    # Cluster ids are the rank of each component's minimum CORE member
    # key (core-only so numbering can't depend on border attachment);
    # a border point takes the min cluster id among its candidate
    # components — both fully deterministic, hence oracle-checkable.
    home_rows = labeled.where(F.col("_home") == 1)
    resolved = home_rows.join(F.broadcast(comp), "_lab", "left")
    core_mk = (resolved.where(F.col("_core") == 1)
                       .groupBy("comp").agg(F.min("_k").alias("_mk")))
    rank = core_mk.withColumn(
        "cluster", F.row_number().over(Window.orderBy("_mk")) - 1)
    assign = (resolved.join(F.broadcast(rank.select("comp", "cluster")),
                            "comp", "left")
                      .groupBy("_k")
                      .agg(F.min("cluster").alias("cluster"),
                           F.max("_core").alias("_is_core")))
    return assign.select(F.col("_k").alias(key),
                         F.coalesce("cluster", F.lit(-1)).alias("cluster"),
                         F.col("_is_core").cast("int").alias("is_core"))


# ---------------------------------------------------------------------------
# ε-estimation histograms (`dbscan/NeighborhoodHistogram.scala:16-146`,
# `DistanceHistogram.scala:15-157`) — parameter-tuning utilities
# ---------------------------------------------------------------------------

def neighborhood_histogram(df: DataFrame, eps: float, *, grid: GridSpec,
                           x: str = "xmin", y: str = "ymin",
                           max_count: int = 64) -> DataFrame:
    """Distribution of |N_eps(p)| (incl. self) over all points —
    distributed: cell+halo replication, per-cell numpy counts, one
    groupBy. Reading it: pick min_pts where the histogram's head mass
    ends (the reference's NeighborhoodHistogram use-case)."""
    pts = df.select(F.col(x).cast("double").alias("_x"),
                    F.col(y).cast("double").alias("_y"))
    pts = pts.withColumn("_cell", F.explode(
        grid.cells_array_expr(F.col("_x"), F.col("_y"),
                              F.col("_x"), F.col("_y"), expand=eps)))
    home = grid.cell_expr(F.col("_x"), F.col("_y"))
    pts = pts.withColumn("_home", (F.col("_cell") == home).cast("int"))

    schema = StructType([StructField("n_neighbors", IntegerType())])

    def counts(pdf: pd.DataFrame) -> pd.DataFrame:
        xs, ys = pdf["_x"].to_numpy(), pdf["_y"].to_numpy()
        neighbors = _grid_hash(xs, ys, eps)
        hm = np.nonzero(pdf["_home"].to_numpy() == 1)[0]
        return pd.DataFrame(
            {"n_neighbors": [min(max_count, len(neighbors(i))) for i in hm]})

    return (pts.groupBy("_cell").applyInPandas(counts, schema)
               .groupBy("n_neighbors").agg(F.count("*").alias("n_points"))
               .orderBy("n_neighbors"))


def distance_histogram(df: DataFrame, max_dist: float, n_buckets: int, *,
                       grid: GridSpec, key: str, x: str = "xmin",
                       y: str = "ymin",
                       n_samples: int = 1000) -> DataFrame:
    """Nearest-neighbor distance histogram — full parity with the
    reference's `DistanceHistogram.scala:15-157` / `Histogram.scala`:
    per grid cell, take ``n_samples`` points, each contributes its min
    distance to the OTHER samples in its cell; merged global histogram
    of ``n_buckets`` buckets of width ``max_dist/n_buckets``. The eps
    elbow input for DBSCAN tuning.

    Documented divergences: the per-cell sample is the ``n_samples``
    smallest ``key`` values (the reference takes iteration-order-first
    — nondeterministic), and distances ≥ ``max_dist`` clamp into the
    last bucket (the reference indexes out of bounds and crashes,
    `Histogram.scala:27`).

    Scale shape: one shuffle on cell, per-cell work capped at
    n_samples², output is exactly n_buckets rows (zero-filled).
    Single-point cells contribute nothing (reference's `size > 1`).
    """
    width = max_dist / n_buckets
    pts = (df.select(F.col(key).alias("_k"),
                     F.col(x).cast("double").alias("_x"),
                     F.col(y).cast("double").alias("_y"))
             .withColumn("_cell", grid.cell_expr(F.col("_x"), F.col("_y"))))

    schema = StructType([StructField("bucket", IntegerType()),
                         StructField("num", LongType())])

    def cell_hist(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_k", kind="stable").head(n_samples)
        if len(pdf) < 2:
            return pd.DataFrame({"bucket": [], "num": []})
        xs, ys = pdf["_x"].to_numpy(), pdf["_y"].to_numpy()
        d2 = ((xs[:, None] - xs[None, :]) ** 2 +
              (ys[:, None] - ys[None, :]) ** 2)
        np.fill_diagonal(d2, np.inf)
        # sqrt(min d2) == min sqrt(d2): sqrt is monotone + correctly
        # rounded, so this matches the oracle's min-over-sqrt exactly
        dmin = np.sqrt(d2.min(axis=1))
        b = np.minimum((dmin / width).astype(np.int64), n_buckets - 1)
        idx, cnt = np.unique(b, return_counts=True)
        return pd.DataFrame({"bucket": idx.astype(np.int32), "num": cnt})

    hist = (pts.groupBy("_cell").applyInPandas(cell_hist, schema)
               .groupBy("bucket").agg(F.sum("num").alias("num")))
    buckets = (df.sparkSession.range(n_buckets)
                 .select(F.col("id").cast("int").alias("bucket")))
    return (buckets.join(hist, "bucket", "left")
                   .select("bucket",
                           (F.col("bucket") * F.lit(width)).alias("lb"),
                           ((F.col("bucket") + 1) * F.lit(width)).alias("ub"),
                           F.coalesce("num", F.lit(0)).cast("long")
                            .alias("num")))
