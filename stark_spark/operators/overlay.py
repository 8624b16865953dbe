"""Constructive-overlay operators over geometry columns.

Net-new vs the reference (STARK exposes predicates/joins but no
constructive geometry — SURVEY §2.7 note); the kernel is
`core.geometry._trace_polys`, the same noded-overlay engine behind
`st_union` / `st_intersection` / `st_difference` and the MULTI*-buffer
dissolve. Since r9 degenerate contact computes — EDGE-ADJACENT
tilings (the canonical dissolve input) merge their seams, vertex
touches resolve — and only invalid (self-intersecting) rings raise.
Holed polygons are supported on both sides since r8: inputs may
carry holes, and a dissolve that encloses a courtyard returns a
holed polygon.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StructField,
                               StructType)
from stark_spark.materialize import materialize

# horizontal bands per group in the two-level (``hier``) dissolve
HIER_BANDS = 16
# ``hier="auto"`` flags a group when its serial dissolve outlasts
# SHARD_FACTOR× the rest of the schedule spread over the cluster
SHARD_FACTOR = 2.0


def _dissolve_once(df: DataFrame, group_cols: list[str],
                   group_col: str, geom_col: str) -> DataFrame:
    """One applyInPandas dissolve pass grouped by ``group_cols``
    (output keyed by ``group_col`` only — extra grouping columns are
    banding keys that exist to split the work, not the result)."""
    from stark_spark.core import geometry as G

    schema = StructType([
        df.schema[group_col],
        StructField("geom", BinaryType()),
        StructField("n_parts", LongType()),
    ])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = []
        for wkb in pdf[geom_col]:
            if wkb is None:
                continue
            g = G.from_wkb(bytes(wkb))
            polys.extend(G._overlay_polys_of(g, "dissolve"))
        if not polys:
            return pdf.iloc[0:0][[group_col]].assign(
                geom=None, n_parts=0)
        # ≤64 polygons: one direct overlay pass (bit-stable with the
        # pre-r9 path); larger groups: KD pairwise-merge tree —
        # O(N log N · local) instead of the one-shot O(N²) crossing
        # scan, the 100 TB straggler guard (r8 verdict ask #4)
        merged = G._union_tree(polys)
        out = G._geom_from_polys(merged)
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]],
                             "geom": [G.to_wkb(out)],
                             "n_parts": [len(merged)]})

    return (df.select(*group_cols, geom_col).groupBy(*group_cols)
              .applyInPandas(run, schema=schema))


def _hier_dissolve(df: DataFrame, group_col: str,
                   geom_col: str) -> DataFrame:
    """Two-level composition of the same dissolve: stage 1 dissolves
    per (group, spatial band) — bands are horizontal slices of the
    group's bbox-centroid y-extent, so each partial is a compact
    region and the final merge unions ~HIER_BANDS region polygons
    instead of the raw tiles (the r10 208k-straggler study: 55.8 s vs
    93.6 s single-level). Spatial (not hash) banding is what keeps
    stage-2 cheap: a hash band would be a scattered multi-part blob
    whose merge re-pays the whole crossing scan."""
    from stark_spark.functions.constructors import _st_bbox_udf

    # drop NULLs before banding: they dissolve to nothing anyway, and
    # their NaN bbox centroid would poison the per-group max(_cy)
    # (NaN sorts greatest), collapsing every band into one
    b = df.select(group_col, geom_col) \
          .where(F.col(geom_col).isNotNull()) \
          .withColumn("_bb", _st_bbox_udf(F.col(geom_col))) \
          .withColumn("_cy", (F.col("_bb.ymin") + F.col("_bb.ymax"))
                      / 2).drop("_bb")
    ext = (b.groupBy(group_col)
            .agg(F.min("_cy").alias("_lo"), F.max("_cy").alias("_hi"))
            .withColumnRenamed(group_col, "_eg"))
    # null-safe join: a NULL group key is a real group for groupBy,
    # and plain equality would silently drop it here (review r11)
    banded = (b.join(F.broadcast(ext),
                     F.col(group_col).eqNullSafe(F.col("_eg")))
               .withColumn("_band", F.least(
                   F.floor((F.col("_cy") - F.col("_lo")) * HIER_BANDS
                           / (F.col("_hi") - F.col("_lo") + 1e-9)),
                   F.lit(HIER_BANDS - 1)))
               .drop("_cy", "_lo", "_hi", "_eg"))
    partials = _dissolve_once(banded, [group_col, "_band"],
                              group_col, geom_col)
    return _dissolve_once(partials, [group_col], group_col, "geom")


def dissolve(df: DataFrame, group_col: str,
             geom_col: str = "geom", *,
             hier: bool | str = False,
             min_shard: int = 4096) -> DataFrame:
    """GIS dissolve: per group, the union of ALL the group's polygons
    in one boundary-trace pass (k rings at once — not a fold, so
    intermediate-shape degeneracies can't arise between steps).

    Scale shape: one shuffle on the group key (`applyInPandas`);
    per-group work is O((Σ ring points)²) in the crossing scan —
    bounded by the group's geometry count, never corpus-wide. NULL
    geometries are dropped; a group with only NULLs emits nothing.
    Output: (group_col, geom [WKB POLYGON/MULTIPOLYGON, holes
    preserved/produced], n_parts — the number of disjoint regions
    after dissolving).

    ``hier`` (r10 verdict stretch #8 — the skewed-dissolve study as
    API): dissolve is one task per key by design, so a key holding a
    third of all rows IS a single-core straggler. ``hier=True`` runs
    the two-level banded composition for every group; ``hier="auto"``
    bands ONLY the keys that dominate the residual schedule — flagged
    when ``n_g · slots > SHARD_FACTOR · (N − n_g)`` (the straggler's
    serial time exceeds ~SHARD_FACTOR× the rest of the schedule
    spread over the cluster), from one cheap count pre-agg. The study
    is encoded in the default: banding a balanced load LOSES (126.9 s
    vs 101.4 s at 640k — shared band boundaries make the merge pay
    more than the overlap saves), so auto leaves balanced groups on
    the single-level path. Results are row-exact either way (union is
    associative); vertex order inside a ring may differ from the
    single-level path, so oracle-gated queries keep the default.
    """
    base = df.select(group_col, geom_col)
    if not hier:
        return _dissolve_once(base, [group_col], group_col, geom_col)
    if hier is True:
        return _hier_dissolve(base, group_col, geom_col)
    if hier != "auto":
        raise ValueError(f"hier must be False, True or 'auto': {hier!r}")
    flagged = dissolve_flagged_groups(base, group_col, geom_col,
                                      min_shard=min_shard)
    flagged = materialize(flagged)   # tiny; reused 3x
    if flagged.limit(1).count() == 0:
        return _dissolve_once(base, [group_col], group_col, geom_col)
    big = base.join(F.broadcast(flagged), group_col)
    rest = base.join(F.broadcast(flagged), group_col, "left_anti")
    return (_hier_dissolve(big, group_col, geom_col)
            .unionByName(_dissolve_once(rest, [group_col], group_col,
                                        geom_col)))


def dissolve_flagged_groups(df: DataFrame, group_col: str,
                            geom_col: str = "geom", *,
                            min_shard: int = 4096) -> DataFrame:
    """The ``hier="auto"`` skew probe, exposed for tests/inspection:
    one map-side-combined count per group; a group is flagged when
    its serial dissolve would outlast the rest of the schedule —
    ``n_g · slots > SHARD_FACTOR · (N − n_g)`` with slots = the
    session's default parallelism — AND it is big enough for banding
    overhead to pay (``n_g ≥ min_shard``; without the floor, a frame
    of a few small groups flags everything). Returns a 1-column
    frame of flagged ``group_col`` values (usually empty or a
    handful)."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    stats = (df.where(F.col(geom_col).isNotNull())
               .groupBy(group_col).agg(F.count("*").alias("_n")))
    tot = stats.agg(F.sum("_n").alias("_tot"))
    return (stats.crossJoin(F.broadcast(tot))
                 .where((F.col("_n") >= min_shard)
                        & (F.col("_n") * slots
                           > SHARD_FACTOR
                           * (F.col("_tot") - F.col("_n"))))
                 .select(group_col))
