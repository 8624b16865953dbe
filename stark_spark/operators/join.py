"""Spatial / spatio-temporal joins.

Reference joins (`PlainSpatialRDDFunctions.scala:262-348`,
`SpatialJoinRDD.scala:60-132`, `JoinRDD.scala:91-207`) are
partition-wise nested loops with optional per-partition R-trees and a
driver-computed partition-pair graph. Our physical shape (SURVEY.md
§2.3) is the PBSM-style **grid join**:

1. explode each side to the grid cells its envelope covers (native
   array expr; points → exactly one cell, no row growth);
2. **cell equi-join** — an ordinary Catalyst join: hash/SMJ, AQE skew
   handling, broadcast upgrade, exchange reuse all apply;
3. native **bbox prefilter** inside the join condition (codegen);
4. exact **refine** via the pair pandas UDF — skipped when both sides
   are points and the predicate reduces to native arithmetic;
5. duplicate elimination WITHOUT a distinct-shuffle: the
   **reference-point technique** — a candidate pair is emitted only in
   the one cell that contains the top-left corner of the two
   envelopes' intersection. (The reference instead dodges dups via
   home-cell partitioning + `oneToMany` overlap handling,
   Readme.md:39-41; `zipJoin` pays a `.distinct()`, PSF:347.)

Broadcast path (`broadcastJoin`, PSF:285-298): small side broadcast +
bbox-condition BroadcastNestedLoopJoin + refine — no grid, no shuffle.

At 100 TB: the equi-join shuffles both sides once on the cell key;
grid resolution trades shuffle fan-out vs candidate count; skewed
cells (a giant polygon covering many cells) are bounded by AQE skew
splitting; broadcast handles dim-sized sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stark_spark.core.temporal import st_conjunction
from stark_spark.functions.predicates import PREDICATES, st_relate_pair
from stark_spark.partitioner.grid import GridSpec

_ST_COLS = ("geom", "xmin", "ymin", "xmax", "ymax", "t_start", "t_end", "x", "y")


def _suffix_right(left: DataFrame, right: DataFrame, suffix: str):
    """Rename right's ST columns (always) and colliding payload columns."""
    lcols = set(left.columns)
    renames = {}
    for c in right.columns:
        if c in _ST_COLS or c in lcols:
            renames[c] = c + suffix
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)
    return right, renames


def _bbox_overlap(suffix: str) -> Column:
    return ((F.col("xmin") <= F.col("xmax" + suffix)) &
            (F.col("xmin" + suffix) <= F.col("xmax")) &
            (F.col("ymin") <= F.col("ymax" + suffix)) &
            (F.col("ymin" + suffix) <= F.col("ymax")))


def _bbox_within(suffix: str) -> Column:
    """left envelope within right envelope (containedby/coveredby prefilter)."""
    return ((F.col("xmin") >= F.col("xmin" + suffix)) &
            (F.col("xmax") <= F.col("xmax" + suffix)) &
            (F.col("ymin") >= F.col("ymin" + suffix)) &
            (F.col("ymax") <= F.col("ymax" + suffix)))


_PRE = {
    "intersects": _bbox_overlap,
    "containedby": _bbox_within,
    "coveredby": _bbox_within,
    "contains": lambda s: _bbox_within_inv(s),
    "covers": lambda s: _bbox_within_inv(s),
}


def _bbox_within_inv(suffix: str) -> Column:
    return ((F.col("xmin" + suffix) >= F.col("xmin")) &
            (F.col("xmax" + suffix) <= F.col("xmax")) &
            (F.col("ymin" + suffix) >= F.col("ymin")) &
            (F.col("ymax" + suffix) <= F.col("ymax")))


def _temporal(on_time: bool | str, predicate: str, suffix: str) -> Column | None:
    """§1.2 conjunct between the two sides' time columns (or skip)."""
    if on_time in (False, "ignore"):
        return None
    ls, le = F.col("t_start"), F.col("t_end")
    rs, re = F.col("t_start" + suffix), F.col("t_end" + suffix)
    return st_conjunction(F.lit(True), predicate, ls, le, rs, re)


def _points_native_pred(predicate: str, suffix: str) -> Column:
    """Point⋈point: every predicate degenerates to coordinate equality."""
    return ((F.col("xmin") == F.col("xmin" + suffix)) &
            (F.col("ymin") == F.col("ymin" + suffix)))


# Memoized skew-guard probe: max cells-per-envelope of a left frame,
# keyed by the celled plan's semantic hash + threshold. Only the guard
# STATISTIC is cached, never results, and it is row-neutral: a stale
# maximum (parquet rewritten mid-session) only picks the single
# grid-join plan or the small/big union plan, which return identical
# rows (test_big_geometry_hybrid_path) — a stale entry costs time, not
# correctness. Warm reruns hit it: at sf0.1 it saves 1.66 s on
# st_join_poly_contains and 0.71 s on st_join_expand_temporal.
_BIG_CELL_PROBE_CACHE: dict = {}


def st_join(left: DataFrame, right: DataFrame, predicate: str = "intersects",
            *, grid: GridSpec | None = None, on_time: bool | str = "ignore",
            left_points: bool = False, right_points: bool = False,
            broadcast: bool | str = False, suffix: str = "_r",
            expand: float = 0.0, big_cell_threshold: int = 64,
            left_rect: bool = False, right_rect: bool = False) -> DataFrame:
    """Predicate join. Returns left ⋈ right with right's ST columns
    suffixed. ``expand`` widens the left envelope (used by
    within-distance joins).

    ``broadcast=True`` → BNLJ with the small right side broadcast
    (reference `broadcastJoin`); ``broadcast="left"`` broadcasts the
    LEFT side instead (used by the skew guard, where the left frame is
    the small one); otherwise grid equi-join.

    Skew guard (``big_cell_threshold``): a left geometry whose envelope
    covers more than that many cells (a continent-sized polygon over a
    fine grid) would fan out into thousands of shuffle rows and hit
    every partition. Such rows are split off and joined via a
    broadcast-left BNLJ instead (they are rare by construction —
    broadcasting them is cheap); results are unioned. Disable with
    ``big_cell_threshold=0``.
    """
    if predicate not in PREDICATES:
        raise ValueError(predicate)

    left_single = left_points and expand == 0.0
    if not broadcast and grid is not None and not left_single \
            and big_cell_threshold:
        cells = grid.cells_array_expr(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            expand=expand)
        n_cells = F.size(cells)
        # r14: probe max(cells/envelope) ONCE (memoized) instead of
        # always planning the two-branch union. With no oversized
        # geometry the old shape still SCANNED BOTH SIDES TWICE —
        # the empty big branch re-ran the left scan (including any
        # geometry-construction UDF, which a filter cannot push
        # below) and pulled the whole right side through a BNLJ
        # whose build side held zero rows. The probe is one
        # column-pruned aggregate over the left envelopes; when it
        # trips, the union is planned exactly as before.
        lc = left.withColumn("_nc", n_cells)
        ck = (lc.semanticHash(), int(big_cell_threshold))
        mx = _BIG_CELL_PROBE_CACHE.get(ck)
        if mx is None:
            mx = lc.agg(F.max("_nc")).first()[0] or 0
            if len(_BIG_CELL_PROBE_CACHE) > 256:
                _BIG_CELL_PROBE_CACHE.clear()
            _BIG_CELL_PROBE_CACHE[ck] = mx
        if mx > big_cell_threshold:
            small = left.where(n_cells <= F.lit(big_cell_threshold))
            big = left.where(n_cells > F.lit(big_cell_threshold))
            a = st_join(small, right, predicate, grid=grid,
                        on_time=on_time, left_points=left_points,
                        right_points=right_points, suffix=suffix,
                        expand=expand, big_cell_threshold=0,
                        left_rect=left_rect, right_rect=right_rect)
            b = st_join(big, right, predicate, broadcast="left",
                        on_time=on_time, left_points=left_points,
                        right_points=right_points, suffix=suffix,
                        expand=expand, left_rect=left_rect,
                        right_rect=right_rect)
            return a.unionByName(b)
        # max ≤ threshold: the big branch is provably empty — fall
        # through to the single grid-join plan (identical rows)

    right, _ = _suffix_right(left, right, suffix)

    both_points = left_points and right_points
    pre = _PRE[predicate](suffix) if expand == 0.0 else _bbox_overlap_expand(suffix, expand)

    # declared-rectangle fast paths: when a side IS its own envelope the
    # bbox algebra is the exact predicate — the whole join stays native.
    # left_rect × right_points uses _RECT_EXACT (strict interior for
    # contains); rect × rect covers intersects/covers/coveredby (closed
    # bbox comparisons; `contains` needs interior reasoning for
    # degenerate rects, so it keeps the kernel refine).
    if left_rect and right_rect:
        rect_exact = "rect" if predicate in _RECT_RECT_EXACT else None
    else:
        rect_exact = "points" if (left_rect and right_points and
                                  predicate in _RECT_EXACT) else None
    if broadcast:
        # "left" → the left frame is the small one (skew-guard path:
        # the handful of giant-envelope rows); broadcasting the full
        # right side there would OOM at scale.
        if broadcast == "left":
            joined = F.broadcast(left).join(right, on=pre, how="inner")
        else:
            joined = left.join(F.broadcast(right), on=pre, how="inner")
        return _refine(joined, predicate, both_points, on_time, suffix,
                       expand, rect_exact)

    if grid is None:
        raise ValueError("grid required for the partitioned join "
                         "(or pass broadcast=True)")

    # explode to covering cells; a point side (with no expansion) has
    # exactly one home cell — native cell expr, no row growth
    if left_single:
        l = left.withColumn("_cell", grid.cell_expr(F.col("xmin"), F.col("ymin")))
    else:
        l = left.withColumn("_cell", F.explode(grid.cells_array_expr(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            expand=expand)))
    if right_points:
        r = right.withColumn("_cell", grid.cell_expr(
            F.col("xmin" + suffix), F.col("ymin" + suffix)))
    else:
        r = right.withColumn("_cell", F.explode(grid.cells_array_expr(
            F.col("xmin" + suffix), F.col("ymin" + suffix),
            F.col("xmax" + suffix), F.col("ymax" + suffix))))

    joined = l.join(r, on=["_cell"], how="inner").where(pre)

    # reference-point dedup: a pair meets in |cells(l) ∩ cells(r)| cells;
    # keep it only in the one containing the top-left corner of the
    # envelope intersection (⇒ no distinct-shuffle). When either side is
    # single-cell the intersection has ≤1 cell — no dups, skip the test.
    if not left_single and not right_points:
        ref_x = F.greatest(F.col("xmin") - F.lit(expand), F.col("xmin" + suffix))
        ref_y = F.greatest(F.col("ymin") - F.lit(expand), F.col("ymin" + suffix))
        joined = joined.where(F.col("_cell") == grid.cell_expr(ref_x, ref_y))

    return _refine(joined, predicate, both_points, on_time, suffix,
                   expand, rect_exact).drop("_cell")


def st_semi_join(left: DataFrame, right: DataFrame,
                 predicate: str = "intersects", *, left_key: str,
                 anti: bool = False, **st_join_kwargs) -> DataFrame:
    """Spatial semi/anti join: the left rows that have (``anti=False``)
    or lack (``anti=True``) at least one right match under the ST
    predicate. Returns LEFT rows unchanged — no right payload, no
    duplicates.

    Absent in the reference (its joins are inner-only,
    `SpatialJoinRDD.scala:60-132`); a DataFrame engine gets it almost
    for free: run the same grid/broadcast candidate+refine plan,
    reduce to DISTINCT matched left keys (map-side combined — the key
    set is tiny relative to the pair set), and hash semi/anti join
    back on the key. AQE broadcasts the key set when small, so the
    second pass is usually shuffle-free on the left.

    ``st_join_kwargs`` pass through (grid, left_points/right_points,
    left_rect/right_rect, on_time, broadcast, expand, skew guard).
    """
    matched = (st_join(left, right, predicate, **st_join_kwargs)
               .select(left_key).distinct())
    return left.join(matched, left_key,
                     "left_anti" if anti else "left_semi")


def _bbox_overlap_expand(suffix: str, d: float) -> Column:
    return ((F.col("xmin") - F.lit(d) <= F.col("xmax" + suffix)) &
            (F.col("xmin" + suffix) <= F.col("xmax") + F.lit(d)) &
            (F.col("ymin") - F.lit(d) <= F.col("ymax" + suffix)) &
            (F.col("ymin" + suffix) <= F.col("ymax") + F.lit(d)))


# exact native predicates when LEFT is a declared axis-aligned
# rectangle and RIGHT is points: the rectangle IS its envelope, so the
# whole predicate stays in codegen (strict interior for contains)
_RECT_EXACT = {
    "intersects": _bbox_overlap,
    "covers": _bbox_within_inv,
    "contains": lambda s: ((F.col("xmin" + s) > F.col("xmin")) &
                           (F.col("xmax" + s) < F.col("xmax")) &
                           (F.col("ymin" + s) > F.col("ymin")) &
                           (F.col("ymax" + s) < F.col("ymax"))),
}

# exact native predicates for declared rect × declared rect (closed
# bbox algebra IS the OGC predicate for these three)
_RECT_RECT_EXACT = {
    "intersects": _bbox_overlap,
    "covers": _bbox_within_inv,
    "coveredby": _bbox_within,
}


def _refine(joined: DataFrame, predicate: str, both_points: bool,
            on_time, suffix: str, expand: float,
            rect_exact: str | None = None) -> DataFrame:
    if expand == 0.0:
        if both_points:
            joined = joined.where(_points_native_pred(predicate, suffix))
        elif rect_exact == "rect":
            joined = joined.where(_RECT_RECT_EXACT[predicate](suffix))
        elif rect_exact == "points":
            joined = joined.where(_RECT_EXACT[predicate](suffix))
        else:
            joined = joined.where(st_relate_pair(
                F.col("geom"), F.col("geom" + suffix), predicate))
    t = _temporal(on_time, predicate, suffix)
    if t is not None:
        joined = joined.where(t)
    return joined


def within_distance_join(left: DataFrame, right: DataFrame, max_dist: float,
                         *, grid: GridSpec | None = None,
                         points: bool = True, broadcast: bool = False,
                         suffix: str = "_r") -> DataFrame:
    """All pairs with euclidean distance ≤ max_dist (reference
    `withinDistance` join usage + `SpatialKnnJoinRDD` distance pattern).

    Point fast path: native hypot filter after the widened-cell
    equi-join — zero UDFs end-to-end.

    Non-point frames (``points=False``): expanded-bbox grid join for
    candidates, then the vectorized pair-distance kernel as the exact
    refine (`pair_distance_udf` — grouped one-side-points fast paths,
    scalar geometry⋈geometry fallback).
    """
    if not points:
        from stark_spark.functions.predicates import pair_distance_udf
        joined = st_join(left, right, "intersects", grid=grid,
                         expand=max_dist, suffix=suffix,
                         broadcast=broadcast)
        d = pair_distance_udf()(F.col("geom"), F.col("geom" + suffix))
        return joined.where(d <= F.lit(max_dist))
    right, _ = _suffix_right(left, right, suffix)
    dx = F.col("xmin") - F.col("xmin" + suffix)
    dy = F.col("ymin") - F.col("ymin" + suffix)
    dist = F.sqrt(dx * dx + dy * dy)
    if broadcast:
        pre = _bbox_overlap_expand(suffix, max_dist)
        joined = left.join(F.broadcast(right), on=pre, how="inner")
    else:
        if grid is None:
            raise ValueError("grid required (or broadcast=True)")
        l = left.withColumn("_cell", F.explode(grid.cells_array_expr(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            expand=max_dist)))
        r = right.withColumn("_cell", grid.cell_expr(
            F.col("xmin" + suffix), F.col("ymin" + suffix)))
        joined = l.join(r, on=["_cell"], how="inner").drop("_cell")
    return joined.where(dist <= F.lit(max_dist))
