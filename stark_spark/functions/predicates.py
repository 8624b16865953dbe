"""Spatial / spatio-temporal predicate expression builders.

Reference operators (`PlainSpatialRDDFunctions.scala:92-109`,
`SpatialFilterRDD.scala:25-165`, predicate enum
`spatial/PredicatesFunctions.scala:5-26`): intersects / contains /
containedby / covers / coveredby as geometry-vs-constant selections
with per-partition index + partition pruning.

Our physical shape (SURVEY.md §4 filter-refine):

1. **bbox prefilter** — native column comparisons against the query's
   envelope (whole-stage codegen; reaches Parquet row-group stats when
   data is written sorted/partitioned by cell). This replaces both the
   reference's R-tree probe AND its partition pruning.
2. **exact refine** — Arrow pandas UDF over the WKB column using the
   numpy kernel, skipped entirely when the bbox test is already exact
   (axis-aligned rectangle query over point data — the common case).
3. temporal conjunct per the §1.2 both-or-neither rule
   (`core/temporal.py`) — native columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from stark_spark.core import geometry as G
from stark_spark.core.temporal import st_conjunction

PREDICATES = ("intersects", "contains", "containedby", "covers", "coveredby")


def _as_geom(q) -> G.Geometry:
    if isinstance(q, G.Geometry):
        return q
    if isinstance(q, str):
        return G.from_wkt(q)
    if isinstance(q, (bytes, bytearray)):
        return G.from_wkb(bytes(q))
    raise TypeError(f"query geometry: {type(q)}")


def bbox_intersects(q: G.Geometry, cols=("xmin", "ymin", "xmax", "ymax"),
                    expand: float = 0.0) -> Column:
    """Native envelope-overlap test (the codegen'd prefilter)."""
    qxmin, qymin, qxmax, qymax = q.bbox
    return ((F.col(cols[0]) <= F.lit(qxmax + expand)) &
            (F.col(cols[2]) >= F.lit(qxmin - expand)) &
            (F.col(cols[1]) <= F.lit(qymax + expand)) &
            (F.col(cols[3]) >= F.lit(qymin - expand)))


def _bbox_within(q: G.Geometry, cols=("xmin", "ymin", "xmax", "ymax")) -> Column:
    """Row envelope fully inside query envelope (prefilter for
    containedby/coveredby)."""
    qxmin, qymin, qxmax, qymax = q.bbox
    return ((F.col(cols[0]) >= F.lit(qxmin)) & (F.col(cols[2]) <= F.lit(qxmax)) &
            (F.col(cols[1]) >= F.lit(qymin)) & (F.col(cols[3]) <= F.lit(qymax)))


def _bbox_contains_q(q: G.Geometry, cols=("xmin", "ymin", "xmax", "ymax")) -> Column:
    """Row envelope fully contains the query envelope (prefilter for
    contains/covers)."""
    qxmin, qymin, qxmax, qymax = q.bbox
    return ((F.col(cols[0]) <= F.lit(qxmin)) & (F.col(cols[2]) >= F.lit(qxmax)) &
            (F.col(cols[1]) <= F.lit(qymin)) & (F.col(cols[3]) >= F.lit(qymax)))


_PREFILTER = {
    "intersects": bbox_intersects,
    "containedby": _bbox_within,
    "coveredby": _bbox_within,
    "contains": _bbox_contains_q,
    "covers": _bbox_contains_q,
}


def _make_refine_udf(q: G.Geometry, predicate: str):
    """Exact-phase UDF: row geometry (WKB series) vs constant query.

    Point batches go through the vectorized kernels; mixed batches fall
    back to scalar predicate evaluation.
    """
    qwkb = G.to_wkb(q)  # ship compact bytes, re-parse once per executor batch

    @pandas_udf(BooleanType())
    def refine(wkb: pd.Series) -> pd.Series:
        qg = G.from_wkb(qwkb)
        blist = list(wkb)
        is_pts = all(b is not None and len(b) == 21 and b[0] == 1 for b in blist)
        if is_pts and qg.kind in ("POLYGON", "MULTIPOLYGON"):
            xs, ys = G.decode_points(blist)
            if predicate in ("intersects", "coveredby"):
                ok = G.points_in_polygon(xs, ys, qg, boundary=True)
            elif predicate == "containedby":
                ok = G.points_in_polygon(xs, ys, qg, boundary=False)
            else:  # a point can only contain/cover an equal point; polygon q → never
                ok = [False] * len(blist)
            return pd.Series(list(ok))
        out = []
        for b in blist:
            if b is None:
                out.append(False)
                continue
            g = G.from_wkb(bytes(b))
            if predicate == "intersects":
                out.append(G.intersects(g, qg))
            elif predicate == "contains":
                out.append(G.contains(g, qg))
            elif predicate == "containedby":
                out.append(G.contains(qg, g))
            elif predicate == "covers":
                out.append(G.covers(g, qg))
            else:
                out.append(G.covers(qg, g))
        return pd.Series(out)

    return refine


def st_predicate(query, predicate: str, *, geom_col: str = "geom",
                 points: bool = False,
                 bbox_cols=("xmin", "ymin", "xmax", "ymax"),
                 t_query: tuple[int | None, int | None] | None = None,
                 time_cols=("t_start", "t_end")) -> Column:
    """Build the full ST predicate Column for a constant query geometry.

    ``points=True`` asserts the frame is point geometry → for a
    rectangle query the bbox phase is exact and no UDF is emitted.
    ``t_query`` = (start, end) epoch seconds, either end None for an
    open end, or None for an untimed query; with a timed query, the
    both-or-neither §1.2 rule applies.
    """
    if predicate not in PREDICATES:
        raise ValueError(f"unknown predicate {predicate}")
    q = _as_geom(query)
    spatial = _PREFILTER[predicate](q, bbox_cols)
    exact_already = (points and q.is_rectangle() and
                     predicate in ("intersects", "coveredby"))
    if points and not exact_already and \
            predicate in ("intersects", "coveredby", "containedby"):
        # CONVEX polygon query over points: point-in-polygon compiles to
        # a native half-plane conjunction (one cross-product comparison
        # per edge, whole-stage codegen — no UDF at all). Boundary
        # inclusive for intersects/coveredby (≥), strict interior for
        # containedby (>), matching the PIP kernel's semantics.
        ring = q.convex_ring()
        if ring is not None:
            x, y = F.col(bbox_cols[0]), F.col(bbox_cols[1])
            strict = predicate == "containedby"
            cond = F.lit(True)
            for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
                if ax == bx and ay == by:
                    continue          # zero-length edge
                cross = (F.lit(float(bx - ax)) * (y - F.lit(float(ay))) -
                         F.lit(float(by - ay)) * (x - F.lit(float(ax))))
                cond = cond & ((cross > 0) if strict else (cross >= 0))
            spatial = spatial & cond
            exact_already = True
    if points and q.is_rectangle() and predicate == "containedby":
        # strict interior of a rectangle — native strict comparisons
        qxmin, qymin, qxmax, qymax = q.bbox
        spatial = ((F.col(bbox_cols[0]) > F.lit(qxmin)) &
                   (F.col(bbox_cols[2]) < F.lit(qxmax)) &
                   (F.col(bbox_cols[1]) > F.lit(qymin)) &
                   (F.col(bbox_cols[3]) < F.lit(qymax)))
        exact_already = True
    if not exact_already:
        spatial = spatial & _make_refine_udf(q, predicate)(F.col(geom_col))

    if t_query is None:
        # untimed query: §1.2 → only rows with undefined time qualify when the
        # query has no time... The reference treats an untimed *query object*
        # as "both undefined" only vs untimed rows; callers wanting
        # spatial-only semantics use t_query="any".
        return spatial & F.col(time_cols[0]).isNull()
    if t_query == "any":
        return spatial
    ls, le = F.col(time_cols[0]), F.col(time_cols[1])
    # an open start is -2^62, the mirror of the +2^62 open end of
    # temporal_intersects: a NULL start would read as an untimed query
    rs = F.lit(-2**62 if t_query[0] is None else int(t_query[0]))
    re = F.lit(None).cast("long") if t_query[1] is None else F.lit(int(t_query[1]))
    return st_conjunction(spatial, predicate, ls, le, rs, re)


def bbox_filter(df, query, predicate: str = "intersects", **kw):
    """`df.filter(st_predicate(...))` convenience wrapper."""
    return df.filter(st_predicate(query, predicate, **kw))


def within_distance(query, max_dist: float, *, points: bool = False,
                    geom_col: str = "geom",
                    bbox_cols=("xmin", "ymin", "xmax", "ymax"),
                    distance: Column | None = None) -> Column:
    """Radius-search predicate (reference `withinDistance`,
    PSF:108-109 / LIF:29-55: widened-envelope index query + exact
    refine). Native widened-bbox prefilter always; for point frames vs
    a point query the exact check is native hypot (codegen, no UDF).

    ``distance`` plugs in a custom distance Column (the reference's
    ``distFunc`` parameter) — e.g. a weighted ST or Hausdorff
    expression. Like the reference's index path, the envelope
    prefilter assumes the metric is dominated by euclidean distance;
    pass a looser ``max_dist`` if it is not."""
    from stark_spark.functions.distance import st_distance_to, st_distance_xy

    q = _as_geom(query)
    pre = bbox_intersects(q, bbox_cols, expand=max_dist)
    if distance is not None:
        return pre & (distance <= F.lit(max_dist))
    if points and q.bbox[0] == q.bbox[2] and q.bbox[1] == q.bbox[3]:
        d = st_distance_xy(F.col(bbox_cols[0]), F.col(bbox_cols[1]),
                           F.lit(q.bbox[0]), F.lit(q.bbox[1]))
    else:
        d = st_distance_to(q, geom_col)
    return pre & (d <= F.lit(max_dist))


# ---------------------------------------------------------------------------
# pair predicate (both sides vary — join refine + SQL surface)
# ---------------------------------------------------------------------------

_PAIR_UDF_CACHE: dict = {}


def st_relate_pair(left: Column, right: Column, predicate: str) -> Column:
    """Exact predicate between two WKB geometry columns (the refine
    stage of `st_join`). See `pair_predicate_udf`."""
    return pair_predicate_udf(predicate)(left, right)


def pair_predicate_udf(predicate: str):
    """The vectorized pair-predicate pandas UDF, cached per predicate.

    Used as the refine stage of `st_join` (after the cell equi-join +
    native bbox prefilter cut candidates) and registered for SQL
    (`st_intersects(l.geom, r.geom)` — reference
    `sql/spatial/STPredicate.scala:43-71`) so the SQL surface gets the
    same grouped-points numpy kernel as the Python join path.
    """
    if predicate not in PREDICATES:
        raise ValueError(predicate)
    if predicate in _PAIR_UDF_CACHE:
        return _PAIR_UDF_CACHE[predicate]

    import numpy as np

    def _grouped_pip(pt_bytes, geom_bytes, boundary: bool):
        """Vectorized one-side-points path: parse each DISTINCT
        container geometry once, test all its point partners in one
        numpy pass (candidate batches after a cell join share few
        distinct geometries). None → scalar fallback."""
        xs, ys = G.decode_points(pt_bytes)
        out = np.zeros(len(xs), dtype=bool)
        groups: dict[bytes, list[int]] = {}
        for i, gb in enumerate(geom_bytes):
            if gb is None:
                continue
            groups.setdefault(bytes(gb), []).append(i)
        for gb, idx in groups.items():
            g = G.from_wkb(gb)
            if g.kind not in ("POLYGON", "MULTIPOLYGON"):
                return None
            ii = np.asarray(idx)
            if g.is_rectangle():
                # axis-aligned container → pure bbox compares
                x0, y0, x1, y1 = g.bbox
                if boundary:
                    out[ii] = ((xs[ii] >= x0) & (xs[ii] <= x1) &
                               (ys[ii] >= y0) & (ys[ii] <= y1))
                else:
                    out[ii] = ((xs[ii] > x0) & (xs[ii] < x1) &
                               (ys[ii] > y0) & (ys[ii] < y1))
                continue
            out[ii] = G.points_in_polygon(xs[ii], ys[ii], g, boundary=boundary)
        return out

    @pandas_udf(BooleanType())
    def pair(a: pd.Series, b: pd.Series) -> pd.Series:
        alist, blist = list(a), list(b)
        pts_a = all(x is not None and len(x) == 21 and x[0] == 1 for x in alist)
        pts_b = all(x is not None and len(x) == 21 and x[0] == 1 for x in blist)
        if pts_a and pts_b:
            ax, ay = G.decode_points(alist)
            bx, by = G.decode_points(blist)
            eq = (abs(ax - bx) <= 1e-9) & (abs(ay - by) <= 1e-9)
            return pd.Series(list(eq))
        vec = None
        if pts_b and predicate in ("contains", "covers", "intersects"):
            vec = _grouped_pip(blist, alist,
                               boundary=(predicate != "contains"))
        elif pts_a and predicate in ("containedby", "coveredby", "intersects"):
            vec = _grouped_pip(alist, blist,
                               boundary=(predicate != "containedby"))
        if vec is not None:
            return pd.Series(list(vec))
        out = []
        for xa, xb in zip(alist, blist):
            if xa is None or xb is None:
                out.append(False)
                continue
            ga, gb = G.from_wkb(bytes(xa)), G.from_wkb(bytes(xb))
            if predicate == "intersects":
                out.append(G.intersects(ga, gb))
            elif predicate == "contains":
                out.append(G.contains(ga, gb))
            elif predicate == "containedby":
                out.append(G.contains(gb, ga))
            elif predicate == "covers":
                out.append(G.covers(ga, gb))
            else:
                out.append(G.covers(gb, ga))
        return pd.Series(out)

    _PAIR_UDF_CACHE[predicate] = pair
    return pair


def pair_distance_udf():
    """Vectorized euclidean distance between two WKB columns (SQL
    `st_distance` — reference `Distance.scala` via
    `sql/Functions.scala`). Point⋈point batches run one numpy hypot;
    one-side-points batches group by the distinct other geometry and
    run the vectorized point-to-geometry kernel; mixed batches fall
    back per-row."""
    if "__dist__" in _PAIR_UDF_CACHE:
        return _PAIR_UDF_CACHE["__dist__"]

    import numpy as np
    from pyspark.sql.types import DoubleType

    def _grouped_dist(pt_bytes, geom_bytes):
        xs, ys = G.decode_points(pt_bytes)
        out = np.zeros(len(xs), dtype=float)
        groups: dict[bytes, list[int]] = {}
        for i, gb in enumerate(geom_bytes):
            if gb is None:
                return None
            groups.setdefault(bytes(gb), []).append(i)
        for gb, idx in groups.items():
            g = G.from_wkb(gb)
            ii = np.asarray(idx)
            out[ii] = G.points_dist_to_geom(xs[ii], ys[ii], g)
        return out

    @pandas_udf(DoubleType())
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        alist, blist = list(a), list(b)
        pts_a = all(x is not None and len(x) == 21 and x[0] == 1 for x in alist)
        pts_b = all(x is not None and len(x) == 21 and x[0] == 1 for x in blist)
        if pts_a and pts_b:
            ax, ay = G.decode_points(alist)
            bx, by = G.decode_points(blist)
            return pd.Series(list(np.hypot(ax - bx, ay - by)))
        vec = None
        if pts_a:
            vec = _grouped_dist(alist, blist)
        elif pts_b:
            vec = _grouped_dist(blist, alist)
        if vec is not None:
            return pd.Series(list(vec))
        out = []
        for xa, xb in zip(alist, blist):
            if xa is None or xb is None:
                out.append(None)
                continue
            out.append(G.distance(G.from_wkb(bytes(xa)), G.from_wkb(bytes(xb))))
        return pd.Series(out, dtype="float64")

    _PAIR_UDF_CACHE["__dist__"] = dist
    return dist
