"""Distance functions.

Reference (`dbis/stark/Distance.scala:118-167`): spatial euclid over
centroids (:127-128), temporal euclid (start difference, :129),
weighted space+time scalarization (:118-133), Hausdorff (:139-167).
Results are plain DoubleType columns (SURVEY.md §1.8).

The point⇄point case is pure native column arithmetic (codegen); the
geometry-vs-constant case is one Arrow UDF over the vectorized kernel.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from stark_spark.core import geometry as G


def st_distance_xy(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance between two native point columns — stays in
    whole-stage codegen (the hot path for kNN / withinDistance over
    point frames)."""
    # explicit products, not pow(x,2): bit-identical across engines
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


def st_distance_to(query, geom_col: str = "geom") -> Column:
    """Distance from each row geometry to a constant query geometry."""
    q = query if isinstance(query, G.Geometry) else (
        G.from_wkt(query) if isinstance(query, str) else G.from_wkb(bytes(query)))
    qwkb = G.to_wkb(q)

    @pandas_udf(DoubleType())
    def dist(wkb: pd.Series) -> pd.Series:
        qg = G.from_wkb(qwkb)
        blist = list(wkb)
        if all(b is not None and len(b) == 21 and b[0] == 1 for b in blist):
            xs, ys = G.decode_points(blist)
            return pd.Series(G.points_dist_to_geom(xs, ys, qg))
        out = []
        for b in blist:
            out.append(None if b is None else G.distance(G.from_wkb(bytes(b)), qg))
        return pd.Series(out, dtype="float64")

    return dist(F.col(geom_col))


def temporal_distance(t1: Column, t2: Column) -> Column:
    """|start difference| in seconds (`Distance.scala:129`)."""
    return F.abs(t1.cast("double") - t2.cast("double"))


def weighted_st_distance(spatial_d: Column, temporal_d: Column,
                         w_space: float = 1.0, w_time: float = 1.0) -> Column:
    """Weighted scalarization of (space, time) distance
    (`Distance.scala:118-133`)."""
    return F.lit(w_space) * spatial_d + F.lit(w_time) * temporal_d


def hausdorff_to(query, geom_col: str = "geom") -> Column:
    """Directed Hausdorff distance row→query (`Distance.scala:139-167`):
    max over row vertices of min distance to the query geometry.
    For point rows this equals the plain distance."""
    q = query if isinstance(query, G.Geometry) else G.from_wkt(query)
    qwkb = G.to_wkb(q)

    @pandas_udf(DoubleType())
    def hd(wkb: pd.Series) -> pd.Series:
        import numpy as np
        qg = G.from_wkb(qwkb)
        blist = list(wkb)
        if all(b is not None and len(b) == 21 and b[0] == 1 for b in blist):
            xs, ys = G.decode_points(blist)
            return pd.Series(G.points_dist_to_geom(xs, ys, qg))
        out = []
        for b in blist:
            if b is None:
                out.append(None)
                continue
            g = G.from_wkb(bytes(b))
            if g.kind == "POINT":
                vs = g.coords.reshape(1, 2)
            elif g.kind == "LINESTRING":
                vs = g.coords
            elif g.kind == "POLYGON":
                vs = np.vstack(g.coords)
            else:
                vs = np.vstack([p.coords if p.kind != "POLYGON"
                                else np.vstack(p.coords) for p in g.parts()])
            d = G.points_dist_to_geom(vs[:, 0], vs[:, 1], qg)
            out.append(float(d.max()))
        return pd.Series(out, dtype="float64")

    return hd(F.col(geom_col))


def temporal_hausdorff(ls: Column, le: Column, rs: Column,
                       re: Column) -> Column:
    """Temporal Hausdorff (`Distance.scala:152-159` thausdorff):
    max(|l.start − r.start|, |lEnd − rEnd|) with a missing end
    defaulting to the start (open/instant intervals)."""
    l_end = F.coalesce(le, ls).cast("double")
    r_end = F.coalesce(re, rs).cast("double")
    return F.greatest(F.abs(ls.cast("double") - rs.cast("double")),
                      F.abs(l_end - r_end))


def hausdorff_pair(left: Column, right: Column) -> Column:
    """Directed spatial Hausdorff between two WKB geometry columns
    (`Distance.scala:139-150` shausdorff): max over left vertices of
    min distance to the right geometry. The reference measures against
    the right geometry's boundary VERTICES; we measure against the
    full boundary (segments included) — identical for point/vertex
    data, tighter (≤) for sparse linework. Point⇄point batches stay
    one numpy hypot."""
    import numpy as np

    @pandas_udf(DoubleType())
    def hd(a: pd.Series, b: pd.Series) -> pd.Series:
        alist, blist = list(a), list(b)
        pts_a = all(x is not None and len(x) == 21 and x[0] == 1
                    for x in alist)
        pts_b = all(x is not None and len(x) == 21 and x[0] == 1
                    for x in blist)
        if pts_a and pts_b:
            ax, ay = G.decode_points(alist)
            bx, by = G.decode_points(blist)
            return pd.Series(list(np.hypot(ax - bx, ay - by)))
        out = []
        for xa, xb in zip(alist, blist):
            if xa is None or xb is None:
                out.append(None)
                continue
            ga = G.from_wkb(bytes(xa))
            gb = G.from_wkb(bytes(xb))
            vs = _vertices(ga)
            d = G.points_dist_to_geom(vs[:, 0], vs[:, 1], gb)
            out.append(float(d.max()))
        return pd.Series(out, dtype="float64")

    return hd(left, right)


def _vertices(g):
    """All vertices of a geometry as an (n, 2) array."""
    import numpy as np
    if g.kind == "POINT":
        return g.coords.reshape(1, 2)
    if g.kind == "LINESTRING":
        return g.coords
    if g.kind == "POLYGON":
        return np.vstack(g.coords)
    return np.vstack([_vertices(p) for p in g.parts()])


def interval_distance(x: Column, y: Column, xmin: Column, ymin: Column,
                      xmax: Column, ymax: Column) -> Column:
    """IntervalDistance (`Distance.scala:27-77`): (min, max) distance
    bounds between a point and a rectangle — the reference uses these
    interval bounds to prune index partitions before exact distance
    work (knn2). Pure native expressions → struct(dmin, dmax).

    dmin = distance to the nearest point of the rect (0 inside);
    dmax = distance to the farthest corner.
    """
    dx = F.greatest(xmin - x, x - xmax, F.lit(0.0))
    dy = F.greatest(ymin - y, y - ymax, F.lit(0.0))
    fx = F.greatest(F.abs(x - xmin), F.abs(xmax - x))
    fy = F.greatest(F.abs(y - ymin), F.abs(ymax - y))
    return F.struct(
        F.sqrt(dx * dx + dy * dy).alias("dmin"),
        F.sqrt(fx * fx + fy * fy).alias("dmax"))


def haversine_distance(lat1: Column, lon1: Column, lat2: Column,
                       lon2: Column, *,
                       radius_km: float = 6371.0088) -> Column:
    """Great-circle distance in km (haversine) — a pure native trig
    expression (codegen, no UDF), the geodesic `distFunc` for
    lat/lon data where planar euclidean is wrong.

    Written with an explicit degree→radian literal and x*x instead of
    pow so a SQL oracle can mirror the exact operation order; sin /
    cos / asin / sqrt are correctly-rounded-enough libm calls in both
    engines, and gates should rank/compare on a quantized value."""
    import math
    rad = F.lit(math.pi / 180.0)
    dla = (lat2 - lat1) * rad
    dlo = (lon2 - lon1) * rad
    sla = F.sin(dla / 2)
    slo = F.sin(dlo / 2)
    # clamp: near-antipodal pairs can push the intermediate to
    # 1 + few-ulp, making sqrt(a) > 1 and asin return NaN
    a = F.least(sla * sla
                + F.cos(lat1 * rad) * F.cos(lat2 * rad) * slo * slo,
                F.lit(1.0))
    return F.lit(2.0 * radius_km) * F.asin(F.sqrt(a))
