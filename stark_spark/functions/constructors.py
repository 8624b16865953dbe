"""Geometry constructors: WKT/x,y/timestamp → canonical ST columns.

Reference SQL surface (`/root/reference/sql/spatial/STConstructor.scala`):
``st_geomfromwkt(str)`` (:24-46), ``st_point(x,y)`` (:68-96),
``st_sto(wkt, date|y,m,d)`` (:98-148). Ours return the canonical
encoding from SURVEY.md §1.8: ``geom`` = WKB BinaryType; bbox doubles
``xmin,ymin,xmax,ymax``; nullable epoch-second longs ``t_start,t_end``.

Constructors are the only place WKT parsing happens; they're Arrow
pandas UDFs (vectorized numpy WKB assembly for the point fast path).
Everything downstream works on WKB + native bbox columns.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (BinaryType, DoubleType, StringType, StructField,
                               StructType)

from stark_spark.core import geometry as G

BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")

_POINT_HDR = b"\x01\x01\x00\x00\x00"


def _points_to_wkb(xs: np.ndarray, ys: np.ndarray) -> list[bytes | None]:
    """Vectorized 21-byte point-WKB assembly."""
    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0:5] = np.frombuffer(_POINT_HDR, dtype=np.uint8)
    buf[:, 5:13] = np.asarray(xs, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(ys, dtype="<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    nan = np.isnan(xs) | np.isnan(ys)
    return [None if nan[i] else raw[i * 21:(i + 1) * 21] for i in range(n)]


@pandas_udf(BinaryType())
def _st_point_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    xs = x.to_numpy(dtype=np.float64, na_value=np.nan)
    ys = y.to_numpy(dtype=np.float64, na_value=np.nan)
    return pd.Series(_points_to_wkb(xs, ys))


_POINT_Z_HDR = struct.pack("<BI", 1, 1001)   # ISO WKB point-Z


@pandas_udf(BinaryType())
def _st_point_z_udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    """3-D point WKB (reference `STConstructor.scala:68-96` STPoint
    with 3 exprs → `STObject(x,y,z)`, STObject.scala:247)."""
    xs = x.to_numpy(dtype=np.float64, na_value=np.nan)
    ys = y.to_numpy(dtype=np.float64, na_value=np.nan)
    zs = z.to_numpy(dtype=np.float64, na_value=np.nan)
    n = len(xs)
    buf = np.empty((n, 29), dtype=np.uint8)
    buf[:, 0:5] = np.frombuffer(_POINT_Z_HDR, dtype=np.uint8)
    buf[:, 5:13] = xs.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 21:29] = zs.astype("<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    nan = np.isnan(xs) | np.isnan(ys) | np.isnan(zs)
    return pd.Series([None if nan[i] else raw[i * 29:(i + 1) * 29]
                      for i in range(n)])


_Z_RANGE = StructType([StructField("zmin", DoubleType()),
                       StructField("zmax", DoubleType())])


@pandas_udf(_Z_RANGE)
def _st_zrange_udf(wkb: pd.Series) -> pd.DataFrame:
    """(minZ, maxZ) of a WKB geometry (`STObject.getMinZ/getMaxZ`,
    STObject.scala:99-100); NULLs for 2-D geometries."""
    n = len(wkb)
    vals = np.full((n, 2), np.nan)
    blist = list(wkb)
    # fast path: uniform 29-byte point-Z batch
    if all(b is not None and len(b) == 29 and b[0] == 1 for b in blist):
        flat = np.frombuffer(b"".join(blist), dtype=np.uint8).reshape(n, 29)
        zs = flat[:, 21:29].copy().view("<f8").ravel()
        vals[:, 0] = zs
        vals[:, 1] = zs
    else:
        for i, b in enumerate(blist):
            if b is None:
                continue
            zr = G.from_wkb(bytes(b)).zrange
            if zr is not None:
                vals[i] = zr
    return pd.DataFrame(vals, columns=["zmin", "zmax"])


@pandas_udf(BinaryType())
def _st_geomfromwkt_udf(wkt: pd.Series) -> pd.Series:
    out = []
    for s in wkt:
        out.append(None if s is None else G.to_wkb(G.from_wkt(s)))
    return pd.Series(out)


@pandas_udf(StringType())
def _st_wkt_udf(wkb: pd.Series) -> pd.Series:
    out = []
    for b in wkb:
        out.append(None if b is None else G.to_wkt(G.from_wkb(bytes(b))))
    return pd.Series(out)


@pandas_udf(StructType([StructField(c, DoubleType()) for c in BBOX_COLS]))
def _st_bbox_udf(wkb: pd.Series) -> pd.DataFrame:
    n = len(wkb)
    vals = np.full((n, 4), np.nan)
    # fast path: uniform point batch
    blist = list(wkb)
    if all(b is not None and len(b) == 21 and b[0] == 1 for b in blist):
        xs, ys = G.decode_points(blist)
        vals[:, 0] = xs
        vals[:, 1] = ys
        vals[:, 2] = xs
        vals[:, 3] = ys
    else:
        for i, b in enumerate(blist):
            if b is None:
                continue
            vals[i] = G.from_wkb(bytes(b)).bbox
    return pd.DataFrame(vals, columns=list(BBOX_COLS))


_WKT_FRAME = StructType([StructField("geom", BinaryType())] +
                        [StructField(c, DoubleType()) for c in BBOX_COLS])


@pandas_udf(_WKT_FRAME)
def _st_wkt_frame_udf(wkt: pd.Series) -> pd.DataFrame:
    """WKT → (WKB, bbox) in ONE pass — parsing once instead of the
    chained geomfromwkt→bbox UDFs (each of which re-parses)."""
    geoms, boxes = [], []
    for s in wkt:
        if s is None:
            geoms.append(None)
            boxes.append((np.nan,) * 4)
            continue
        g = G.from_wkt(s)
        geoms.append(G.to_wkb(g))
        boxes.append(g.bbox)
    out = pd.DataFrame(boxes, columns=list(BBOX_COLS))
    out.insert(0, "geom", geoms)
    return out


@pandas_udf(BinaryType())
def _st_box_udf(xmin: pd.Series, ymin: pd.Series,
                xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    out = []
    for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax):
        if x0 is None or pd.isna(x0):
            out.append(None)
            continue
        out.append(G.to_wkb(G.box(float(x0), float(y0),
                                  float(x1), float(y1))))
    return pd.Series(out)


def st_point(x: Column | str, y: Column | str,
             z: Column | str | None = None) -> Column:
    """WKB point column from two (or three) numeric columns
    (vectorized; 3-arg form = reference `STObject(x,y,z)`)."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    if z is not None:
        z = F.col(z) if isinstance(z, str) else z
        return _st_point_z_udf(x.cast("double"), y.cast("double"),
                               z.cast("double"))
    return _st_point_udf(x.cast("double"), y.cast("double"))


def with_z(df: DataFrame, z: str) -> DataFrame:
    """Attach native zmin/zmax columns for a point frame whose z source
    column is known — no UDF (mirror of the with_bbox point fast path)."""
    return (df.withColumn("zmin", F.col(z).cast("double"))
              .withColumn("zmax", F.col(z).cast("double")))


def st_box(xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """WKB rectangle polygon from four numeric columns (tile bbox →
    geometry, reference `STConstructor.scala:48-64`)."""
    return _st_box_udf(xmin.cast("double"), ymin.cast("double"),
                       xmax.cast("double"), ymax.cast("double"))


def st_geomfromwkt(wkt: Column | str) -> Column:
    wkt = F.col(wkt) if isinstance(wkt, str) else wkt
    return _st_geomfromwkt_udf(wkt)


def st_wkt(geom: Column | str) -> Column:
    geom = F.col(geom) if isinstance(geom, str) else geom
    return _st_wkt_udf(geom)


def with_bbox(df: DataFrame, geom_col: str = "geom",
              x: str | None = None, y: str | None = None) -> DataFrame:
    """Attach native bbox columns.

    If the frame is known point data (``x``/``y`` source columns given),
    the bbox is pure native column arithmetic — no UDF, fully codegen'd
    and prunable in Parquet row-group stats. Otherwise one bbox UDF pass.
    """
    if x is not None and y is not None:
        return df.withColumns({"xmin": F.col(x).cast("double"),
                               "ymin": F.col(y).cast("double"),
                               "xmax": F.col(x).cast("double"),
                               "ymax": F.col(y).cast("double")})
    b = _st_bbox_udf(F.col(geom_col))
    df = df.withColumn("_bb", b)
    for c in BBOX_COLS:
        df = df.withColumn(c, F.col(f"_bb.{c}"))
    return df.drop("_bb")


def with_time(df: DataFrame, t_start: Column | str | None,
              t_end: Column | str | None = None) -> DataFrame:
    """Attach nullable epoch-second time columns (Instant ≡ start==end;
    open interval ≡ t_end NULL; undefined ≡ both NULL)."""
    def _to_epoch(c):
        if c is None:
            return F.lit(None).cast("long")
        c = F.col(c) if isinstance(c, str) else c
        return F.when(c.isNull(), F.lit(None).cast("long")) \
                .otherwise(c.cast("timestamp").cast("long"))
    return df.withColumns({
        "t_start": _to_epoch(t_start),
        "t_end": _to_epoch(t_start if t_end is None else t_end)})


def st_frame(df: DataFrame, *, x: str | None = None, y: str | None = None,
             wkt: str | None = None, t_start=None, t_end=None,
             keep_geom: bool = True) -> DataFrame:
    """Canonical ST-frame: geom WKB + bbox + time from raw columns.

    Point fast path (``x``,``y``): bbox natively, geom via the
    vectorized point-WKB UDF (skippable with ``keep_geom=False`` for
    pure-native point pipelines).
    """
    if wkt is not None:
        # asNondeterministic blocks projection collapse — otherwise
        # Catalyst inlines the struct UDF into every field extraction
        # and parses each WKT five times
        one_pass = _st_wkt_frame_udf.asNondeterministic()
        df = df.withColumn("_stf", one_pass(F.col(wkt)))
        df = df.withColumn("geom", F.col("_stf.geom"))
        for c in BBOX_COLS:
            df = df.withColumn(c, F.col(f"_stf.{c}"))
        df = df.drop("_stf")
    elif x is not None and y is not None:
        if keep_geom:
            df = df.withColumn("geom", st_point(x, y))
        df = with_bbox(df, x=x, y=y)
    else:
        raise ValueError("need wkt= or x=/y=")
    return with_time(df, t_start, t_end)
