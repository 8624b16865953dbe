"""Fluent API — the reference's implicit RDD surface, DataFrame-native.

STARK lifts `RDD[(STObject, V)]` into `PlainSpatialRDDFunctions`
(`org/apache/spark/SpatialRDD.scala:173-174`) so users write
``rdd.intersects(qry)`` / ``rdd.kNN(...)`` / ``rdd.join(...)``. Here
the same verbs live on :class:`STFrame`, a thin wrapper over a
DataFrame in canonical ST encoding (geom WKB + bbox + t columns).
Every method delegates to the operator modules and returns an
``STFrame`` (or DataFrame for terminal shapes), so chains stay lazy
Catalyst plans throughout.

    st = STFrame.from_xy(df, x="lon", y="lat", t_start="ts")
    st.intersects("POLYGON (...)", t_query=(a, b)) \
      .within_distance("POINT (3 4)", 5.0) \
      .knn("POINT (0 0)", 10).df.show()
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from stark_spark.partitioner.grid import GridSpec


class STFrame:
    def __init__(self, df: DataFrame, *, points: bool = False):
        self.df = df
        self.points = points

    # -- constructors ------------------------------------------------------
    @classmethod
    def from_xy(cls, df: DataFrame, *, x: str, y: str, t_start=None,
                t_end=None, keep_geom: bool = True) -> "STFrame":
        from stark_spark.functions.constructors import st_frame
        return cls(st_frame(df, x=x, y=y, t_start=t_start, t_end=t_end,
                            keep_geom=keep_geom), points=True)

    @classmethod
    def from_wkt(cls, df: DataFrame, *, wkt: str, t_start=None,
                 t_end=None) -> "STFrame":
        from stark_spark.functions.constructors import st_frame
        return cls(st_frame(df, wkt=wkt, t_start=t_start, t_end=t_end))

    # -- filters (PSF:92-109) ---------------------------------------------
    def _filter(self, query, predicate: str, t_query) -> "STFrame":
        from stark_spark.functions.predicates import st_predicate
        out = self.df.filter(st_predicate(
            query, predicate, points=self.points,
            t_query=t_query if t_query is not None else "any"))
        return STFrame(out, points=self.points)

    def intersects(self, query, t_query=None) -> "STFrame":
        return self._filter(query, "intersects", t_query)

    def contains(self, query, t_query=None) -> "STFrame":
        return self._filter(query, "contains", t_query)

    def containedby(self, query, t_query=None) -> "STFrame":
        return self._filter(query, "containedby", t_query)

    def covers(self, query, t_query=None) -> "STFrame":
        return self._filter(query, "covers", t_query)

    def coveredby(self, query, t_query=None) -> "STFrame":
        return self._filter(query, "coveredby", t_query)

    def within_distance(self, query, max_dist: float) -> "STFrame":
        from stark_spark.functions.predicates import within_distance
        return STFrame(self.df.filter(
            within_distance(query, max_dist, points=self.points)),
            points=self.points)

    # -- kNN (PSF:112-252) -------------------------------------------------
    def knn(self, query, k: int, *, tie_col: str | None = None) -> "STFrame":
        from stark_spark.operators.knn import knn
        return STFrame(knn(self.df, query, k, points=self.points,
                           tie_col=tie_col), points=self.points)

    # -- joins (PSF:262-348) -----------------------------------------------
    def join(self, other: "STFrame | DataFrame",
             predicate: str = "intersects", *,
             grid: GridSpec | None = None, broadcast: bool = False,
             on_time: bool | str = "ignore", **kw) -> "STFrame":
        from stark_spark.operators.join import st_join
        odf = other.df if isinstance(other, STFrame) else other
        opoints = other.points if isinstance(other, STFrame) else False
        out = st_join(self.df, odf, predicate, grid=grid,
                      broadcast=broadcast, on_time=on_time,
                      left_points=self.points, right_points=opoints, **kw)
        return STFrame(out, points=self.points and opoints)

    def knn_join(self, other: "STFrame | DataFrame", k: int, *,
                 grid: GridSpec, radius: float, left_key: str,
                 **kw) -> DataFrame:
        from stark_spark.operators.knn import knn_join
        odf = other.df if isinstance(other, STFrame) else other
        return knn_join(self.df, odf, k, grid=grid, radius=radius,
                        left_key=left_key, **kw)

    def semi_join(self, other: "STFrame | DataFrame",
                  predicate: str = "intersects", *, left_key: str,
                  anti: bool = False, **kw) -> "STFrame":
        """Spatial semi/anti join (net-new vs the reference) — left
        rows with (without) ≥1 match; payload/row-count of self
        preserved."""
        from stark_spark.operators.join import st_semi_join
        odf = other.df if isinstance(other, STFrame) else other
        opoints = other.points if isinstance(other, STFrame) else False
        out = st_semi_join(self.df, odf, predicate, left_key=left_key,
                           anti=anti, left_points=self.points,
                           right_points=opoints, **kw)
        return STFrame(out, points=self.points)

    # -- curation tier (net-new) -------------------------------------------
    def sample(self, key: str, fraction: float, *,
               salt: str = "") -> "STFrame":
        """Deterministic md5-bucket sampling (reproducible across
        re-runs / corpus growth; zero shuffle)."""
        from stark_spark.operators.sampling import deterministic_sample
        return STFrame(deterministic_sample(self.df, key, fraction,
                                            salt=salt), points=self.points)

    def split(self, key: str, test_fraction: float, *,
              salt: str = "split") -> "STFrame":
        """Leakage-free train/test tagging (adds a `split` column)."""
        from stark_spark.operators.sampling import train_test_split
        return STFrame(train_test_split(self.df, key, test_fraction,
                                        salt=salt), points=self.points)

    def sessionize(self, key: str, ts_col: str, gap: int,
                   **kw) -> "STFrame":
        """Gaps-and-islands session labeling per key."""
        from stark_spark.operators.temporal_join import sessionize
        return STFrame(sessionize(self.df, key, ts_col, gap, **kw),
                       points=self.points)

    # -- analytics (PSF:361-669) -------------------------------------------
    def skyline(self, x: str = "xmin", y: str = "ymin") -> DataFrame:
        from stark_spark.operators.skyline import skyline
        return skyline(self.df, x, y)

    def cluster(self, eps: float, min_pts: int, *, key: str,
                grid: GridSpec) -> DataFrame:
        """DBSCAN (reference `cluster`, PSF:361-423)."""
        from stark_spark.operators.dbscan import dbscan
        return dbscan(self.df, eps, min_pts, key=key, grid=grid)

    def rasterize(self, *, tile_px: int, pixel_width: float,
                  value: Column | None = None) -> DataFrame:
        from stark_spark.raster import rasterize
        return rasterize(self.df, tile_px=tile_px, pixel_width=pixel_width,
                         x="xmin", y="ymin", value=value)

    # -- placement / storage ----------------------------------------------
    def partition_by(self, strategy: str = "grid", **kw) -> "STFrame":
        from stark_spark.partitioner import partition_hint
        return STFrame(partition_hint(self.df, strategy, **kw),
                       points=self.points)

    def save_partitioned(self, path: str, grid: GridSpec, **kw) -> None:
        from stark_spark.sources import save_partitioned
        save_partitioned(self.df, path, grid, **kw)

    def visualize(self, width: int, height: int, path: str | None = None,
                  *, mode: str = "density", **kw) -> bytes:
        """``mode='density'`` — grayscale point-density PNG (rasterize
        path); ``mode='geoms'`` — full geometry renderer (points/lines/
        polygons, color/fill/background/JPG kwargs of `render_geoms`,
        requires the ``geom`` column and ``bounds=``)."""
        if mode == "geoms":
            from stark_spark.functions.visualize import render_geoms
            return render_geoms(self.df, width, height, path=path, **kw)
        from stark_spark.functions.visualize import render_points
        return render_points(self.df, width, height,
                             x="xmin", y="ymin", path=path, **kw)

    # -- passthrough -------------------------------------------------------
    def __getattr__(self, name):
        """Unknown attributes delegate to the wrapped DataFrame;
        DataFrame-returning calls come back plain (re-wrap explicitly
        if the ST columns survived the transformation)."""
        return getattr(self.df, name)


class DocFrame:
    """Fluent surface for the text-curation tier — the documents
    (doc_id, text, source)-shaped sibling of :class:`STFrame`.
    Pipeline verbs (quality_filter, dedup_exact, decontaminate)
    return a new DocFrame so stages chain; terminal reports (budget,
    profile, quality_report) return DataFrames.

        dof = DocFrame(df)               # defaults match `documents`
        curated = (dof.quality_filter()
                      .dedup_exact()
                      .decontaminate(eval_df)
                      .budget({"web": 10**9}, weight_col="n_chars",
                              source_col="source"))
    """

    def __init__(self, df: DataFrame, *, key: str = "doc_id",
                 text_col: str = "text"):
        self.df = df
        self._k, self._tc = key, text_col

    def _wrap(self, df: DataFrame) -> "DocFrame":
        return DocFrame(df, key=self._k, text_col=self._tc)

    def quality_filter(self, *, min_tokens: int = 20,
                       max_tokens: int = 100_000) -> "DocFrame":
        from stark_spark.operators.curation import filter_quality
        return self._wrap(filter_quality(self.df, text_col=self._tc,
                                         min_tokens=min_tokens,
                                         max_tokens=max_tokens))

    def dedup_exact(self) -> "DocFrame":
        from stark_spark.operators.curation import (
            dedup_exact_keep_first)
        return self._wrap(dedup_exact_keep_first(self.df, self._k,
                                                 text_col=self._tc))

    def dedup_passages(self, *, chunk_tokens: int = 10,
                       min_docs: int = 2,
                       broadcast_dups: bool = True) -> DataFrame:
        from stark_spark.operators.dedup import passage_dedup
        return passage_dedup(self.df, self._k,
                             chunk_tokens=chunk_tokens,
                             min_docs=min_docs, text_col=self._tc,
                             broadcast_dups=broadcast_dups)

    def dedup_near(self, score_col: str, *,
                   max_hamming: int = 3,
                   fp_col: str | None = None) -> "DocFrame":
        """SimHash near-dup keep-best; pass ``fp_col`` to band a
        precomputed 64-bit fingerprint column instead (phash, audio
        fp, offline simhash — the `curate(near_dup="hamming")`
        path)."""
        from stark_spark.operators.curation import dedup_near_keep_best
        return self._wrap(dedup_near_keep_best(
            self.df, self._k, score_col, text_col=self._tc,
            max_hamming=max_hamming, fp_col=fp_col))

    def decontaminate(self, eval_df: DataFrame, *,
                      eval_text_col: str | None = None) -> "DocFrame":
        from stark_spark.operators.curation import decontaminate_exact
        return self._wrap(decontaminate_exact(
            self.df, eval_df, text_col=self._tc,
            eval_text_col=eval_text_col))

    def budget(self, budgets, *, weight_col: str,
               source_col: str | None = None,
               default_budget: int = 0,
               salt: str = "curate") -> DataFrame:
        from stark_spark.operators.sampling import token_budget_sample
        return token_budget_sample(self.df, self._k, weight_col,
                                   budgets, source_col=source_col,
                                   default_budget=default_budget,
                                   salt=salt)

    def quality_report(self) -> DataFrame:
        from stark_spark.operators.text import quality_filter_gopher
        return quality_filter_gopher(self.df, self._k,
                                     text_col=self._tc)

    def profile(self) -> DataFrame:
        from stark_spark.operators.text import text_profile
        return text_profile(self.df, text_col=self._tc)

    def __getattr__(self, name):
        return getattr(self.df, name)
