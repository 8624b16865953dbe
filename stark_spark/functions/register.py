"""SQL function registration — the `st_*` + raster surface.

Reference registers its functions into the session's function registry
(`/root/reference/sql/Functions.scala:16-48`,
`sql/raster/RasterFunction.scala:19-78`,
`sql/spatial/STConstructor.scala:48-64`), making
``SELECT … WHERE st_intersects(l.geo, r.geo)`` work. We register the
SAME vectorized pandas UDFs the join path uses (grouped-points numpy
kernels, `functions/predicates.py`) — no row-at-a-time parsing — plus
pure-SQL scalar functions where the expression stays native; no
Catalyst strategy is needed because our joins are explicit plan
rewrites (`stark_spark.operators.join`) — SURVEY.md §3.2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, LongType,
                               StructField, StructType)

from stark_spark.core import geometry as G
from stark_spark.functions.predicates import (pair_distance_udf,
                                              pair_predicate_udf)


def register_sql_functions(spark: SparkSession) -> None:
    """Registration of the SQL surface (§2.7 parity table), once per
    session: a session that already has the last function registered
    below returns at once."""
    if spark.catalog.functionExists("bm25_contrib"):
        return
    from stark_spark.functions.constructors import (
        _st_point_udf, _st_point_z_udf, _st_zrange_udf,
        _st_geomfromwkt_udf, _st_wkt_udf, _st_bbox_udf)

    spark.udf.register("st_point", _st_point_udf)
    # Spark's UDF registry has no arity overloading, so the reference's
    # 3-arg st_point (STConstructor.scala:68-96) gets its own name
    spark.udf.register("st_point_z", _st_point_z_udf)
    spark.udf.register("st_zrange", _st_zrange_udf)
    spark.udf.register("st_geomfromwkt", _st_geomfromwkt_udf)
    spark.udf.register("st_wkt", _st_wkt_udf)
    spark.udf.register("st_bbox", _st_bbox_udf)

    # pair predicates — the SAME vectorized kernels as the join refine
    # (`STPredicate.scala:43-71`): grouped-points numpy paths, scalar
    # fallback only for geometry⋈geometry batches
    spark.udf.register("st_intersects", pair_predicate_udf("intersects"))
    spark.udf.register("st_contains", pair_predicate_udf("contains"))
    spark.udf.register("st_containedby", pair_predicate_udf("containedby"))
    spark.udf.register("st_covers", pair_predicate_udf("covers"))
    spark.udf.register("st_coveredby", pair_predicate_udf("coveredby"))
    spark.udf.register("st_distance", pair_distance_udf())

    # geodesic distance as a SQL-BODY function (Spark SQL scalar UDF:
    # CREATE FUNCTION ... RETURN <expr>) — inlined into the plan, so
    # it stays whole-stage codegen, unlike a Python UDF. Mirrors
    # functions.distance.haversine_distance exactly (clamped
    # intermediate included).
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION st_haversine(
            lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE)
        RETURNS DOUBLE
        RETURN 12742.0176D * asin(sqrt(least(
            sin((lat2 - lat1) * 0.017453292519943295D / 2)
              * sin((lat2 - lat1) * 0.017453292519943295D / 2)
            + cos(lat1 * 0.017453292519943295D)
              * cos(lat2 * 0.017453292519943295D)
              * sin((lon2 - lon1) * 0.017453292519943295D / 2)
              * sin((lon2 - lon1) * 0.017453292519943295D / 2),
            1.0D)))""")

    # quantile machinery at the SQL surface (r11 verdict ask #6): the
    # HDR bucket id as a SQL-BODY function — the IDENTICAL integer
    # expression `hdr_histogram` / `exact_quantiles` build internally
    # (operators/histogram.hdr_bucket_sql), inlined into the plan so
    # it stays whole-stage codegen. SQL users compose the
    # deterministic sketch directly:
    #   SELECT hdr_bucket(v) AS b, count(*) FROM t GROUP BY b
    # (bounded 2^-5 relative error; for EXACT global order statistics
    # use the two-phase operator histogram.exact_quantiles — a scalar
    # function cannot run that multi-stage plan by design).
    from stark_spark.operators.histogram import hdr_bucket_sql
    # negative input raises in-plan, matching hdr_histogram's
    # operator-level contract (r12 ADVICE: no silent garbage buckets
    # at the SQL surface either)
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION hdr_bucket(v BIGINT)
        RETURNS BIGINT
        RETURN CASE WHEN v < 0 THEN
            raise_error('hdr_bucket: negative value')
        ELSE {hdr_bucket_sql('v')} END""")

    # st_sto(wkt, epoch_sec[, epoch_end]) → ST struct (reference
    # `STConstructor.scala:98-148` MakeSTObject: WKT + date → STObject)
    _STO = StructType([StructField("geom", BinaryType()),
                       StructField("t_start", LongType()),
                       StructField("t_end", LongType())])

    def _sto(wkt: pd.Series, ts: pd.Series) -> pd.DataFrame:
        geoms, starts = [], []
        for w, t in zip(wkt, ts):
            geoms.append(None if w is None else G.to_wkb(G.from_wkt(w)))
            starts.append(None if t is None or pd.isna(t) else int(t))
        return pd.DataFrame({"geom": geoms, "t_start": starts,
                             "t_end": starts})

    spark.udf.register("st_sto", pandas_udf(_sto, _STO))

    # reference MakeSTObject arities (STConstructor.scala:98-148):
    # st_sto(wkt, DATE) — UTC-midnight epoch seconds — and
    # st_sto(wkt, y, m, d). Spark's registry has no overloading, so
    # they get suffixed names; pure-SQL wrappers over the UDF.
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION st_sto_date(w STRING, d DATE)
RETURNS STRUCT<geom: BINARY, t_start: BIGINT, t_end: BIGINT>
RETURN st_sto(w, unix_date(d) * CAST(86400 AS BIGINT))""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION st_sto_ymd(
    w STRING, y INT, m INT, d INT)
RETURNS STRUCT<geom: BINARY, t_start: BIGINT, t_end: BIGINT>
RETURN st_sto(w, unix_date(make_date(y, m, d)) * CAST(86400 AS BIGINT))""")

    # st_geomfromtile(ulx, uly, width, height, pixel_width) → WKB
    # polygon of the tile's bbox (reference `STConstructor.scala:48-64`)
    def _geomfromtile(ulx: pd.Series, uly: pd.Series, w: pd.Series,
                      h: pd.Series, pw: pd.Series) -> pd.Series:
        out = []
        for x0, y1, wi, hi, p in zip(ulx, uly, w, h, pw):
            if x0 is None or pd.isna(x0):
                out.append(None)
                continue
            out.append(G.to_wkb(G.box(float(x0), float(y1) - float(hi) * float(p),
                                      float(x0) + float(wi) * float(p), float(y1))))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_geomfromtile",
                       pandas_udf(_geomfromtile, BinaryType()))

    # measures — the reference's STObject wraps JTS, so
    # `.getGeo.getArea/getLength/getCentroid/getEnvelope[X/Y]` are its
    # de-facto user surface; Arrow-batched over WKB, numpy kernels
    # (`core/geometry.py` measures section)
    def _all_points(wkb: pd.Series) -> bool:
        # 21-byte LE WKB ⇒ 2-D point; the dominant batch shape
        return len(wkb) > 0 and all(
            b is not None and len(b) == 21 and b[0] == 1 for b in wkb)

    def _measure(fn, out_wkb: bool = False, point_fast=None,
                 batch_fast=None):
        """Arrow-batch measure. ``point_fast(xs, ys)`` short-circuits
        all-point batches with one vectorized numpy pass (points are
        identity/zero cases for every measure); ``batch_fast(wkbs)``
        handles MIXED geometry batches with the ragged-ring kernels
        (core/geometry.py `batch_area`/`batch_length`/
        `batch_centroid`) — the per-element from_wkb loop remains only
        as the fallback for shapes the batch parser declines
        (big-endian, Z)."""
        def _m(wkb: pd.Series) -> pd.Series:
            if point_fast is not None and _all_points(wkb):
                xs, ys = G.decode_points(wkb)
                return point_fast(wkb, xs, ys)
            if batch_fast is not None:
                got = batch_fast(wkb)
                if got is not None:
                    # nulls: NaN for measures (matching the loop
                    # path's None→NaN coercion), None for WKB output
                    return pd.Series(got,
                                     dtype=object if out_wkb
                                     else "float64")
            out = []
            for b in wkb:
                if b is None:
                    out.append(None)
                    continue
                v = fn(G.from_wkb(bytes(b)))
                out.append(G.to_wkb(v) if out_wkb else float(v))
            return pd.Series(out, dtype=object if out_wkb else "float64")
        return _m

    def _zeros(wkb, xs, ys):
        return pd.Series(np.zeros(len(xs)), dtype="float64")

    def _identity(wkb, xs, ys):
        return pd.Series(list(wkb), dtype=object)

    spark.udf.register(
        "st_area", pandas_udf(_measure(G.area, point_fast=_zeros,
                                       batch_fast=G.batch_area),
                              DoubleType()))
    spark.udf.register(
        "st_length", pandas_udf(_measure(G.length, point_fast=_zeros,
                                         batch_fast=G.batch_length),
                                DoubleType()))
    spark.udf.register(
        "st_centroid", pandas_udf(_measure(G.centroid, out_wkb=True,
                                           point_fast=_identity,
                                           batch_fast=G.batch_centroid),
                                  BinaryType()))
    spark.udf.register(
        "st_envelope", pandas_udf(_measure(G.envelope, out_wkb=True,
                                           point_fast=_identity,
                                           batch_fast=G.batch_envelope),
                                  BinaryType()))

    spark.udf.register(
        "st_convexhull", pandas_udf(_measure(G.convex_hull,
                                             out_wkb=True,
                                             point_fast=_identity),
                                    BinaryType()))

    def _simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
        if _all_points(wkb):          # simplify(point) ≡ point
            return pd.Series(list(wkb), dtype=object)
        out = []
        for b, t in zip(wkb, tol):
            if b is None:
                out.append(None)
                continue
            out.append(G.to_wkb(G.simplify(G.from_wkb(bytes(b)),
                                           float(t))))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_simplify", pandas_udf(_simplify, BinaryType()))

    def _boundary(wkb: pd.Series) -> pd.Series:
        # OGC getBoundary; empty boundary (points, closed lines) → NULL
        out = []
        for b in wkb:
            if b is None:
                out.append(None)
                continue
            g = G.boundary(G.from_wkb(bytes(b)))
            out.append(None if g is None else G.to_wkb(g))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_boundary", pandas_udf(_boundary, BinaryType()))

    def _npoints(wkb: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else G.num_points(G.from_wkb(bytes(b)))
             for b in wkb], dtype="object")

    spark.udf.register("st_npoints", pandas_udf(_npoints, LongType()))

    def _nrings(wkb: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else G.num_rings(G.from_wkb(bytes(b)))
             for b in wkb], dtype="object")

    spark.udf.register("st_nrings", pandas_udf(_nrings, LongType()))

    def _buffer(wkb: pd.Series, dist: pd.Series) -> pd.Series:
        fast = G.batch_buffer_points(wkb, dist)
        if fast is not None:
            return pd.Series(fast, dtype=object)
        out = []
        for b, dv in zip(wkb, dist):
            # null geometry OR null distance → null (the file's
            # convention: accessors must not throw mid-scan)
            if b is None or dv is None or (isinstance(dv, float)
                                           and dv != dv):
                out.append(None)
                continue
            buf = G.buffer(G.from_wkb(bytes(b)), float(dv))
            # negative dist may erode the geometry away → NULL
            out.append(None if buf is None else G.to_wkb(buf))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_buffer", pandas_udf(_buffer, BinaryType()))

    def _union(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # constructive polygon union, holes included (r8); since
        # r9 the noded overlay computes degenerate contact (shared
        # edges, vertex touch) — see core.geometry.union
        out = []
        for ba, bb in zip(wa, wb):
            if ba is None or bb is None:
                out.append(None)
                continue
            out.append(G.to_wkb(G.union(G.from_wkb(bytes(ba)),
                                        G.from_wkb(bytes(bb)))))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_union", pandas_udf(_union, BinaryType()))

    def _intersection(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # NULL input OR empty intersection → NULL (the engine has no
        # empty-geometry value; SQL NULL is the honest spelling)
        out = []
        for ba, bb in zip(wa, wb):
            if ba is None or bb is None:
                out.append(None)
                continue
            g = G.intersection(G.from_wkb(bytes(ba)),
                               G.from_wkb(bytes(bb)))
            out.append(None if g is None else G.to_wkb(g))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_intersection",
                       pandas_udf(_intersection, BinaryType()))

    def _difference(wa: pd.Series, wb: pd.Series) -> pd.Series:
        # NULL input OR A covered by B → NULL; B strictly inside A
        # returns a real ANNULUS (holed polygon) since r8
        out = []
        for ba, bb in zip(wa, wb):
            if ba is None or bb is None:
                out.append(None)
                continue
            g = G.difference(G.from_wkb(bytes(ba)),
                             G.from_wkb(bytes(bb)))
            out.append(None if g is None else G.to_wkb(g))
        return pd.Series(out, dtype=object)

    spark.udf.register("st_difference",
                       pandas_udf(_difference, BinaryType()))

    def _coord(i):
        # NaN for non-points (accessors must not throw mid-scan)
        return lambda g: (float(g.coords[i]) if g.kind == "POINT"
                          else float("nan"))

    spark.udf.register(
        "st_x", pandas_udf(
            _measure(_coord(0),
                     point_fast=lambda w, xs, ys: pd.Series(
                         xs, dtype="float64")), DoubleType()))
    spark.udf.register(
        "st_y", pandas_udf(
            _measure(_coord(1),
                     point_fast=lambda w, xs, ys: pd.Series(
                         ys, dtype="float64")), DoubleType()))

    # raster accessors as pure-SQL scalar functions (stay native —
    # reference `STFunction.scala:40-86`, tile getters
    # `RasterGetter.scala:19-72` are plain column reads on our flat
    # tile columns)
    for name, body in (
        ("r_min", "array_min(a)"),
        ("r_max", "array_max(a)"),
        ("r_median",
         "element_at(array_sort(a), CAST((size(a) + 1) / 2 AS INT))"),
    ):
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                  f"(a ARRAY<BIGINT>) RETURNS BIGINT RETURN {body}")

    # histogram(data, lo, hi, buckets) → per-tile equi-width histogram
    # as ARRAY<STRUCT<value, lower, upper>> — the reference's Bucket
    # shape (`RasterFunction.scala:19-35` histogram(tile[,n]) returning
    # Buckets with bounds). Pure SQL — nested higher-order functions,
    # codegen end-to-end; edge pixels clamp like `Tile.scala:216-253`.
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION histogram(
    a ARRAY<BIGINT>, lo DOUBLE, hi DOUBLE, buckets INT)
RETURNS ARRAY<STRUCT<value: BIGINT, lower: DOUBLE, upper: DOUBLE>> RETURN
  transform(sequence(0, buckets - 1), b -> struct(
    CAST(size(filter(a,
      p -> least(buckets - 1, greatest(0,
             CAST(floor((p - lo) / ((hi - lo) / buckets)) AS INT))) = b))
      AS BIGINT) AS value,
    lo + b * ((hi - lo) / buckets) AS lower,
    lo + (b + 1) * ((hi - lo) / buckets) AS upper))""")

    # bucket field getters (`RasterFunction.scala:80-109`)
    for name, field, typ in (("h_value", "value", "BIGINT"),
                             ("h_lower", "lower", "DOUBLE"),
                             ("h_upper", "upper", "DOUBLE")):
        spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION {name}(
    b STRUCT<value: BIGINT, lower: DOUBLE, upper: DOUBLE>)
RETURNS {typ} RETURN b.{field}""")

    # rasterHistogram — the reference's only UDAF
    # (`RasterFunction.scala:37-78` CalcRasterHistogram): a grouped-agg
    # pandas UDF (Arrow-batched) combining all tiles' pixel arrays into
    # one bucket-count array. SQL: SELECT rasterHistogram(data,0,16,8).
    @pandas_udf(ArrayType(LongType()))
    def _raster_hist(data: pd.Series, lo: pd.Series, hi: pd.Series,
                     buckets: pd.Series) -> list:
        if len(data) == 0:
            return []
        lo_v, hi_v = float(lo.iloc[0]), float(hi.iloc[0])
        nb = int(buckets.iloc[0])
        w = (hi_v - lo_v) / nb
        pix = np.concatenate([np.asarray(a, dtype=np.float64)
                              for a in data])
        b = np.clip(np.floor((pix - lo_v) / w).astype(np.int64), 0, nb - 1)
        return [int(v) for v in np.bincount(b, minlength=nb)]

    spark.udf.register("rasterHistogram", _raster_hist)

    # st_union_agg — SQL-surface dissolve: a grouped-agg pandas UDF
    # unioning ALL the group's polygons in one boundary-trace pass
    # (same kernel as operators/overlay.dissolve; NULLs dropped,
    # all-NULL group → NULL). SELECT zone, st_union_agg(geom) ...
    # GROUP BY zone. Holes are first-class (r8).
    @pandas_udf(BinaryType())
    def _union_agg(wkbs: pd.Series) -> bytes:
        polys = []
        for wkb in wkbs:
            if wkb is None:
                continue
            polys.extend(G._overlay_polys_of(G.from_wkb(bytes(wkb)),
                                             "st_union_agg"))
        if not polys:
            return None
        # _union_tree: ≤64 polygons = the direct single-pass overlay
        # (bit-stable); larger groups take the KD merge tree — same
        # 100 TB straggler guard as operators/overlay.dissolve (r9)
        return G.to_wkb(G._geom_from_polys(G._union_tree(polys)))

    spark.udf.register("st_union_agg", _union_agg)

    _register_text_functions(spark)


def _register_text_functions(spark: SparkSession) -> None:
    """Text-analysis tier on the SQL surface (net-new vs the reference,
    mirroring `operators/text.py` formula-for-formula): pure-SQL scalar
    functions, so ``SELECT quality_score(text) FROM docs`` plans the
    same native expressions as the Python API — zero UDFs. Bodies are
    composed inline (temp functions don't reference each other)."""
    toks = "split(t, ' ')"
    n = f"size({toks})"
    stop = (f"size(filter({toks}, w -> w IN "
            f"('the','a','of','and','to','in','is'))) / {n}")
    punct = (f"(length(t) - length(regexp_replace(t, '[^\\\\w\\\\s]', '')))"
             f" / length(t)")
    # zip_with over two slices: each slice materializes the split
    # once, so bigram generation is O(tokens) per row (the transform/
    # element_at form re-runs the split per element — O(tokens^2))
    bg = (f"zip_with(slice({toks}, 1, {n} - 1), "
          f"slice({toks}, 2, {n} - 1), "
          f"(a, b) -> concat_ws(' ', a, b))")
    ttr = f"size(array_distinct({toks})) / {n}"
    toptok = (f"array_max(transform(array_distinct({toks}), "
              f"x -> size(filter({toks}, y -> y = x)))) / {n}")
    topbg = (f"CASE WHEN {n} >= 2 THEN "
             f"array_max(transform(array_distinct({bg}), "
             f"x -> size(filter({bg}, y -> y = x)))) / ({n} - 1) "
             f"ELSE 0.0D END")
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}"
    phone_re = "\\\\d{3}-\\\\d{3}-\\\\d{4}"
    for name, ret, body in (
        ("token_count", "INT", n),
        ("avg_token_len", "DOUBLE",
         f"length(replace(t, ' ', '')) / {n}"),
        ("stopword_ratio", "DOUBLE", stop),
        ("punct_ratio", "DOUBLE", punct),
        ("quality_score", "DOUBLE",
         f"(least({n} / 100.0D, 1.0D) + (1.0D - abs(({stop}) - 0.4D)) + "
         f"(1.0D - least(({punct}) * 5.0D, 1.0D))) / 3.0D"),
        ("doc_fingerprint", "STRING",
         "array_min(transform(sequence(1, greatest(length(t) - 7, 1)), "
         "i -> md5(substring(t, i, 8))))"),
        ("distinct_token_ratio", "DOUBLE", ttr),
        ("top_token_ratio", "DOUBLE", toptok),
        ("top_bigram_ratio", "DOUBLE", topbg),
        ("pii_scrub", "STRING",
         f"regexp_replace(regexp_replace(t, '{email_re}', '<EMAIL>'), "
         f"'{phone_re}', '<PHONE>')"),
        ("pii_email_count", "INT", f"regexp_count(t, '{email_re}')"),
        ("pii_phone_count", "INT", f"regexp_count(t, '{phone_re}')"),
    ):
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                  f"(t STRING) RETURNS {ret} RETURN {body}")
    # sampling tier: the md5 bucket behind operators/sampling.py, so
    # `WHERE sample_bucket(key, '') < 0.3 * 268435456` reproduces
    # deterministic_sample membership from plain SQL
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sample_bucket"
        "(k STRING, salt STRING) RETURNS BIGINT RETURN "
        "CAST(conv(substring(md5(concat(salt, '|', k)), 1, 7), 16, 10)"
        " AS BIGINT)")
    # --- dedup/retrieval signature primitives (r9 verdict ask #8):
    # the minhash/simhash/bm25 tiers callable from plain spark.sql,
    # formula-identical to the operators (equality-tested in
    # tests/test_sql_surface.py). These are the SPEC twins — per-doc
    # HOF expressions; corpus-scale runs use the operators'
    # explode/groupBy (minhash) and Arrow (simhash) plans.
    sh = "transform(sequence(1, greatest(length(t) - ({k} - 1), 1)), " \
         "i -> substring(t, i, {k}))"
    # one MinHash register: min over char-k-gram shingles of
    # md5(seed|shingle) — dedup.minhash_signature_long's cell value
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION minhash"
        "(t STRING, seed INT, k INT) RETURNS STRING RETURN "
        "array_min(transform(" + sh.format(k="k") + ", "
        "s -> md5(concat(CAST(seed AS STRING), '|', s))))")
    # 16-bit SimHash: per-bit majority vote over md5(shingle) bits,
    # MSB-first nibble expansion — dedup.simhash16's exact fold
    nsh = "greatest(length(t) - (k - 1), 1)"
    bits = ("flatten(transform(sequence(1, 4), p -> "
            "transform(sequence(3, 0, -1), j -> "
            "CAST(shiftright(CAST(conv(substring(h, p, 1), 16, 10) "
            "AS INT), j) & 1 AS INT))))")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION simhash16"
        "(t STRING, k INT) RETURNS BIGINT RETURN "
        "aggregate(zip_with("
        "aggregate(transform(" + sh.format(k="k") + ", s -> md5(s)), "
        "array_repeat(0, 16), "
        "(acc, h) -> zip_with(acc, " + bits + ", (a, b) -> a + b)), "
        "sequence(15, 0, -1), "
        f"(c, j) -> IF(c * 2 >= {nsh}, "
        "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)")
    # one BM25 term contribution: floor((idf_q · saturation) · 1e3)
    # BIGINT — text.bm25_topk's contrib() with identical operand order.
    # Registered last: register_sql_functions skips a session that has it.
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bm25_contrib"
        "(tf BIGINT, dl BIGINT, idf_q BIGINT, avgdl DOUBLE, "
        "k1 DOUBLE, b DOUBLE) RETURNS BIGINT RETURN "
        "IF(tf > 0, CAST(floor(CAST(idf_q AS DOUBLE) * "
        "(CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + k1 * "
        "((1.0D - b) + b * CAST(dl AS DOUBLE) / avgdl))) "
        "* 1000.0D) AS BIGINT), CAST(0 AS BIGINT))")
