"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline tier); ``oracle_sql()``
gives the DuckDB-equivalent SQL for each. Both sides compute over the
same parquet tables; spatial coordinates are DERIVED deterministically
from key columns (see stark_spark/datasets.py) so every spatial
operator is value-hash-checkable:

* point for key k:  x = (k*7919 % 1000)/10.0, y = (k*104729 % 1000)/10.0
* events:           x = value, y = (user_id*7919 % 1000)/10.0,
                    t = epoch-seconds(ts)  (Instant)

Determinism rules shared with the SQL: explicit products instead of
pow(); money sums via round(expr*100)::bigint (exact integer sums —
double summation is order-dependent); ties in every top-k broken by a
key column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stark_spark import datasets as D
from stark_spark.functions.predicates import st_predicate
from stark_spark.operators import text as T
from stark_spark.operators.dbscan import dbscan
from stark_spark.operators.dedup import (exact_dups, lsh_candidate_pairs,
                                         minhash_signature_long,
                                         ngram_jaccard_pairs,
                                         simhash_near_pairs)
from stark_spark.operators.join import st_join, within_distance_join
from stark_spark.operators.sampling import BUCKETS as SAMPLE_BUCKETS
from stark_spark.operators.knn import knn, knn_join
from stark_spark.operators.similarity import (brute_force_topk,
                                              cosine_dup_pairs, ivf_topk)
from stark_spark.operators.skyline import skyline
from stark_spark.partitioner.grid import GridSpec
from stark_spark.materialize import materialize
from stark_spark.session import bind, clone_session

# ---------------------------------------------------------------------------
# shared constants (mirrored verbatim in the oracle SQL)
# ---------------------------------------------------------------------------

PX, PY = 7919, 104729
GRID = GridSpec.unit_grid(100.0, 32)       # the [0,100)² synthetic space

# per-process scratch root for queries that write stores: two
# concurrent harnesses (bench + correctness) must never overwrite or
# half-read each other's files (same class of race the raster
# roundtrip had before round 4)
import tempfile as _tempfile
_ORACLE_TMP = _tempfile.mkdtemp(prefix="stark_oracle_")

# fast scratch for gate SCAFFOLDING (stream replay inputs, streaming
# checkpoints): tmpfs when the host has one — these dirs are harness
# plumbing, not the operator under test, so their I/O should not be
# charged to the gate. Falls back to the default temp root.
import os as _os
_FAST_TMP = ("/dev/shm" if _os.path.isdir("/dev/shm")
             and _os.access("/dev/shm", _os.W_OK) else None)


_SCRATCH_DIRS: list = []


def _mkdtemp(prefix: str) -> str:
    d = _tempfile.mkdtemp(prefix=prefix, dir=_FAST_TMP)
    _SCRATCH_DIRS.append(d)
    return d


# stream-replay source dirs, materialized ONCE per (sf, tag, nparts)
# per process: a production stream's source already exists before the
# query runs — rewriting the identical bounded replay for every gate
# is per-gate scaffolding cost, shared here exactly like _ORACLE_TMP.
#
# TAG REGISTRY (keep in sync when adding tags — the cache key ignores
# the DataFrame argument, so every caller of a tag MUST pass the same
# frame; reuse asserts the schema as a cheap no-job tripwire):
#   "events"    — D.events(spark, sf), unfiltered
#   "st_events" — D.st_events(spark, sf), keep_geom=True, unfiltered
#   "docs"      — D.documents(spark, sf), unfiltered
_REPLAY_DIRS: dict = {}


def _replay_dir(df: DataFrame, sf: str, tag: str, nparts: int = 4) -> str:
    k = (sf, tag, nparts)
    schema = df.schema.simpleString()
    if k not in _REPLAY_DIRS:
        d = _mkdtemp(f"stark_replay_{tag}_") + "/data"
        df.repartition(nparts).write.parquet(d)
        _REPLAY_DIRS[k] = (d, schema)
    path, cached_schema = _REPLAY_DIRS[k]
    assert schema == cached_schema, (
        f"_replay_dir tag {tag!r} reused with a different frame "
        f"schema: {schema} != cached {cached_schema} — see the tag "
        f"registry above; pick a new tag for a different frame")
    return path


def _cleanup_scratch_dirs() -> None:
    # tmpfs is RAM — don't leave replay/checkpoint parquet behind
    # after the harness process exits (covers every _mkdtemp dir:
    # replay sources, stream-stream inputs, sessionize slices)
    import shutil
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


import atexit as _atexit
_atexit.register(_cleanup_scratch_dirs)

# SQL fragments for the synthetic coordinates
def _xy(key: str, salt: tuple[int, int] = (0, 0)) -> tuple[str, str]:
    sx, sy = salt
    off_x = f" + {sx}" if sx else ""
    off_y = f" + {sy}" if sy else ""
    return (f"(({key} * {PX}{off_x}) % 1000) / 10.0",
            f"(({key} * {PY}{off_y}) % 1000) / 10.0")

EV_X = "value"
EV_Y = f"((user_id * {PX}) % 1000) / 10.0"
EV_T = "CAST(floor(epoch(ts)) AS BIGINT)"   # == spark ts.cast('long')

# char-k-gram shingles as a DuckDB fragment (Spark: text.shingles)
def _sh(k: int, col: str = "text") -> str:
    return (f"unnest(list_transform(range(1, greatest(length({col}) - {k - 1}, 1) + 1), "
            f"i -> substr({col}, i, {k})))")


# MinHash-LSH banding pairs (n_seeds=4, rows_per_band=1, k=8) — shared
# by the dedup_lsh_pairs oracle and as the edge set under dedup_clusters.
_LSH_PAIRS_CTE = """
WITH sig AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || sh)) AS minhash
  FROM (SELECT doc_id, {sh} AS sh FROM documents) s,
       (SELECT unnest(range(0, 4)) AS seed) t
  GROUP BY doc_id, seed
), band AS (
  SELECT doc_id, CAST(seed AS INT) AS band,
    string_agg(seed::VARCHAR || ':' || minhash, ','
               ORDER BY seed::VARCHAR || ':' || minhash) AS bucket
  FROM sig GROUP BY doc_id, seed
), lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)"""


# ---------------------------------------------------------------------------
# entry — flagship smoke query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatio-temporal polygon filter over the events table.
    The convex query compiles to native half-plane conjunctions + the
    §1.2 temporal conjunct — the whole plan is one codegen stage, no
    UDF, no geometry column."""
    ev = D.st_events(spark, "/root/testdata/sf0.001", keep_geom=False)
    out = ev.filter(st_predicate(
        "POLYGON ((0 0, 200 0, 0 100, 0 0))", "intersects",
        points=True, t_query=(1704067200, 1711929600)))
    return out.select("event_id", "x", "y", "event_type")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_filter_rect_timed(spark, sf):
    ev = D.st_events(spark, sf, keep_geom=False)
    out = ev.filter(st_predicate(
        "POLYGON ((10 10, 60 10, 60 80, 10 80, 10 10))", "intersects",
        points=True, t_query=(1704067200, 1705276800)))
    return out.select("event_id", "x", "y")


def _q_filter_polygon_timed(spark, sf):
    # keep_geom=False: the convex query compiles to native half-planes,
    # so no geometry column is needed at all (Spark does not prune an
    # already-extracted ArrowEvalPython node, so not building it
    # matters: 2.5s → 0.6s at sf0.1)
    ev = D.st_events(spark, sf, keep_geom=False)
    out = ev.filter(st_predicate(
        "POLYGON ((0 0, 200 0, 0 100, 0 0))", "intersects",
        points=True, t_query=(1704067200, 1711929600)))
    return out.select("event_id", "x", "y")


def _q_filter_containedby_rect(spark, sf):
    ev = D.st_events(spark, sf, keep_geom=False)
    out = ev.filter(st_predicate(
        "POLYGON ((20 30, 70 30, 70 90, 20 90, 20 30))", "containedby",
        points=True, t_query="any"))
    return out.select("event_id", "x", "y")


def _q_filter_both_or_neither(spark, sf):
    # half the rows untimed → §1.2: a timed query matches ONLY rows with
    # defined, overlapping time; untimed rows are excluded
    from stark_spark.functions.constructors import st_frame
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    ev = st_frame(ev, x="x", y="y", keep_geom=False,
                  t_start=F.when(F.col("event_type") == "click", F.col("ts")))
    out = ev.filter(st_predicate(
        "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))", "intersects",
        points=True, t_query=(1704067200, 1705276800)))
    return out.select("event_id", "x", "y")


def _q_filter_intervals(spark, sf):
    """§1.3 interval algebra: rows carry [t_start, t_end] intervals,
    every 7th open-ended (t_end NULL = +inf); timed intersects query."""
    from stark_spark.functions.constructors import with_bbox
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    ev = with_bbox(ev, x="x", y="y")
    ts = F.col("ts").cast("long")
    ev = (ev.withColumn("t_start", ts)
            .withColumn("t_end", F.when(F.col("event_id") % 7 == 0,
                                        F.lit(None).cast("long"))
                                  .otherwise(ts + 86400 * (F.col("event_id") % 10))))
    out = ev.filter(st_predicate(
        "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))", "intersects",
        points=True, t_query=(1704844800, 1705708800)))  # Jan 10 – Jan 20
    return out.select("event_id", "t_start", "t_end")


def _q_filter_coveredby_poly(spark, sf):
    """covers/coveredby family oracle-gated (reference PSF:104-106):
    boundary-inclusive point-in-triangle via the vectorized PIP
    refine — same answer as `intersects` for points, different
    predicate code path."""
    ev = D.st_events(spark, sf, keep_geom=False)
    out = ev.filter(st_predicate(
        "POLYGON ((0 0, 200 0, 0 100, 0 0))", "coveredby",
        points=True, t_query="any"))
    return out.select("event_id", "x", "y")


def _q_filter_z_range(spark, sf):
    """3-D points (reference `STObject(x,y,z)`, STObject.scala:247-248
    + getMinZ/getMaxZ :99-100): synthetic z from user_id; rect filter ∧
    native z-range filter over the zmin/zmax columns."""
    from stark_spark.functions.constructors import st_point, with_z
    ev = D.st_events(spark, sf, keep_geom=False)
    ev = ev.withColumn("z", (F.col("user_id").cast("long") * 31 % 100) / 10.0)
    ev = with_z(ev, "z")
    ev = ev.withColumn("geom", st_point("x", "y", "z"))
    out = ev.filter(st_predicate(
        "POLYGON ((10 10, 60 10, 60 80, 10 80, 10 10))", "intersects",
        points=True, t_query="any")
        & (F.col("zmin") >= 2.0) & (F.col("zmax") <= 7.5))
    return out.select("event_id", "x", "y", "z")


def _q_join_grid_points(spark, sf):
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    out = st_join(cust, supp, "intersects", grid=GRID,
                  left_points=True, right_points=True)
    return out.select("c_custkey", "s_suppkey")


def _q_join_broadcast_points(spark, sf):
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    out = st_join(cust, supp, "intersects", broadcast=True,
                  left_points=True, right_points=True)
    return out.select("c_custkey", "s_suppkey")


def _q_join_poly_contains(spark, sf):
    # per-part rectangle polygons (WKT→geom UDF path) ∋ customer points
    from stark_spark.functions.constructors import st_frame
    part = D.load(spark, sf, "part")
    # anchors off the point lattice (+0.05) and with multipliers
    # independent of PX/PY — otherwise strict containment degenerates
    # to a mod-1000 coincidence that never fires (vacuous 0-row query)
    x0 = (F.col("p_partkey").cast("long") * 37 % 900) / 10.0 + F.lit(0.05)
    y0 = (F.col("p_partkey").cast("long") * 71 % 900) / 10.0 + F.lit(0.05)
    w = (F.lit(1) + F.col("p_partkey") % 2).cast("double")
    h = (F.lit(1) + F.col("p_partkey") % 3).cast("double")
    wkt = F.concat(
        F.lit("POLYGON (("),
        x0.cast("string"), F.lit(" "), y0.cast("string"), F.lit(", "),
        (x0 + w).cast("string"), F.lit(" "), y0.cast("string"), F.lit(", "),
        (x0 + w).cast("string"), F.lit(" "), (y0 + h).cast("string"), F.lit(", "),
        x0.cast("string"), F.lit(" "), (y0 + h).cast("string"), F.lit(", "),
        x0.cast("string"), F.lit(" "), y0.cast("string"), F.lit("))"))
    polys = st_frame(part.withColumn("_wkt", wkt), wkt="_wkt").drop("_wkt")
    # keep_geom=False: the rect-contains refine is native, so the point
    # side needs no WKB column (an unused geom UDF is never pruned)
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    # left_rect: axis-aligned regions → the whole predicate stays in
    # codegen (no Arrow refine pass over the candidates)
    out = st_join(polys, cust, "contains", grid=GRID, right_points=True,
                  left_rect=True)
    return out.select("p_partkey", "c_custkey")


def _q_join_expand_temporal(spark, sf):
    """ST join with BOTH conjuncts: envelopes within 5 units AND time
    overlap (left = day-long intervals, right = instants) — the
    reference's spatio-temporal predicate join (`SpatialJoinRDD` with
    an ST predicate, §1.2 conjunction)."""
    from stark_spark.functions.constructors import with_bbox
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    ev = with_bbox(ev, x="x", y="y")
    ts = F.col("ts").cast("long")
    a = (ev.where(F.col("event_id") % 5 == 0)
           .withColumn("t_start", ts)
           .withColumn("t_end", ts + 86400)
           .select("event_id", "xmin", "ymin", "xmax", "ymax",
                   "t_start", "t_end"))
    b = (ev.where(F.col("event_id") % 7 == 0)
           .withColumn("t_start", ts)
           .withColumn("t_end", ts)
           .select(F.col("event_id").alias("event_id_b"),
                   "xmin", "ymin", "xmax", "ymax", "t_start", "t_end"))
    out = st_join(a, b, "intersects", grid=GRID, expand=5.0,
                  on_time=True, left_points=True, right_points=True)
    return out.select("event_id", "event_id_b")


def _q_interval_join(spark, sf):
    """Binned interval join: day-long intervals (every 5th event) ⋈
    instants (every 7th event) by containment — the 1-D analog of the
    grid join (explode to time bins, equi-join, native refine)."""
    from stark_spark.operators.temporal_join import interval_join
    ev = D.load(spark, sf, "events")
    ts = F.col("ts").cast("long")
    a = (ev.where(F.col("event_id") % 5 == 0)
           .select("event_id", ts.alias("t_start"),
                   (ts + 86400).alias("t_end")))
    b = (ev.where(F.col("event_id") % 7 == 0)
           .select(F.col("event_id").alias("event_id_b"),
                   ts.alias("t_start")))
    out = interval_join(a, b, bin_width=3600, open_ends=False)
    return out.select("event_id", "event_id_b")


def _q_interval_join_open(spark, sf):
    """interval_join with OPEN intervals (reference `Interval.scala:
    10-16`: end = None ⇒ +inf): every 7th left interval is open-ended
    and must match all later instants; capped in-plan at the max start
    bin, refined on the true NULL semantics."""
    from stark_spark.operators.temporal_join import interval_join
    ev = D.load(spark, sf, "events")
    ts = F.col("ts").cast("long")
    a = (ev.where(F.col("event_id") % 50 == 0)
           .select("event_id", ts.alias("t_start"),
                   F.when(F.col("event_id") % 7 == 0,
                          F.lit(None).cast("long"))
                    .otherwise(ts + 86400).alias("t_end")))
    b = (ev.where(F.col("event_id") % 7 == 0)
           .select(F.col("event_id").alias("event_id_b"),
                   ts.alias("t_start")))
    out = interval_join(a, b, bin_width=3600)
    return out.select("event_id", "event_id_b")


def _q_as_of_join(spark, sf):
    """As-of join: for each 'click' event, the user's latest prior
    (or simultaneous) 'purchase'-typed event."""
    from stark_spark.operators.temporal_join import as_of_join
    ev = D.load(spark, sf, "events")
    # microsecond precision: second-truncated ties would make the
    # "latest" pick ambiguous between engines
    ts = F.unix_micros(F.col("ts"))
    clicks = (ev.where(F.col("event_type") == "click")
                .select("event_id", "user_id", ts.alias("t")))
    buys = (ev.where(F.col("event_type") == "purchase")
              .select("user_id", ts.alias("t"),
                      F.col("event_id").alias("buy_id"),
                      F.col("value").alias("buy_value")))
    out = as_of_join(clicks, buys, on="user_id",
                     right_cols=("buy_id", "buy_value"))
    return out.select("event_id", F.col("buy_id_r").alias("buy_id"),
                      F.col("buy_value_r").alias("buy_value"))


def _q_within_distance_join(spark, sf):
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    out = within_distance_join(cust, supp, 5.0, grid=GRID, points=True)
    dx = F.col("xmin") - F.col("xmin_r")
    dy = F.col("ymin") - F.col("ymin_r")
    return out.select("c_custkey", "s_suppkey",
                      F.sqrt(dx * dx + dy * dy).alias("dist"))


def _q_within_distance_filter(spark, sf):
    from stark_spark.functions.predicates import within_distance
    ev = D.st_events(spark, sf, keep_geom=False)
    out = ev.filter(within_distance("POINT (50 50)", 15.0, points=True))
    return out.select("event_id", "x", "y")


def _q_knn_events(spark, sf):
    ev = D.st_events(spark, sf, keep_geom=False)
    out = knn(ev, "POINT (50 50)", 50, points=True, tie_col="event_id")
    return out.select("event_id", "dist")


def _q_knn_manhattan(spark, sf):
    """kNN under a plugged-in distance Column (the reference's
    ``distFunc`` parameter, PSF kNN family §2.5) — Manhattan/L1 here,
    proving the pluggability seam end-to-end against the oracle, not
    just in pytest."""
    ev = D.st_events(spark, sf, keep_geom=False)
    d = F.abs(F.col("x") - F.lit(50.0)) + F.abs(F.col("y") - F.lit(50.0))
    out = knn(ev, "POINT (50 50)", 40, points=True, tie_col="event_id",
              distance=d)
    return out.select("event_id", "dist")


def _q_knn_haversine(spark, sf):
    """kNN under the GEODESIC distance (haversine `distFunc`): events
    mapped to lat/lon, ranked by great-circle km to a query point.
    The ranking key is the distance quantized to integer micro-km, so
    both engines order identically despite libm trig (a 1-ulp sin/cos
    difference cannot flip an integer rank except within 1e-9 of a
    grid boundary)."""
    from stark_spark.functions.distance import haversine_distance
    from stark_spark.operators.knn import knn
    ev = D.st_events(spark, sf, keep_geom=False)
    lat = F.col("y") - F.lit(50.0)
    lon = F.col("x") * F.lit(3.6) - F.lit(180.0)
    d = haversine_distance(lat, lon, F.lit(10.0), F.lit(20.0))
    dq = F.round(d * F.lit(1e6)).cast("long")
    out = knn(ev, "POINT (0 0)", 15, points=True, tie_col="event_id",
              distance=dq)
    return out.select("event_id", F.col("dist").alias("d_q"))


def _q_trajectory_stats(spark, sf):
    """Per-entity trajectory summaries (point count, time span, total
    path length) over the (ts, event_id)-ordered hops — each hop
    quantized to integer micro-units before the per-user sum so the
    totals are exact under any aggregation order."""
    from stark_spark.operators.trajectory import trajectory_stats
    ev = D.st_events(spark, sf, keep_geom=False)
    return trajectory_stats(ev, "user_id", ts_col="t_start",
                            x="x", y="y", tie_col="event_id")


def _q_od_matrix(spark, sf):
    """Daily origin→destination flows on an 8x8 grid: first/last cell
    per (user, epoch-day) by deterministic (ts, event_id) order, then
    counts per (origin, dest, day)."""
    from stark_spark.operators.trajectory import od_matrix
    ev = D.st_events(spark, sf, keep_geom=False)
    cell = (F.floor(F.col("x") / F.lit(12.5))
            + F.lit(8) * F.floor(F.col("y") / F.lit(12.5))) \
        .cast("long")
    day = F.floor(F.col("t_start") / F.lit(86400)).cast("long")
    return od_matrix(ev, cell, "user_id", ts_col="t_start",
                     tie_col="event_id", bucket=day)


def _q_stay_points(spark, sf):
    """Dwell detection (chain-rule stay points): gaps-and-islands over
    per-user ordered hops — runs whose every hop stays within radius
    10, kept when spanning >= 1 hour. Centroids from micro-quantized
    integer sums (bit-exact oracle)."""
    from stark_spark.operators.trajectory import stay_points
    ev = D.st_events(spark, sf, keep_geom=False)
    return stay_points(ev, "user_id", ts_col="t_start", x="x", y="y",
                       tie_col="event_id", radius=10.0,
                       min_dwell=3600)


def _q_colocation_pairs(spark, sf):
    """Co-location detection: user pairs meeting (same 8x8 cell,
    |dt| <= 30 min) at least twice, with meeting counts and first/
    last meeting times. The 3-adjacent-bin explode makes the join a
    pure (cell, bin) equi-join — each qualifying event pair counted
    exactly once."""
    from stark_spark.operators.trajectory import colocation_pairs
    ev = D.st_events(spark, sf, keep_geom=False)
    cell = (F.floor(F.col("x") / F.lit(12.5))
            + F.lit(8) * F.floor(F.col("y") / F.lit(12.5))) \
        .cast("long")
    return colocation_pairs(ev, cell, "user_id", ts_col="t_start",
                            time_window=1800, min_meetings=2)


def _q_knn_weighted_st(spark, sf):
    """Weighted space+time kNN (reference Distance.scala:118-133
    scalarization): d = 1.0*spatial + 0.001*|t - t0|."""
    from stark_spark.functions.distance import (st_distance_xy,
                                                temporal_distance,
                                                weighted_st_distance)
    ev = D.st_events(spark, sf, keep_geom=False)
    t0 = 1704844800  # 2024-01-10
    sd = st_distance_xy(F.col("x"), F.col("y"), F.lit(50.0), F.lit(50.0))
    td = temporal_distance(F.col("t_start"), F.lit(t0))
    d = weighted_st_distance(sd, td, w_space=1.0, w_time=0.001)
    return (ev.withColumn("dist", d)
              .orderBy("dist", "event_id").limit(30)
              .select("event_id", "dist"))


def _q_knn_hausdorff_st(spark, sf):
    """kNN under the combined spatio-temporal Hausdorff distance
    (`Distance.scala:139-167`: (shausdorff, thausdorff) pair +
    weighted scalarization). Rows carry [t_start, t_end] intervals
    (every 7th open-ended → end defaults to start per thausdorff);
    for point geometry shausdorff ≡ euclid, so the whole ordering
    stays native (codegen) — no UDF."""
    from stark_spark.functions.constructors import with_bbox
    from stark_spark.functions.distance import (st_distance_xy,
                                                temporal_hausdorff,
                                                weighted_st_distance)
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    ev = with_bbox(ev, x="x", y="y")
    ts = F.col("ts").cast("long")
    ev = (ev.withColumn("t_start", ts)
            .withColumn("t_end", F.when(F.col("event_id") % 7 == 0,
                                        F.lit(None).cast("long"))
                                  .otherwise(ts + 86400 * (F.col("event_id") % 10))))
    t0s, t0e = 1704844800, 1705708800          # Jan 10 – Jan 20
    sd = st_distance_xy(F.col("x"), F.col("y"), F.lit(50.0), F.lit(50.0))
    td = temporal_hausdorff(F.col("t_start"), F.col("t_end"),
                            F.lit(t0s), F.lit(t0e))
    d = weighted_st_distance(sd, td, w_space=1.0, w_time=0.00001)
    return (ev.withColumn("dist", d)
              .orderBy("dist", "event_id").limit(30)
              .select("event_id", "dist"))


def _q_knn_join(spark, sf):
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    # radius bounds the candidate set; rows with < k neighbors inside it
    # are completed exactly by the fallback pass — results identical for
    # any radius, wall-time is candidates (big radius) vs fallback rows
    # (small radius)
    out = knn_join(supp, cust, 3, grid=GRID, radius=10.0,
                   left_key="s_suppkey", tie_col="c_custkey")
    return out.select("s_suppkey", "c_custkey", "dist")


def _q_knn_join_sparse(spark, sf):
    """kNN-join against a SPARSE off-lattice right side (orders carry
    the (5,7) lattice salt — see datasets.TABLE_SALT): most left rows
    have zero or <k candidates within the radius, so this oracle-gates
    the exact-fallback path (the round-1 advisor found zero-candidate
    rows were silently dropped; this query fails on that bug)."""
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    orders = D.st_points(spark, sf, "orders", "o_orderkey", keep_geom=False)
    sparse = orders.where(F.col("o_orderkey") % 97 == 0) \
                   .select("o_orderkey", "xmin", "ymin", "xmax", "ymax")
    out = knn_join(supp, sparse, 2, grid=GRID, radius=5.0,
                   left_key="s_suppkey", tie_col="o_orderkey")
    return out.select("s_suppkey", "o_orderkey", "dist")


def _q_skyline(spark, sf):
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    out = skyline(cust.select("c_custkey", "x", "y"), "x", "y")
    return out


def _q_skyline_st(spark, sf):
    """Distance-space ST skyline — the reference's actual operator
    shape (`skyline(ref, distFunc, dominates, …)` PSF:425-494
    transforms each point to (spatial dist, temporal dist) from a
    reference object, then takes the Pareto front): events sampled
    10%, minimized on (euclid dist to (50,50), |t - T0|)."""
    ev = D.st_events(spark, sf, keep_geom=False) \
          .where(F.col("event_id") % 10 == 0)
    dx = F.col("x") - F.lit(50.0)
    dy = F.col("y") - F.lit(50.0)
    out = ev.select(
        "event_id",
        F.sqrt(dx * dx + dy * dy).alias("d_space"),
        F.abs(F.col("t_start") - F.lit(1706000000)).alias("d_time"))
    return skyline(out, "d_space", "d_time")


def _q_skyline_angular(spark, sf):
    """Angular-partitioned skyline (reference `skylineAngular`,
    PSF:519-586) — same answer as the plain plan, different stage-1
    grouping (the one-answer/many-plans pattern from SURVEY §5)."""
    from stark_spark.operators.skyline import angular_bucket
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    staged = (cust.select("c_custkey", "x", "y")
                  .withColumn("_ab", angular_bucket("x", "y", 16)))
    return skyline(staged, "x", "y", group_col="_ab").drop("_ab")


def _q_dbscan(spark, sf):
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    # coarser grid than the join grid: DBSCAN's per-cell python pass
    # wants thousands of rows per cell, not tens (results are
    # grid-independent — tests assert it)
    return dbscan(cust, 2.0, 4, key="c_custkey",
                  grid=GridSpec.unit_grid(100.0, 8))


def _q_distance_histogram(spark, sf):
    """Reference DistanceHistogram parity: per-cell sampled min-NN
    distance histogram (the DBSCAN eps elbow input). 8×8 grid so cells
    hold tens of points at sf0.01; n_samples=8 exercises the per-cell
    sampling path; width 0.25 is exact binary so bucket edges can't
    drift between engines."""
    from stark_spark.operators.dbscan import distance_histogram
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    return distance_histogram(cust, 4.0, 16,
                              grid=GridSpec.unit_grid(100.0, 8),
                              key="c_custkey", n_samples=8)


def _q_grid_histogram(spark, sf):
    ev = D.st_events(spark, sf, keep_geom=False)
    out = (ev.withColumn("cell", GRID.cell_expr(F.col("x"), F.col("y")))
             .groupBy("cell").agg(F.count("*").alias("n")))
    return out


def _q_agg_pricing_summary(spark, sf):
    li = D.load(spark, sf, "lineitem")
    out = (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
             .groupBy("l_returnflag", "l_linestatus")
             .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                  (F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                   / 100.0).alias("sum_base_price"),
                  (F.sum(F.round(F.col("l_extendedprice") *
                                 (1 - F.col("l_discount")) * 10000).cast("bigint"))
                   / 10000.0).alias("sum_disc_price"),
                  F.count("*").alias("count_order")))
    return out


def _q_agg_revenue_by_segment(spark, sf):
    orders = D.load(spark, sf, "orders")
    cust = D.load(spark, sf, "customer")
    out = (orders.join(F.broadcast(cust),
                       orders.o_custkey == cust.c_custkey)
                 .groupBy("c_mktsegment")
                 .agg(F.count("*").alias("n_orders"),
                      (F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                       / 100.0).alias("revenue")))
    return out


def _q_agg_revenue_by_nation(spark, sf):
    """Classic 3-way OLAP rollup (orders ⋈ customer ⋈ nation, revenue
    per nation-month): the fact table shuffles once on the customer
    key; nation is a true dim and rides a broadcast — at 100 TB the
    plan is one fact shuffle + map-side dim hash joins, which is the
    shape to preserve."""
    orders = D.load(spark, sf, "orders")
    cust = D.load(spark, sf, "customer")
    nation = D.load(spark, sf, "nation")
    out = (orders
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation),
                 cust.c_nationkey == nation.n_nationkey)
           .groupBy(F.col("n_name"),
                    F.date_trunc("month", F.col("o_orderdate"))
                     .cast("long").alias("month"))
           .agg(F.count("*").alias("n_orders"),
                (F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")) / 100.0).alias("revenue")))
    return out


def _q_events_daily(spark, sf):
    ev = D.load(spark, sf, "events")
    out = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count("*").alias("n"),
                  (F.sum(F.round(F.col("value") * 100).cast("bigint"))
                   / 100.0).alias("sum_value")))
    return out


def _q_sessionize(spark, sf):
    """Batch sessionization (gaps-and-islands): per-user session ids
    with a 6h inactivity gap — one key shuffle, two window passes over
    one sort, all codegen."""
    from stark_spark.operators.temporal_join import sessionize
    ev = (D.load(spark, sf, "events")
            .withColumn("t", F.col("ts").cast("long")))
    out = sessionize(ev, "user_id", "t", 6 * 3600)
    return out.select("event_id", "user_id", "t", "session_id")


def _q_set_ops(spark, sf):
    """§2.6: set ops are Spark built-ins — union two overlapping event
    subsets, dropDuplicates on the key, aggregate per type."""
    ev = D.load(spark, sf, "events")
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 3 == 0)
    return (a.unionByName(b)
             .dropDuplicates(["event_id"])
             .groupBy("event_type").agg(F.count("*").alias("n")))


def _q_dedup_exact(spark, sf):
    docs = D.load(spark, sf, "documents")
    return exact_dups(docs, "doc_id")


def _q_dedup_minhash(spark, sf):
    docs = D.load(spark, sf, "documents")
    return minhash_signature_long(docs, "doc_id", n_seeds=4, shingle_k=8)


def _q_dedup_lsh_pairs(spark, sf):
    docs = D.load(spark, sf, "documents")
    return lsh_candidate_pairs(docs, "doc_id", n_seeds=4, rows_per_band=1,
                               shingle_k=8)


def _q_dedup_keep_best(spark, sf):
    """Quality-keeper dedup: same SimHash components as
    `dedup_clusters`, but keep = argmax(n_chars) per cluster (tie →
    min doc_id) — "keep the longest copy", the policy training
    pipelines actually want."""
    from stark_spark.operators.dedup import (dedup_keep_best,
                                             simhash_near_pairs)
    docs = D.load(spark, sf, "documents")
    pairs = simhash_near_pairs(docs, "doc_id",
                               max_hamming=3).select("a", "b")
    return dedup_keep_best(docs, "doc_id", "n_chars", pairs=pairs)


def _q_dedup_jaccard(spark, sf):
    docs = D.load(spark, sf, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", shingle_k=8, threshold=0.12)


def _q_dedup_clusters(spark, sf):
    """Full near-dup pipeline: SimHash band candidates → exact hamming
    verify (pigeonhole-complete for the threshold) → connected
    components → canonical keep-list (min doc_id per cluster;
    singletons keep themselves). SimHash is the verify stage here
    because it's exact AND near-linear; the LSH→Jaccard pair is
    oracle-gated separately (`dedup_lsh_pairs`, `dedup_ngram_jaccard`)."""
    from stark_spark.operators.dedup import (dedup_clusters,
                                             simhash_near_pairs)
    docs = D.load(spark, sf, "documents")
    pairs = simhash_near_pairs(docs, "doc_id",
                               max_hamming=3).select("a", "b")
    return dedup_clusters(docs, "doc_id", pairs=pairs)


def _q_dedup_simhash(spark, sf):
    from stark_spark.operators.dedup import simhash_fingerprints
    docs = D.load(spark, sf, "documents")
    return simhash_fingerprints(docs, "doc_id", n_bits=16, shingle_k=4,
                                out_col="simhash")


def _q_dedup_simhash_pairs(spark, sf):
    docs = D.load(spark, sf, "documents")
    return simhash_near_pairs(docs, "doc_id", max_hamming=6)


def _ev_tiles(spark, sf):
    from stark_spark.raster import rasterize
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    return rasterize(ev, tile_px=8, pixel_width=1.25)


def _q_raster_stats(spark, sf):
    from stark_spark.raster import r_max
    tiles = _ev_tiles(spark, sf)
    return tiles.select(
        "ulx", "uly",
        r_max().alias("pix_max"),
        F.size(F.filter(F.col("data"), lambda p: p != 0)).alias("n_nonzero"),
        F.aggregate(F.col("data"), F.lit(0).cast("long"),
                    lambda a, v: a + v).alias("n_events"))


def _q_raster_hist(spark, sf):
    from stark_spark.raster import raster_histogram
    return raster_histogram(_ev_tiles(spark, sf), 0, 16, 8)


def _nation_boxes(spark, sf):
    """25 nation-keyed axis-aligned boxes (±8 around lattice points) —
    the vector side of the raster⋈vector oracle."""
    from stark_spark.functions.constructors import st_box
    n = D.load(spark, sf, "nation")
    k = F.col("n_nationkey").cast("long")
    bx = (k * PX % 1000) / 10.0
    by = (k * PY % 1000) / 10.0
    df = (n.select("n_nationkey", bx.alias("_bx"), by.alias("_by"))
           .withColumn("xmin", F.col("_bx") - 8.0)
           .withColumn("ymin", F.col("_by") - 8.0)
           .withColumn("xmax", F.col("_bx") + 8.0)
           .withColumn("ymax", F.col("_by") + 8.0)
           .drop("_bx", "_by"))
    return df.withColumn("geom", st_box(F.col("xmin"), F.col("ymin"),
                                        F.col("xmax"), F.col("ymax")))


def _q_raster_roundtrip(spark, sf):
    """Raster sink→source parity (§2.1 rows 8/11/68): event tiles saved
    with the CSV tile codec (the reference's text format, STC:469-500)
    AND the RasterGrid-partitioned parquet sink, re-read, and reduced
    to the per-tile nonzero-pixel census — any codec loss would shift
    the hash. Oracle recomputes from raw events."""
    import tempfile
    from stark_spark.raster.tiles import (load_tiles, save_tiles,
                                          save_tiles_csv, tiles_from_csv)
    tiles = _ev_tiles(spark, sf)
    # per-call unique dirs: a fixed sf-keyed path races when bench and
    # the correctness harness overwrite/read the same store concurrently
    root = tempfile.mkdtemp(prefix="stark_tiles_rt_")
    p_parq = root + "/parq"
    p_csv = root + "/csv"
    save_tiles(tiles, p_parq, grid=GRID)
    save_tiles_csv(tiles, p_csv)
    t1 = load_tiles(spark, p_parq).drop("cell")
    t2 = tiles_from_csv(spark, p_csv, dtype="bigint")
    both = t1.unionByName(t2.select(*t1.columns))
    return (both.select("ulx", "uly",
                        F.size(F.filter(F.col("data"), lambda p: p != 0))
                         .alias("n_nonzero"))
                .groupBy("ulx", "uly")
                .agg(F.count("*").alias("n_copies"),
                     F.sum("n_nonzero").alias("nz2")))


def _q_raster_join_vector_clip(spark, sf):
    """Raster ⋈ vector with pixel clip (`RasterJoinVectorRDD.scala:
    13-107`): event tiles joined to nation boxes, each match clipped to
    the pixel-aligned intersection window; output = window anchor/shape
    + event count inside the window. The dim-sized vector side (25
    boxes) broadcasts — BNLJ, no cell explode, no shuffle (A/B at
    sf0.1: 0.8s vs 2.0s grid, identical rows; the grid path stays
    oracle-gated via raster_join_raster_sum)."""
    from stark_spark.raster.join import raster_join_vector
    tiles = _ev_tiles(spark, sf)
    vec = _nation_boxes(spark, sf)
    out = raster_join_vector(tiles, vec, clip=True,
                             vec_rect=True, broadcast=True)
    return out.select(
        "n_nationkey", "ulx", "uly", "width", "height",
        F.aggregate(F.col("data"), F.lit(0).cast("long"),
                    lambda a, v: a + F.coalesce(v, F.lit(0))).alias("n_ev"))


def _q_raster_join_raster(spark, sf):
    """Raster ⋈ raster with pixel combine (`RasterJoinRDD.scala:10-66`):
    even-event tiles + odd-event tiles, summed over the intersection
    window (same tiling → full-tile windows; touching-only pairs give
    empty windows and drop)."""
    from stark_spark.raster import rasterize
    from stark_spark.raster.join import raster_join_raster
    ev = D.load(spark, sf, "events")
    ev = (ev.withColumn("x", F.col("value"))
            .withColumn("y", (F.col("user_id").cast("long") * PX % 1000) / 10.0))
    even = rasterize(ev.where(F.col("event_id") % 2 == 0),
                     tile_px=8, pixel_width=1.25)
    odd = rasterize(ev.where(F.col("event_id") % 2 == 1),
                    tile_px=8, pixel_width=1.25)
    out = raster_join_raster(even, odd, grid=GRID, combine="sum")
    return out.select(
        "ulx", "uly", "width", "height",
        F.aggregate(F.col("data"), F.lit(0).cast("long"),
                    lambda a, v: a + v).alias("n_ev"))


def _q_raster_count_value(spark, sf):
    """`countValue` (`RasterRDD.scala:136-146`): total pixels holding
    exactly the value 1 across the whole raster."""
    from stark_spark.raster.tiles import count_value
    return count_value(_ev_tiles(spark, sf), 1)


_PART_STORES_BUILT: set = set()


def _part_store(sf: str, name: str, frame, **save_kw) -> str:
    """Cell-partitioned copy of ``frame()`` under /tmp, written by
    `save_partitioned` at most once per process per sf (fresh per run —
    never trust a previous process's /tmp data, the synthetic-coordinate
    recipe may have changed), so a pruned query times its read, not
    the write of its store."""
    from stark_spark.sources.partitioned import save_partitioned
    tag = _os.path.basename(sf.rstrip("/"))
    path = f"{_ORACLE_TMP}/{name}_{tag}"
    if path not in _PART_STORES_BUILT:
        save_partitioned(frame(), path, GRID, **save_kw)
        _PART_STORES_BUILT.add(path)
    return path


def _part_events_path(spark, sf: str) -> str:
    """The events ST frame's store, shared by the pruned read and kNN."""
    return _part_store(sf, "part_events",
                       lambda: D.st_events(spark, sf, keep_geom=False))


def _q_pruned_read(spark, sf):
    """Pruned partitioned scan (`STSparkContext.scala:50-61,658-713`):
    events saved cell-partitioned with a bounds manifest, re-read with
    manifest + Catalyst partition pruning; result must equal the plain
    timed-rectangle filter (the oracle is that filter)."""
    from stark_spark.sources.partitioned import read_pruned
    path = _part_events_path(spark, sf)
    out = read_pruned(spark, path,
                      "POLYGON ((10 10, 60 10, 60 80, 10 80, 10 10))",
                      points=True, t_query=(1704067200, 1705276800))
    return out.select("event_id", "x", "y")


def _q_pruned_join(spark, sf):
    """Metadata-driven pruned join (`STSparkContext.scala:382-457`
    jointextFiles): both sides saved partitioned; the cell-pair graph
    comes from the manifests alone; result must equal the plain
    point-equality grid join."""
    from stark_spark.sources.partitioned import join_pruned
    pc = _part_store(sf, "part_cust", lambda: D.st_points(
        spark, sf, "customer", "c_custkey", keep_geom=False))
    ps = _part_store(sf, "part_supp", lambda: D.st_points(
        spark, sf, "supplier", "s_suppkey", keep_geom=False))
    out = join_pruned(spark, pc, ps, grid=GRID,
                      left_points=True, right_points=True)
    return out.select("c_custkey", "s_suppkey")


def _q_pruned_read_st(spark, sf):
    """Spatio-temporally partitioned storage (reference
    `SpatioTempPartitioner.scala:11-169`: spatial cells + per-cell time
    ranges): events saved with cell AND t_bucket dirs, re-read with
    manifest + two-level Catalyst pruning; result must equal the plain
    timed-rectangle filter over a NARROW window (so temporal dirs
    actually prune)."""
    from stark_spark.sources.partitioned import read_pruned
    path = _part_store(sf, "part_st",
                       lambda: D.st_events(spark, sf, keep_geom=False),
                       t_buckets=6)
    out = read_pruned(spark, path,
                      "POLYGON ((10 10, 60 10, 60 80, 10 80, 10 10))",
                      points=True, t_query=(1704067200, 1704672000))
    return out.select("event_id", "x", "y")


def _q_pruned_knn(spark, sf):
    """Two-phase pruned kNN over partitioned storage (reference knn2,
    `STSparkContext.scala:124-184` / PSF:177-252): phase 1 scans only
    the home cell, phase 2 only cells within the k-th distance; the
    answer must equal the full-scan kNN (the oracle is the full scan)."""
    from stark_spark.sources.partitioned import knn_pruned
    path = _part_events_path(spark, sf)
    out = knn_pruned(spark, path, "POINT (50 50)", 50, grid=GRID,
                     tie_col="event_id")
    return out.select("event_id", "dist")


def _q_sql_raster_hist(spark, sf):
    """SQL-surface raster histogram: the registered `rasterHistogram`
    grouped-agg UDAF (reference `RasterFunction.scala:37-78`) called
    from spark.sql over a tile view — gates the SQL registration, not
    just the DataFrame op."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    _ev_tiles(spark, sf).createOrReplaceTempView("__sql_tiles")
    return spark.sql("""
        SELECT posexplode(h) AS (bucket, n) FROM (
          SELECT rasterHistogram(data, 0D, 16D, 8) AS h FROM __sql_tiles)""")


def _q_viz_lit_pixels(spark, sf):
    """Oracle gate for the distributed render stage (§2.1 row 12):
    `lit_pixels` = the whole visualization pipeline minus the trivial
    driver-side PNG encode (pixel-exact pytest covers that). Linear
    projection is pure floor arithmetic → SQL-expressible."""
    from stark_spark.functions.visualize import lit_pixels
    ev = D.st_events(spark, sf)
    return lit_pixels(ev, 256, 256, bounds=(0.0, 0.0, 100.0, 100.0))


def _q_partition_spatio_temporal(spark, sf):
    """SpatioTemp partitioner assignment audit (§2.11 rows 65-66):
    every event's composite (cell, t_bucket) placement key plus the
    per-key row count — the exact data placement a 100 TB ingest would
    `partitionBy` on. Fixed ranges: 32×32 unit grid × 8 one-week
    buckets from 2024-01-01."""
    from stark_spark.partitioner.temporal import spatio_temporal_key
    ev = D.st_events(spark, sf, keep_geom=False)
    keyed = spatio_temporal_key(ev, GRID, 1704067200, 604800, 8)
    return (keyed.groupBy("cell", "t_bucket")
                 .agg(F.count("*").alias("n_rows")))


def _q_sql_st_filter(spark, sf):
    """SQL-surface twin of the containedby filter: proves the
    REGISTERED st_* functions (register.py), not just the DataFrame
    path — `SELECT … WHERE st_containedby(geom, st_geomfromwkt(…))`
    rides the same vectorized kernels."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    D.st_events(spark, sf).createOrReplaceTempView("__sql_ev_f")
    return spark.sql("""
        SELECT event_id, x, y FROM __sql_ev_f
        WHERE st_containedby(geom, st_geomfromwkt(
          'POLYGON ((20 30, 70 30, 70 90, 20 90, 20 30))'))""")


def _q_sql_tile_accessors(spark, sf):
    """SQL-surface tile getters + SMA accessors (§2.7 rows 9-11):
    ulx/uly are plain column reads on the flat tile schema;
    r_min/r_max/r_median are the pure-SQL scalar functions."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    _ev_tiles(spark, sf).createOrReplaceTempView("__sql_tiles_acc")
    return spark.sql("""
        SELECT ulx, uly, r_min(data) AS v_min, r_max(data) AS v_max,
               r_median(data) AS v_median
        FROM __sql_tiles_acc""")


def _q_sql_st_measures(spark, sf):
    """SQL-surface geometry measures (reference STObject wraps JTS, so
    getArea/getLength/getCentroid/getEnvelope are its de-facto user
    surface): per-event triangles with INTEGER vertices make every
    measure bit-reproducible against the analytic DuckDB formulas —
    shoelace sums of small ints are exact, and hypot==sqrt on the leg
    pairs used (verified in test_sql_surface)."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    D.load(spark, sf, "events").createOrReplaceTempView("__sql_ev_m")
    return spark.sql(f"""
        SELECT event_id,
          CAST(round(st_area(g) * 10000) AS BIGINT) AS area_q,
          CAST(round(st_length(g) * 10000) AS BIGINT) AS len_q,
          CAST(round(st_x(st_centroid(g)) * 10000) AS BIGINT) AS cx_q,
          CAST(round(st_y(st_centroid(g)) * 10000) AS BIGINT) AS cy_q,
          CAST(round(st_area(st_envelope(g)) * 10000) AS BIGINT) AS env_q
        FROM (
          SELECT event_id, st_geomfromwkt(concat(
            'POLYGON ((', x, ' ', y, ', ', x + dx, ' ', y, ', ',
            x, ' ', y + dy, ', ', x, ' ', y, '))')) AS g
          FROM (
            SELECT event_id, CAST(floor(value) AS DOUBLE) AS x,
                   CAST(floor({EV_Y}) AS DOUBLE) AS y,
                   CAST(1 + event_id % 5 AS DOUBLE) AS dx,
                   CAST(1 + event_id % 7 AS DOUBLE) AS dy
            FROM __sql_ev_m WHERE event_id % 13 = 0) t) s""")


def _q_sql_st_buffer(spark, sf):
    """Positive geometric buffer on the SQL surface (core.geometry
    `buffer`: Minkowski sum with a disc, 8 segments per quadrant —
    JTS `buffer(d)` semantics). Point buffers are regular 32-gons and
    axis-aligned rectangle buffers round each corner with exactly
    8 chords of pi/16, so area and perimeter have CLOSED FORMS the
    DuckDB oracle evaluates analytically:
      point:  area = 16*sin(pi/16)*d^2,  perim = 64*d*sin(pi/32)
      rect:   area = dx*dy + 2*(dx+dy)*d + 16*sin(pi/16)*d^2
              perim = 2*(dx+dy) + 64*d*sin(pi/32)
    — and a CONCAVE L-shape (one 90-degree reflex vertex: the offset
    edges trim to the miter intersection instead of an arc) whose
    closed forms subtract the miter square and two edge trims:
      L:      area = 3*dx*dy + 4*(dx+dy)*dc - dc^2
                     + 5*(8*sin(pi/16)/2)*dc^2
              perim = 4*(dx+dy) - 2*dc + 80*dc*sin(pi/32)
    — the gate checks the whole chain constructor → buffer → measure
    against geometry-free arithmetic."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    D.load(spark, sf, "events").createOrReplaceTempView("__sql_ev_b")
    return spark.sql(f"""
        SELECT event_id,
          CAST(round(st_area(st_buffer(pt, d)) * 10000) AS BIGINT)
            AS parea_q,
          CAST(round(st_length(st_buffer(pt, d)) * 10000) AS BIGINT)
            AS plen_q,
          CAST(round(st_area(st_buffer(rect, d)) * 10000) AS BIGINT)
            AS rarea_q,
          CAST(round(st_length(st_buffer(rect, d)) * 10000) AS BIGINT)
            AS rlen_q,
          CAST(round(st_area(st_buffer(ell, dc)) * 10000) AS BIGINT)
            AS larea_q,
          CAST(round(st_length(st_buffer(ell, dc)) * 10000) AS BIGINT)
            AS llen_q
        FROM (
          SELECT event_id, d, dc,
            st_geomfromwkt(concat('POINT (', x, ' ', y, ')')) AS pt,
            st_geomfromwkt(concat(
              'POLYGON ((', x, ' ', y, ', ', x + dx, ' ', y, ', ',
              x + dx, ' ', y + dy, ', ', x, ' ', y + dy, ', ',
              x, ' ', y, '))')) AS rect,
            st_geomfromwkt(concat(
              'POLYGON ((', x, ' ', y, ', ', x + 2 * dx, ' ', y, ', ',
              x + 2 * dx, ' ', y + dy, ', ', x + dx, ' ', y + dy,
              ', ', x + dx, ' ', y + 2 * dy, ', ', x, ' ',
              y + 2 * dy, ', ', x, ' ', y, '))')) AS ell
          FROM (
            SELECT event_id, CAST(floor(value) AS DOUBLE) AS x,
                   CAST(floor({EV_Y}) AS DOUBLE) AS y,
                   CAST(1 + event_id % 5 AS DOUBLE) AS dx,
                   CAST(1 + event_id % 7 AS DOUBLE) AS dy,
                   CAST(1 + event_id % 3 AS DOUBLE) AS d,
                   CAST(least(1 + event_id % 5, 1 + event_id % 7)
                        AS DOUBLE) / 2 AS dc
            FROM __sql_ev_b WHERE event_id % 13 = 0) t) s""")


def _q_sql_hull_simplify(spark, sf):
    """Convex hull + Douglas–Peucker simplification on the SQL surface
    (JTS getConvexHull / DouglasPeuckerSimplifier — part of the
    reference STObject's de-facto surface). Fixed inputs whose outputs
    are hand-derivable; the oracle is the literal expected table, so
    the gate is independent of the kernel it checks."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    return spark.sql("""
        SELECT id,
          st_wkt(st_convexhull(st_geomfromwkt(w))) AS hull,
          st_wkt(st_simplify(st_geomfromwkt(w), 0.5)) AS simple
        FROM VALUES
          (1, 'MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2), (1 3))'),
          (2, 'MULTIPOINT ((0 0), (1 1), (2 2))'),
          (3, 'POLYGON ((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))'),
          (4, 'LINESTRING (0 0, 1 0, 2 0, 3 0, 3 3)')
        AS t(id, w)""")


def _q_events_rollup(spark, sf):
    """Multi-grain continuous-aggregate rollup in ONE scan: GROUPING
    SETS expands day/month/year inside a single shuffle with partial
    aggregation — G× fewer scans than one pass per grain."""
    from stark_spark.operators.rollup import multi_grain_rollup
    ev = D.load(spark, sf, "events")
    return multi_grain_rollup(ev, "ts", "value")


def _q_events_gapfill(spark, sf):
    """Timescale-style gap-filled per-key time buckets with LOCF: the
    continuous-aggregate read shape (empty buckets materialized,
    measure carried forward). At sf0.01 more than half the lattice is
    gaps, so the fill path is the hot path, not a corner."""
    from stark_spark.operators.rollup import time_bucket_gapfill
    ev = D.load(spark, sf, "events").withColumn(
        "key", F.col("user_id") % 200)
    return time_bucket_gapfill(ev, "key", "ts", "value", step_s=21600)


def _q_events_gapfill_interp(spark, sf):
    """Gap filling with LINEAR interpolation between the surrounding
    data buckets (trailing gaps fall back to LOCF) — integer-cents
    endpoints keep the one round() per gap bit-aligned with the
    oracle's identical expression."""
    from stark_spark.operators.rollup import time_bucket_gapfill
    ev = D.load(spark, sf, "events").withColumn(
        "key", F.col("user_id") % 200)
    return time_bucket_gapfill(ev, "key", "ts", "value", step_s=21600,
                               fill="interp")


def _q_vocab_top_k(spark, sf):
    """Corpus vocabulary build (tokenizer/frequency-cutoff pass):
    exact token counts, deterministic (count DESC, token ASC) top-100.
    Explode → map-side-combined hash aggregate →
    TakeOrderedAndProject."""
    from stark_spark.operators.text import vocab_top_k
    docs = D.load(spark, sf, "documents")
    return vocab_top_k(docs, 100)


def _q_doc_logprob(spark, sf):
    """Unigram LM quality scoring against the corpus' own
    distribution — the classic perplexity-ish quality filter. Every
    ln() term is quantized to an exact integer (floor(ln·1e6)) before
    the per-doc BIGINT sum, so both engines agree exactly."""
    from stark_spark.operators.text import doc_logprob
    docs = D.load(spark, sf, "documents")
    return doc_logprob(docs, "doc_id")


def _q_bm25_topk(spark, sf):
    """BM25 lexical retrieval (the sparse twin of the ANN tier):
    top-25 docs for a 3-term query. idf and each term contribution
    are quantized to exact integers before the per-doc sum, so the
    score is aggregation-order-independent and the oracle matches
    bit-for-bit."""
    from stark_spark.operators.text import bm25_topk
    docs = D.load(spark, sf, "documents")
    return bm25_topk(docs, "doc_id", ["join", "filter", "merge"], 25)


def _q_bm25_multi_topk(spark, sf):
    """Many-query BM25 in one corpus pass: a (query_id, terms) frame
    — the sparse twin of the dense tier's many-query brute_force
    shape. One corpus token explode pruned by the broadcast query
    vocabulary, driver-quantized idf literals, integer score sums,
    window top-k per query. Query q3 carries a duplicated term to
    pin the set semantics (duplicates count once)."""
    from stark_spark.operators.text import bm25_multi_topk
    docs = D.load(spark, sf, "documents")
    qs = spark.createDataFrame(
        [("q1", ["join", "filter", "merge"]),
         ("q2", ["data", "stream"]),
         ("q3", ["index", "scan", "scan"])],
        "query_id string, terms array<string>")
    return bm25_multi_topk(docs, "doc_id", qs, 10)


def _q_rrf_fusion_topk(spark, sf):
    """Hybrid retrieval: BM25 (sparse) top-50 and embedding-cosine
    (dense) top-50 for the same information need, fused by reciprocal
    rank (RRF, Cormack et al. 2009). Each side contributes the exact
    integer floor(1e9/(60+rank)); the fused score is a BIGINT sum, so
    the oracle matches bit-for-bit. The doc_id↔vec_id identity is the
    testdata's 1:1 row alignment."""
    from pyspark.sql import Window
    from stark_spark.operators.similarity import (brute_force_topk,
                                                  rrf_fuse)
    from stark_spark.operators.text import bm25_topk
    docs = D.load(spark, sf, "documents")
    sparse = bm25_topk(docs, "doc_id", ["join", "filter", "merge"], 50)
    ws = Window.orderBy(F.desc("score_q"), F.col("doc_id").asc())
    sparse = sparse.withColumn("rank", F.row_number().over(ws))
    emb, q = _emb_queries(spark, sf, 1)
    dense = (brute_force_topk(emb, q, 50)
             .select(F.col("vec_id").alias("doc_id"), "rank"))
    return rrf_fuse(sparse, dense, 20, key="doc_id")


def _q_quality_filter_gopher(spark, sf):
    """Gopher-rule curation report: four doc-level heuristic flags
    (length band, mean-word-length band, %-alphabetic, stopword
    presence) + the conjunctive keep verdict. Every comparison is an
    integer cross-multiplication — no float thresholds anywhere."""
    from stark_spark.operators.text import quality_filter_gopher
    docs = D.load(spark, sf, "documents")
    return quality_filter_gopher(docs, "doc_id")


def _q_perplexity_buckets(spark, sf):
    """CCNet-style head/middle/tail bucketing: unigram-LM cost per
    token (exact-integer `div`), then ntile(3) per language under a
    total order — the standard LM-quality tiering pass before
    sampling training data."""
    from stark_spark.operators.text import perplexity_buckets
    docs = D.load(spark, sf, "documents")
    return perplexity_buckets(docs, "doc_id")


def _q_vocab_freq_spectrum(spark, sf):
    """Zipf frequency-of-frequencies over the corpus vocabulary (the
    c=1 row is the hapax count): two cascaded map-side-combined hash
    aggregates, bounded output."""
    from stark_spark.operators.text import vocab_freq_spectrum
    docs = D.load(spark, sf, "documents")
    return vocab_freq_spectrum(docs)


def _q_dedup_containment(spark, sf):
    """Directed shingle-containment pairs (|A∩B|/|A| ≥ 80%) — the
    asymmetric dedup signal that catches quote-inclusion / partial
    copies whose symmetric Jaccard stays below any dedup threshold.
    Integer cross-multiplied threshold; both directions emitted."""
    from stark_spark.operators.dedup import containment_pairs
    docs = D.load(spark, sf, "documents")
    return containment_pairs(docs, "doc_id", shingle_k=8,
                             threshold_pct=80)


def _roundtrip_fidelity(back):
    """Stable fidelity projection: identity columns + text digest —
    equal hashes prove the format roundtrip was byte-faithful."""
    return back.select("doc_id", "lang", "source", "n_chars",
                       F.md5("text").alias("text_md5"))


def _q_events_table_profile(spark, sf):
    """Validate-before-ingest profile of the events table: ONE
    combined aggregate over one scan (row count + per-column null and
    exact-distinct counts), unpivoted in-plan to the report shape.
    All integers — bit-stable anywhere."""
    from stark_spark.operators.profile import table_profile
    ev = D.load(spark, sf, "events")
    return table_profile(
        ev, ["event_id", "user_id", "event_type", "value"])


def _q_jsonl_roundtrip(spark, sf):
    """JSONL (the LLM-corpus interchange format) sink→source
    roundtrip: documents written as JSON-lines and re-read FAILFAST
    with an explicit schema must match the parquet original
    byte-for-byte (md5 of every text). Permissive-mode silent-NULL
    corruption is exactly what this gate would catch."""
    import tempfile
    from stark_spark.sources.formats import read_jsonl, write_jsonl
    docs = D.load(spark, sf, "documents")
    d = tempfile.mkdtemp(prefix="stark_fmt_") + "/docs_jsonl"
    write_jsonl(docs, d)
    return _roundtrip_fidelity(read_jsonl(spark, d, docs.schema))


def _q_csv_roundtrip(spark, sf):
    """Quoted/escaped CSV roundtrip (multiLine read): free text with
    embedded delimiters must survive the quoting discipline."""
    import tempfile
    from stark_spark.sources.formats import read_csv, write_csv
    docs = D.load(spark, sf, "documents")
    d = tempfile.mkdtemp(prefix="stark_fmt_") + "/docs_csv"
    write_csv(docs, d)
    return _roundtrip_fidelity(read_csv(spark, d, docs.schema))


def _q_orc_roundtrip(spark, sf):
    """ORC roundtrip: the Hive-estate columnar format through Spark's
    native vectorized reader (stripe stats give parquet-style
    pushdown for free)."""
    import tempfile
    from stark_spark.sources.formats import read_orc, write_orc
    docs = D.load(spark, sf, "documents")
    d = tempfile.mkdtemp(prefix="stark_fmt_") + "/docs_orc"
    write_orc(docs, d)
    return _roundtrip_fidelity(read_orc(spark, d))


def _q_tpch_q3(spark, sf):
    """TPC-H Q3 shape (top unshipped orders by revenue): the classic
    fact⋈fact⋈dim shuffle benchmark. Date filters push to both scans,
    the segment-filtered customer side broadcasts, revenue rides the
    cents grid (round(x·100) BIGINT) so the aggregate is exact."""
    cust = (D.load(spark, sf, "customer")
             .where(F.col("c_mktsegment") == "BUILDING"))
    orders = (D.load(spark, sf, "orders")
               .where(F.col("o_orderdate")
                      < F.to_timestamp(F.lit("1998-01-01"))))
    li = (D.load(spark, sf, "lineitem")
           .where(F.col("l_shipdate")
                  > F.to_timestamp(F.lit("1998-01-01"))))
    rev_c = F.sum(F.round(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount"))
                          * 100).cast("bigint"))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("l_orderkey", "o_orderdate")
              .agg((rev_c / 100.0).alias("revenue"))
              .orderBy(F.desc("revenue"), F.col("l_orderkey"))
              .limit(10))


def _q_tpch_q18(spark, sf):
    """TPC-H Q18 shape (large-quantity orders): the group-then-
    semi-join pattern — lineitem pre-aggregates per order (map-side
    combined; quantities cast to BIGINT so the sum is exact), the
    HAVING survivor set joins back to orders + broadcast customer."""
    li = D.load(spark, sf, "lineitem")
    orders = D.load(spark, sf, "orders")
    cust = D.load(spark, sf, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum(F.col("l_quantity").cast("long"))
                   .alias("sum_qty"))
             .where(F.col("sum_qty") > 250))
    return (orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
                  .join(F.broadcast(cust),
                        F.col("o_custkey") == F.col("c_custkey"))
                  .select("c_name", "o_orderkey", "o_orderdate",
                          "o_totalprice", "sum_qty")
                  .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
                  .limit(100))


def _q_salted_join_events(spark, sf):
    """Skew-resilient join: events (5 event types = 5 maximally hot
    keys) salted 16 ways against the per-type dim frame — each hot
    key's rows spread over 16 tasks instead of one. The salt cancels
    out of the result, so the oracle is the PLAIN join; the closing
    aggregate keeps the gate output tiny while the join itself runs
    over every event row."""
    from stark_spark.operators.skew import salted_join
    ev = D.load(spark, sf, "events")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_n"))
    j = salted_join(ev, dim, ["event_type"], n_salts=16)
    return (j.groupBy("event_type", "type_n")
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    .alias("value_c")))


def _q_events_outliers(spark, sf):
    """Robust per-type outlier detection: |value − median| > 3·MAD on
    the exact cents grid — medians are order statistics, the flag is
    integer comparison, nothing floats. Two window passes over one
    per-type shuffle."""
    from stark_spark.operators.anomaly import robust_outliers
    ev = D.load(spark, sf, "events")
    return robust_outliers(ev, "event_type", "value", "event_id", k=3)


def _q_pagerank_handoff(spark, sf):
    """PageRank over the event-stream handoff graph (edge u→v when v
    emits the next event of the same type after u): 3 iterations of
    PURE-INTEGER mass — r div deg edge carry, (x·85) div 100 damping,
    dangling mass dm div N — so the iterative result is bit-exact
    against the oracle's unrolled CTE chain. One rank⋈edges shuffle
    + one combined sum per round, materialize caps lineage."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import pagerank
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return pagerank(edges, n_iter=3)


def _q_pmi_collocations(spark, sf):
    """Phrase mining: top-50 adjacent-word collocations by PMI with a
    min-count-5 support floor. One ln per surviving bigram over a
    ratio of exact counts, quantized floor(ln·1e6) — the doc_logprob
    libm posture; everything else is integer counting."""
    from stark_spark.operators.text import pmi_collocations
    docs = D.load(spark, sf, "documents")
    return pmi_collocations(docs, 50, min_count=5)


def _q_tfidf_top_terms(spark, sf):
    """Per-document keyword extraction: top-3 terms by tf·idf_q where
    idf_q is one quantized ln per TERM and the score is an exact
    BIGINT product — bit-stable ranking in any engine."""
    from stark_spark.operators.text import tfidf_top_terms
    docs = D.load(spark, sf, "documents")
    return tfidf_top_terms(docs, "doc_id", k_per_doc=3)


def _q_distinct_kmv(spark, sf):
    """KMV (bottom-k) distinct-count sketch over the corpus token
    vocabulary: 52-bit md5 grid, k=64 smallest distinct hashes,
    estimate = (k−1)·2^52 div kth — deterministic, mergeable, and
    the bottom-k plans as TakeOrderedAndProject (per-partition heaps,
    nothing corpus-sized to the driver)."""
    from stark_spark.operators.sketch import distinct_kmv
    from stark_spark.operators.text import tokens
    docs = D.load(spark, sf, "documents")
    tok = (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
               .where(F.col("token") != ""))
    return distinct_kmv(tok, "token", 64)


def _q_distinct_hll(spark, sf):
    """HyperLogLog distinct (l_orderkey,l_partkey) per returnflag PLUS
    the union-merged 'ALL' sketch — the merged row comes from
    register-wise max of the per-flag register tables (hll_merge), so
    the gate proves mergeability, not just the estimator.  All state
    is integer (md5 grid, bin()-based leading-zero rank, exact
    harmonic sum S = Σ2^(52−M_j)); the one float step α·m²·2^52/S is
    operand-order-mirrored in the oracle."""
    from stark_spark.operators.sketch import (hll_estimate, hll_merge,
                                              hll_registers)
    li = D.load(spark, sf, "lineitem")
    vals = li.select(
        F.col("l_returnflag").alias("scope"),
        F.concat_ws("|", F.col("l_orderkey"), F.col("l_partkey"))
         .alias("key"))
    regs = hll_registers(vals, "key", ("scope",))
    per = hll_estimate(regs, ("scope",))
    merged = hll_merge(regs.drop("scope"))
    all_row = (hll_estimate(merged)
               .withColumn("scope", F.lit("ALL")))
    return per.unionByName(all_row.select(*per.columns))


def _q_bitmap_overlap(spark, sf):
    """Bitmap-index audience overlap: members are (user, active-day)
    pairs encoded injectively as user_id·8192 + days-since-2020, packed
    into 64-bit words per event_type; pairwise intersection/union/
    Jaccard via bit_count(a AND b) summed over the word equi-join.
    The oracle verifies SEMANTICS (exact distinct intersections) —
    the packing itself is engine-internal, as in Druid/Pinot."""
    from stark_spark.operators.bitmap import bitmap_build, bitmap_overlap
    ev = D.load(spark, sf, "events")
    el = (F.col("user_id").cast("long") * 8192
          + F.datediff(F.col("ts").cast("date"),
                       F.to_date(F.lit("2020-01-01"))).cast("long"))
    bm = bitmap_build(ev, ["event_type"], el)
    return bitmap_overlap(bm, "event_type")


def _q_tpch_q21(spark, sf):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    semi+anti self-join sandwich on lineitem — EXISTS another supplier
    on the order, NOT EXISTS another supplier who also flagged — with
    the fact side filtered first and both dim joins broadcast.  The
    testdata lacks receipt/commit dates, so 'late' is l_returnflag='R'
    (structure-preserving adaptation; the reference plan shape —
    equi-key + residual-inequality semi/anti joins — is identical)."""
    li = D.load(spark, sf, "lineitem")
    orders = D.load(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    supp = D.load(spark, sf, "supplier")
    nation = D.load(spark, sf, "nation")
    l1 = (li.where(F.col("l_returnflag") == "R")
            .join(orders.select("o_orderkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .select("l_orderkey", "l_suppkey"))
    l2 = li.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = (li.where(F.col("l_returnflag") == "R")
            .select(F.col("l_orderkey").alias("k3"),
                    F.col("l_suppkey").alias("s3")))
    cand = (l1.join(l2, (F.col("k2") == F.col("l_orderkey"))
                    & (F.col("s2") != F.col("l_suppkey")), "leftsemi")
              .join(l3, (F.col("k3") == F.col("l_orderkey"))
                    & (F.col("s3") != F.col("l_suppkey")), "leftanti"))
    return (cand.join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                .join(F.broadcast(nation),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .where(F.col("n_name").isin("NATION_3", "NATION_7"))
                .groupBy("n_name", "s_name")
                .agg(F.count("*").alias("numwait")))


# ---------------------------------------------------------------------------
# PENDING gates (round-6 session-4): the driver window holds exactly
# 50 never-checked entries, so these six are staged here — fully
# implemented, oracle'd, and comparator-verified by
# tests/test_extras.py::test_pending_gates_oracle_parity — and get
# promoted into queries() at the round-7 rotation when slots free up.
# ---------------------------------------------------------------------------


def _pq_price_quantiles_hdr(spark, sf):
    """HDR (high-dynamic-range) quantile sketch over lineitem price
    cents: deterministic integer bucketing (exponent + 5 mantissa
    bits, ≤3.1% relative error), one bounded groupBy + one window
    over ≤2k buckets — the mergeable latency-histogram shape; nearest
    -rank p50/p90/p99/p99.99 read off the bucket CDF."""
    from stark_spark.operators.histogram import (hdr_histogram,
                                                 hdr_quantiles)
    li = D.load(spark, sf, "lineitem")
    cents = li.select(F.round(F.col("l_extendedprice") * 100)
                       .cast("long").alias("v"))
    return hdr_quantiles(hdr_histogram(cents, "v", 5),
                         [5000, 9000, 9900, 9999])


def _pq_parts_overlap_kmv(spark, sf):
    """KMV set algebra (Beyer et al. 2007): union/intersection/Jaccard
    estimates for the part sets shipped in 1996 vs 1997, from two
    bottom-128 sketches — the sketch-level set operations HLL cannot
    do.  All integers on the md5 grid; k-row frames only."""
    from stark_spark.operators.sketch import kmv_set_ops, kmv_sketch
    li = D.load(spark, sf, "lineitem")
    a = li.where(F.year("l_shipdate") == 1996).select("l_partkey")
    b = li.where(F.year("l_shipdate") == 1997).select("l_partkey")
    return kmv_set_ops(kmv_sketch(a, "l_partkey", 128),
                       kmv_sketch(b, "l_partkey", 128), 128)


def _pq_scd2_user_state(spark, sf):
    """Type-2 SCD build over the event feed: each user's event_type
    as a tracked attribute — consecutive identical states collapse
    (gaps-and-islands), versions carry half-open [valid_from,
    valid_to) with NULL-open current rows.  One key shuffle, two
    ordered windows, no joins."""
    from stark_spark.operators.merge import scd2_build
    ev = D.load(spark, sf, "events").select("user_id", "ts", "event_type")
    out = scd2_build(ev, ["user_id"], ts_col="ts", attrs=["event_type"])
    return out.withColumn("is_current", F.col("is_current").cast("int"))


def _pq_attribution_linear(spark, sf):
    """Linear multi-touch attribution: every purchase splits 10000
    credit basis points and its cents revenue equally over the user's
    touches since their previous purchase, remainder to the earliest
    touch — exact-integer conservation (Σ credit = 10000·purchases).
    One window pass + one co-partitioned equi-join on the user key."""
    from stark_spark.operators.funnel import attribution_linear
    ev = D.load(spark, sf, "events")
    return attribution_linear(ev)


_ZBITS = 8
_ZX_RANGE = (0.0, 2048.0)     # user_id grid
_ZY_RANGE = (0.0, 4096.0)     # days-since-2020 grid


def _pq_zorder_events(spark, sf):
    """Morton (Z-order) layout keys over (user_id, activity day) —
    the multi-dimensional file-clustering key behind OPTIMIZE ZORDER:
    declared ranges → 8-bit grids → bit interleave, all row-local
    integer ops (the float scale factor is a shared literal the
    oracle mirrors operand-for-operand)."""
    from stark_spark.functions.zorder import zorder_key
    ev = D.load(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"),
                     F.to_date(F.lit("2020-01-01")))
    z = zorder_key([F.col("user_id"), day], [_ZX_RANGE, _ZY_RANGE],
                   bits=_ZBITS)
    return ev.select("event_id", z.alias("zkey"))


def _pq_user_retention_km(spark, sf):
    """Kaplan-Meier retention: per-user observed lifetime in days
    (first→last event), churned = last activity >7 days before the
    corpus's final day, else right-censored.  Exact integer risk
    sets; survival in quantized log space (micro-nats, each factor
    rounded BEFORE the cumulative sum — the repo's standard
    quantized-ln pattern)."""
    from stark_spark.operators.survival import kaplan_meier
    ev = D.load(spark, sf, "events")
    per = (ev.groupBy("user_id")
             .agg(F.min(F.col("ts").cast("date")).alias("d0"),
                  F.max(F.col("ts").cast("date")).alias("d1")))
    mx = per.agg(F.max("d1").alias("dm"))
    obs = (per.crossJoin(F.broadcast(mx))
              .select(F.datediff("d1", "d0").cast("long")
                       .alias("duration"),
                      (F.datediff("dm", "d1") > 7).cast("long")
                       .alias("event")))
    return kaplan_meier(obs)


def _pq_event_sequences(spark, sf):
    """Consecutive event-type trigram mining (path analysis): two
    leads over one per-user sorted window, then a bounded
    (|types|³-key) map-side-combined count."""
    from stark_spark.operators.funnel import event_sequences
    return event_sequences(D.load(spark, sf, "events"), length=3)


def _pq_lineitem_corr(spark, sf):
    """Pearson correlation matrix over lineitem's numeric grid
    (quantity, whole-dollar price, discount %, tax %): every moment
    from ONE exact-integer aggregate pass; per-pair normalization is
    a single mirrored double chain (sqrt is IEEE-correctly-rounded,
    so it is engine-safe), quantized to 1e-6."""
    from stark_spark.operators.profile import correlation_matrix
    li = D.load(spark, sf, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("quantity"),
        F.round(F.col("l_extendedprice")).cast("long").alias("price_usd"),
        F.round(F.col("l_discount") * 100).cast("long")
         .alias("discount_pct"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax_pct"))
    return correlation_matrix(
        li, ["quantity", "price_usd", "discount_pct", "tax_pct"])


def _pq_drift_psi_value(spark, sf):
    """Population Stability Index of the event-value distribution,
    month-half vs month-half: exact bin counts, add-one smoothing,
    per-bin quantized-ln PSI terms — the drift monitor every
    production feature pipeline runs between batches."""
    from stark_spark.operators.drift import psi_drift
    ev = D.load(spark, sf, "events")
    return psi_drift(
        ev,
        split=F.dayofmonth("ts") <= 15,
        bin_col=F.least(F.expr(
            "CAST(round(value * 100) AS BIGINT) div 5000"), F.lit(9)))


def _pq_chi2_type_dow(spark, sf):
    """Chi-square contingency of event_type × weekday — categorical
    drift/independence screening; exact cell counts, expected and
    chi² terms quantized to 1e-6 from mirrored double chains."""
    from stark_spark.operators.drift import chi2_contingency
    ev = D.load(spark, sf, "events")
    return chi2_contingency(ev, row_key=F.col("event_type"),
                            col_key=F.dayofweek("ts").alias("dow"))


def _pq_postings_index(spark, sf):
    """Inverted-index build over the document corpus: (token, df,
    sorted posting list) — the materialized sparse-retrieval artifact;
    lists are bounded per token, never corpus-wide. The gate encodes
    the posting list as a space-joined string because the driver
    comparator cannot hash array cells; the operator itself
    (operators/text.py postings_index) returns the real array<long>."""
    from stark_spark.operators.text import postings_index
    idx = postings_index(D.load(spark, sf, "documents"))
    return idx.select(
        "token", "df",
        F.array_join(F.expr("transform(postings, x -> cast(x as string))"),
                     " ").alias("postings"))


def _pq_order_price_bins(spark, sf):
    """Per-priority equal-frequency binning of order totals
    (optimizer-statistics / feature-discretization shape): exact
    discrete boundary quantiles per group, value-based assignment
    (ties collapse deterministically), per-bin count/min/max."""
    from stark_spark.operators.sampling import equi_depth_bins
    o = D.load(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    return equi_depth_bins(o, "o_orderpriority", "cents", 10)


def _pq_ab_ztest_purchase(spark, sf):
    """Experiment readout: users hash-split (md5 parity — the
    deterministic assignment every experimentation platform uses)
    into two arms, converted = ever purchased; exact counts + the
    pooled two-proportion z quantized to 1e-6."""
    from stark_spark.operators.drift import two_proportion_ztest
    ev = D.load(spark, sf, "events")
    per = (ev.groupBy("user_id")
             .agg(F.max((F.col("event_type") == "purchase").cast("int"))
                   .alias("c")))
    arm = F.expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1),"
                 " 16, 10) AS INT) % 2")
    return two_proportion_ztest(per, arm=arm, converted=F.col("c"))


_ACF_LAGS = [1, 24, 168]


def _pq_hourly_acf(spark, sf):
    """Autocorrelation of the hourly event-count series at lags 1 h /
    1 day / 1 week — seasonality diagnostics; exact integer moments
    from per-lag co-partitioned self-joins, one mirrored double
    quotient per lag."""
    from stark_spark.operators.timeseries import autocorrelation
    ev = D.load(spark, sf, "events")
    hours = (ev.select(F.expr("unix_micros(ts) div 3600000000")
                        .alias("h"))
               .groupBy("h").agg(F.count("*").alias("x")))
    return autocorrelation(hours, value_col="x", order_col="h",
                           lags=_ACF_LAGS)


def _pq_forecast_snaive(spark, sf):
    """Seasonal-naive backtest (ŷ_t = y at the last same hour-of-week
    in train): per event_type hourly cents series split at Jan 24,
    exact integer MAE and floor-divided bias — the baseline every
    forecaster must beat, evaluated the way production backtests
    run."""
    from stark_spark.operators.timeseries import seasonal_naive_backtest
    ev = D.load(spark, sf, "events")
    return seasonal_naive_backtest(
        ev, key="event_type", ts="ts",
        value_expr=F.round(F.col("value") * 100),
        split_day="2024-01-24", period_hours=168)


def _pq_rfm_segments(spark, sf):
    """RFM segmentation of purchasers: exact per-user recency/
    frequency/monetary integers, equal-frequency 1-5 scores from
    exact discrete quantile boundaries (ties collapse value-
    deterministically), one row per occupied segment."""
    from stark_spark.operators.profile import rfm_segments
    return rfm_segments(D.load(spark, sf, "events"))


def _pq_data_expectations(spark, sf):
    """Declarative data-quality contract (validate-before-publish):
    orders + lineitem rules — uniqueness, ranges, regex, referential
    integrity — folded into one conditional-aggregate scan per table
    plus an anti-join per FK; output is the |rules|-row report a CI
    asserts on."""
    from stark_spark.operators.expectations import expectations_report
    orders = D.load(spark, sf, "orders")
    li = D.load(spark, sf, "lineitem")
    ro = expectations_report(orders, [
        {"kind": "unique", "cols": ["o_orderkey"]},
        {"kind": "range", "col": "o_totalprice", "lo": 0.0,
         "hi": 600000.0},
        {"kind": "regex", "col": "o_orderstatus", "pattern": "^[OFP]$"},
        {"kind": "not_null", "col": "o_custkey"},
    ])
    rl = expectations_report(li, [
        {"kind": "fk", "col": "l_orderkey", "ref": orders,
         "ref_col": "o_orderkey"},
        {"kind": "range", "col": "l_discount", "lo": 0.0, "hi": 0.05},
        {"kind": "regex", "col": "l_returnflag", "pattern": "^[ANR]$"},
    ])
    return (ro.select(F.concat(F.lit("orders."), F.col("rule"))
                       .alias("rule"), "n_checked", "n_violations")
              .unionByName(
                  rl.select(F.concat(F.lit("lineitem."), F.col("rule"))
                             .alias("rule"), "n_checked",
                            "n_violations")))


_CUBE_SETS = [("event_type", "day"), ("event_type",), ("day",), ()]


def _pq_cube_users_hll(spark, sf):
    """Sketch-partitioned distinct-user CUBE: HLL registers built
    ONCE over (event_type, day-of-month, user), then every grouping
    set re-aggregates them with a register-wise max — the rollup
    never touches raw data again.  Valid because HLL merge IS max;
    the oracle recomputes each level from scratch and must agree
    bit-for-bit."""
    from stark_spark.operators.sketch import hll_registers, hll_rollup
    ev = D.load(spark, sf, "events").select(
        "event_type", F.dayofmonth("ts").alias("day"), "user_id")
    regs = hll_registers(ev, "user_id", ("event_type", "day"))
    return hll_rollup(regs, ["event_type", "day"], _CUBE_SETS)


def _pq_scd2_pit_enrich(spark, sf):
    """Point-in-time dimension enrichment (the feature-store
    leakage-free join): every purchase gets the user's non-purchase
    state VALID AT purchase time — the as-of union-sweep over the
    SCD2 versions (version rows sort before equal-ts facts; facts
    before any version keep NULL, because using later state would
    leak the future)."""
    from stark_spark.operators.merge import point_in_time_join, scd2_build
    ev = D.load(spark, sf, "events")
    purch = (ev.where(F.col("event_type") == "purchase")
               .select("event_id", "user_id", "ts",
                       F.round(F.col("value") * 100).cast("long")
                        .alias("cents")))
    states = (ev.where(F.col("event_type") != "purchase")
                .select("user_id", "ts",
                        F.col("event_type").alias("state")))
    dim = scd2_build(states, ["user_id"], ts_col="ts", attrs=["state"])
    return point_in_time_join(purch, dim, keys=["user_id"],
                              fact_ts="ts", attrs=["state"])


def _pq_table_diff_orders(spark, sf):
    """Dataset reconciliation: orders vs a deterministically-mutated
    copy (every-7th price bump, every-13th priority rewrite, every-
    97th key dropped, sparse key-shifted inserts) — FULL OUTER key
    join, null-safe per-column change counts, one aggregate; the
    report a migration signs off on."""
    from stark_spark.operators.merge import table_diff
    orders = D.load(spark, sf, "orders")
    k = F.col("o_orderkey")
    other = (orders.where(k % 97 != 0)
             .withColumn("o_totalprice",
                         F.when(k % 7 == 0,
                                F.col("o_totalprice") + 10.0)
                          .otherwise(F.col("o_totalprice")))
             .withColumn("o_orderpriority",
                         F.when(k % 13 == 0, F.lit("CHANGED"))
                          .otherwise(F.col("o_orderpriority")))
             .unionByName(
                 orders.where(k % 1000 == 3)
                       .withColumn("o_orderkey", k + 50000000)))
    return table_diff(orders, other, ["o_orderkey"],
                      ["o_totalprice", "o_orderstatus",
                       "o_orderpriority"])


def _pq_basket_lift_pairs(spark, sf):
    """Market-basket association over (user, day) baskets of event
    types: exact pair/single/basket counts from one co-partitioned
    within-basket self-join, lift quantized to 1e-6 — 'frequently
    done together' on the bounded item vocabulary."""
    from stark_spark.operators.basket import basket_lift_pairs
    ev = D.load(spark, sf, "events")
    return basket_lift_pairs(
        ev, basket=[F.col("user_id"), F.col("ts").cast("date")],
        item=F.col("event_type"))


def _pq_value_percent_rank(spark, sf):
    """Rank-normalized feature scaling: per event_type, each event's
    cents value → (RANK−1)·10000 div (n−1) — the outlier-proof
    [0,10000] scaling; RANK gives ties identical scores with no tie
    column needed."""
    from stark_spark.operators.profile import percent_rank_features
    ev = D.load(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return percent_rank_features(ev, group_col="event_type",
                                 value_col="cents",
                                 id_cols=["event_id"])


def _pq_ols_price_qty(spark, sf):
    """Per-nation OLS price-vs-quantity fit (price elasticity shape):
    lineitem ⋈ broadcast supplier ⋈ broadcast nation, then the whole
    regression reduces to ONE map-side-combined moments aggregate per
    nation — exact BIGINT sufficient statistics, one mirrored DOUBLE
    normal-equation chain, q6-quantized slope/intercept/R²."""
    from stark_spark.operators.regress import ols_by_group
    li = D.load(spark, sf, "lineitem")
    sup = D.load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = D.load(spark, sf, "nation").select("n_nationkey", "n_name")
    pts = (li.join(F.broadcast(sup),
                   F.col("l_suppkey") == F.col("s_suppkey"))
             .join(F.broadcast(nat),
                   F.col("s_nationkey") == F.col("n_nationkey"))
             .select(F.col("n_name"),
                     F.round(F.col("l_quantity")).cast("long").alias("x"),
                     F.round(F.col("l_extendedprice")).cast("long")
                      .alias("y")))
    return ols_by_group(pts, group_cols=["n_name"], x_col="x", y_col="y")


_CMS_W, _CMS_D = 512, 4


def _pq_cms_user_counts(spark, sf):
    """Count-Min sketch point queries: build the w·d cell frame over
    the event stream's user_id (ONE map-side-combined groupBy onto
    ≤2048 cells — sketch size is independent of input volume), then
    estimate counts for a fixed key list via d broadcast cell probes.
    Joined against exact counts: est ≥ exact row-by-row (the CMS
    overestimate guarantee, visible in the gate output)."""
    from stark_spark.operators.sketch import cms_build, cms_estimate
    ev = D.load(spark, sf, "events")
    sketch = cms_build(ev, "user_id", width=_CMS_W, depth=_CMS_D)
    keys = spark.range(0, 25).select(F.col("id").alias("user_id"))
    est = cms_estimate(sketch, keys, "user_id",
                       width=_CMS_W, depth=_CMS_D)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    return (est.join(exact, "user_id", "left")
               .select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("est").cast("long").alias("est"),
                       F.coalesce(F.col("exact"), F.lit(0))
                        .cast("long").alias("exact")))


def _pq_jaccard_prefix_pairs(spark, sf):
    """Exact set-similarity self-join with prefix filtering: every
    doc pair whose whitespace-token Jaccard ≥ 0.95, found by joining
    only on each doc's rarest-token prefix (AllPairs/SSJoin) — the
    deterministic, no-miss complement to the MinHash-LSH path; the
    oracle brute-forces all pairs, so a PASS proves the prefix filter
    lost nothing."""
    from stark_spark.operators.dedup import jaccard_prefix_join
    docs = D.load(spark, sf, "documents")
    return jaccard_prefix_join(docs, "doc_id", threshold=0.95)


def _pq_bpe_merge_pairs(spark, sf):
    """BPE tokenizer-training merge round: top-50 adjacent character
    pairs weighted by word frequency — pair generation over the
    distinct-word VOCAB (never the corpus), the shape real BPE
    trainers run at corpus scale."""
    from stark_spark.operators.text import bpe_merge_pairs
    return bpe_merge_pairs(D.load(spark, sf, "documents"), 50)


def _pq_bfs_reach(spark, sf):
    """4-hop blast radius over the event handoff graph (same edge
    derivation as `pagerank_handoff`): multi-source frontier BFS from
    user_ids < 5 — each round joins only the new frontier against the
    edge list, so total work is the k-hop ball, not visited×deg."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import bfs_hops
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    sources = (ev.select(F.col("user_id").alias("node"))
                 .where(F.col("node") < 5).distinct())
    return bfs_hops(edges, sources, n_rounds=4)


def _pq_stream_cms_counts(spark, sf):
    """Streaming CMS == batch CMS == DuckDB: events replayed as
    file-source micro-batches through the streaming Count-Min cell
    aggregation (state ≤ w·d cells — bounded for any stream length),
    then the SAME broadcast point queries as `cms_user_counts` run on
    the final sink table. The oracle is the batch mirror, so a PASS
    proves streaming arrival order cannot move a single counter."""
    from stark_spark.operators.sketch import cms_estimate
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_cms)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=2)
    # state ≤ width·depth = 2048 CMS cells at ANY scale (the sketch
    # contract) — state partitions sized to the key space, not cores
    sketch = _stream_sink(stream_cms(s, "user_id", width=_CMS_W,
                                     depth=_CMS_D), "complete",
                          state_partitions=8)
    keys = spark.range(0, 25).select(F.col("id").alias("user_id"))
    est = cms_estimate(sketch, keys, "user_id",
                       width=_CMS_W, depth=_CMS_D)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    return (est.join(exact, "user_id", "left")
               .select(F.col("user_id").cast("long").alias("user_id"),
                       F.col("est").cast("long").alias("est"),
                       F.coalesce(F.col("exact"), F.lit(0))
                        .cast("long").alias("exact")))


def _pq_sssp_latency(spark, sf):
    """4-edge-bounded shortest handoff latency: the handoff graph
    weighted by the MINIMUM observed gap (µs) per edge, relaxed 4
    Bellman-Ford rounds from user_ids < 5 — min-latency reach, exact
    BIGINT distances mirrored by the oracle's unrolled CTE chain."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import sssp_bounded
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    hops = (ev.select(F.col("user_id").alias("src"),
                      F.lead("user_id").over(w).alias("dst"),
                      (F.lead(us).over(w) - us).alias("gap"))
              .where(F.col("dst").isNotNull()
                     & (F.col("src") != F.col("dst"))))
    edges = hops.groupBy("src", "dst").agg(F.min("gap").alias("w"))
    sources = (ev.select(F.col("user_id").alias("node"))
                 .where(F.col("node") < 5).distinct())
    return sssp_bounded(edges, sources, n_rounds=4)


def _pq_golden_record(spark, sf):
    """Survivorship merge per user: each attribute independently
    takes its latest NON-NULL observation (purchase cents vs non-
    purchase event type live on different rows) — ONE map-side-
    combined aggregate, no window, no self-join."""
    from stark_spark.operators.merge import golden_record
    ev = D.load(spark, sf, "events")
    src = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase",
               F.round(F.col("value") * 100).cast("long"))
         .alias("last_purchase_c"),
        F.when(F.col("event_type") != "purchase", F.col("event_type"))
         .alias("last_other_type"))
    return golden_record(src, ["user_id"], ts_col="ts",
                         tie_col="event_id",
                         attrs=["last_purchase_c", "last_other_type"])


_HDR_CUBE_DIMS = ["l_returnflag", "l_linestatus"]
_HDR_CUBE_SETS = [("l_returnflag", "l_linestatus"),
                  ("l_returnflag",), ()]
_HDR_CUBE_QS = [5000, 9900]


def _pq_latency_cube_hdr(spark, sf):
    """p50/p99 price cube from ONE histogram pass: grouped HDR cells
    over lineitem cents, re-aggregated (bucket-wise SUM — histogram
    merge is addition) for (flag,status) / (flag) / grand-total
    levels, nearest-rank picks off each group's bucket CDF — the
    percentile CUBE that is only computable at 100 TB because rollup
    levels reuse the sketch instead of re-scanning raw data."""
    from stark_spark.operators.histogram import hdr_grouped, hdr_rollup
    li = D.load(spark, sf, "lineitem")
    src = li.select(*_HDR_CUBE_DIMS,
                    F.round(F.col("l_extendedprice") * 100)
                     .cast("long").alias("cents"))
    cells = hdr_grouped(src, "cents", _HDR_CUBE_DIMS, 5)
    return hdr_rollup(cells, _HDR_CUBE_DIMS, _HDR_CUBE_SETS,
                      _HDR_CUBE_QS)


def _hdr_cube_sql() -> str:
    """DuckDB mirror of the HDR percentile cube: per grouping set the
    same bucket re-aggregation + per-group CDF + nearest-rank pick,
    bucket/bound arithmetic identical to histogram.hdr_bucket_sql."""
    bucket = ("CASE WHEN v < 32 THEN v "
              "ELSE (length(ltrim(bin(v), '0')) - 1 - 5) * 32 "
              "+ (v >> CAST(length(ltrim(bin(v), '0')) - 1 - 5 AS INT)) "
              "END")
    hi = ("CAST(CASE WHEN bucket < 32 THEN bucket "
          "ELSE ((bucket % 32 + 32) + 1) << CAST(bucket // 32 - 1 AS INT) "
          "END - CASE WHEN bucket < 32 THEN 0 ELSE 1 END AS BIGINT)")
    levels = []
    for gs in _HDR_CUBE_SETS:
        keep = [d for d in _HDR_CUBE_DIMS if d in gs]
        kl = (", ".join(keep) + ", ") if keep else ""
        pb = ("PARTITION BY " + ", ".join(keep)) if keep else ""
        dims_out = ", ".join(
            (f"CAST({d} AS VARCHAR) AS {d}" if d in gs
             else f"CAST(NULL AS VARCHAR) AS {d}")
            for d in _HDR_CUBE_DIMS)
        levels.append(f"""
SELECT {dims_out}, '{",".join(keep)}' AS level,
  CAST(q_bp AS INT) AS q_bp, CAST(n AS BIGINT) AS n, {hi} AS estimate
FROM (
  SELECT {kl}q_bp, min(bucket) AS bucket, min(n) AS n
  FROM (
    SELECT {kl}bucket, cnt,
      sum(cnt) OVER ({pb} ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      sum(cnt) OVER ({pb}) AS n
    FROM (SELECT {kl}bucket, CAST(sum(cnt) AS BIGINT) AS cnt
          FROM cells GROUP BY {kl}bucket)
  ) c, qs
  WHERE cum >= (q_bp * n + 9999) // 10000
  GROUP BY {kl}q_bp)""")
    return (f"""
WITH v AS (
  SELECT l_returnflag, l_linestatus,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), b AS (
  SELECT l_returnflag, l_linestatus, {bucket} AS bucket FROM v
), cells AS (
  SELECT l_returnflag, l_linestatus, bucket,
    CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2, 3
), qs(q_bp) AS (VALUES {", ".join(f"({q})" for q in _HDR_CUBE_QS)})"""
            + "\nUNION ALL".join(levels))


def _pq_doc_logprob_bigram(spark, sf):
    """Bigram-LM quality scoring (add-one smoothing): the next-order
    filter after the unigram `doc_logprob` — word-salad documents
    keep a fluent unigram score but crater here. Every ln() term
    quantized to BIGINT micro-nats before the per-doc sum."""
    from stark_spark.operators.text import doc_logprob_bigram
    return doc_logprob_bigram(D.load(spark, sf, "documents"), "doc_id")


def _pq_pivot_type_dow(spark, sf):
    """Explicit-values pivot (crosstab): event counts per type x
    day-of-week. The values list is DECLARED, which is the only
    scale-correct form — pivot without values runs an extra distinct
    job over the pivot column before planning. One map-side-combined
    aggregate; columns are plan-time constants."""
    ev = D.load(spark, sf, "events")
    dow = F.dayofweek(F.col("ts"))          # 1=Sunday .. 7=Saturday
    piv = (ev.select("event_type", dow.alias("dow"))
             .groupBy("event_type")
             .pivot("dow", list(range(1, 8)))
             .count())
    return piv.select(
        "event_type",
        *[F.coalesce(F.col(str(d)), F.lit(0)).cast("long")
           .alias(f"d{d}") for d in range(1, 8)])


def _pq_min_cost_supplier(spark, sf):
    """TPC-H Q2's decorrelation shape (no partsupp table in this
    dataset, so lineitem plays the offer table): per part the minimum
    price-cents offer, joined back to keep exactly the argmin rows —
    the correlated-subquery-to-aggregate-join rewrite every planner
    performs, expressed directly. Two shuffles on the part key (AQE
    broadcasts the per-part min frame when small)."""
    li = D.load(spark, sf, "lineitem")
    offers = li.select(
        "l_partkey", "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long")
         .alias("price_c"))
    mins = (offers.groupBy("l_partkey")
                  .agg(F.min("price_c").alias("min_c")))
    return (offers.join(mins, "l_partkey")
                  .where(F.col("price_c") == F.col("min_c"))
                  .select("l_partkey", "l_suppkey", "price_c")
                  .distinct())


def _pq_cumulative_reach(spark, sf):
    """Cumulative distinct-user reach per day WITHOUT a quadratic
    re-scan: distinct = each user counts once at their FIRST-SEEN day
    (one user-key aggregate), daily new-user counts, then a running
    sum over the bounded day frame — the DAU/reach curve shape."""
    ev = D.load(spark, sf, "events")
    first_seen = (ev.groupBy("user_id")
                    .agg(F.min(F.col("ts").cast("date")).alias("day")))
    daily = first_seen.groupBy("day").agg(F.count("*").alias("new_users"))
    from pyspark.sql import Window
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # global window over the BOUNDED day frame (#days rows) — safe by
    # construction, same rationale as hdr_quantiles
    return (daily.withColumn("cum_users",
                             F.sum("new_users").over(w))
                 .select(F.col("day").cast("string").alias("day"),
                         F.col("new_users").cast("long").alias("new_users"),
                         F.col("cum_users").cast("long").alias("cum_users")))


def _pq_stream_hll_users(spark, sf):
    """Streaming HLL == batch HLL == DuckDB: events replayed as
    micro-batches through the streaming register aggregation (state
    ≤ 256 rows — distinct counting with BOUNDED memory for unbounded
    key cardinality), estimate computed from the final sink table.
    Register max is associative, so arrival order cannot move a
    register; the oracle recomputes the full pipeline from raw rows."""
    from stark_spark.operators.sketch import hll_estimate
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_hll)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=2)
    # state ≤ 256 HLL registers at any scale — same bounded-key-space
    # sizing as stream_cms_counts
    regs = _stream_sink(stream_hll(s, "user_id"), "complete",
                        state_partitions=8)
    return hll_estimate(regs)


def _pq_ppr_handoff(spark, sf):
    """Personalized PageRank from the user_id<5 seed set over the
    handoff graph: teleport + dangling mass return ONLY to the seeds
    — pure-BIGINT proximity scores, bit-exact vs the unrolled CTE
    chain. Same per-round cost as global PageRank."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import personalized_pagerank
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    seeds = (ev.select(F.col("user_id").alias("node"))
               .where(F.col("node") < 5).distinct())
    return personalized_pagerank(edges, seeds, n_iter=3)


def _ppr_sql(n_iter: int = 3) -> str:
    """Unrolled personalized-PageRank CTE chain — the DuckDB mirror
    of `graph.personalized_pagerank` over the handoff graph with the
    user_id<5 seed set."""
    head = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
      lead(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS dst
    FROM events) t
  WHERE dst IS NOT NULL AND src <> dst
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), s AS (
  SELECT node FROM (
    SELECT DISTINCT user_id AS node FROM events WHERE user_id < 5) q
  JOIN nodes USING (node)
), ns AS (
  SELECT count(*) AS n FROM s
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), r0 AS (
  SELECT nodes.node,
    CASE WHEN s.node IS NOT NULL THEN 1000000000000 // ns.n
         ELSE 0 END AS r
  FROM nodes LEFT JOIN s USING (node), ns
)"""
    parts = [head]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f""", c{i} AS (
  SELECT e.dst AS node, sum(r{p}.r // deg.deg) AS m
  FROM e JOIN r{p} ON r{p}.node = e.src
         JOIN deg ON deg.src = e.src
  GROUP BY e.dst
), d{i} AS (
  SELECT coalesce(sum(r{p}.r), 0) AS dm
  FROM r{p} LEFT JOIN deg ON deg.src = r{p}.node
  WHERE deg.src IS NULL
), r{i} AS (
  SELECT nodes.node,
    CASE WHEN s.node IS NOT NULL THEN (150000000000 // ns.n)
         ELSE 0 END
    + ((coalesce(c{i}.m, 0)
        + CASE WHEN s.node IS NOT NULL THEN d{i}.dm // ns.n
               ELSE 0 END) * 85) // 100 AS r
  FROM nodes LEFT JOIN c{i} USING (node) LEFT JOIN s USING (node),
       ns, d{i}
)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_q FROM r{n_iter}""")
    return "".join(parts)


def _pq_schema_evolution_read(spark, sf):
    """Schema-evolution read: two parquet batches written under an
    EVOLVED schema (a column added later) read back with
    mergeSchema=true — old rows surface the new column as NULL, the
    exact contract a 100 TB lake depends on when producers upgrade.
    The oracle recomputes the union from the source table, so the
    whole write→merge-read path is hash-gated."""
    import tempfile
    ev = D.load(spark, sf, "events")
    base = ev.select("event_id",
                     F.round(F.col("value") * 100).cast("long")
                      .alias("cents"),
                     "event_type", "user_id")
    old = (base.where(F.col("user_id") % 2 == 0)
               .select("event_id", "cents"))
    new = (base.where(F.col("user_id") % 2 == 1)
               .select("event_id", "cents", "event_type"))
    d = tempfile.mkdtemp(prefix="stark_schevo_")
    old.write.parquet(d + "/v0")
    new.write.parquet(d + "/v1")
    out = (spark.read.option("mergeSchema", "true")
                .parquet(d + "/v0", d + "/v1"))
    return out.select("event_id", "cents", "event_type")


def _pq_funnel_steps_24h(spark, sf):
    """Horizon funnel (windowFunnel semantics): view→click→purchase
    counted only within 24 h of each user's FIRST view — the anchored
    conversion-deadline form; same one-shuffle greedy fold as
    `funnel_steps`, with the deadline carried in the fold state."""
    from stark_spark.operators.funnel import funnel
    ev = D.load(spark, sf, "events")
    return funnel(ev, ["view", "click", "purchase"],
                  window_us=24 * 3600 * 1_000_000)


def _pq_agg_delta_apply(spark, sf):
    """Incremental view maintenance: the per-(status,priority) order
    aggregate state from the pre-1996 facts, folded forward with the
    1996+ rows as a CDC delta (every 7th a delete of a pre-1996 row)
    — result must equal nothing-up-my-sleeve SQL over the same union,
    fact table untouched."""
    from stark_spark.operators.merge import agg_delta_apply
    o = D.load(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate"), F.col("o_orderkey"))
    base_rows = o.where(F.year("o_orderdate") < 1996)
    base = (base_rows.groupBy("o_orderstatus", "o_orderpriority")
                     .agg(F.count("*").alias("n"),
                          F.sum("cents").alias("sum_v")))
    inserts = (o.where(F.year("o_orderdate") >= 1996)
                .select("o_orderstatus", "o_orderpriority", "cents",
                        F.lit(1).alias("op")))
    deletes = (base_rows.where(F.col("o_orderkey") % 7 == 0)
                        .select("o_orderstatus", "o_orderpriority",
                                "cents", F.lit(-1).alias("op")))
    delta = inserts.unionByName(deletes)
    return agg_delta_apply(base, delta,
                           ["o_orderstatus", "o_orderpriority"],
                           value_col="cents", op_col="op")


def _pq_ann_recall_eval(spark, sf):
    """Retrieval measurement: IVF ANN scored against the exact
    brute-force ground truth — per-query recall@5 and MRR of the true
    top-1, q6 integers. Composes the two existing gated pipelines;
    the oracle composes their DuckDB mirrors, so the metric itself is
    hash-gated."""
    from stark_spark.operators.similarity import rank_eval
    qs = queries()
    retrieved = qs["ann_ivf_topk"](spark, sf)
    truth = qs["ann_brute_topk"](spark, sf)
    return rank_eval(retrieved, truth, k=5)


def _pq_ann_recall_pq(spark, sf):
    """Measured PQ compression/recall tradeoff (r6 verdict ask #6):
    ADC is lossy BY CONSTRUCTION (8-byte codes for 256-byte vectors),
    so its recall must be a number, not a claim — recall@5 + MRR of
    the PQ-ADC ranking vs the exact brute-force truth. PQ emits ADC
    scores, not ranks; the rank is derived with the operator's own
    tie order (adc_q asc, vec_id asc), mirrored in the oracle."""
    from pyspark.sql import Window
    from stark_spark.operators.similarity import rank_eval
    qs = queries()
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_q"),
                                           F.asc("vec_id"))
    retrieved = (qs["ann_pq_topk"](spark, sf)
                 .withColumn("rank", F.row_number().over(w)))
    truth = qs["ann_brute_topk"](spark, sf)
    return rank_eval(retrieved, truth, k=5)


def _pq_ann_recall_lsh(spark, sf):
    """Measured sign-LSH recall: the LSH gate retrieves with
    exclude_self=True (queries are corpus rows), so the fair truth is
    the brute top-k WITHOUT the query itself, re-ranked — otherwise
    every query would be docked for "missing" its own row."""
    from pyspark.sql import Window
    from stark_spark.operators.similarity import rank_eval
    qs = queries()
    retrieved = qs["ann_lsh_topk"](spark, sf)
    w = Window.partitionBy("q_id").orderBy("rank")
    truth = (qs["ann_brute_topk"](spark, sf)
             .where(F.col("vec_id") != F.col("q_id"))
             .withColumn("rank", F.row_number().over(w)))
    return rank_eval(retrieved, truth, k=5)


def _pq_sql_st_union(spark, sf):
    """Constructive polygon overlay on the SQL surface (`st_union` +
    `st_intersection`, the boundary-trace engine behind the MULTI*-
    buffer dissolve): per part, two equal integer-sided rectangles
    overlapping at a corner (offset dx < w, dy < h, so contact is
    transversal) — the union is an octagon and the intersection a
    rectangle, both with CLOSED FORMS the DuckDB oracle evaluates
    arithmetically:
      union:        area = 2*w*h - (w-dx)*(h-dy)
                    perimeter = 4*(w+h) - 2*((w-dx)+(h-dy))
      intersection: area = (w-dx)*(h-dy)
                    perimeter = 2*((w-dx)+(h-dy))
      difference:   area = w*h - (w-dx)*(h-dy)
                    perimeter = 2*(w+h)  (a corner cut preserves it)
    All coordinates are integer-valued doubles, so the shoelace sums
    are exact and the BIGINT casts lossless — the gate hash-checks
    constructor → overlay → measure end-to-end."""
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    k = F.col("p_partkey")
    p = (D.load(spark, sf, "part").where(k <= 200)
         .select("p_partkey",
                 (k * 37 % 50).cast("double").alias("x0"),
                 (k * 71 % 50).cast("double").alias("y0"),
                 (k % 5 + 4).cast("double").alias("w"),
                 (k % 7 + 3).cast("double").alias("h"),
                 (k % 3 + 1).cast("double").alias("dx"),
                 (k % 2 + 1).cast("double").alias("dy")))
    boxes = p.select(
        "p_partkey",
        st_box(F.col("x0"), F.col("y0"),
               F.col("x0") + F.col("w"),
               F.col("y0") + F.col("h")).alias("ga"),
        st_box(F.col("x0") + F.col("dx"), F.col("y0") + F.col("dy"),
               F.col("x0") + F.col("dx") + F.col("w"),
               F.col("y0") + F.col("dy") + F.col("h")).alias("gb"))
    boxes.createOrReplaceTempView("__sql_union_boxes")
    return spark.sql("""
        SELECT p_partkey,
          CAST(st_area(st_union(ga, gb)) AS BIGINT) AS uarea,
          CAST(st_length(st_union(ga, gb)) AS BIGINT) AS ulen,
          CAST(st_area(st_intersection(ga, gb)) AS BIGINT) AS iarea,
          CAST(st_length(st_intersection(ga, gb)) AS BIGINT) AS ilen,
          CAST(st_area(st_difference(ga, gb)) AS BIGINT) AS darea,
          CAST(st_length(st_difference(ga, gb)) AS BIGINT) AS dlen
        FROM __sql_union_boxes""")


def _pq_dissolve_zones(spark, sf):
    """GIS dissolve (per-group constructive union, one boundary-trace
    pass over ALL the group's rings): each of 20 zones is a staggered
    chain of 6x4 boxes (box r at x=4r, y=r%2 — consecutive boxes
    overlap a 2x3 rectangle, non-consecutive are disjoint, no
    collinear edges), so the dissolved area has the CLOSED FORM
    24*k - 6*(k-1) for a k-member chain and exactly one region. All
    coordinates integer-valued — lossless BIGINT casts."""
    from pyspark.sql import Window
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    from stark_spark.operators.overlay import dissolve
    register_sql_functions(spark)
    w = Window.partitionBy("g").orderBy("p_partkey")
    base = (D.load(spark, sf, "part").where(F.col("p_partkey") <= 400)
            .select((F.col("p_partkey") % 20).alias("g"), "p_partkey")
            .withColumn("r", F.row_number().over(w) - 1))
    r = F.col("r").cast("double")
    boxes = base.select(
        "g", st_box(4 * r, r % 2, 4 * r + 6, r % 2 + 4).alias("geom"))
    return (dissolve(boxes, "g")
            .select("g",
                    F.expr("CAST(st_area(geom) AS BIGINT)")
                     .alias("uarea"),
                    F.col("n_parts").cast("long").alias("n_parts")))


def _pq_sql_st_difference_annulus(spark, sf):
    """Holed-polygon constructive overlay on the SQL surface (r8: the
    boundary-trace kernel now REPRESENTS holes instead of refusing —
    the last semantic gap vs the reference's JTS surface,
    STObject.scala:209-233): per part, an outer w-square minus an
    inner v-square strictly inside it (v = w-2, offset 1) is an
    ANNULUS; the holed result then feeds back into the overlay:
      darea = w² - v²            dlen = 4w + 4v   (annulus)
      iarea = w² - v²   (holed ∩ plain: A ∩ annulus = annulus)
      island = v²       (A \\ annulus = the hole region, B's hole
                         returning as an island)
      uarea = w² - v² + 4  (holed ∪ disjoint 2-square, hole kept)
    All coordinates integer-valued doubles — shoelace sums exact,
    BIGINT casts lossless."""
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    k = F.col("p_partkey")
    x0, y0 = F.col("x0"), F.col("y0")
    w = F.col("w")
    p = (D.load(spark, sf, "part").where(k <= 200)
         .select("p_partkey",
                 (k * 37 % 50).cast("double").alias("x0"),
                 (k * 71 % 50).cast("double").alias("y0"),
                 (k % 5 + 4).cast("double").alias("w")))
    # every pairing below is transversal or strictly nested — shared/
    # collinear boundaries stay an honest kernel refusal by contract
    boxes = p.select(
        "p_partkey",
        st_box(x0, y0, x0 + w, y0 + w).alias("ga"),
        st_box(x0 + 1, y0 + 1, x0 + w - 1, y0 + w - 1).alias("gb"),
        st_box(x0 + w + 3, y0, x0 + w + 5, y0 + 2).alias("gc"),
        st_box(x0 - 1, y0 - 1, x0 + 2, y0 + 2).alias("gd"),
        st_box(x0 - 2, y0 - 2, x0 + w + 2, y0 + w + 2).alias("gbig"))
    boxes.createOrReplaceTempView("__sql_annulus_boxes")
    return spark.sql("""
        WITH ann AS (
          SELECT p_partkey, ga, gc, gd, gbig,
                 st_difference(ga, gb) AS annulus
          FROM __sql_annulus_boxes)
        SELECT p_partkey,
          CAST(st_area(annulus) AS BIGINT) AS darea,
          CAST(st_length(annulus) AS BIGINT) AS dlen,
          CAST(st_area(st_intersection(annulus, gd)) AS BIGINT)
            AS iarea,
          CAST(st_area(st_difference(gbig, annulus)) AS BIGINT)
            AS island,
          CAST(st_area(st_union(annulus, gc)) AS BIGINT) AS uarea,
          CAST(st_area(st_union(annulus, gd)) AS BIGINT) AS uarea2
        FROM ann""")


def _pq_ann_recall_lsh_mp(spark, sf):
    """Multi-probe LSH recall — the PRODUCTION config (r7 verdict ask
    #5): the staged 1-probe gate measured recall 0.12 (honest but not
    what users run); this gate measures n_probe=4 (each query also
    probes the 3 buckets reachable by flipping its lowest-|margin|
    signature bit sets). Truth = brute top-k without the query's own
    row, re-ranked (exclude_self retrieval)."""
    from pyspark.sql import Window
    from stark_spark.operators.similarity import ann_lsh_topk, rank_eval
    emb, q = _emb_queries(spark, sf, 5)
    retrieved = ann_lsh_topk(emb, q, 5, dim=64, n_bits=4, n_probe=4,
                             exclude_self=True)
    w = Window.partitionBy("q_id").orderBy("rank")
    truth = (queries()["ann_brute_topk"](spark, sf)
             .where(F.col("vec_id") != F.col("q_id"))
             .withColumn("rank", F.row_number().over(w)))
    return rank_eval(retrieved, truth, k=5)


def _lsh_mp_topk_sql(n_probe: int = 4, dim: int = 64, n_bits: int = 4,
                     k: int = 5, n_q: int = 5, src: str = "embeddings",
                     q_pred: str | None = None) -> str:
    """DuckDB mirror of the multi-probe LSH retrieval: identical
    hyperplane literals, margins = |dot| per bit computed with the
    same left fold, flip masks = every non-empty bit subset of
    Hamming weight ≤ 3 scored by ascending-bit margin sums (adding
    0.0 for absent bits is IEEE-exact, preserving the operator's
    left association), ties on (cost, mask) like the operator's
    array_sort on struct(m, k)."""
    from stark_spark.operators.similarity import lsh_hyperplanes
    dots = []
    for w in lsh_hyperplanes(dim, n_bits):
        arr = "[" + ", ".join(repr(float(x)) for x in w) + "]"
        dots.append(_DOT.format(a="embedding", b=arr))
    d_cols = ",\n    ".join(f"({d}) AS d{i}" for i, d in enumerate(dots))
    sig = " + ".join(f"(CASE WHEN d{i} >= 0 THEN {1 << i} ELSE 0 END)"
                     for i in range(n_bits))
    cost = " + ".join(
        f"(CASE WHEN m.mask & {1 << i} != 0 THEN abs(q.d{i}) "
        f"ELSE 0.0::DOUBLE END)" for i in range(n_bits))
    masks = ", ".join(f"({m})" for m in range(1, 2 ** n_bits)
                      if bin(m).count("1") <= 3)
    if q_pred is None:
        q_pred = f"vec_id < {n_q}"
    return f"""
WITH emb0 AS (
  SELECT vec_id, embedding, {d_cols}
  FROM {src}
), s AS (
  SELECT vec_id, embedding, {sig} AS sig FROM emb0
), masks(mask) AS (VALUES {masks}),
flips AS (
  SELECT q_id, mask FROM (
    SELECT q.vec_id AS q_id, m.mask,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY {cost}, m.mask) AS rn
    FROM emb0 q CROSS JOIN masks m WHERE q.{q_pred}
  ) t WHERE rn <= {n_probe - 1}
), probes AS (
  SELECT vec_id AS q_id, sig AS psig FROM s WHERE {q_pred}
  UNION
  SELECT f.q_id, xor(s.sig, f.mask) AS psig
  FROM flips f JOIN s ON s.vec_id = f.q_id
), cand AS (
  SELECT DISTINCT p.q_id, v.vec_id
  FROM probes p JOIN s v ON v.sig = p.psig
  WHERE v.vec_id <> p.q_id
)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT c.q_id, c.vec_id,
    {_cos('v.embedding', 'q.embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY c.q_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, c.vec_id)
      AS INT) AS rank
  FROM cand c
  JOIN {src} v ON v.vec_id = c.vec_id
  JOIN {src} q ON q.vec_id = c.q_id
) t WHERE rank <= {k}"""


def _rank_eval_sql(ret_cte: str, tru_cte: str, k: int) -> str:
    """DuckDB mirror of similarity.rank_eval over two composed CTEs
    (each must yield (q_id, vec_id, rank)) — the shared tail behind
    every ann_recall_* oracle."""
    return f"""
WITH ret AS ({ret_cte}),
tru AS ({tru_cte}),
tk AS (SELECT q_id, vec_id FROM tru WHERE rank <= {k}),
hits AS (
  SELECT ret.q_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ret JOIN tk USING (q_id, vec_id) GROUP BY ret.q_id
), top1 AS (SELECT q_id, vec_id FROM tru WHERE rank = 1),
pos AS (
  SELECT ret.q_id, min(ret.rank) AS p
  FROM ret JOIN top1 USING (q_id, vec_id) GROUP BY ret.q_id
), base AS (SELECT DISTINCT q_id FROM tru)
SELECT base.q_id,
  CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
  CAST(1000000 * coalesce(hits.n_hits, 0) // {k} AS BIGINT)
    AS recall_q6,
  CAST(CASE WHEN pos.p IS NULL THEN 0
       ELSE 1000000 // pos.p END AS BIGINT) AS mrr_q6
FROM base LEFT JOIN hits USING (q_id) LEFT JOIN pos USING (q_id)"""


def _pq_sql_st_buffer_erode(spark, sf):
    """Negative-distance buffer (morphological erosion, r8) + holed
    buffer on the SQL surface, all closed forms:
      earea/elen: rectangle w×h eroded by 1 → (w-2)(h-2) exactly
        (convex erosion = half-plane clipping, no arcs);
      evan: eroded by 2 → NULL iff min(w,h) <= 4 (full erosion maps
        to SQL NULL), else (w-4)(h-4); NULL encoded as -1;
      hshrink: the hole-erosion identity — st_area(buffer(shell,.5))
        − st_area(buffer(holed,.5)) = (v-1)² where v = w-2 is the
        hole side. EXACT in doubles: both results carry the
        IDENTICAL dilated shell ring (same code path, same input),
        so the float shell areas cancel and the difference is the
        eroded hole's integer-valued shoelace (±0.5 coords are
        binary-exact)."""
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    k = F.col("p_partkey")
    x0, y0 = F.col("x0"), F.col("y0")
    w, h = F.col("w"), F.col("h")
    p = (D.load(spark, sf, "part").where(k <= 200)
         .select("p_partkey",
                 (k * 37 % 50).cast("double").alias("x0"),
                 (k * 71 % 50).cast("double").alias("y0"),
                 (k % 5 + 4).cast("double").alias("w"),
                 (k % 7 + 3).cast("double").alias("h")))
    def _i(col):
        return col.cast("int").cast("string")

    # the holed square: shell w×w with a (w-2)×(w-2) hole at offset 1,
    # built via WKT so the gate also drives the holed constructor path
    hwkt = F.concat(
        F.lit("POLYGON (("),
        _i(x0), F.lit(" "), _i(y0), F.lit(", "),
        _i(x0 + w), F.lit(" "), _i(y0), F.lit(", "),
        _i(x0 + w), F.lit(" "), _i(y0 + w), F.lit(", "),
        _i(x0), F.lit(" "), _i(y0 + w), F.lit(", "),
        _i(x0), F.lit(" "), _i(y0), F.lit("), ("),
        _i(x0 + 1), F.lit(" "), _i(y0 + 1), F.lit(", "),
        _i(x0 + w - 1), F.lit(" "), _i(y0 + 1), F.lit(", "),
        _i(x0 + w - 1), F.lit(" "), _i(y0 + w - 1), F.lit(", "),
        _i(x0 + 1), F.lit(" "), _i(y0 + w - 1), F.lit(", "),
        _i(x0 + 1), F.lit(" "), _i(y0 + 1), F.lit("))"))
    boxes = p.select(
        "p_partkey",
        st_box(x0, y0, x0 + w, y0 + h).alias("gr"),
        st_box(x0, y0, x0 + w, y0 + w).alias("gs"),
        hwkt.alias("hwkt"))
    boxes.createOrReplaceTempView("__sql_erode_boxes")
    return spark.sql("""
        SELECT p_partkey,
          CAST(st_area(st_buffer(gr, -1.0)) AS BIGINT) AS earea,
          CAST(st_length(st_buffer(gr, -1.0)) AS BIGINT) AS elen,
          CAST(coalesce(st_area(st_buffer(gr, -2.0)), -1) AS BIGINT)
            AS evan,
          CAST(st_area(st_buffer(gs, 0.5))
               - st_area(st_buffer(st_geomfromwkt(hwkt), 0.5))
               AS BIGINT) AS hshrink
        FROM __sql_erode_boxes""")


def _pq_dissolve_adjacent_tiles(spark, sf):
    """r9 headline gate: dissolve of an EDGE-ADJACENT tiling — the
    canonical GIS dissolve input the kernel refused before r9 (the
    shared-edge degenerate contact, core/geometry.py `_trace_polys`;
    the reference inherits this from JTS overlay,
    STObject.scala:209-233). Each of 20 zones is a k×k tiling of
    UNIT squares (k = g%3 + 2) filled row-by-row with n =
    min(rows, k²) tiles, every interior edge shared by exactly two
    tiles and every interior vertex by four. Closed forms for the
    dissolved region (q = n div k, rem = n mod k):
      area = n;  ONE part;  perimeter = 2(k+q) when rem = 0,
      2n+2 when q = 0, else 2k + 2q + 2.
    Integer coordinates — shoelace sums exact, BIGINT lossless."""
    from pyspark.sql import Window
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    from stark_spark.operators.overlay import dissolve
    register_sql_functions(spark)
    w = Window.partitionBy("g").orderBy("p_partkey")
    base = (D.load(spark, sf, "part").where(F.col("p_partkey") <= 400)
            .select((F.col("p_partkey") % 20).alias("g"), "p_partkey")
            .withColumn("r", F.row_number().over(w) - 1)
            .withColumn("k", F.col("g") % 3 + 2)
            .where(F.col("r") < F.col("k") * F.col("k")))
    x = (F.col("r") % F.col("k")).cast("double")
    y = F.floor(F.col("r") / F.col("k")).cast("double")
    boxes = base.select("g", st_box(x, y, x + 1, y + 1).alias("geom"))
    return (dissolve(boxes, "g")
            .select(F.col("g").cast("long").alias("g"),
                    F.expr("CAST(st_area(geom) AS BIGINT)")
                     .alias("uarea"),
                    F.expr("CAST(st_length(geom) AS BIGINT)")
                     .alias("ulen"),
                    F.col("n_parts").cast("long").alias("n_parts")))


def _pq_sql_st_buffer_erode_split(spark, sf):
    """r9 erosion upgrade gate: a negative buffer past a region's
    WAIST returns the surviving parts as a MULTIPOLYGON instead of
    raising (core/geometry.py `_erode_ring` → `_winding_decompose`,
    matching JTS buffer(-d)). Per part row, a dumbbell of two w×h
    lobes joined by a 2-wide, 4-long neck (integer vertices, neck at
    c = h div 2, mouth walls ≥ 2 > d) eroded by d = 1.5:
      sarea  = floor area = 2(w−3)(h−3) — each lobe erodes to the
               exact rectangle (w−3)(h−3) plus a mouth bulge bounded
               by the reflex arcs; the two bulges sum to ≈0.5018 < 1,
               so the BIGINT truncation is the closed form;
      snrings = 2 (two shells, no holes — the split happened);
      svan   = erode by h (≥ both half-dims): full vanish → NULL,
               encoded -1."""
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    k = F.col("p_partkey")
    p = (D.load(spark, sf, "part").where(k <= 200)
         .select("p_partkey",
                 (k % 5 + 4).cast("int").alias("w"),
                 (k % 7 + 6).cast("int").alias("h")))
    p = p.withColumn("c", (F.col("h") / 2).cast("int")) \
         .withColumn("x2", F.col("w") + 4) \
         .withColumn("x3", F.col("w") * 2 + 4)
    wkt = F.format_string(
        "POLYGON ((0 0, %d 0, %d %d, %d %d, %d 0, %d 0, %d %d, "
        "%d %d, %d %d, %d %d, %d %d, 0 %d, 0 0))",
        F.col("w"), F.col("w"), F.col("c") - 1,
        F.col("x2"), F.col("c") - 1, F.col("x2"),
        F.col("x3"), F.col("x3"), F.col("h"),
        F.col("x2"), F.col("h"), F.col("x2"), F.col("c") + 1,
        F.col("w"), F.col("c") + 1, F.col("w"), F.col("h"),
        F.col("h"))
    p.select("p_partkey", wkt.alias("wkt"),
             F.col("h").cast("double").alias("hd")) \
     .createOrReplaceTempView("__sql_erode_split")
    return spark.sql("""
        SELECT p_partkey,
          CAST(st_area(st_buffer(st_geomfromwkt(wkt), -1.5))
               AS BIGINT) AS sarea,
          CAST(st_nrings(st_buffer(st_geomfromwkt(wkt), -1.5))
               AS BIGINT) AS snrings,
          CAST(coalesce(
               st_area(st_buffer(st_geomfromwkt(wkt), -hd)), -1)
               AS BIGINT) AS svan
        FROM __sql_erode_split""")


def _planted_corpus(spark, sf):
    """Deterministic planted-cluster corpus derived from the
    embeddings table (r8 verdict ask #5): 40 unit-normalized centers
    (vec_id < 40) × 12 members each; member vector = center +
    md5-seeded uniform noise in (−0.02, 0.02) per coordinate (the
    52-bit `sample_weighted` uniform — exact in BIGINT and DOUBLE in
    both engines), so the DuckDB mirror reproduces the corpus
    BIT-FOR-BIT. Intra-cluster spread ≈0.09 ≪ inter-center ≈√2: every
    true top-10 lies inside the query's cluster, so the gate carries
    the recall number users would see on clustered data (the pytest
    planted-cluster floors, now driver-visible)."""
    base = (D.load(spark, sf, "embeddings")
            .where(F.col("vec_id") < 40)
            .select(F.col("vec_id").alias("cid"), "embedding")
            .withColumn("nrm", F.expr(
                "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), "
                "(acc, x) -> acc + x * x))")))
    mem = base.crossJoin(
        spark.range(12).select(F.col("id").alias("j")))
    vec = F.expr(
        "transform(sequence(0, 63), i -> "
        "element_at(embedding, i + 1) / nrm "
        "+ ((CAST(conv(substring(md5(concat('pl', "
        "CAST(pvid AS STRING), '_', CAST(i AS STRING))), 1, 13), "
        "16, 10) AS DOUBLE) + CAST(0.5 AS DOUBLE)) "
        "/ CAST(4503599627370496 AS DOUBLE)) * CAST(0.04 AS DOUBLE) "
        "- CAST(0.02 AS DOUBLE))")
    return (mem.withColumn("pvid",
                           (F.col("cid") * 12 + F.col("j"))
                           .cast("long"))
               .select(F.col("pvid").alias("vec_id"),
                       vec.alias("embedding")))


def _pq_ann_recall_planted(spark, sf):
    """Planted-cluster ANN recall as a DRIVER-VISIBLE gate (r8
    verdict ask #5): multi-probe LSH (n_bits=4, n_probe=4 — the
    production config) retrieving top-10 over the deterministic
    planted corpus (`_planted_corpus`), truth = exact brute cosine
    top-10 without the query's own row. On clustered data the recall
    is the number users would see (≫ the honest 0.36 the same config
    scores on the near-uniform raw embeddings)."""
    from pyspark.sql import Window
    from stark_spark.operators.similarity import (ann_lsh_topk,
                                                  brute_force_topk,
                                                  rank_eval)
    emb = _planted_corpus(spark, sf)
    q = (emb.where(F.col("vec_id") % 12 == 0)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    retrieved = ann_lsh_topk(emb, q, 10, dim=64, n_bits=4, n_probe=4,
                             exclude_self=True)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    truth = (brute_force_topk(emb, q, 11, score="fold")
             .where(F.col("vec_id") != F.col("q_id"))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= 10))
    return rank_eval(retrieved, truth, k=10)


def _planted_sql() -> str:
    """DuckDB mirror of `_planted_corpus` — identical fold/noise
    arithmetic (decimal literals cast to DOUBLE, 52-bit md5 uniform,
    left-fold self-dot for the center norm)."""
    self_dot = _DOT.format(a="embedding", b="embedding")
    noise_md5 = ("md5('pl' || CAST(c.cid * 12 + j.j AS VARCHAR) "
                 "|| '_' || CAST(i AS VARCHAR))")
    noise = (f"((CAST(({_hex13_sql(noise_md5)}) AS DOUBLE) "
             "+ CAST(0.5 AS DOUBLE)) "
             "/ CAST(4503599627370496 AS DOUBLE)) "
             "* CAST(0.04 AS DOUBLE) - CAST(0.02 AS DOUBLE)")
    return f"""
  SELECT c.cid * 12 + j.j AS vec_id,
    list_transform(generate_series(0, 63), i ->
      embedding[i + 1] / nrm + {noise}) AS embedding
  FROM (SELECT vec_id AS cid, embedding, sqrt({self_dot}) AS nrm
        FROM embeddings WHERE vec_id < 40) c
  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) j"""


def _planted_knn_corpus(spark, sf):
    """CORPUS-LINEAR planted-cluster corpus for the ANN-JOIN family
    (r10 verdict ask #4): every 48th embeddings row is a cluster
    center (unit-normalized) with 12 members = center + md5-seeded
    uniform noise in (−0.02, 0.02) per coordinate — the same exact
    52-bit arithmetic as `_planted_corpus`, salt 'pk', so the DuckDB
    mirror reproduces it BIT-FOR-BIT. Member id = cid·12 + j, so
    ``vec_id div 12`` recovers the true cluster — the PLANTED TRUTH
    that lets the oracle skip the O(n·C) argmax: intra-cluster cos
    ≈ 0.999 vs inter-center ≲ 0.8, so both engines' nearest-centroid
    assignment provably equals the construction. Unlike
    `_planted_corpus` (fixed 40 centers) this scales WITH the table:
    n/48 centers × 12 members — the oracle stays O(n·12) at any
    replica count."""
    base = (D.load(spark, sf, "embeddings")
            .where(F.col("vec_id") % 48 == 0)
            .select(F.col("vec_id").alias("cid"), "embedding")
            # products in DOUBLE: the column is array<float>, and a
            # float32 x*x differs from the mirror's ::DOUBLE product
            # at ~1e-9 — visible in the hashed cos (unlike the
            # rank-quantized recall gate, which tolerates it)
            .withColumn("nrm", F.expr(
                "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), "
                "(acc, x) -> acc + CAST(x AS DOUBLE) "
                "* CAST(x AS DOUBLE)))")))
    mem = base.crossJoin(
        spark.range(12).select(F.col("id").alias("j")))
    vec = F.expr(
        "transform(sequence(0, 63), i -> "
        "element_at(embedding, i + 1) / nrm "
        "+ ((CAST(conv(substring(md5(concat('pk', "
        "CAST(pvid AS STRING), '_', CAST(i AS STRING))), 1, 13), "
        "16, 10) AS DOUBLE) + CAST(0.5 AS DOUBLE)) "
        "/ CAST(4503599627370496 AS DOUBLE)) * CAST(0.04 AS DOUBLE) "
        "- CAST(0.02 AS DOUBLE))")
    return (mem.withColumn("pvid",
                           (F.col("cid") * 12 + F.col("j"))
                           .cast("long"))
               .select(F.col("pvid").alias("vec_id"),
                       vec.alias("embedding")))


def _pq_ann_knn_join_planted(spark, sf):
    """`ann_knn_join` with a LINEAR oracle (r10 verdict ask #4 — the
    last proof gap: the raw-corpus knn-join oracle is O(n²/buckets),
    untestable at 10x). On the planted corpus the true bucket of
    every member is known by construction (`vec_id div 12`), so the
    mirror joins ONLY within clusters — O(n·12) at any scale — and
    any assignment/probe/rank deviation in either engine surfaces as
    a hash mismatch. n_probe=1 keeps the probe set planted-known too.
    Production mix under test: BLAS assignment + probes
    (``assign_score="gemm"`` — safe here because planted margins,
    ~0.999 vs ≲0.8, dwarf BLAS-vs-fold ulp noise) with fold candidate
    scoring (bit-identical to DuckDB list_reduce, so `cos` stays in
    the hash). Rank equality vs `brute_force_topk` on the same corpus
    is pytest-pinned (`test_analytics.py`)."""
    from stark_spark.operators.similarity import ann_knn_join
    emb = _planted_knn_corpus(spark, sf)
    cent = (D.load(spark, sf, "embeddings")
            .where(F.col("vec_id") % 48 == 0)
            .select(F.col("vec_id").cast("long").alias("c_id"),
                    F.col("embedding").alias("c_embedding")))
    return ann_knn_join(emb, cent, 3, n_probe=1, score="fold",
                        assign_score="gemm")


# Extended-Hamming(32,26) parity masks, systematic form: data columns
# = the 26 non-power-of-2 values in 1..31, parity p_k covers data
# bits whose H-column has bit k set, p5 = overall parity. Minimum
# distance 4 PROVEN exhaustively (no 1..3 columns of the extended
# parity-check matrix sum to zero — checked over all C(32,1..3)
# combos at generation time; construction script in the docstring of
# `_pq_simhash_pairs_planted`).
_HAM32_MASKS = (0x2AAAD5B, 0x333366D, 0x3C3C78E, 0x3FC07F0, 0x3FFF800)
# 12 member masks, pairwise XOR popcounts mixing 1..8 (32 of the 66
# in-cluster pairs land at hamming <= 3 — a mixed, non-degenerate
# keep set, the planted-threshold lesson).
_HAM_MEMBER_MASKS = (0x0000, 0x0001, 0x0003, 0x0007, 0x000F, 0x0010,
                     0x0030, 0x0070, 0x00F0, 0x0100, 0x0300, 0x0F00)


def _pq_simhash_pairs_planted(spark, sf):
    """`dedup.hamming_near_pairs` (the REAL pigeonhole banding engine
    behind simhash/image/audio/video near-dup) on a corpus planted
    directly in FINGERPRINT space — the r11 verdict's "ann planted
    recipe applied to hamming space", closing the simhash stage's
    missing linear mirror (the text-space pair gates stay sf0.01-only
    because the homogeneous synthetic vocabulary mega-buckets the
    bands; planting fingerprints sidesteps text entirely).

    Construction (all integer arithmetic, both engines agree exactly):
    member ``vec_id`` of cluster ``c = vec_id div 12`` gets

      fp = code32(c) << 32  |  (g(c) XOR member_mask[vec_id % 12])

    * ``code32`` = extended-Hamming(32,26,d=4) codeword of the
      spread message ``(c·2654435761) mod 2²⁶`` — injective (odd
      multiplier), and d ≥ 4 GUARANTEES no cross-cluster pair can sit
      at hamming ≤ 3 no matter what the low bits do: the oracle may
      therefore join WITHIN clusters only, O(n·12) at any scale.
    * ``g(c)`` = 32-bit golden-ratio spread — every 16-bit band sees
      ~corpus-cardinality bucket diversity, so the banded self-join
      stays linear AND the band skew guard stays quiet (no synthetic
      mega-buckets; bucket sizes ≈ n/2¹⁶).
    * in-cluster pair distance = popcount(mask_a XOR mask_b) — a
      CLOSED FORM the mirror computes from the 12-mask literal table;
      neither engine's fingerprints appear in the oracle at all.

    The gate runs the production path end-to-end: explode-banding,
    band equi-join, exact bit_count verify, skew probe. Output
    (a, b, hamming), 32 pairs per full 12-member cluster.
    """
    from stark_spark.operators.dedup import hamming_near_pairs
    fp = _planted_hamming_fp(spark, sf)
    return (hamming_near_pairs(fp, "vec_id", fp_col="fp",
                               max_hamming=3)
            .select(F.col("a").cast("long").alias("a"),
                    F.col("b").cast("long").alias("b"),
                    F.col("hamming").cast("long").alias("hamming")))


def _with_planted_fp(df, id_col: str, *, mask_xor: int = 0):
    """Append the planted hamming-space fingerprint column ``fp``
    keyed on BIGINT ``id_col`` — the `_pq_simhash_pairs_planted`
    construction generalized to any keyed frame (r12 verdict #4:
    thread the planted corpus through composed pipelines): cluster
    ``c = id div 12`` contributes the extended-Hamming(32,26,d=4)
    codeword of the spread message in the HIGH 32 bits (cross-cluster
    hamming ≥ 4 PROVEN — no cross-cluster near pair can exist) and
    golden-spread ``g(c)`` XOR ``member_mask[id % 12]`` in the LOW 32
    (in-cluster pair distance = popcount(mask_a XOR mask_b), a
    closed form over the 12-mask literal table; band-bucket diversity
    ≈ corpus cardinality, so banding stays linear and the skew guard
    stays quiet). All other columns pass through untouched."""
    parity = " | ".join(
        f"shiftleft(bit_count(_msg & {m}) % 2, {k})"
        for k, m in enumerate(_HAM32_MASKS))
    return (df.withColumn("_c", F.expr(f"CAST({id_col} AS BIGINT)"
                                       " div 12"))
              .withColumn("_msg",
                          F.expr("(_c * 2654435761) & 67108863"))
              .withColumn("_p", F.expr(f"CAST({parity} AS BIGINT)"))
              .withColumn("_p", F.expr(
                  "_p | shiftleft(CAST((bit_count(_msg) +"
                  " bit_count(_p)) % 2 AS BIGINT), 5)"))
              .withColumn("_code", F.expr("shiftleft(_msg, 6) | _p"))
              .withColumn("_g",
                          F.expr("(_c * 2654435769) & 4294967295"))
              .withColumn("_mask", F.element_at(
                  F.array(*[F.lit(m ^ mask_xor)
                            for m in _HAM_MEMBER_MASKS]),
                  F.expr(f"CAST({id_col} % 12 AS INT)") + 1)
                  .cast("long"))
              .withColumn("fp",
                          F.expr("shiftleft(_code, 32) | (_g ^ _mask)"))
              .drop("_c", "_msg", "_p", "_code", "_g", "_mask"))


def _planted_hamming_fp(spark, sf, *, mask_xor: int = 0,
                        id_offset: int = 0):
    """The planted hamming-space corpus as a checkpointed
    (vec_id, fp) frame — see `_pq_simhash_pairs_planted` for the
    construction and the distance-4 proof. ``mask_xor`` perturbs the
    member masks (a re-crawl batch: XOR with a bit the base masks
    never use shifts every in-cluster distance by exactly +1);
    ``id_offset`` relabels the keys so batch and index ids are
    disjoint."""
    base = D.load(spark, sf, "embeddings").select(
        F.col("vec_id").cast("long").alias("v0"))
    return materialize(
        _with_planted_fp(base, "v0", mask_xor=mask_xor)
        .select((F.col("v0") + F.lit(id_offset)).alias("vec_id"),
                "fp"))


def _pq_incremental_ingest_planted(spark, sf):
    """`dedup.hamming_near_join` — the INCREMENTAL-INGEST near-dup
    join (new crawl batch × persisted fingerprint index) on the
    planted hamming corpus. The batch is the same planted corpus
    re-keyed (+10M) with every member mask XOR 0x1000 — a bit the
    base masks never touch, so each batch↔index in-cluster distance
    is EXACTLY the base pair distance + 1 (the diagonal becomes the
    classic "same doc, one-bit re-crawl edit" at hamming 1), and the
    extended-Hamming high bits still make cross-cluster pairs
    impossible. Truth is therefore the 12×12 mask cross table with
    popcount+1 ≤ 3 — closed form, O(n·12), no fingerprints in the
    mirror. Exercises the production cross-frame banding join
    end-to-end (both sides exploded, band equi-join, exact
    bit_count verify)."""
    from stark_spark.operators.dedup import hamming_near_join
    index = _planted_hamming_fp(spark, sf)
    batch = _planted_hamming_fp(spark, sf, mask_xor=0x1000,
                                id_offset=10_000_000)
    return (hamming_near_join(batch, index, "vec_id", fp_col="fp",
                              max_hamming=3)
            .select(F.col("new_key").cast("long").alias("new_key"),
                    F.col("index_key").cast("long").alias("index_key"),
                    F.col("hamming").cast("long").alias("hamming")))


def _pq_duplicated_spans(spark, sf):
    """`dedup.duplicated_spans` — maximal duplicated-span extraction
    (span-granular substring dedup, Lee et al. 2021): corpus-
    duplicated 13-grams island-merged into exact (start, end) token
    offsets per document. Linear: explode → hash agg → gram join →
    per-DOC window; output is the span list a redaction/rewrite step
    consumes. Whitespace tokenization identical in both engines."""
    from stark_spark.operators.dedup import duplicated_spans
    docs = D.load(spark, sf, "documents").select("doc_id", "text")
    return duplicated_spans(docs, "doc_id", n=13, min_docs=2)


def _duplicated_spans_sql() -> str:
    n = 13
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(
           toks[CAST(u.i + 1 AS BIGINT):CAST(u.i + {n} AS BIGINT)],
           ' ') AS gram
  FROM t, UNNEST(range(greatest(len(toks) - {n - 1}, 0))) AS u(i)
), dup AS (
  SELECT gram FROM g GROUP BY gram
  HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              > {n} THEN 1 ELSE 0 END AS brk
  FROM hits
), grp AS (
  SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gg
  FROM isl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {n} AS BIGINT) AS span_end,
       CAST(max(pos) + {n} - min(pos) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gg"""


def _pq_contaminated_spans(spark, sf):
    """`dedup.contaminated_spans` — SPAN-level decontamination: exact
    token offsets of every maximal train region covered by an
    eval-set 13-gram (excise the leaked benchmark passage, keep the
    document), vs the counting-only `contamination_ngrams`. Eval gram
    set broadcast; train side = one explode + join + per-DOC window."""
    from stark_spark.operators.dedup import contaminated_spans
    docs = D.load(spark, sf, "documents").select("doc_id", "text")
    return contaminated_spans(docs, _eval_corpus(spark, sf),
                              "doc_id", n=13)


def _pq_stream_ingest_dedup(spark, sf):
    """Near-dup detection at INGEST (streaming.stream_ingest_dedup):
    the mask_xor=0x1000 re-crawl batch replayed as a file stream,
    banded statelessly per micro-batch, stream-static joined against
    the banded planted index, exact bit_count verify, band
    multiplicity collapsed by the query's single aggregation. The
    final table must equal the BATCH `hamming_near_join` rows exactly
    — so the mirror IS `_incremental_ingest_planted_sql()`'s closed
    form (12×12 mask cross table, popcount+1 ≤ 3). Completes the
    dedup matrix: {exact, banded-hamming} × {batch, incremental,
    stream}."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_ingest_dedup)
    index = _planted_hamming_fp(spark, sf)
    batch = _planted_hamming_fp(spark, sf, mask_xor=0x1000,
                                id_offset=10_000_000)
    d = _replay_dir(batch, sf, "ingest_batch")
    s = read_event_stream(spark, d, batch.schema, max_files=2)
    out = stream_ingest_dedup(s, index, key="vec_id", fp_col="fp",
                              max_hamming=3)
    # group state = matched (new_key, index_key) pairs — near-dup-
    # scale, not corpus-scale; bounded-key-space state sizing
    t = _stream_sink(out, "complete", state_partitions=8)
    return t.select(F.col("new_key").cast("long").alias("new_key"),
                    F.col("index_key").cast("long").alias("index_key"),
                    F.col("hamming").cast("long").alias("hamming"))


def _pq_kn_discounts(spark, sf):
    """Kneser–Ney bigram smoothing statistics (text.kn_discounts):
    corpus absolute discount D = n1/(n1+2·n2) and per-context
    backoff mass λ(w1) = D·|distinct continuations|/total, both as
    single DECIMAL(38) integral divisions on the ppm grid (DuckDB
    HUGEINT // verified identical). One explode + one (w1,w2) hash
    agg + a broadcast 1-row count-of-counts."""
    from stark_spark.operators.text import kn_discounts
    docs = D.load(spark, sf, "documents").select("text")
    return kn_discounts(docs, min_total=1)


def _kn_discounts_sql() -> str:
    return """
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT toks[CAST(u.i + 1 AS BIGINT)] AS w1,
         toks[CAST(u.i + 2 AS BIGINT)] AS w2
  FROM t, UNNEST(range(greatest(len(toks) - 1, 0))) AS u(i)
), c AS (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
), gstats AS (
  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
           AS n1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT)
           AS n2
  FROM c
), ctx AS (
  SELECT w1, CAST(sum(c) AS HUGEINT) AS total,
         CAST(count(*) AS HUGEINT) AS n_distinct
  FROM c GROUP BY w1 HAVING sum(c) >= 1
)
SELECT w1, CAST(total AS BIGINT) AS total,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(CAST(1000000 AS HUGEINT) * n1 // (n1 + 2 * n2)
                 AS BIGINT) END AS d_ppm,
  CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(CAST(1000000 AS HUGEINT) * n1 * n_distinct
                 // ((n1 + 2 * n2) * total) AS BIGINT)
  END AS lambda_ppm
FROM ctx, gstats"""


def _contaminated_spans_sql() -> str:
    n = 13
    return f"""
WITH ev AS (
  SELECT CASE WHEN doc_id % 20 = 0 THEN text
              ELSE text || ' tail' END AS text
  FROM documents WHERE doc_id % 10 = 0
), et AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM ev
), eg AS (
  SELECT DISTINCT array_to_string(
    toks[CAST(u.i + 1 AS BIGINT):CAST(u.i + {n} AS BIGINT)], ' ')
    AS gram
  FROM et, UNNEST(range(greatest(len(toks) - {n - 1}, 0))) AS u(i)
), t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         array_to_string(
           toks[CAST(u.i + 1 AS BIGINT):CAST(u.i + {n} AS BIGINT)],
           ' ') AS gram
  FROM t, UNNEST(range(greatest(len(toks) - {n - 1}, 0))) AS u(i)
), hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN eg USING (gram)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              > {n} THEN 1 ELSE 0 END AS brk
  FROM hits
), grp AS (
  SELECT doc_id, pos,
    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gg
  FROM isl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {n} AS BIGINT) AS span_end,
       CAST(max(pos) + {n} - min(pos) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, gg"""


def _incremental_ingest_planted_sql() -> str:
    """Closed-form mirror of `_pq_incremental_ingest_planted`: every
    (batch, index) in-cluster combo — 12×12 including the diagonal —
    at distance popcount(mask_a XOR 0x1000 XOR mask_b) ≤ 3; cross-
    cluster impossible (distance-4 code, proven)."""
    vals = ", ".join(f"({j}, {m})"
                     for j, m in enumerate(_HAM_MEMBER_MASKS))
    return f"""
WITH mk AS (
  SELECT * FROM (VALUES {vals}) t(j, mask)
), m AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(vec_id AS BIGINT) // 12 AS c,
         CAST(vec_id AS BIGINT) % 12 AS j
  FROM embeddings
), pr AS (
  SELECT a.vec_id + 10000000 AS new_key, b.vec_id AS index_key,
         bit_count(xor(CAST(xor(ma.mask, 4096) AS BIGINT),
                       CAST(mb.mask AS BIGINT))) AS h
  FROM m a JOIN m b ON a.c = b.c
  JOIN mk ma ON a.j = ma.j JOIN mk mb ON b.j = mb.j
)
SELECT CAST(new_key AS BIGINT) AS new_key,
       CAST(index_key AS BIGINT) AS index_key,
       CAST(h AS BIGINT) AS hamming
FROM pr WHERE h <= 3"""


def _simhash_pairs_planted_sql() -> str:
    """Closed-form mirror of `_pq_simhash_pairs_planted`: d ≥ 4
    cross-cluster (proven code property) means the truth is exactly
    the within-cluster pairs whose member-mask XOR popcount is ≤ 3 —
    O(n·12), no fingerprint arithmetic at all."""
    vals = ", ".join(f"({j}, {m})"
                     for j, m in enumerate(_HAM_MEMBER_MASKS))
    return f"""
WITH mk AS (
  SELECT * FROM (VALUES {vals}) t(j, mask)
), m AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(vec_id AS BIGINT) // 12 AS c,
         CAST(vec_id AS BIGINT) % 12 AS j
  FROM embeddings
), pr AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         bit_count(xor(CAST(ma.mask AS BIGINT),
                       CAST(mb.mask AS BIGINT))) AS h
  FROM m a JOIN m b ON a.c = b.c AND a.vec_id < b.vec_id
  JOIN mk ma ON a.j = ma.j JOIN mk mb ON b.j = mb.j
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(h AS BIGINT) AS hamming
FROM pr WHERE h <= 3"""


def _planted_knn_sql() -> str:
    """DuckDB mirror of `_planted_knn_corpus` — identical fold/noise
    arithmetic to `_planted_sql`, salt 'pk', centers every 48th row."""
    self_dot = _DOT.format(a="embedding", b="embedding")
    noise_md5 = ("md5('pk' || CAST(c.cid * 12 + j.j AS VARCHAR) "
                 "|| '_' || CAST(i AS VARCHAR))")
    noise = (f"((CAST(({_hex13_sql(noise_md5)}) AS DOUBLE) "
             "+ CAST(0.5 AS DOUBLE)) "
             "/ CAST(4503599627370496 AS DOUBLE)) "
             "* CAST(0.04 AS DOUBLE) - CAST(0.02 AS DOUBLE)")
    return f"""
  SELECT c.cid * 12 + j.j AS vec_id,
    list_transform(generate_series(0, 63), i ->
      embedding[i + 1] / nrm + {noise}) AS embedding
  FROM (SELECT vec_id AS cid, embedding, sqrt({self_dot}) AS nrm
        FROM embeddings WHERE vec_id % 48 = 0) c
  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS j) j"""


def _pq_dissolve_zones_hier(spark, sf):
    """r11: the hierarchical dissolve path through the FULL gate
    oracle — same staggered-chain construction and integer closed
    forms as `dissolve_zones`, but dissolved with ``hier=True``: the
    20-box chains band into alternating centroid-y slices whose
    partials are DISJOINT 10-part multipolygons (consecutive boxes
    overlap, alternating ones don't), so stage 2 merges genuinely
    multi-part partial geometries — the hardest shape of the banded
    recombination. Output integers are band-order-invariant, so the
    mirror is the `dissolve_zones` SQL verbatim; any hier-path
    semantic drift (lost overlap, dropped part, seam miss) breaks
    the hash."""
    from pyspark.sql import Window
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    from stark_spark.operators.overlay import dissolve
    register_sql_functions(spark)
    w = Window.partitionBy("g").orderBy("p_partkey")
    base = (D.load(spark, sf, "part").where(F.col("p_partkey") <= 400)
            .select((F.col("p_partkey") % 20).alias("g"), "p_partkey")
            .withColumn("r", F.row_number().over(w) - 1))
    r = F.col("r").cast("double")
    boxes = base.select(
        "g", st_box(4 * r, r % 2, 4 * r + 6, r % 2 + 4).alias("geom"))
    return (dissolve(boxes, "g", hier=True)
            .select("g",
                    F.expr("CAST(st_area(geom) AS BIGINT)")
                     .alias("uarea"),
                    F.col("n_parts").cast("long").alias("n_parts")))


def _pq_funnel_latency_fine(spark, sf):
    """r11: the two-phase exact percentile pick under a WIDER
    percentile set (p1/p25/p50/p75/p99) — exercises the bucket-CDF
    selection at both tails and the case where several percentiles
    land in the SAME HDR bucket (the per-pct window partitions must
    stay independent) as well as in different ones. Same events
    funnel as `funnel_latency`; mirror is the same chained-min SQL
    with the wider VALUES list."""
    from stark_spark.operators.funnel import funnel_latency
    ev = D.load(spark, sf, "events")
    return funnel_latency(ev, ["view", "click", "purchase"],
                          percentiles=(1, 25, 50, 75, 99))


def _pq_price_percentiles_exact(spark, sf):
    """r11: `histogram.exact_quantiles` — the EXACT twin of the
    `price_quantiles_hdr` sketch gate, from the machinery the funnel
    rewrite extracted: global order-statistic percentiles of the
    lineitem price-cents column with NO global sort (distinct-value
    counts → bounded HDR bucket CDF → in-bucket pick). The mirror is
    the brute rank-window form, so this gate proves the two-phase
    selection equals the naive global sort on a 60k-row value
    column with heavy duplication (prices repeat across rows)."""
    from stark_spark.operators.histogram import exact_quantiles
    li = D.load(spark, sf, "lineitem")
    cents = li.select(F.round(F.col("l_extendedprice") * 100)
                       .cast("long").alias("c"))
    return exact_quantiles(cents, "c", (1, 50, 90, 99))


def _price_percentiles_exact_sql() -> str:
    return """
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), r AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         count(*) OVER () AS n
  FROM v
)
SELECT pct, v AS value, CAST(n AS BIGINT) AS n
FROM r JOIN (VALUES (1), (50), (90), (99)) p(pct)
  ON rn = (n * pct + 99) // 100
ORDER BY pct"""


def _ann_knn_join_planted_sql() -> str:
    """Planted-truth knn-join mirror: bucket = vec_id div 12 BY
    CONSTRUCTION (no argmax) — candidates join within cluster only,
    O(n·12); cos and rank mirror the fold scorer exactly."""
    cosmq = _cos("m.embedding", "q.embedding")
    return f"""
WITH corpus AS ({_planted_knn_sql()})
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, m.vec_id AS vec_id,
    {cosmq} AS cos,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {cosmq} DESC, m.vec_id) AS INT) AS rank
  FROM corpus q JOIN corpus m
    ON q.vec_id // 12 = m.vec_id // 12 AND m.vec_id <> q.vec_id
) t WHERE rank <= 3"""


def _pq_sql_st_degenerate_contact(spark, sf):
    """r9 degenerate-contact semantics on the SQL surface, all
    integer closed forms (the noded overlay kernel — shared edges,
    vertex touch, pinch — exercised through st_union /
    st_difference / st_intersection / st_nrings):
      f8area/f8len/f8rings: corner-touching squares (figure-eight)
        union to a 2-shell MULTIPOLYGON — 2s², 8s, 2 rings;
      farea/frings: the 4-square checkerboard (two figure-eights
        unioned) CLOSES to the full 2s-square — 4s², 1 ring;
      darea: difference with an edge-abutting subtrahend leaves A
        unchanged — s²;
      iarea: boundary-only intersection regularizes to empty (NULL,
        encoded −1);
      pacarea/pacrings: subtracting a diamond that touches the top
        edge at ONE point pinches into shell + touching hole —
        w² − 2, 2 rings."""
    from stark_spark.functions.constructors import st_box
    from stark_spark.functions.register import register_sql_functions
    register_sql_functions(spark)
    k = F.col("p_partkey")
    s = (k % 4 + 2).cast("double")
    w = (k % 4 + 4).cast("int")
    dia = F.format_string(
        "POLYGON ((1 %d, 2 %d, 3 %d, 2 %d, 1 %d))",
        w - 1, w - 2, w - 1, w, w - 1)
    p = (D.load(spark, sf, "part").where(k <= 200)
         .select("p_partkey",
                 st_box(F.lit(0.0), F.lit(0.0), s, s).alias("a"),
                 st_box(s, s, s * 2, s * 2).alias("b"),
                 st_box(s, F.lit(0.0), s * 2, s).alias("c"),
                 st_box(F.lit(0.0), s, s, s * 2).alias("dd"),
                 st_box(F.lit(0.0), F.lit(0.0), w.cast("double"),
                        w.cast("double")).alias("aw"),
                 dia.alias("diawkt")))
    p.createOrReplaceTempView("__sql_degen")
    return spark.sql("""
        SELECT p_partkey,
          CAST(st_area(st_union(a, b)) AS BIGINT) AS f8area,
          CAST(st_length(st_union(a, b)) AS BIGINT) AS f8len,
          CAST(st_nrings(st_union(a, b)) AS BIGINT) AS f8rings,
          CAST(st_area(st_union(st_union(a, b), st_union(c, dd)))
               AS BIGINT) AS farea,
          CAST(st_nrings(st_union(st_union(a, b), st_union(c, dd)))
               AS BIGINT) AS frings,
          CAST(st_area(st_difference(a, c)) AS BIGINT) AS darea,
          CAST(coalesce(st_area(st_intersection(a, c)), -1)
               AS BIGINT) AS iarea,
          CAST(st_area(st_difference(aw, st_geomfromwkt(diawkt)))
               AS BIGINT) AS pacarea,
          CAST(st_nrings(st_difference(aw, st_geomfromwkt(diawkt)))
               AS BIGINT) AS pacrings
        FROM __sql_degen""")


def _pq_ann_pq_topk_batch(spark, sf):
    """r10 batch-query ADC kernel gate (verdict ask #4): same corpus,
    queries, codebook and k as `ann_pq_topk`, scored through
    `score="batch"` (similarity.py `_pq_topk_batch` — the ADC lookup
    tables for ALL queries ship once per Arrow batch, vectorized
    int64 gathers, per-batch partial top-k, constant plan size) —
    the production path for 100+-query batches (measured at sf0.1:
    literal 21.0 s vs batch 1.2 s warm at 100 queries, 98.7 s vs
    1.4 s at 400). Scores are the same exact BIGINTs, so this gate
    REUSES the `ann_pq_topk` oracle SQL verbatim — a hash-exact proof
    that the two scoring paths are interchangeable."""
    from stark_spark.operators.similarity import pq_topk, pq_train
    emb, q = _emb_queries(spark, sf, 5)
    cb = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2)
    return pq_topk(emb, q, cb, 10, score="batch")


def _pq_semantic_dedup_planted(spark, sf):
    """SemDeDup embedding dedup (similarity.semantic_dedup, Abbas et
    al. 2023) on the planted corpus: cluster = ``vec_id div 12`` BY
    CONSTRUCTION (the `ann_knn_join_planted` recipe), so the oracle
    joins within clusters only — O(n·12) at any scale. τ=0.992 sits
    at the MEDIAN of the planted intra-cluster cos spread
    (0.988–0.995 measured at sf0.01), so the keep set is genuinely
    mixed — each member's fate depends on its actual witnesses, not
    a degenerate all-kept/all-dropped outcome. Fold cos keeps the
    hash bit-exact (DOUBLE products — the r11 planted lesson); the
    BLAS path is pytest-pinned equal on this corpus
    (`test_semantic_dedup_gemm_matches_fold`)."""
    from stark_spark.operators.similarity import semantic_dedup
    emb = _planted_knn_corpus(spark, sf).withColumn(
        "cl", F.expr("vec_id div 12"))
    out = semantic_dedup(emb, 0.992, assign_col="cl")
    return out.select("vec_id", "cluster",
                      F.col("keep").cast("bigint").alias("keep"))


def _semantic_dedup_planted_sql() -> str:
    cosab = _cos("a.embedding", "b.embedding")
    return f"""
WITH corpus AS ({_planted_knn_sql()}),
dup AS (
  SELECT DISTINCT b.vec_id FROM corpus a JOIN corpus b
    ON a.vec_id // 12 = b.vec_id // 12 AND a.vec_id < b.vec_id
  WHERE {cosab} >= 0.992)
SELECT v.vec_id, v.vec_id // 12 AS cluster,
  CAST(d.vec_id IS NULL AS BIGINT) AS keep
FROM corpus v LEFT JOIN dup d USING (vec_id)"""


def _pq_semantic_contamination_planted(spark, sf):
    """Embedding-level decontamination
    (similarity.semantic_contamination) — the semantic sibling of
    the cross_{exact,bloom,lsh,ngram} text family, catching
    paraphrase-level eval leakage that n-grams miss. Planted split:
    members j<8 of each cluster are "train", j≥8 are "eval" — every
    eval row's witnesses are cluster-local by construction, so the
    mirror is O(n·12). τ=0.992 (median of the intra-cluster spread)
    makes n_dups vary per eval row; max_cos rides the bit-exact
    fold, so both aggregates sit in the value hash."""
    from stark_spark.operators.similarity import semantic_contamination
    emb = _planted_knn_corpus(spark, sf).withColumn(
        "cl", F.expr("vec_id div 12"))
    train = emb.where(F.col("vec_id") % 12 < 8)
    ev = emb.where(F.col("vec_id") % 12 >= 8)
    return semantic_contamination(train, ev, 0.992, assign_col="cl")


def _semantic_contamination_planted_sql() -> str:
    cosqt = _cos("q.embedding", "t.embedding")
    return f"""
WITH corpus AS ({_planted_knn_sql()})
SELECT q.vec_id, CAST(count(*) AS BIGINT) AS n_dups,
       max({cosqt}) AS max_cos
FROM corpus q JOIN corpus t ON q.vec_id // 12 = t.vec_id // 12
WHERE q.vec_id % 12 >= 8 AND t.vec_id % 12 < 8
  AND {cosqt} >= 0.992
GROUP BY q.vec_id"""


_BUDGETS = {"src0": 2500, "src1": 4000, "src2": 1500}
_BUDGET_DEFAULT = 1200


def _pq_sample_token_budget(spark, sf):
    """Absolute per-source token-budget selection
    (sampling.token_budget_sample): rows in deterministic hash order
    kept while the per-source running weight stays ≤ the source's
    cap — the mixture-construction step after dedup/quality
    ("60 GT web + 30 GT wiki"). The running sum is the pack_shards
    TWO-PHASE distributed prefix sum (per-(source,bucket) windows +
    broadcast offsets — never a global single-partition window);
    the mirror is the naive per-source window, so any prefix-sum
    seam error breaks the hash. Mixed dict + default budgets
    exercise both cap paths."""
    from stark_spark.operators.sampling import token_budget_sample
    docs = D.load(spark, sf, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w"))
    out = token_budget_sample(docs, "doc_id", "w", _BUDGETS,
                              source_col="source",
                              default_budget=_BUDGET_DEFAULT)
    return out.select("doc_id", "source", "w", "cum_weight")


def _sample_token_budget_sql() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {b}"
                     for s, b in sorted(_BUDGETS.items()))
    return f"""
WITH h AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
    md5('budget|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
), b AS (
  SELECT doc_id, source, w, {_hex7_sql('hh')} AS hv FROM h
), c AS (
  SELECT doc_id, source, w,
    CAST(sum(w) OVER (PARTITION BY source ORDER BY hv, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_weight
  FROM b
)
SELECT doc_id, source, w, cum_weight FROM c
WHERE cum_weight <= CASE source {cases} ELSE {_BUDGET_DEFAULT} END"""


def _pq_stream_semantic_contamination(spark, sf):
    """Embedding-level decontamination at INGEST
    (streaming.stream_semantic_contamination): the planted corpus'
    j≥8 members replayed as a file stream, gemm-assigned to the
    planted centers per micro-batch (mapInPandas — stateless, no
    window), stream-static bucket join against the checkpointed
    j<8 eval members, fold-cos ≥ 0.992. Pairs must equal the batch
    rule's hit set exactly (same planted O(n·12) mirror as
    `semantic_contamination_planted`, pair-level). Completes the
    contamination matrix: {exact, Bloom, 13-gram, semantic} × {batch,
    stream}."""
    from stark_spark.streaming.stream import (
        read_event_stream, stream_semantic_contamination)
    emb = _planted_knn_corpus(spark, sf)
    ev = emb.where(F.col("vec_id") % 12 < 8)
    qs = emb.where(F.col("vec_id") % 12 >= 8)
    cent = (D.load(spark, sf, "embeddings")
            .where(F.col("vec_id") % 48 == 0)
            .select(F.col("vec_id").cast("long").alias("c_id"),
                    F.col("embedding").alias("c_embedding")))
    d = _replay_dir(qs, sf, "planted_arrivals")
    s = read_event_stream(spark, d, qs.schema, max_files=2)
    # gemm eval-side assignment is safe: planted margins (~0.999
    # intra vs ≲0.8 inter) make BLAS assignment provably equal to the
    # fold argmax — the ann_knn_join_planted argument
    out = stream_semantic_contamination(s, ev, cent, 0.992)
    t = _stream_sink(out, "append")
    return t.select("vec_id", "eval_id", "cos")


def _stream_semantic_contamination_sql() -> str:
    cosqt = _cos("q.embedding", "t.embedding")
    return f"""
WITH corpus AS ({_planted_knn_sql()})
SELECT q.vec_id, t.vec_id AS eval_id, {cosqt} AS cos
FROM corpus q JOIN corpus t ON q.vec_id // 12 = t.vec_id // 12
WHERE q.vec_id % 12 >= 8 AND t.vec_id % 12 < 8
  AND {cosqt} >= 0.992"""


def _pq_graph_assortativity(spark, sf):
    """Degree assortativity (graph.assortativity, Newman 2002) of the
    full (unthresholded) handoff graph: five exact-BIGINT endpoint-
    degree moments over the symmetric edge list, ONE double
    sqrt/division at the end quantized to ppm — the lineitem_corr /
    clustering_ppm posture, so the scalar sits in the value hash
    bit-for-bit. The covariance subtraction stays in int64 (exact)
    and only THEN casts to DOUBLE for the ×1e6 (int64 would
    overflow), mirrored operation for operation."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import assortativity
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return assortativity(edges)


def _graph_assortativity_sql() -> str:
    return """
WITH raw AS (
  SELECT user_id AS src,
    lead(user_id) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS dst
  FROM events
), ed AS (
  SELECT DISTINCT src AS a, dst AS b FROM raw
  WHERE dst IS NOT NULL AND src <> dst
), sym AS (
  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
), deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a
), p AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM sym s JOIN deg dx ON s.a = dx.a JOIN deg dy ON s.b = dy.a
), m AS (
  -- moments in HUGEINT = the Spark side's DECIMAL(38,0) posture
  -- (128-bit exact; int64 wraps already on a 1e5-leaf star)
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
    CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
    CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy,
    CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy
  FROM p
), cov AS (
  SELECT n,
    CAST(n AS HUGEINT) * sxy - sx * sy AS cxy,
    CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
    CAST(n AS HUGEINT) * syy - sy * sy AS vy
  FROM m
)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
  CASE WHEN vx = 0 OR vy = 0
       THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(CAST(cxy AS DOUBLE)
         * CAST(1000000 AS DOUBLE)
         / sqrt(CAST(vx AS DOUBLE)
                * CAST(vy AS DOUBLE))) AS BIGINT)
  END AS r_ppm
FROM cov"""


def _pq_rich_club(spark, sf):
    """Rich-club coefficients φ(k) (graph.rich_club, Zhou & Mondragón
    2004) of the handoff graph at four thresholds — ALL exact BIGINTs
    (φ on the ppm grid via integer div; no doubles anywhere, the
    strongest hash class). One degree pass + one edge pass computes
    every k simultaneously via a broadcast literal k-list."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import rich_club
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return rich_club(edges, [8, 12, 16, 20])


def _rich_club_sql() -> str:
    return """
WITH raw AS (
  SELECT user_id AS src,
    lead(user_id) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS dst
  FROM events
), ed AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE dst IS NOT NULL AND src <> dst
), sym AS (
  SELECT a, b FROM ed UNION ALL SELECT b AS a, a AS b FROM ed
), deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a
), ks AS (
  SELECT unnest([8, 12, 16, 20]) AS k
), nk AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg, ks WHERE d > k GROUP BY k
), ek AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
  FROM ed e JOIN deg da ON e.a = da.a JOIN deg db ON e.b = db.a
  CROSS JOIN ks
  WHERE da.d > k AND db.d > k GROUP BY k
)
SELECT CAST(ks.k AS BIGINT) AS k,
  coalesce(nk.n_nodes, 0) AS n_nodes,
  coalesce(ek.n_edges, 0) AS n_edges,
  CASE WHEN coalesce(nk.n_nodes, 0) > 1
       THEN (2 * coalesce(ek.n_edges, 0) * 1000000)
            // (nk.n_nodes * (nk.n_nodes - 1))
       ELSE 0 END AS phi_ppm
FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k"""


def _pq_gini_prices(spark, sf):
    """Exact Gini of lineitem price cents (histogram.gini_ppm): the
    rank-weighted sum runs as a TWO-PHASE prefix sum in VALUE order
    (per-value counts bucketed by v div 65536, per-bucket windows +
    broadcast offsets — never a global rank window, the
    funnel_latency lesson applied to a new statistic); T/S/n exact
    BIGINTs, one double division floored to ppm. The mirror is the
    NAIVE single-window form, so any prefix-sum seam error breaks
    the hash."""
    from stark_spark.operators.histogram import gini_ppm
    li = D.load(spark, sf, "lineitem")
    cents = li.select(F.round(F.col("l_extendedprice") * 100)
                       .cast("long").alias("cents"))
    return gini_ppm(cents, "cents")


def _gini_prices_sql() -> str:
    return """
WITH pv AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS m
  FROM lineitem GROUP BY 1
), rk AS (
  SELECT v, m,
    CAST(coalesce(sum(m) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS a
  FROM pv
), ag AS (
  -- sums stay HUGEINT (the engine side promotes to DECIMAL(38,0)):
  -- v-weighted rank sums overflow int64 at 10x lineitem
  SELECT CAST(sum(m) AS BIGINT) AS n,
    sum(v * m) AS s,
    sum(v * (m * a + (m * (m + 1)) // 2)) AS t
  FROM rk
)
SELECT n,
  CASE WHEN n > 0 AND s > 0
       THEN CAST(floor(CAST(2 * t - (n + 1) * s AS DOUBLE)
         * CAST(1000000 AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS gini_ppm
FROM ag"""


def _pq_k_core_handoff(spark, sf):
    """k-core decomposition (graph.k_core): synchronous iterative
    peeling — every round drops ALL nodes of current degree < k
    simultaneously, the order-free textbook fixpoint, so the mirror
    is an unrolled peel-round CTE chain (the `pagerank` precedent;
    14 rounds unrolled ≥ the measured fixpoint depths — 2 at sf0.01,
    10 at 10× where the cascade empties the core — and extra rounds
    are no-ops at fixpoint). Graph: the repeat-handoff graph
    (u→v emitted the next same-type event after u at least 3 times),
    symmetrized simple — at sf0.01 the 2-core keeps 108 of 150 users
    after a 2-round peel cascade, so the loop genuinely iterates.
    Output (node, deg): degree WITHIN the core, hash-gating the
    surviving edge set too."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import k_core
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    raw = (ev.select(F.col("user_id").alias("src"),
                     F.lead("user_id").over(w).alias("dst"))
             .where(F.col("dst").isNotNull()
                    & (F.col("src") != F.col("dst"))))
    edges = (raw.groupBy("src", "dst").count()
                .where(F.col("count") >= 3).select("src", "dst"))
    return k_core(edges, 2)


def _k_core_handoff_sql() -> str:
    # every CTE MATERIALIZED: each round references the previous one
    # THREE times (twice via NOT IN + the filter source) — inlined,
    # the 14-round chain expands 3^14-fold and exhausts file handles
    # on the base scan; materialization keeps it linear
    rounds = []
    prev = "e0"
    for i in range(1, 15):
        rounds.append(f"""
b{i} AS MATERIALIZED (
  SELECT a FROM {prev} GROUP BY a HAVING count(*) < 2),
e{i} AS MATERIALIZED (SELECT * FROM {prev}
  WHERE a NOT IN (SELECT a FROM b{i})
    AND b NOT IN (SELECT a FROM b{i}))""")
        prev = f"e{i}"
    return f"""
WITH raw AS MATERIALIZED (
  SELECT user_id AS src,
    lead(user_id) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS dst
  FROM events
), ed AS MATERIALIZED (
  SELECT src, dst FROM raw WHERE dst IS NOT NULL AND src <> dst
  GROUP BY src, dst HAVING count(*) >= 3
), e0 AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM ed
  UNION
  SELECT dst AS a, src AS b FROM ed
),{','.join(rounds)}
SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
FROM {prev} GROUP BY a"""


_BOILERPLATE = ("copyright header terms of use all rights reserved "
                "do not")  # exactly 10 tokens = one aligned chunk


def _pq_passage_dedup_planted(spark, sf):
    """Repeated-passage removal with document reconstruction
    (dedup.passage_dedup — the C4/RefinedWeb cleanup that REWRITES
    docs): a fixed 10-token boilerplate passage is PREPENDED to every
    %9==2 doc (prefix planting keeps chunk alignment — the classic
    chunking caveat, recorded in the docstring), so its chunk
    duplicates across ~n/9 docs and must be stripped from every one
    (measured: every planted doc has n_removed ≥ 1); the synthetic
    corpus' small vocabulary also produces NATURAL cross-doc chunk
    dups (up to 9 removed in unplanted docs), so the frequency
    threshold is exercised beyond the plant. clean_text itself is in
    the value hash — reconstruction order, separator joins and the
    empty-doc identity path all gate."""
    from stark_spark.operators.dedup import passage_dedup
    docs = D.load(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 2,
               F.concat(F.lit(_BOILERPLATE + " "), F.col("text")))
         .otherwise(F.col("text")).alias("text"))
    return passage_dedup(docs, "doc_id", chunk_tokens=10, min_docs=2)


def _passage_dedup_planted_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, CASE WHEN doc_id % 9 = 2
                      THEN '{_BOILERPLATE} ' || text
                      ELSE text END AS text
  FROM documents
), tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM base
), ch AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(t[u.i*10+1 : u.i*10+10], ' ') AS chunk
  FROM tok, unnest(generate_series(0, (len(t)-1)//10)) AS u(i)
  WHERE len(t) > 0
), dup AS (
  SELECT chunk FROM ch GROUP BY chunk
  HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT c.doc_id, c.pos, c.chunk, d.chunk IS NOT NULL AS isdup
  FROM ch c LEFT JOIN dup d USING (chunk)
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
    CAST(count(*) FILTER (isdup) AS BIGINT) AS n_removed,
    coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (NOT isdup),
             '') AS clean_text
  FROM marked GROUP BY doc_id
)
SELECT b.doc_id, coalesce(a.n_chunks, 0) AS n_chunks,
       coalesce(a.n_removed, 0) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)"""


def _pq_curation_pipeline(spark, sf):
    """The COMPOSED curation pipeline (curation.curate via
    api.DocFrame): Gopher quality gate → exact content dedup →
    benchmark decontamination → per-source token budget — the full
    raw-crawl-to-tokenizer path as ONE call, proving the four
    operators compose without seams. The input plants work for every
    stage: docs with ``doc_id % 97 == 3`` are the "benchmark" eval
    set; re-keyed copies of ``%13==5`` train docs (+1e6) are exact
    dups the dedup stage must collapse to the original; re-keyed
    copies of the eval set (+2e6) are contamination the anti-join
    must drop. The oracle mirrors the chain as CTEs stage for stage,
    so a regression in ANY stage (or in how they hand off) breaks
    the hash. Scale: map-only quality, one content-hash shuffle,
    broadcast anti-join, two-phase prefix sum — no stage degrades
    superlinearly."""
    from stark_spark.api import DocFrame
    docs = D.load(spark, sf, "documents").select(
        "doc_id", "text", "source", "n_chars")
    ev = docs.where(F.col("doc_id") % 97 == 3)
    tr0 = docs.where(F.col("doc_id") % 97 != 3)

    def rekey(d, off):
        return d.select((F.col("doc_id") + off).alias("doc_id"),
                        "text", "source", "n_chars")

    train = (tr0.unionByName(rekey(tr0.where(F.col("doc_id") % 13 == 5),
                                   1_000_000))
                .unionByName(rekey(ev, 2_000_000)))
    out = (DocFrame(train).quality_filter()
                          .dedup_exact()
                          .decontaminate(ev)
                          .budget({"src0": 2000, "src1": 3000},
                                  weight_col="n_chars",
                                  source_col="source",
                                  default_budget=1000))
    return out.select("doc_id", "source",
                      F.col("n_chars").cast("long").alias("w"),
                      "cum_weight")


def _curation_pipeline_sql() -> str:
    return f"""
WITH ev AS (SELECT * FROM documents WHERE doc_id % 97 = 3),
tr0 AS (SELECT * FROM documents WHERE doc_id % 97 <> 3),
train AS (
  SELECT doc_id, text, source, n_chars FROM tr0
  UNION ALL
  SELECT doc_id + 1000000, text, source, n_chars FROM tr0
  WHERE doc_id % 13 = 5
  UNION ALL
  SELECT doc_id + 2000000, text, source, n_chars FROM ev
), q AS (
  SELECT doc_id, source, n_chars, text,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_distinct(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
                           x)))) AS stops
  FROM train
), kq AS (
  SELECT doc_id, source, n_chars, text FROM q
  WHERE n >= 20 AND n <= 100000 AND chars >= n * 3 AND chars <= n * 10
    AND alpha * 5 >= n * 4 AND stops >= 2
), dd AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS k0 FROM kq)
  WHERE doc_id = k0
), dc AS (
  SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS w,
         md5('curate|' || CAST(d.doc_id AS VARCHAR)) AS hh
  FROM dd d
  WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE md5(e.text) = md5(d.text))
), c AS (
  SELECT doc_id, source, w,
    CAST(sum(w) OVER (PARTITION BY source
      ORDER BY {_hex7_sql('hh')}, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_weight
  FROM dc
)
SELECT doc_id, source, w, cum_weight FROM c
WHERE cum_weight <= CASE source WHEN 'src0' THEN 2000
                                WHEN 'src1' THEN 3000
                                ELSE 1000 END"""


def _pq_curation_pipeline_neardup(spark, sf):
    """The FULL five-stage curation pipeline: quality → exact dedup
    → decontaminate → SimHash NEAR-dup keep-best → budget. On top of
    `curation_pipeline`'s planted exact dups (+1e6) and contamination
    (+2e6), this plants NEAR copies (+3e6: ``text || ' zz'``,
    n_chars+3, every %11==4 train doc) that survive exact dedup
    (distinct md5) and must be collapsed by the SimHash stage —
    measured at sf0.01: 43/46 planted pairs land within hamming ≤ 3,
    and keep-best (score = n_chars, the "keep the longest copy"
    policy) keeps the LONGER ' zz' variant, so the stage provably
    rewrites the survivor set. Mirror: the exact/decontam CTE chain
    + the `dedup_keep_best` recursive-CC mirror parameterized over
    the decontaminated CTE + the budget window — a regression in any
    stage or hand-off breaks the hash."""
    from stark_spark.operators.curation import curate
    docs = D.load(spark, sf, "documents").select(
        "doc_id", "text", "source", "n_chars")
    ev = docs.where(F.col("doc_id") % 97 == 3)
    tr0 = docs.where(F.col("doc_id") % 97 != 3)

    def rekey(d, off, suffix=None):
        text = (F.concat(F.col("text"), F.lit(suffix)) if suffix
                else F.col("text"))
        nch = (F.col("n_chars") + len(suffix) if suffix
               else F.col("n_chars"))
        return d.select((F.col("doc_id") + off).alias("doc_id"),
                        text.alias("text"), "source",
                        nch.alias("n_chars"))

    train = (tr0.unionByName(rekey(tr0.where(F.col("doc_id") % 13 == 5),
                                   1_000_000))
                .unionByName(rekey(ev, 2_000_000))
                .unionByName(rekey(tr0.where(F.col("doc_id") % 11 == 4),
                                   3_000_000, suffix=" zz")))
    out = curate(train, "doc_id", eval_df=ev,
                 near_dup="simhash", score_col="n_chars",
                 budgets={"src0": 2000, "src1": 3000},
                 weight_col="n_chars", source_col="source",
                 default_budget=1000)
    return out.select("doc_id", "source",
                      F.col("n_chars").cast("long").alias("w"),
                      "cum_weight")


def _curation_pipeline_neardup_sql() -> str:
    return f"""
WITH RECURSIVE ev AS (SELECT * FROM documents WHERE doc_id % 97 = 3),
tr0 AS (SELECT * FROM documents WHERE doc_id % 97 <> 3),
train AS (
  SELECT doc_id, text, source, n_chars FROM tr0
  UNION ALL
  SELECT doc_id + 1000000, text, source, n_chars FROM tr0
  WHERE doc_id % 13 = 5
  UNION ALL
  SELECT doc_id + 2000000, text, source, n_chars FROM ev
  UNION ALL
  SELECT doc_id + 3000000, text || ' zz', source, n_chars + 3
  FROM tr0 WHERE doc_id % 11 = 4
), q AS (
  SELECT doc_id, source, n_chars, text,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_distinct(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
                           x)))) AS stops
  FROM train
), kq AS (
  SELECT doc_id, source, n_chars, text FROM q
  WHERE n >= 20 AND n <= 100000 AND chars >= n * 3 AND chars <= n * 10
    AND alpha * 5 >= n * 4 AND stops >= 2
), dd AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS k0 FROM kq)
  WHERE doc_id = k0
), dc AS (
  SELECT d.doc_id, d.source, d.n_chars, d.text
  FROM dd d
  WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE md5(e.text) = md5(d.text))
), pairs AS ({_simhash64_pairs_sql(3, table="dc")}
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(node, m) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node
), comp AS (
  SELECT node, min(m) AS comp FROM reach GROUP BY node
), labeled AS (
  SELECT d.doc_id, d.source, d.n_chars,
    coalesce(c.comp, d.doc_id) AS rep,
    row_number() OVER (PARTITION BY coalesce(c.comp, d.doc_id)
                       ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM dc d LEFT JOIN comp c ON c.node = d.doc_id
), nd AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
    md5('curate|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM labeled WHERE rn = 1
), c AS (
  SELECT doc_id, source, w,
    CAST(sum(w) OVER (PARTITION BY source
      ORDER BY {_hex7_sql('hh')}, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_weight
  FROM nd
)
SELECT doc_id, source, w, cum_weight FROM c
WHERE cum_weight <= CASE source WHEN 'src0' THEN 2000
                                WHEN 'src1' THEN 3000
                                ELSE 1000 END"""


def _pq_doc_logprob_kn3(spark, sf):
    """Interpolated modified-KN TRIGRAM scoring with continuation-
    count backoff (text.doc_logprob_kn3, Chen & Goodman 1998): each
    level's D1/D2/D3+ from its own count-of-counts (trigram counts;
    bigram CONTINUATION counts), integer-exact stats, and a fixed-
    operand-order DOUBLE assembly (three IEEE mult/add/div steps —
    the single-rational DECIMAL form would need ~10⁴² headroom at
    petabyte counts) quantized floor(ln·1e6) per term."""
    from stark_spark.operators.text import doc_logprob_kn3
    docs = D.load(spark, sf, "documents").select("doc_id", "text")
    return doc_logprob_kn3(docs, "doc_id")


def _kn3_discount_sql(src: str, col: str) -> str:
    """1-row (d1, d2, d3) ppm discounts from ``src``'s count column
    — HUGEINT twin of text.doc_logprob_kn3's _discounts."""
    return f"""
  SELECT
    CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(1000000 AS HUGEINT)
              - (CAST(2000000 AS HUGEINT) * n2) // (n1 + 2 * n2),
              CAST(0 AS HUGEINT)) END AS d1,
    CASE WHEN n2 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(2000000 AS HUGEINT)
              - (CAST(3000000 AS HUGEINT) * n1 * n3)
                // ((n1 + 2 * n2) * n2),
              CAST(0 AS HUGEINT)) END AS d2,
    CASE WHEN n3 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(3000000 AS HUGEINT)
              - (CAST(4000000 AS HUGEINT) * n1 * n4)
                // ((n1 + 2 * n2) * n3),
              CAST(0 AS HUGEINT)) END AS d3
  FROM (
    SELECT CAST(sum(CASE WHEN {col} = 1 THEN 1 ELSE 0 END) AS HUGEINT)
             AS n1,
           CAST(sum(CASE WHEN {col} = 2 THEN 1 ELSE 0 END) AS HUGEINT)
             AS n2,
           CAST(sum(CASE WHEN {col} = 3 THEN 1 ELSE 0 END) AS HUGEINT)
             AS n3,
           CAST(sum(CASE WHEN {col} = 4 THEN 1 ELSE 0 END) AS HUGEINT)
             AS n4
    FROM {src})"""


def _doc_logprob_kn3_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), dt AS (
  SELECT doc_id, toks[CAST(u.i + 1 AS BIGINT)] AS w1,
         toks[CAST(u.i + 2 AS BIGINT)] AS w2,
         toks[CAST(u.i + 3 AS BIGINT)] AS w3
  FROM t, UNNEST(range(greatest(len(toks) - 2, 0))) AS u(i)
), tri AS MATERIALIZED (
  SELECT w1, w2, w3, count(*) AS c FROM dt GROUP BY w1, w2, w3
), g3 AS MATERIALIZED ({_kn3_discount_sql('tri', 'c')}
), ctx3 AS MATERIALIZED (
  SELECT w1, w2, CAST(sum(c) AS HUGEINT) AS total3,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
           AS k1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT)
           AS k2,
         CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
           AS k3p
  FROM tri GROUP BY w1, w2
), bcc AS MATERIALIZED (
  SELECT w2, w3, count(*) AS bc FROM tri GROUP BY w2, w3
), g2 AS MATERIALIZED ({_kn3_discount_sql('bcc', 'bc')}
), ctx2 AS MATERIALIZED (
  SELECT w2, CAST(sum(bc) AS HUGEINT) AS total2,
         CAST(sum(CASE WHEN bc = 1 THEN 1 ELSE 0 END) AS HUGEINT)
           AS j1,
         CAST(sum(CASE WHEN bc = 2 THEN 1 ELSE 0 END) AS HUGEINT)
           AS j2,
         CAST(sum(CASE WHEN bc >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
           AS j3p
  FROM bcc GROUP BY w2
), ucc AS MATERIALIZED (
  SELECT w3, CAST(count(*) AS HUGEINT) AS uc FROM bcc GROUP BY w3
), tt2 AS MATERIALIZED (
  SELECT CAST(count(*) AS HUGEINT) AS t2 FROM bcc
), terms AS (
  SELECT dt.doc_id,
    (CAST(CAST(tri.c AS HUGEINT) * 1000000
          - CASE WHEN tri.c = 1 THEN g3.d1 WHEN tri.c = 2 THEN g3.d2
                 ELSE g3.d3 END AS DOUBLE)
     + CAST(g3.d1 * ctx3.k1 + g3.d2 * ctx3.k2 + g3.d3 * ctx3.k3p
            AS DOUBLE)
       * ((CAST(CAST(bcc.bc AS HUGEINT) * 1000000
                - CASE WHEN bcc.bc = 1 THEN g2.d1
                       WHEN bcc.bc = 2 THEN g2.d2
                       ELSE g2.d3 END AS DOUBLE)
           + CAST(g2.d1 * ctx2.j1 + g2.d2 * ctx2.j2
                  + g2.d3 * ctx2.j3p AS DOUBLE)
             * (CAST(ucc.uc AS DOUBLE) / CAST(tt2.t2 AS DOUBLE)))
          / (CAST(1000000 AS DOUBLE) * CAST(ctx2.total2 AS DOUBLE))))
    / (CAST(1000000 AS DOUBLE) * CAST(ctx3.total3 AS DOUBLE)) AS p
  FROM dt
  JOIN tri USING (w1, w2, w3) JOIN ctx3 USING (w1, w2)
  JOIN bcc USING (w2, w3) JOIN ctx2 USING (w2) JOIN ucc USING (w3),
  g3, g2, tt2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
  CAST(sum(CAST(floor(ln(p) * 1000000) AS BIGINT)) AS BIGINT)
    AS logprob_kn3_q
FROM terms GROUP BY doc_id"""


def _pq_incremental_ingest_indexed(spark, sf):
    """The persisted-index twin of `incremental_ingest_planted`
    (r12 verdict #7 made a gate): the planted index goes through
    `dedup.save_fp_index` (pre-banded, (band, bucket%64)-partitioned
    parquet + _meta) and the same mask_xor=0x1000 re-crawl batch
    probes it via `dedup.hamming_near_join_indexed` — the scan
    carries the shard PartitionFilter, so the driver's correctness
    net covers the STORAGE path end-to-end (write layout, manifest,
    partition-pruned read, cross-frame verify, min-collapse), not
    just the in-memory join. Same closed-form mirror: output must be
    row-identical to `hamming_near_join` on the same frames, i.e.
    the 12×12 mask cross table with popcount+1 ≤ 3."""
    import tempfile

    from stark_spark.operators.dedup import (hamming_near_join_indexed,
                                             save_fp_index)
    index = _planted_hamming_fp(spark, sf)
    batch = _planted_hamming_fp(spark, sf, mask_xor=0x1000,
                                id_offset=10_000_000)
    path = tempfile.mkdtemp(prefix="stark_fpidx_") + "/idx"
    save_fp_index(index, path, key="vec_id", fp_col="fp",
                  max_hamming=3)
    out = hamming_near_join_indexed(batch, path, key="vec_id",
                                    fp_col="fp", max_hamming=3)
    return out.select(F.col("new_key").cast("long").alias("new_key"),
                      F.col("index_key").cast("long")
                       .alias("index_key"),
                      F.col("hamming").cast("long").alias("hamming"))


def _pq_doc_logprob_kn(spark, sf):
    """Interpolated MODIFIED Kneser–Ney bigram scoring
    (text.doc_logprob_kn over text.kn_discounts_mod — Chen & Goodman
    1998): count-class discounts D1/D2/D3+ and the per-context
    interpolation mass on the DECIMAL(38) ppm grid (HUGEINT-
    identical in DuckDB), each pair's probability assembled as ONE
    exact integer ratio and quantized floor(ln·1e6) BEFORE the
    per-doc sum — the `doc_logprob_bigram` exactness idiom carried
    to a properly smoothed LM."""
    from stark_spark.operators.text import doc_logprob_kn
    docs = D.load(spark, sf, "documents").select("doc_id", "text")
    return doc_logprob_kn(docs, "doc_id")


def _doc_logprob_kn_sql() -> str:
    return """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), dp AS (
  SELECT doc_id, toks[CAST(u.i + 1 AS BIGINT)] AS w1,
         toks[CAST(u.i + 2 AS BIGINT)] AS w2
  FROM t, UNNEST(range(greatest(len(toks) - 1, 0))) AS u(i)
), bgc AS (
  SELECT w1, w2, count(*) AS c FROM dp GROUP BY w1, w2
), g AS (
  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
         CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS HUGEINT) AS n3,
         CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS HUGEINT) AS n4
  FROM bgc
), d AS (
  SELECT
    CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(1000000 AS HUGEINT)
              - (CAST(2000000 AS HUGEINT) * n2) // (n1 + 2 * n2),
              CAST(0 AS HUGEINT)) END AS d1,
    CASE WHEN n2 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(2000000 AS HUGEINT)
              - (CAST(3000000 AS HUGEINT) * n1 * n3)
                // ((n1 + 2 * n2) * n2),
              CAST(0 AS HUGEINT)) END AS d2,
    CASE WHEN n3 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS HUGEINT)
         ELSE greatest(CAST(3000000 AS HUGEINT)
              - (CAST(4000000 AS HUGEINT) * n1 * n4)
                // ((n1 + 2 * n2) * n3),
              CAST(0 AS HUGEINT)) END AS d3
  FROM g
), ctx AS (
  SELECT w1, CAST(sum(c) AS HUGEINT) AS total,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT)
           AS n1w,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT)
           AS n2w,
         CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS HUGEINT)
           AS n3pw
  FROM bgc GROUP BY w1
), cont AS (
  SELECT w2, CAST(count(*) AS HUGEINT) AS cont FROM bgc GROUP BY w2
), tt AS (
  SELECT CAST(count(*) AS HUGEINT) AS t FROM bgc
), terms AS (
  SELECT dp.doc_id,
    (CAST(bgc.c AS HUGEINT) * 1000000
     - CASE WHEN bgc.c = 1 THEN d.d1 WHEN bgc.c = 2 THEN d.d2
            ELSE d.d3 END) * tt.t
    + (d.d1 * ctx.n1w + d.d2 * ctx.n2w + d.d3 * ctx.n3pw)
      * cont.cont AS num,
    CAST(1000000 AS HUGEINT) * ctx.total * tt.t AS den
  FROM dp
  JOIN bgc USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2),
  d, tt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(CAST(floor(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                      * 1000000) AS BIGINT)) AS BIGINT)
    AS logprob_kn_q
FROM terms GROUP BY doc_id"""


def _pq_curation_neardup_planted(spark, sf):
    """The five-stage curation pipeline with the near-dup stage on
    the PLANTED fingerprint corpus (r12 verdict #4 — the last
    sf0.01-only composite gets a linear mirror): same planted exact
    dups (+1e6) and contamination (+2e6) as `curation_pipeline`, but
    the SimHash-of-text stage is swapped for the engine's
    ``fp_col`` path (`curate(near_dup="hamming", fp_col="fp")`) over
    `_with_planted_fp` fingerprints keyed on doc_id. Near-dup truth
    is then CLOSED FORM: cross-cluster pairs are impossible (d ≥ 4
    code property), in-cluster pairs = member-mask XOR popcount ≤ 3
    over survivors of the first three stages — so the whole 5-stage
    mirror is linear (the text-space twin's O(n²) simhash CTE and
    its synthetic-text mega-buckets both vanish) and the composed
    gate can enter the 10×/100× scale net. Every stage of the
    production path runs for real: Gopher quality, md5 window dedup,
    broadcast anti-join, banded hamming self-join + skew probe, CC,
    keep-best argmax (score = n_chars — in-cluster survivors get
    collapsed to the longest member), two-phase budget prefix sum."""
    from stark_spark.operators.curation import curate
    docs = D.load(spark, sf, "documents").select(
        "doc_id", "text", "source", "n_chars")
    ev = docs.where(F.col("doc_id") % 97 == 3)
    tr0 = docs.where(F.col("doc_id") % 97 != 3)

    def rekey(d, off):
        return d.select((F.col("doc_id") + off).alias("doc_id"),
                        "text", "source", "n_chars")

    train = (tr0.unionByName(rekey(tr0.where(F.col("doc_id") % 13 == 5),
                                   1_000_000))
                .unionByName(rekey(ev, 2_000_000)))
    train = _with_planted_fp(train, "doc_id")
    out = curate(train, "doc_id", eval_df=ev,
                 near_dup="hamming", fp_col="fp",
                 score_col="n_chars",
                 budgets={"src0": 2000, "src1": 3000},
                 weight_col="n_chars", source_col="source",
                 default_budget=1000)
    return out.select("doc_id", "source",
                      F.col("n_chars").cast("long").alias("w"),
                      "cum_weight")


def _curation_neardup_planted_sql() -> str:
    """Linear mirror of the planted 5-stage pipeline: the q/kq/dd/dc
    CTE chain is `curation_pipeline`'s verbatim; the near-dup pair
    set is the planted closed form (within-cluster mask popcounts
    over dc survivors — O(n·11) join fan-out, never corpus-
    quadratic); CC is the standard recursive mirror over those
    bounded pairs (cluster size ≤ 12 ⇒ recursion depth ≤ 12)."""
    vals = ", ".join(f"({j}, {m})"
                     for j, m in enumerate(_HAM_MEMBER_MASKS))
    return f"""
WITH RECURSIVE ev AS (SELECT * FROM documents WHERE doc_id % 97 = 3),
tr0 AS (SELECT * FROM documents WHERE doc_id % 97 <> 3),
train AS (
  SELECT doc_id, text, source, n_chars FROM tr0
  UNION ALL
  SELECT doc_id + 1000000, text, source, n_chars FROM tr0
  WHERE doc_id % 13 = 5
  UNION ALL
  SELECT doc_id + 2000000, text, source, n_chars FROM ev
), q AS (
  SELECT doc_id, source, n_chars, text,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_distinct(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
                           x)))) AS stops
  FROM train
), kq AS (
  SELECT doc_id, source, n_chars, text FROM q
  WHERE n >= 20 AND n <= 100000 AND chars >= n * 3 AND chars <= n * 10
    AND alpha * 5 >= n * 4 AND stops >= 2
), dd AS (
  SELECT doc_id, source, n_chars, text FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS k0 FROM kq)
  WHERE doc_id = k0
), dc AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM dd d
  WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE md5(e.text) = md5(d.text))
), mk AS (
  SELECT * FROM (VALUES {vals}) t(j, mask)
), pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM dc a JOIN dc b
    ON a.doc_id // 12 = b.doc_id // 12 AND a.doc_id < b.doc_id
  JOIN mk ma ON a.doc_id % 12 = ma.j
  JOIN mk mb ON b.doc_id % 12 = mb.j
  WHERE bit_count(xor(CAST(ma.mask AS BIGINT),
                      CAST(mb.mask AS BIGINT))) <= 3
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(node, m) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node
), comp AS (
  SELECT node, min(m) AS comp FROM reach GROUP BY node
), labeled AS (
  SELECT d.doc_id, d.source, d.n_chars,
    row_number() OVER (PARTITION BY coalesce(c.comp, d.doc_id)
                       ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM dc d LEFT JOIN comp c ON c.node = d.doc_id
), nd AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
    md5('curate|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM labeled WHERE rn = 1
), c AS (
  SELECT doc_id, source, w,
    CAST(sum(w) OVER (PARTITION BY source
      ORDER BY {_hex7_sql('hh')}, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_weight
  FROM nd
)
SELECT doc_id, source, w, cum_weight FROM c
WHERE cum_weight <= CASE source WHEN 'src0' THEN 2000
                                WHEN 'src1' THEN 3000
                                ELSE 1000 END"""


def pending_queries():
    # Staged gates awaiting a driver-window slot. The r12 cohort of 6
    # (planted hamming family, spans, stream ingest dedup, KN stats)
    # promoted into queries() at the round-13 rotation; new gates
    # minted this round stage here first.
    return {
        # r13-minted: the 5-stage curation pipeline over the planted
        # fingerprint corpus — linear mirror, scale-net eligible
        "curation_neardup_planted": _pq_curation_neardup_planted,
        # r13-minted: interpolated modified-KN document scorer
        "doc_logprob_kn": _pq_doc_logprob_kn,
        # r13-minted: persisted banded-index probe (storage path)
        "incremental_ingest_indexed": _pq_incremental_ingest_indexed,
        # r13-minted: trigram modified-KN with continuation backoff
        "doc_logprob_kn3": _pq_doc_logprob_kn3,
    }


def _corr_oracle_sql() -> str:
    """DuckDB mirror of profile.correlation_matrix on lineitem's
    integer grid — the corr expression text matches the operator's
    operand order exactly (sqrt is IEEE-correctly-rounded, safe)."""
    cols = {"quantity": "round(l_quantity)",
            "price_usd": "round(l_extendedprice)",
            "discount_pct": "round(l_discount * 100)",
            "tax_pct": "round(l_tax * 100)"}
    names = list(cols)
    moments = ["CAST(count(*) AS BIGINT) AS n"]
    for c in names:
        moments.append(f"CAST(sum({c}) AS BIGINT) AS s_{c}")
        moments.append(f"CAST(sum({c} * {c}) AS BIGINT) AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    for a, b in pairs:
        moments.append(f"CAST(sum({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    # integer grid first, then moments, so sums are exact BIGINTs
    ints = ", ".join(f"CAST({expr} AS BIGINT) AS {c}"
                     for c, expr in cols.items())
    selects = []
    for a, b in pairs:
        corr = (f"CAST(round(1000000.0 * ("
                f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
                f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
                f")) AS BIGINT)")
        selects.append(f"SELECT '{a}' AS var_x, '{b}' AS var_y, n, "
                       f"{corr} AS corr_q6 FROM m")
    return (f"WITH i AS (SELECT {ints} FROM lineitem),\n"
            f"m AS (SELECT {', '.join(moments)} FROM i)\n"
            + "\nUNION ALL\n".join(selects))


def _hll_cube_sql() -> str:
    """DuckDB mirror of the sketch-partitioned distinct-user cube:
    each grouping level recomputes the full HLL pipeline from raw
    rows — agreeing bit-for-bit with Spark's register re-aggregation
    proves merge==max correctness, not just estimator parity."""
    est_case = """
  CASE WHEN v_zero > 0 AND raw_est * 2 <= 1280
       THEN CAST(round(CAST(256 AS DOUBLE)
                 * ln(CAST(256 AS DOUBLE) / CAST(v_zero AS DOUBLE)))
                 AS BIGINT)
       ELSE raw_est END AS estimate"""
    levels = []
    for keep in [("event_type", "day"), ("event_type",), ("day",), ()]:
        kl = list(keep)
        gb = (" GROUP BY " + ", ".join(kl)) if kl else ""
        sel_keep = (", ".join(kl) + ", ") if kl else ""
        dims_out = ", ".join(
            (f"CAST({d} AS VARCHAR) AS {d}" if d in keep
             else f"CAST(NULL AS VARCHAR) AS {d}")
            for d in ("event_type", "day"))
        levels.append(f"""
SELECT {dims_out}, '{",".join(kl)}' AS level,
  CAST(256 AS BIGINT) AS n_registers, v_zero, s_scaled, {est_case}
FROM (
  SELECT {sel_keep}
    CAST(256 - count(*) AS BIGINT) AS v_zero,
    CAST(CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT)
         + (256 - count(*)) * 4503599627370496 AS BIGINT) AS s_scaled,
    CAST(round(((CAST(0.7182725932495458 AS DOUBLE)
                 * CAST(65536 AS DOUBLE))
                * CAST(4503599627370496 AS DOUBLE))
         / CAST(CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT)
                + (256 - count(*)) * 4503599627370496 AS DOUBLE))
         AS BIGINT) AS raw_est
  FROM (
    SELECT {sel_keep} h % 256 AS register,
      max(45 - length(ltrim(bin(h // 256), '0'))) AS max_rho
    FROM hh GROUP BY {", ".join(kl + ["register"])})
  {gb or " "})""")
    return (f"""
WITH src AS (
  SELECT event_type, date_part('day', ts) AS day,
    md5(CAST(user_id AS VARCHAR)) AS h32
  FROM events
), hh AS (
  SELECT event_type, day, {_hex13_sql('h32')} AS h FROM src
)""" + "\nUNION ALL\n".join(levels))


def _acf_oracle_sql() -> str:
    """DuckDB mirror of timeseries.autocorrelation on hourly counts —
    per-lag moment joins, corr chain text identical to the operator."""
    corr = ("CAST(round(1000000.0 * ("
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            ")) AS BIGINT)")
    parts = []
    for lag in _ACF_LAGS:
        parts.append(f"""
SELECT {lag} AS lag, n AS n_pairs, {corr} AS acf_q6 FROM (
  SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx,
    CAST(sum(y) AS BIGINT) sy, CAST(sum(x * x) AS BIGINT) sxx,
    CAST(sum(y * y) AS BIGINT) syy, CAST(sum(x * y) AS BIGINT) sxy
  FROM (SELECT a.x AS x, b.x AS y FROM s a JOIN s b ON b.i = a.i + {lag}))""")
    return ("WITH s AS (SELECT epoch_us(ts) // 3600000000 AS i,"
            " CAST(count(*) AS BIGINT) AS x FROM events GROUP BY i)"
            + "\nUNION ALL\n".join(parts))


def _zorder_interleave_sql(x: str, y: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(({x} >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"(({y} >> {b}) & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def _bfs_sql(n_rounds: int = 4) -> str:
    """Unrolled multi-source BFS CTE chain — the DuckDB mirror of
    `graph.bfs_hops` over the handoff graph (level k = new frontier,
    visited set accumulated per level)."""
    head = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
      lead(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS dst
    FROM events) t
  WHERE dst IS NOT NULL AND src <> dst
), r0 AS (
  SELECT DISTINCT user_id AS node FROM events WHERE user_id < 5
), v0 AS (SELECT node FROM r0)"""
    parts = [head]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(f""", r{i} AS (
  SELECT DISTINCT e.dst AS node
  FROM e JOIN r{p} ON e.src = r{p}.node
  WHERE e.dst NOT IN (SELECT node FROM v{p})
), v{i} AS (SELECT node FROM v{p} UNION SELECT node FROM r{i})""")
    levels = "\nUNION ALL ".join(
        f"SELECT node, CAST({i} AS BIGINT) AS hop FROM r{i}"
        for i in range(n_rounds + 1))
    return "".join(parts) + "\n" + levels


def _cms_oracle_sql() -> str:
    """Batch-CMS DuckDB mirror — shared by cms_user_counts and its
    streaming twin (streaming cell sums are order-insensitive)."""
    return f"""
WITH rows_d AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
src AS (
  SELECT r, md5('cms' || CAST(r AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)) AS h
  FROM events CROSS JOIN rows_d
), cells AS (
  SELECT CAST(r AS BIGINT) AS row,
    CAST(({_hex13_sql('h')}) % {_CMS_W} AS BIGINT) AS bucket,
    CAST(count(*) AS BIGINT) AS cnt
  FROM src GROUP BY 1, 2
), keys AS (
  SELECT CAST(range AS BIGINT) AS user_id FROM range(0, 25)
), ph AS (
  SELECT user_id, r, md5('cms' || CAST(r AS VARCHAR) || ':'
                         || CAST(user_id AS VARCHAR)) AS h
  FROM keys CROSS JOIN rows_d
), probes AS (
  SELECT user_id, CAST(r AS BIGINT) AS row,
    CAST(({_hex13_sql('h')}) % {_CMS_W} AS BIGINT) AS bucket
  FROM ph
), est AS (
  SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
  FROM probes LEFT JOIN cells USING (row, bucket)
  GROUP BY user_id
), exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact
  FROM events GROUP BY user_id
)
SELECT est.user_id, est.est,
  CAST(coalesce(exact.exact, 0) AS BIGINT) AS exact
FROM est LEFT JOIN exact USING (user_id)"""


def _sssp_sql(n_rounds: int = 4) -> str:
    """Unrolled Bellman-Ford CTE chain — the DuckDB mirror of
    `graph.sssp_bounded` over the min-gap handoff graph."""
    head = """
WITH e AS (
  SELECT src, dst, CAST(min(gap) AS BIGINT) AS w FROM (
    SELECT user_id AS src,
      lead(user_id) OVER win AS dst,
      lead(epoch_us(ts)) OVER win - epoch_us(ts) AS gap
    FROM events
    WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)) t
  WHERE dst IS NOT NULL AND src <> dst
  GROUP BY src, dst
), d0 AS (
  SELECT DISTINCT user_id AS node, CAST(0 AS BIGINT) AS dist
  FROM events WHERE user_id < 5
)"""
    parts = [head]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(f""", c{i} AS (
  SELECT e.dst AS node, d{p}.dist + e.w AS dist
  FROM d{p} JOIN e ON e.src = d{p}.node
), d{i} AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist
  FROM (SELECT * FROM d{p} UNION ALL SELECT * FROM c{i})
  GROUP BY node
)""")
    return ("".join(parts)
            + f" SELECT node, dist FROM d{n_rounds}")


def _ann_recall_eval_sql(table: dict[str, str]) -> str:
    """Composes the ann_ivf_topk and ann_brute_topk DuckDB mirrors
    (verbatim, as nested-WITH subqueries) and evaluates recall@5 +
    MRR on them — the oracle measures the same two gated pipelines
    the Spark side composes."""
    return f"""
WITH ret AS ({table['ann_ivf_topk']}),
tru AS ({table['ann_brute_topk']}),
tk AS (SELECT q_id, vec_id FROM tru WHERE rank <= 5),
hits AS (
  SELECT ret.q_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ret JOIN tk USING (q_id, vec_id) GROUP BY ret.q_id
), top1 AS (SELECT q_id, vec_id FROM tru WHERE rank = 1),
pos AS (
  SELECT ret.q_id, min(ret.rank) AS p
  FROM ret JOIN top1 USING (q_id, vec_id) GROUP BY ret.q_id
), base AS (SELECT DISTINCT q_id FROM tru)
SELECT base.q_id,
  CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
  CAST(1000000 * coalesce(hits.n_hits, 0) // 5 AS BIGINT)
    AS recall_q6,
  CAST(CASE WHEN pos.p IS NULL THEN 0
       ELSE 1000000 // pos.p END AS BIGINT) AS mrr_q6
FROM base LEFT JOIN hits USING (q_id) LEFT JOIN pos USING (q_id)"""


def _q_stream_quality_filter(spark, sf):
    """Ingest-time quality gate: documents replayed as a file stream
    through the stateless Gopher-rule flags (pure codegen inside each
    micro-batch, zero streaming state); emits the REJECT stream —
    exactly the rows the batch gate marks keep=false."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_quality_filter)
    docs = D.load(spark, sf, "documents")
    d = _replay_dir(docs, sf, "docs")
    s = read_event_stream(spark, d, docs.schema, max_files=2)
    out = stream_quality_filter(s)
    t = _stream_sink(out, "append")
    return t.select("doc_id", "n_tokens", "flag_len", "flag_word_len",
                    "flag_alpha", "flag_stop")


def _q_text_profile(spark, sf):
    docs = D.load(spark, sf, "documents")
    out = T.text_profile(docs)
    return out.select("doc_id", "n_tokens", "avg_token_len",
                      "stopword_ratio", "punct_ratio", "quality",
                      "lang_guess", "fingerprint")


def _q_text_by_source(spark, sf):
    docs = D.load(spark, sf, "documents")
    t = F.col("text")
    out = (docs.withColumn("n_tokens", T.token_count(t))
               .withColumn("quality", T.quality_score(t))
               .groupBy("source")
               .agg(F.count("*").alias("n_docs"),
                    F.sum("n_tokens").alias("sum_tokens"),
                    F.min("quality").alias("min_quality"),
                    F.max("quality").alias("max_quality")))
    return out


def _q_token_counts(spark, sf):
    """Whitespace vs BPE-ish token budgets per doc — the number a
    shard-packing / mixture step actually budgets on (digits and
    punctuation cost one token each in BPE vocabularies)."""
    docs = D.load(spark, sf, "documents")
    t = F.col("text")
    return docs.select("doc_id",
                       T.token_count(t).alias("n_ws"),
                       T.token_count_bpe(t).alias("n_bpe"))


def _q_lang_distribution(spark, sf):
    docs = D.load(spark, sf, "documents")
    return (docs.groupBy(T.lang_guess(F.col("text")).alias("lang_guess"))
                .agg(F.count("*").alias("n")))


def _q_text_repetition(spark, sf):
    """Gopher-style repetition/boilerplate profile + keep gate — the
    curation pass a training-data pipeline runs before dedup."""
    docs = D.load(spark, sf, "documents")
    out = T.repetition_profile(docs)
    return out.select("doc_id", "n_tokens", "distinct_token_ratio",
                      "top_token_ratio", "top_bigram_ratio", "rep_keep")


def _q_pii_scrub(spark, sf):
    """PII redaction: deterministic synthetic emails/phones are
    injected in-query (the corpus itself is clean word-soup), then
    scrubbed; counts + md5 of the scrubbed text are the checkable
    output."""
    docs = D.load(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((F.col("doc_id") % 1000).cast("string"),
                               3, "0"),
                        F.lit("-0199"))).otherwise(F.lit("")))
    return (docs.withColumn("t", injected)
                .select("doc_id",
                        T.pii_email_count(F.col("t")).cast("long")
                         .alias("n_emails"),
                        T.pii_phone_count(F.col("t")).cast("long")
                         .alias("n_phones"),
                        F.md5(T.pii_scrub(F.col("t"))).alias("scrub_md5")))


def _q_st_semi_join(spark, sf, anti=False):
    """Spatial semi/anti join (net-new; reference joins are
    inner-only): events that fall inside ≥1 (semi) / 0 (anti) nation
    boxes. Points ride the declared-rect fast path (a point is a
    degenerate rectangle), so the candidate plan is fully native
    closed-bbox algebra — exact for intersects."""
    from stark_spark.operators.join import st_semi_join
    ev = D.st_events(spark, sf, keep_geom=False)
    boxes = _nation_boxes(spark, sf).drop("geom")
    out = st_semi_join(ev, boxes, "intersects", left_key="event_id",
                       anti=anti, grid=GRID, left_rect=True,
                       right_rect=True)
    return out.select("event_id", "x", "y")


def _q_st_anti_join(spark, sf):
    return _q_st_semi_join(spark, sf, anti=True)


def _eval_corpus(spark, sf):
    """Synthetic eval set for contamination checks: every 10th doc;
    half exact copies of train text, half suffix-perturbed (exact
    hashing must miss those, near-dup banding must still catch
    them)."""
    docs = D.load(spark, sf, "documents")
    return (docs.where(F.col("doc_id") % 10 == 0)
                .select("doc_id",
                        F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                         .otherwise(F.concat(F.col("text"), F.lit(" tail")))
                         .alias("text")))


def _q_chunk_documents(spark, sf):
    """Overlapping token-budget chunking (context-window prep): chunk i
    covers tokens [i·15, i·15+20) — scan-shaped, explode-only row
    growth, no shuffle."""
    from stark_spark.operators.text import chunk_by_tokens
    docs = D.load(spark, sf, "documents").where(F.col("doc_id") % 5 == 0)
    return chunk_by_tokens(docs, "doc_id", max_tokens=20, overlap=5)


def _q_contamination_exact(spark, sf):
    """Train→eval exact-text contamination (benchmark leakage
    check)."""
    from stark_spark.operators.dedup import cross_exact_dups
    docs = D.load(spark, sf, "documents")
    return cross_exact_dups(docs, _eval_corpus(spark, sf), "doc_id")


def _q_contamination_lsh(spark, sf):
    """Train→eval NEAR-dup contamination candidates — catches the
    suffix-perturbed eval rows exact hashing misses."""
    from stark_spark.operators.dedup import cross_lsh_pairs
    docs = D.load(spark, sf, "documents")
    return cross_lsh_pairs(docs, _eval_corpus(spark, sf), "doc_id",
                           n_seeds=4, rows_per_band=1, shingle_k=8)


def _q_boilerplate_ratio(spark, sf):
    """Window-granular self-dedup signal: per-doc fraction of
    distinct 13-token windows that repeat verbatim in >= 2 documents
    corpus-wide (headers/footers/templates — the boilerplate a
    pipeline strips before training). Counts and the floor(1e6·b/w)
    quantized ratio hash-gate exactly."""
    from stark_spark.operators.dedup import doc_boilerplate_ratio
    docs = D.load(spark, sf, "documents")
    return doc_boilerplate_ratio(docs, "doc_id", n=13, min_docs=2)


def _q_contamination_ngrams(spark, sf):
    """Token-13-gram train→eval contamination (the GPT-3/PaLM
    decontamination rule): EXACT window matching, so — unlike the
    probabilistic LSH candidates — every suffix-perturbed eval row is
    caught deterministically (its pre-tail windows still match), with
    the count of distinct matching windows per train doc."""
    from stark_spark.operators.dedup import cross_ngram_contamination
    docs = D.load(spark, sf, "documents")
    return cross_ngram_contamination(docs, _eval_corpus(spark, sf),
                                     "doc_id", n=13)


def _q_contamination_bloom(spark, sf):
    """Bloom-prefiltered exact contamination — identical rows to
    `contamination_exact` (the Bloom pass has no false negatives and
    the closing equi-join removes false positives), but the train scan
    is filtered through a compact literal bitmap BEFORE any shuffle:
    the 100 TB decontamination plan shape.

    The eval frame is materialized per the operator's caller
    contract (dedup.cross_bloom_dups no longer persists internally —
    the r5 leak fix): the build collect and the closing join would
    otherwise evaluate the eval pipeline twice, and determinism of
    the eval side is a PRECONDITION of the zero-false-negative
    guarantee."""
    from stark_spark.operators.dedup import cross_bloom_dups
    docs = D.load(spark, sf, "documents")
    ev = materialize(_eval_corpus(spark, sf))
    return cross_bloom_dups(docs, ev, "doc_id")


def _q_sample_group_split(spark, sf):
    """Group-aware train/test split (leakage prevention): the hash is
    over the GROUP (source), so every doc of a source lands on one
    side — row-level splitting would leak near-identical provenance
    across the boundary. Row-local, shuffle-free."""
    from stark_spark.operators.sampling import group_split
    docs = D.load(spark, sf, "documents")
    return group_split(docs, "source", 0.25).select(
        "doc_id", "source", "split")


def _q_contamination_bloom_jvm(spark, sf):
    """Distributed-build Bloom contamination (impl="jvm"): the filter
    words come from an explode → bit_or JVM tree-aggregate (no driver
    collect, no plan literal at any eval size) and are probed through
    one broadcast of the dense word array — same exact rows as
    `contamination_exact`, the plan shape for benchmark suites beyond
    the ~1M-row literal cap."""
    from stark_spark.operators.dedup import cross_bloom_dups
    docs = D.load(spark, sf, "documents")
    return cross_bloom_dups(docs, _eval_corpus(spark, sf), "doc_id",
                            impl="jvm")


def _q_sample_deterministic(spark, sf):
    """Reproducible hash sampling + leakage-free split: the two
    row-local curation primitives (no shuffle; membership is a pure
    function of the key, so re-runs and corpus growth agree)."""
    from stark_spark.operators.sampling import (deterministic_sample,
                                                train_test_split)
    docs = D.load(spark, sf, "documents")
    out = deterministic_sample(docs, "doc_id", 0.3)
    return (train_test_split(out, "doc_id", 0.25)
            .select("doc_id", "source", "split"))


def _q_sample_stratified(spark, sf):
    """Per-stratum deterministic downsampling (the common-language /
    common-source rebalance every training mix needs)."""
    from stark_spark.operators.sampling import stratified_sample
    docs = D.load(spark, sf, "documents")
    out = stratified_sample(docs, "doc_id", "lang",
                            {"en": 0.2, "zh": 0.8}, default=0.5)
    return out.select("doc_id", "lang")


def _q_sample_weighted(spark, sf):
    """Weighted sampling without replacement (A-ES exponential keys):
    inclusion ∝ n_chars, deterministic md5 uniforms, top-k planned as
    TakeOrderedAndProject — the size-biased subsample a curation
    pipeline draws when long documents should be over-represented."""
    from stark_spark.operators.sampling import weighted_sample
    docs = D.load(spark, sf, "documents")
    out = weighted_sample(docs, "doc_id", "n_chars", 200)
    return out.select("doc_id", "source", "n_chars")


def _q_sample_weighted_by_source(spark, sf):
    """Per-source weighted sampling (stratified A-ES): top-40
    length-biased docs inside every source — one window over the
    group-key exchange."""
    from stark_spark.operators.sampling import weighted_sample_by_group
    docs = D.load(spark, sf, "documents")
    out = weighted_sample_by_group(docs, "doc_id", "source", "n_chars",
                                  40)
    return out.select("doc_id", "source", "n_chars")


def _q_pack_shards(spark, sf):
    """Token-budget shard packing via the two-phase distributed prefix
    sum (never a global single-partition window): rows in
    deterministic hash order, shard = floor(cum_before / capacity)."""
    from stark_spark.operators.sampling import pack_shards
    docs = D.load(spark, sf, "documents")
    docs = docs.withColumn("n_tokens",
                           T.token_count(F.col("text")).cast("long"))
    out = pack_shards(docs, "doc_id", "n_tokens", 20000)
    return out.select("doc_id", "n_tokens", "shard")


def _q_mix_sources(spark, sf):
    """Domain reweighting to a target mixture (3:2:1:1 over four
    sources), max corpus size the targets allow — all-integer
    threshold arithmetic so the membership is exactly reproducible
    (operators/sampling.py mix_sources)."""
    from stark_spark.operators.sampling import mix_sources
    docs = D.load(spark, sf, "documents")
    out = mix_sources(docs, "doc_id", "source",
                      {"src0": 3, "src1": 2, "src2": 1, "src3": 1})
    return out.select("doc_id", "source")


def _q_source_heavy_hitters(spark, sf):
    """Training-mix audit: top-3 sources per language by doc count
    (heavy hitters per stratum) with the per-language share."""
    from stark_spark.operators.sampling import top_k_per_group
    docs = D.load(spark, sf, "documents")
    counts = (docs.groupBy("lang", "source")
                  .agg(F.count("*").alias("n_docs")))
    lang_tot = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    out = top_k_per_group(counts, "lang", "n_docs", 3,
                          tie_cols=["source"])
    return (out.join(lang_tot, "lang")
               .select("lang", "source", "n_docs", "rank",
                       (F.col("n_docs") / F.col("n_lang")).alias("share")))


def _q_length_quantiles(spark, sf):
    """Exact per-group discrete quantiles (order-statistic pick — no
    interpolation arithmetic to diverge between engines)."""
    from stark_spark.operators.sampling import group_quantiles
    docs = D.load(spark, sf, "documents")
    return group_quantiles(docs, "lang", "n_chars", [0.25, 0.5, 0.9])


def _emb_queries(spark, sf, n):
    emb = D.load(spark, sf, "embeddings")
    q = (emb.where(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    return emb, q


def _q_ann_brute(spark, sf):
    emb, q = _emb_queries(spark, sf, 5)
    return brute_force_topk(emb, q, 10)


def _q_ann_filtered(spark, sf):
    """Metadata-filtered ANN: the label predicate is a plain `where`
    BEFORE scoring, so it evaluates inside the scan stage (codegen;
    sargable parts reach `PushedFilters`) and the GEMM/fold scorer
    never touches excluded vectors — filtered retrieval costs the
    filtered fraction, not a post-hoc re-rank of unfiltered top-k."""
    emb, q = _emb_queries(spark, sf, 5)
    return brute_force_topk(emb.where(F.col("label") % 3 == 0), q, 10)


def _q_ann_ivf(spark, sf):
    emb, q = _emb_queries(spark, sf, 5)
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    return ivf_topk(emb, q, cent, 5, n_probe=2)


def _q_ann_dup_pairs(spark, sf):
    emb = D.load(spark, sf, "embeddings")
    return cosine_dup_pairs(emb, 0.4)


def _q_ann_brute_gemm(spark, sf):
    """Production scorer for the exact baseline: one BLAS matmul per
    Arrow batch against the closure-shipped query matrix. Oracle-gated
    on the discrete (q_id, vec_id, rank) — the float cos may differ
    from the SQL fold in the last ulp, so it stays out of the hash
    (same policy as ann_knn_join_gemm)."""
    emb, q = _emb_queries(spark, sf, 5)
    return (brute_force_topk(emb, q, 10, score="gemm")
            .select("q_id", "vec_id", "rank"))


def _q_ann_ivf_gemm(spark, sf):
    """Production IVF scorer: per-bucket cogrouped BLAS matmul
    (shared `_gemm_cogroup_topk` kernel). Rank-only hash, as above."""
    emb, q = _emb_queries(spark, sf, 5)
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    return (ivf_topk(emb, q, cent, 5, n_probe=2, score="gemm")
            .select("q_id", "vec_id", "rank"))


def _q_ann_dup_pairs_ivf_gemm(spark, sf):
    """Scale path for near-dup pairs: IVF buckets (approximate — pairs
    split across buckets are missed, by design) + row-blocked per-bucket
    matmul. Pair-membership-only hash (cos out, same ulp policy);
    threshold 0.4 is far from any pair's cos at this SF so the
    boundary can't flip between float paths."""
    from stark_spark.operators.similarity import cosine_dup_pairs
    emb = D.load(spark, sf, "embeddings")
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    return (cosine_dup_pairs(emb, 0.4, centroids=cent, score="gemm")
            .select("a", "b"))


def _q_ann_quantized(spark, sf):
    """int8-quantized brute-force top-k: quantization is floor(127·v/‖v‖
    + 0.5) (floor, not round — half-breaking conventions differ across
    engines), scores are integer dots ≤ 127²·d ≪ 2⁵³ so the float64
    BLAS matmul is EXACT and the dot_q column itself hash-gates (the
    float-cos gemm paths can only gate ranks)."""
    from stark_spark.operators.similarity import ann_quantized_topk
    emb, q = _emb_queries(spark, sf, 5)
    return ann_quantized_topk(emb, q, 10)


def _q_ann_pq_topk(spark, sf):
    """Product-quantization ANN (ADC): 8 subspaces x 8 codes trained
    by exact-integer Lloyd's (the `kmeans_exact` determinism scheme
    per subspace), corpus encoded to 8 codes per vector, queries
    scored via floor(d2*1e6) BIGINT lookup tables — the per-vector
    score is a sum of 8 integers, so the adc_q column itself
    hash-gates (like the int8 path; the float-cos paths can only gate
    ranks). The 100 TB shape: vectors compress 32x (64 float32 -> 8
    bytes) and scoring never touches the original floats."""
    from stark_spark.operators.similarity import pq_topk, pq_train
    emb, q = _emb_queries(spark, sf, 5)
    cb = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2)
    return pq_topk(emb, q, cb, 10)


def _q_ann_lsh(spark, sf):
    """Sign-LSH bucketed ANN — the hash-bucket alternative to IVF (no
    centroid table): deterministic splitmix64-hash hyperplanes,
    candidates = the query's own signature bucket, rerank by exact
    cosine. 4 bits → 16 buckets at this SF. Queries here are corpus
    rows, so ``exclude_self=True`` (shared id space)."""
    from stark_spark.operators.similarity import ann_lsh_topk
    emb, q = _emb_queries(spark, sf, 5)
    return ann_lsh_topk(emb, q, 5, dim=64, n_bits=4, exclude_self=True)


def _q_ann_knn_join(spark, sf, score="fold"):
    """All-corpus ANN neighbor graph (top-3 per vector, IVF-bucketed,
    self excluded) — the scale shape behind embedding dedup and
    retrieval-index builds; never all-pairs. The oracle gates the
    fold-scored twin (bit-identical to DuckDB list_reduce); the gemm
    entry below is the production scorer (per-bucket BLAS matmul),
    oracle-gated on its discrete columns and rank-equality-gated in
    pytest."""
    from stark_spark.operators.similarity import ann_knn_join
    emb = D.load(spark, sf, "embeddings")
    cent = (emb.where(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    return ann_knn_join(emb, cent, 3, n_probe=2, score=score)


def _q_ann_knn_join_gemm(spark, sf):
    """Production (BLAS-scored) neighbor graph, oracle-gated on the
    discrete output (q_id, neighbor, rank): ranks are deterministic
    (tie-break on vec_id) and pytest asserts gemm == fold rank-for-rank;
    the float cos column itself may differ from the SQL fold in the
    last ulp (BLAS pairwise summation), so it stays out of the hash."""
    return (_q_ann_knn_join(spark, sf, score="gemm")
            .select("q_id", "vec_id", "rank"))


def _q_ann_ivf_pruned(spark, sf):
    """The 100 TB shape of IVF, oracle-gated end-to-end: the corpus is
    PERSISTED `partitionBy(bucket)` (`save_ivf_bucketed`), then probed
    via `ivf_topk_pruned` — the scan carries `bucket IN (probes)` so
    Catalyst prunes bucket DIRECTORIES (file-level, before any row is
    read; the `PartitionFilters` plan assertion lives in pytest).
    Same parameters as `ann_ivf_topk`, fold scorer → identical oracle
    SQL: the store roundtrip must be a no-op on results."""
    import tempfile
    from stark_spark.operators.similarity import (ivf_topk_pruned,
                                                  save_ivf_bucketed)
    emb, q = _emb_queries(spark, sf, 5)
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    path = tempfile.mkdtemp(prefix="stark_ivf_store_") + "/store"
    save_ivf_bucketed(emb, cent, path)
    return ivf_topk_pruned(spark, path, q, 5, n_probe=2)


def _media_fixture_images():
    """Deterministic RGB fixtures for the multimodal gate — pure
    content, no data dependency, so the oracle can embed the expected
    features as literals computed from the SAME arrays."""
    import numpy as np
    out = []
    for i in range(6):
        h, w = 8 + 4 * i, 12 + 4 * i
        arr = ((np.arange(h * w * 3, dtype=np.int64) * (i + 3)) % 251) \
            .astype("uint8").reshape(h, w, 3)
        out.append((i, arr))
    return out


def _phash_fixture_images():
    """Deterministic photo-like fixtures (sums of gaussian blobs —
    smooth decaying spectra, the regime perceptual hashing is built
    for): five distinct scenes + two noised near-duplicate copies.
    Pure content, no data dependency, so the oracle embeds the
    expected pairs as literals computed from the SAME arrays."""
    import numpy as np

    def blob(seed, h=60, w=72):
        rng = np.random.default_rng(seed)
        yy, xx = np.mgrid[0:h, 0:w].astype(float)
        img = np.zeros((h, w))
        for _ in range(6):
            cx, cy = rng.uniform(0, w), rng.uniform(0, h)
            s = rng.uniform(6, 18)
            img += rng.uniform(0.4, 1.0) * np.exp(
                -(((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * s * s)))
        img = (img - img.min()) / (img.ptp() + 1e-12) * 255
        return np.repeat(img[:, :, None], 3, axis=2).astype(np.uint8)

    def noised(arr, seed):
        rng = np.random.default_rng(seed)
        out = arr.copy()
        idx = rng.integers(0, out.size, 3000)
        out.flat[idx] = np.clip(
            out.flat[idx].astype(int) + rng.integers(-25, 26, 3000),
            0, 255).astype(np.uint8)
        return out

    imgs = {i: blob(i) for i in range(5)}
    imgs[5] = noised(imgs[0], 100)
    imgs[6] = noised(imgs[1], 101)
    return imgs


def _q_multimodal_phash_pairs(spark, sf):
    """Near-duplicate IMAGE detection end-to-end: PNG fixtures through
    the binaryFile source → executor-side Arrow decode → 64-bit
    perceptual hash (32x32 DCT median hash) → hamming-banded pair
    join (`dedup.hamming_near_pairs`, same pigeonhole machinery as
    SimHash text dedup — never all-pairs). The oracle is the literal
    expected pair table computed driver-side from the same
    deterministic arrays (matrix-DCT == naive direct-sum DCT is
    independently property-tested)."""
    import tempfile
    from stark_spark.functions.visualize import _png_encode
    from stark_spark.operators.multimodal import (image_dup_pairs,
                                                  read_binary_dir)
    root = tempfile.mkdtemp(prefix="stark_phash_")
    for i, arr in _phash_fixture_images().items():
        with open(f"{root}/img_{i}.png", "wb") as f:
            f.write(_png_encode(arr))
    pairs = image_dup_pairs(read_binary_dir(spark, root, "*.png"),
                            max_hamming=8)
    aid = F.regexp_extract("a", r"img_(\d+)\.png", 1).cast("int")
    bid = F.regexp_extract("b", r"img_(\d+)\.png", 1).cast("int")
    return pairs.select(F.least(aid, bid).alias("a_id"),
                        F.greatest(aid, bid).alias("b_id"),
                        F.col("hamming").cast("long").alias("hamming"))


def _afp_fixture_waves():
    """Deterministic tone-mixture waveforms (sine stacks with a slow
    amplitude envelope): four distinct recordings + two noised
    near-duplicate copies, written as REAL raw 16-bit PCM."""
    import numpy as np

    def tone(seed, n=8000):
        rng = np.random.default_rng(seed)
        t = np.arange(n) / 8000.0
        w = sum(rng.uniform(0.2, 1.0)
                * np.sin(2 * np.pi * rng.uniform(80, 2000) * t
                         + rng.uniform(0, 6)) for _ in range(5))
        env = np.interp(np.arange(n), np.linspace(0, n, 12),
                        rng.uniform(0.2, 1.0, 12))
        w = w * env
        return w / np.abs(w).max() * 0.8

    waves = {i: tone(i) for i in range(4)}
    for src, dst, seed in ((0, 4, 50), (1, 5, 51)):
        rng = np.random.default_rng(seed)
        waves[dst] = waves[src] + rng.normal(0, 0.01, len(waves[src]))
    return {i: (w * 32767).astype("<i2") for i, w in waves.items()}


def _q_multimodal_audio_pairs(spark, sf):
    """Near-duplicate AUDIO detection end-to-end: fixtures written as
    REAL RIFF/WAVE PCM16 files (canonical 44-byte-header container,
    chunk-walk decode) mixed with headerless raw PCM16 files through
    the binaryFile source → executor-side REAL decode (magic
    sniffing picks the container) → 64-bit energy-delta fingerprint
    (gain-invariant) → hamming-banded pair join (same pigeonhole
    machinery as SimHash/pHash). The mixed-container fixture proves
    the two decode paths yield the identical waveform: the expected
    near-dup pairs span a .wav/.pcm boundary. Oracle = literal
    expected pairs from the same deterministic arrays."""
    import tempfile
    from stark_spark.operators.multimodal import (audio_dup_pairs,
                                                  encode_wav,
                                                  read_binary_dir)
    root = tempfile.mkdtemp(prefix="stark_afp_")
    # container split chosen so BOTH expected near-dup pairs (0,4) and
    # (1,5) cross a .wav/.pcm boundary
    for i, pcm in _afp_fixture_waves().items():
        if i in (0, 3, 5):
            with open(f"{root}/clip_{i}.wav", "wb") as f:
                f.write(encode_wav(pcm))
        else:
            with open(f"{root}/clip_{i}.pcm", "wb") as f:
                f.write(pcm.tobytes())
    pairs = audio_dup_pairs(read_binary_dir(spark, root, "*.{wav,pcm}"),
                            max_hamming=8)
    aid = F.regexp_extract("a", r"clip_(\d+)\.(wav|pcm)", 1).cast("int")
    bid = F.regexp_extract("b", r"clip_(\d+)\.(wav|pcm)", 1).cast("int")
    return pairs.select(F.least(aid, bid).alias("a_id"),
                        F.greatest(aid, bid).alias("b_id"),
                        F.col("hamming").cast("long").alias("hamming"))


def _rvid_fixture_videos():
    """Deterministic RVID raw-video fixtures: three distinct 'pan'
    clips (rolled variants of a gaussian-blob scene) + one noised
    near-duplicate copy of clip 0."""
    import numpy as np

    def blob(seed, h=48, w=64):
        rng = np.random.default_rng(seed)
        yy, xx = np.mgrid[0:h, 0:w].astype(float)
        img = np.zeros((h, w))
        for _ in range(6):
            cx, cy = rng.uniform(0, w), rng.uniform(0, h)
            s = rng.uniform(5, 15)
            img += rng.uniform(0.4, 1.0) * np.exp(
                -(((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * s * s)))
        img = (img - img.min()) / (img.ptp() + 1e-12) * 255
        return np.repeat(img[:, :, None], 3, axis=2).astype(np.uint8)

    def vid(seed, n=8):
        base = blob(seed)
        return np.stack([np.roll(base, 2 * i, axis=1)
                         for i in range(n)])

    vids = {i: vid(i) for i in range(3)}
    noisy = vids[0].copy()
    rng = np.random.default_rng(9)
    idx = rng.integers(0, noisy.size, 20000)
    noisy.flat[idx] = np.clip(
        noisy.flat[idx].astype(int) + rng.integers(-20, 21, 20000),
        0, 255).astype(np.uint8)
    vids[3] = noisy
    vids[4] = vids[1].copy()   # MJPEG twin of clip 1 (the lossy
    return vids                # codec itself is the "noise")


#: on-disk container per fixture video: DIB-AVI / RVID raw / MJPEG-AVI
_VIDEO_FIXTURE_CODECS = {0: "avi", 1: "rvid", 2: "mjpg",
                         3: "rvid", 4: "mjpg"}


def _video_fixture_effective():
    """Frame stacks as they exist ON DISK (post-codec): MJPG frames
    are JPEG-lossy (luminance-only baseline), so the oracle must
    phash the deterministic encode→decode roundtrip, not the source
    arrays."""
    from stark_spark.operators.multimodal import decode_avi, encode_avi
    out = {}
    for i, v in _rvid_fixture_videos().items():
        if _VIDEO_FIXTURE_CODECS[i] == "mjpg":
            out[i] = decode_avi(encode_avi(v, codec="MJPG"))
        else:
            out[i] = v
    return out


def _q_multimodal_video_pairs(spark, sf):
    """Near-duplicate VIDEO detection end-to-end across THREE real
    containers: uncompressed DIB-AVI, MJPEG-AVI (per-frame baseline
    JPEGs through the in-repo stdlib codec), and RVID raw streams —
    binaryFile source → executor-side REAL frame decode (magic +
    biCompression sniffing picks the path) → per-sampled-frame
    perceptual hash → banded frame-pair join → per-video-pair
    evidence aggregation (>= 2 matching frames). Expected pairs:
    (0,3) crosses DIB-AVI/RVID, (1,4) crosses RVID/MJPEG-AVI (video 4
    is clip 1 recompressed — JPEG loss is the only difference, phash
    absorbs it). Oracle = the exact expected pair table computed
    driver-side from the POST-CODEC frame stacks (the pigeonhole
    banding finds EVERY frame pair within the hamming bound, so the
    output is a pure function of the on-disk bytes)."""
    import tempfile
    from stark_spark.operators.multimodal import (encode_avi,
                                                  encode_rawvideo,
                                                  read_binary_dir,
                                                  video_dup_pairs)
    root = tempfile.mkdtemp(prefix="stark_rvid_")
    for i, v in _rvid_fixture_videos().items():
        codec = _VIDEO_FIXTURE_CODECS[i]
        if codec == "avi":
            with open(f"{root}/v_{i}.avi", "wb") as f:
                f.write(encode_avi(v))
        elif codec == "mjpg":
            with open(f"{root}/v_{i}.avi", "wb") as f:
                f.write(encode_avi(v, codec="MJPG"))
        else:
            with open(f"{root}/v_{i}.rvid", "wb") as f:
                f.write(encode_rawvideo(v))
    pairs = video_dup_pairs(read_binary_dir(spark, root,
                                            "*.{rvid,avi}"),
                            max_hamming=8, min_frames=2)
    aid = F.regexp_extract("a", r"v_(\d+)\.(rvid|avi)", 1).cast("int")
    bid = F.regexp_extract("b", r"v_(\d+)\.(rvid|avi)", 1).cast("int")
    return pairs.select(
        F.least(aid, bid).alias("a_id"),
        F.greatest(aid, bid).alias("b_id"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("min_hamming").cast("long").alias("min_hamming"))


def _q_multimodal_features(spark, sf):
    """`loadNanoFiles` equivalent (STC:561-621) as an oracle gate: a
    directory of PNGs through the binaryFile source → mapInPandas
    Arrow decode (the in-repo REAL PNG reader) → per-channel feature
    stats. Content is deterministic, so the oracle is the literal
    expected table — a true hash gate over the whole binary-ingest
    pipeline, independent of ``sf``."""
    import tempfile
    from stark_spark.functions.visualize import _png_encode
    from stark_spark.operators.multimodal import (image_features,
                                                  read_binary_dir)
    root = tempfile.mkdtemp(prefix="stark_media_")
    for i, arr in _media_fixture_images():
        with open(f"{root}/img_{i}.png", "wb") as f:
            f.write(_png_encode(arr))
    feats = image_features(read_binary_dir(spark, root, "*.png"))
    return feats.select(
        F.regexp_extract("path", r"img_(\d+)\.png", 1).cast("int")
         .alias("img_id"),
        "width", "height",
        F.element_at("mean_rgb", 1).alias("mean_r"),
        F.element_at("std_rgb", 3).alias("std_b"))


def _q_zip_join_bucketed(spark, sf):
    """The reference's `zipJoin` (PSF:325-348, both sides identically
    partitioned ⇒ no shuffle) as an oracle gate: customer and supplier
    points bucketed by home cell into managed tables, then the cell
    equi-join + point-equality refine — planned WITHOUT exchanges
    (bucketed SMJ; the no-Exchange plan assertion lives in
    test_sources.py). Result must equal the plain lattice point join."""
    import uuid
    from stark_spark.sources.partitioned import (save_bucketed,
                                                 zip_join_bucketed)
    cust = D.st_points(spark, sf, "customer", "c_custkey", keep_geom=False)
    supp = D.st_points(spark, sf, "supplier", "s_suppkey", keep_geom=False)
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"zj_cust_{tag}", f"zj_supp_{tag}"
    save_bucketed(cust, lt, GRID)
    save_bucketed(supp, rt, GRID)
    out = zip_join_bucketed(spark, lt, rt, predicate="intersects")
    return out.select("c_custkey", "s_suppkey")


def _q_stream_st_join(spark, sf):
    """Stream ⋈ stream spatial join replay == the batch join: even- and
    odd-id event streams joined on (cell, point equality, |Δt| ≤ 1 h).
    With a year-wide watermark no buffered row is evicted before
    availableNow drains both sides, so the emitted matches are exactly
    the batch (and DuckDB) join result — the time-range condition is
    what BOUNDS that buffer in production, where the watermark tracks
    real arrival skew."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              st_stream_stream_join)
    # lattice coordinates (user-derived, like the customer/supplier
    # point tables) — value is a continuous measurement, so exact
    # point equality on it would never match and the gate would be an
    # empty-result tautology
    ev = (D.load(spark, sf, "events")
            .withColumn("x", (F.col("user_id").cast("long") * PX % 1000)
                             / 10.0)
            .withColumn("y", (F.col("user_id").cast("long") * PY % 1000)
                             / 10.0))
    root = _mkdtemp("stark_stream_ssj_")
    l_path, r_path = root + "/left", root + "/right"
    ev.where(F.col("event_id") % 2 == 0).repartition(2) \
      .write.parquet(l_path)
    ev.where(F.col("event_id") % 2 == 1).repartition(2) \
      .write.parquet(r_path)
    schema = ev.schema
    l = read_event_stream(spark, l_path, schema, max_files=2)
    r = read_event_stream(spark, r_path, schema, max_files=2)
    out = st_stream_stream_join(l, r, grid=GRID, watermark="365 days",
                                time_range="1 hour")
    t = _stream_sink(out, "append")
    return t.select("event_id", F.col("event_id_r").alias("match_id"))


def _q_kmeans_exact(spark, sf):
    """Lloyd's k-means, oracle-gated end-to-end: `exact=True` makes
    each per-dimension mean an integer-micros sum followed by one IEEE
    division — order-independent at any parallelism — so two full
    iterations (broadcast fold-cosine assign → grouped exact means,
    empty buckets keep their centroid) hash-match a DuckDB unroll of
    the identical recurrence. Output exploded to (c_id, dim, val)
    scalar rows — no array column in the hash."""
    from stark_spark.operators.similarity import kmeans_centroids
    emb = D.load(spark, sf, "embeddings")
    cent = kmeans_centroids(emb, 4, n_iter=2, exact=True)
    return cent.select("c_id", F.posexplode("c_embedding")
                        .alias("dim", "val"))


def _q_partition_bsp(spark, sf):
    """Cost-based BSP partitioner (§2.11 row 63, `BSPartitioner.scala`/
    `BSP2.scala` equal-cost splits) as an oracle gate: the per-cell
    histogram is a distributed agg; the recursive most-balanced-split
    runs on the driver (the histogram is ≤ nx·ny rows at any data
    scale); the gate emits every leaf's cell-rectangle + cost, which
    the DuckDB mirror recomputes with the identical split rule
    (min by (imbalance, axis, boundary), leaf iff cost ≤ max_cost or
    1×1 cell)."""
    from stark_spark.partitioner.bsp import assign_bsp_cells
    ev = D.st_events(spark, sf, keep_geom=False)
    _, leaves = assign_bsp_cells(ev, GRID, max_cost=500)
    rows = [(l.cx0, l.cy0, l.cx1, l.cy1, l.cost) for l in leaves]
    return spark.createDataFrame(
        rows, "cx0 int, cy0 int, cx1 int, cy1 int, cost bigint")


def _q_partition_str(spark, sf):
    """STR (Sort-Tile-Recursive) partitioner (§2.11 row 64,
    `RTreePartitioner.scala` bulk-load) as an oracle gate: fit a 3×3
    tiling over the full customer point set (fraction-1.0 "sample" —
    the fit is exact, so the DuckDB mirror can reproduce the strip/
    slab boundaries from (x, y)-ranked positions), then emit the
    per-partition assignment counts under the fitted boundary CASE."""
    from stark_spark.partitioner.rtree import str_partitioner
    pts = D.st_points(spark, sf, "customer", "c_custkey")
    spec = str_partitioner(pts, 9, x="x", y="y", sample_fraction=1.0)
    out = pts.withColumn("part", spec.partition_expr(F.col("x"), F.col("y")))
    return out.groupBy("part").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# streaming oracle-equivalence gates — each replays a bounded stream
# with trigger(availableNow) into a memory sink and returns a frame
# that must equal the batch/DuckDB computation exactly. This is the
# tier's only driver-visible proof (pytest asserts the same equality
# per-operator; see tests/test_streaming.py).
# ---------------------------------------------------------------------------

def _stream_sink(out, mode: str, state_partitions: int | None = None):
    """Run a bounded streaming frame to completion (availableNow) into
    a uniquely-named memory sink; return the sink table.

    The checkpoint lives on the fast scratch root (tmpfs when the
    host has one — WAL/state delta files are many tiny synchronous
    writes) and is deleted after the replay.

    ``state_partitions`` sizes the stateful-operator shuffle (= the
    state-store instance count, pinned at the query's first batch)
    for gates whose streaming state is BOUNDED BY CONSTRUCTION — a
    CMS is ≤ width·depth cells, HLL ≤ groups·256 registers, OHLC ≤
    series·windows rows. Reduce/state parallelism should track the
    KEY SPACE, not the core count: map-side partial aggregation (the
    per-row work) runs at the input's parallelism regardless, the
    reduce side only merges ≤ |key space| partials, and every extra
    state partition is a per-batch state-store open + commit + delta
    file (r14 A/B at sf0.1/local[32], identical results: stream_ohlc
    2.00 s → 1.14 s, stream_hll_users 1.71 → 1.09, stream_cms_counts
    1.99 → 1.26 at 8 vs the 32 session default; an earlier r13 note
    claimed the opposite without isolating stateful gates). The r13
    scaling block agrees: the stateful stream gates ran FASTER on 8
    cores (= 8 state partitions) than 32. Env override
    SPARK_GRAFT_STREAM_STATE_PARTS wins when set (cluster deploys
    size this to their real state volume); None keeps the session
    default (stateless gates don't care — no state store)."""
    import shutil
    import uuid
    spark = out.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    ck = _mkdtemp("stark_ck_")
    env_parts = _os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS")
    if env_parts:
        state_partitions = int(env_parts)
    # the query runs on a clone of the session so the setting never
    # touches the caller's session, which other queries may share
    run = spark if state_partitions is None else clone_session(
        spark, {"spark.sql.shuffle.partitions": str(state_partitions)})
    try:
        q = (bind(out, run).writeStream.format("memory").queryName(name)
                .option("checkpointLocation", ck)
                .outputMode(mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return bind(run.table(name), spark)


def _q_stream_windowed_stats(spark, sf):
    """Streaming tumbling-window aggregate == the batch group-by: the
    events table replayed as file-source micro-batches through
    `windowed_stats` (1-day windows keyed by event_type) in complete
    mode — with all aggregate state retained, the final table must be
    EXACTLY the batch answer regardless of file arrival order."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              windowed_stats)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=1)
    out = windowed_stats(s, time_col="ts", window="1 day",
                         watermark="365 days", keys=("event_type",),
                         value_col="value")
    # state = (day window × event_type) rows — bounded key space
    t = _stream_sink(out, "complete", state_partitions=8)
    return t.select(F.col("win_start").cast("long").alias("win_start"),
                    "event_type", "n", "sum_value", "max_cents")


def _q_stream_geofence(spark, sf):
    """Streaming geofence rollup == batch point-in-rect counts: the
    stream-static broadcast spatial join is stateless, so replaying
    the events as micro-batches through the windowed count (complete
    mode, watermark wider than the data span) must reproduce the
    batch answer exactly."""
    from stark_spark.functions.constructors import st_frame
    from stark_spark.streaming.stream import (geofence_counts,
                                              read_event_stream)
    ev = D.st_events(spark, sf, keep_geom=True)
    d = _replay_dir(ev, sf, "st_events")
    # stateless guard applied on the stream; the replay dir holds the
    # unfiltered frame shared by the st_events stream gates
    s = read_event_stream(spark, d, ev.schema, max_files=2) \
        .where(F.col("ts").isNotNull())
    fences = st_frame(spark.createDataFrame(
        [(1, "POLYGON ((0 0, 50 0, 50 100, 0 100, 0 0))"),
         (2, "POLYGON ((50 0, 100 0, 100 100, 50 100, 50 0))")],
        "fence_id int, wkt string"), wkt="wkt")
    out = geofence_counts(s, fences, window="1 day",
                          watermark="365 days")
    # state = (day window × fence) rows — bounded key space
    t = _stream_sink(out, "complete", state_partitions=8)
    return t.select(F.col("win_start").cast("long").alias("win_start"),
                    "fence_id", "n")


def _q_stream_cell_extremes(spark, sf):
    """Custom stateful streaming operator (applyInPandasWithState —
    the reference's accumulator-style aggregate, streamed): running
    per-cell (count, min, max). The memory sink in update mode keeps
    every emitted update; state is monotone, so max(n)/min(v_min)/
    max(v_max) per cell recovers the final state, which must equal
    the batch per-cell aggregate."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stateful_cell_extremes)
    ev = D.st_events(spark, sf, keep_geom=True)
    d = _replay_dir(ev, sf, "st_events")
    s = read_event_stream(spark, d, ev.schema, max_files=2) \
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
    out = stateful_cell_extremes(s, GRID)
    # state = one triple per occupied grid cell — bounded by the grid
    t = _stream_sink(out, "update", state_partitions=8)
    return (t.groupBy("cell")
             .agg(F.max("n").alias("n"),
                  F.min("v_min").alias("v_min"),
                  F.max("v_max").alias("v_max")))


def _q_stream_session_stats(spark, sf):
    """Native session-window streaming aggregate (gap-based
    session_window) replayed in complete mode == the batch
    gaps-and-islands mirror. Compared in exact integer MICROSECONDS
    (unix_micros / epoch_us) because the synthetic timestamps are
    fractional — no float boundary ambiguity."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              session_stats)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    # the not-null guard is stateless, so it runs on the STREAM (the
    # shared replay holds the raw table) — same rows either way
    s = read_event_stream(spark, d, ev.schema, max_files=2) \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    out = session_stats(s, gap="2 hours", watermark="365 days",
                        key="user_id")
    t = _stream_sink(out, "complete")
    return t.select(F.unix_micros("sess_start").alias("sess_start_us"),
                    F.unix_micros("sess_end").alias("sess_end_us"),
                    "user_id", "n")


def _q_stream_cell_counts(spark, sf):
    """Streaming per-cell windowed histogram (the continuous feed for
    cost-based partitioning) replayed in complete mode == the batch
    (day, cell) count."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              windowed_cell_counts)
    ev = D.st_events(spark, sf, keep_geom=True)
    d = _replay_dir(ev, sf, "st_events")
    s = read_event_stream(spark, d, ev.schema, max_files=2) \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    out = windowed_cell_counts(s, GRID, window="1 day",
                               watermark="365 days")
    # state = (day window × occupied cell) counts — grid-bounded
    t = _stream_sink(out, "complete", state_partitions=8)
    return t.select(F.col("win_start").cast("long").alias("win_start"),
                    "cell", "n")


def _q_stream_dedup(spark, sf):
    """Streaming first-arrival dedup == batch DISTINCT on the key
    columns: `dropDuplicatesWithinWatermark` with a horizon wider than
    the table's time span keeps every key's state live, so exactly one
    row per (user_id, event_type) survives — arrival order decides
    WHICH row, so the gate projects the key columns only."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_dedup)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=2)
    out = stream_dedup(s, key_cols=("user_id", "event_type"),
                       time_col="ts", watermark="365 days")
    t = _stream_sink(out, "append")
    return t.select("user_id", "event_type")


def _q_stream_contamination(spark, sf):
    """Streaming decontamination at ingest: documents replayed as a
    file stream through the stateless Bloom prefilter (driver-built
    over the static eval corpus, pure codegen expression — zero
    streaming state) + closing stream-static equi-join. Must flag
    EXACTLY the rows the batch contamination check flags."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_contamination)
    docs = D.load(spark, sf, "documents")
    d = _replay_dir(docs, sf, "docs")
    s = read_event_stream(spark, d, docs.schema, max_files=2)
    out = stream_contamination(s, _eval_corpus(spark, sf))
    t = _stream_sink(out, "append")
    return t.select("doc_id", "content_hash")


def _q_stream_contamination_ngrams(spark, sf):
    """Streaming 13-gram decontamination at ingest: documents
    replayed as a file stream explode into per-doc distinct window
    hashes (native exprs) and join the checkpointed static eval
    shingle set — stateless stream-static join, zero streaming
    state. Output = every (doc, matching window) pair, exactly the
    batch rule's hit set."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_contamination_ngrams)
    docs = D.load(spark, sf, "documents")
    d = _replay_dir(docs, sf, "docs")
    s = read_event_stream(spark, d, docs.schema, max_files=2)
    out = stream_contamination_ngrams(s, _eval_corpus(spark, sf), n=13)
    t = _stream_sink(out, "append")
    return t.select("doc_id", "h")


def _q_stream_contamination_jvm(spark, sf):
    """Streaming decontamination, distributed-build flavor: the Bloom
    words are built JVM-side (explode → bit_or tree-aggregate, no
    driver collect, no plan literal) and probed inside each
    micro-batch via ONE single-row stream-static broadcast of the
    dense word array + k getbit probes — the ingest-time shape that
    scales past ~1M eval rows. Same flagged set as the literal impl
    and the batch check."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_contamination)
    docs = D.load(spark, sf, "documents")
    d = _replay_dir(docs, sf, "docs")
    s = read_event_stream(spark, d, docs.schema, max_files=2)
    out = stream_contamination(s, _eval_corpus(spark, sf), impl="jvm")
    t = _stream_sink(out, "append")
    return t.select("doc_id", "content_hash")


def _q_stream_sessionize_replay(spark, sf):
    """Streaming per-key sessionization (applyInPandasWithState with
    event-time timeouts) == the batch gaps-and-islands sessions: events
    are replayed in event-time-ordered files (a real stream's shape —
    the file source replays oldest-mtime first), followed by one
    far-future SENTINEL event per user so every real session closes
    in-stream and emits. Timestamps are truncated to whole seconds on
    write so the streaming microsecond gap math and the oracle's
    epoch-seconds gap math see identical values."""
    import os
    from pyspark.sql.functions import date_trunc
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_sessionize)
    ev = (D.load(spark, sf, "events")
            .withColumn("ts", date_trunc("second", F.col("ts"))))
    sent = (ev.select("user_id").distinct()
              .select(F.lit(-1).cast("long").alias("event_id"),
                      F.to_timestamp(F.lit("2024-12-01 00:00:00"))
                       .alias("ts"),
                      "user_id", F.lit("sentinel").alias("event_type"),
                      F.lit(0.0).alias("value"),
                      F.lit("{}").alias("props")))
    root = _mkdtemp("stark_stream_sess_")
    d = root + "/events"
    os.makedirs(d)
    bounds = ["0001-01-01", "2024-01-08", "2024-01-15", "2024-01-22",
              "2024-01-29", "2024-02-12", "2024-11-30"]
    slices = [ev.where((F.col("ts") >= F.lit(lo).cast("timestamp")) &
                       (F.col("ts") < F.lit(hi).cast("timestamp")))
              for lo, hi in zip(bounds[:-1], bounds[1:])]
    slices.append(sent.select(*ev.columns))
    for i, part in enumerate(slices):
        tmp = f"{root}/p{i}"
        part.coalesce(1).write.parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{d}/{i:03d}.parquet"
        os.rename(f"{tmp}/{src}", dst)
        # explicit increasing mtimes: the file source replays by mtime,
        # and these must land oldest-event-time-first (no sleeps)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    s = read_event_stream(spark, d, ev.schema, max_files=1)
    out = stream_sessionize(s, key="user_id", time_col="ts",
                            gap=7200, watermark="1 hour")
    t = _stream_sink(out, "append")
    return (t.where(F.col("sess_start") <
                    F.to_timestamp(F.lit("2024-11-01 00:00:00")))
             .select(F.col("key").alias("user_id"),
                     F.col("sess_start").cast("long").alias("sess_start"),
                     F.col("sess_end").cast("long").alias("sess_end"),
                     "n"))


def _q_funnel_steps(spark, sf):
    """Ordered-step conversion funnel view→click→purchase over the
    events stream: min-timestamp chain semantics computed in ONE
    user-key shuffle via a JVM array fold (the k-join form the oracle
    uses costs k shuffles). Exact integers: users + ppm conversion."""
    from stark_spark.operators.funnel import funnel
    ev = D.load(spark, sf, "events")
    return funnel(ev, ["view", "click", "purchase"])


def _q_cohort_retention(spark, sf):
    """Weekly cohort retention triangle: users bucketed by first-event
    epoch-week, counted distinct per later week — integer epoch-day
    buckets so floor = truncate in both engines. One groupBy(user) +
    one co-partitioned join back + one count-distinct."""
    from stark_spark.operators.funnel import cohort_retention
    ev = D.load(spark, sf, "events")
    return cohort_retention(ev, period_days=7)


def _q_event_transitions(spark, sf):
    """First-order Markov transition matrix of the event stream:
    lead() per user over (ts, event_id), counts + ppm probabilities —
    exact integers end-to-end, one window shuffle."""
    from stark_spark.operators.funnel import event_transitions
    ev = D.load(spark, sf, "events")
    return event_transitions(ev)


def _q_ohlc_hourly(spark, sf):
    """Hourly OHLC candles per event type: open/close picked by
    min/max over a (ts_us, event_id, value_c) struct — deterministic
    ties, cents-grid values, one map-side-combinable shuffle."""
    from stark_spark.operators.timeseries import ohlc_bars
    ev = D.load(spark, sf, "events")
    return ohlc_bars(ev, bucket_hours=1)


def _q_triangle_count(spark, sf):
    """Triangle census of the user handoff graph (same edge
    derivation as `pagerank_handoff`): degree-ordered node-iterator —
    orientation bounds every out-neighborhood at O(√m), so the wedge
    join survives celebrity skew; the oracle uses plain id-ordering,
    which counts the same triangles."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import triangle_count
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return triangle_count(edges)


def _q_fk_orphans(spark, sf):
    """Referential-integrity audit across the star schema: orphan FK
    rows (LEFT ANTI vs broadcast parent keys) + parent coverage (LEFT
    SEMI) for four relationships in one report — the
    validate-before-ingest pass `events_table_profile` doesn't cover."""
    from functools import reduce
    from stark_spark.operators.profile import fk_check
    li = D.load(spark, sf, "lineitem")
    orders = D.load(spark, sf, "orders")
    cust = D.load(spark, sf, "customer")
    part = D.load(spark, sf, "part")
    supp = D.load(spark, sf, "supplier")
    reports = [
        fk_check(li, "l_orderkey", orders, "o_orderkey",
                 relationship="lineitem.l_orderkey->orders"),
        fk_check(li, "l_partkey", part, "p_partkey",
                 relationship="lineitem.l_partkey->part"),
        fk_check(li, "l_suppkey", supp, "s_suppkey",
                 relationship="lineitem.l_suppkey->supplier"),
        fk_check(orders, "o_custkey", cust, "c_custkey",
                 relationship="orders.o_custkey->customer"),
    ]
    return reduce(lambda x, y: x.unionByName(y), reports)


def _q_fuzzy_name_pairs(spark, sf):
    """Entity-resolution fuzzy self-join on part names: distinct-value
    vocabulary (the small frame) blocked on the last token, refined by
    Catalyst's built-in levenshtein ≤ 2, canonical (a < b) pairs with
    row-support counts. Blocking is part of the contract — the oracle
    mirrors it."""
    from stark_spark.operators.fuzzy import fuzzy_self_pairs
    part = D.load(spark, sf, "part")
    return fuzzy_self_pairs(
        part, "p_name",
        block_fn=lambda c: F.regexp_extract(c, "([^ ]+)$", 1),
        max_dist=2)


def _q_tpch_q5(spark, sf):
    """TPC-H Q5 shape (local-supplier volume): the 6-table star join —
    fact⋈fact on orderkey, customer and supplier pinned to the SAME
    nation (the classic co-nation equi-conjunct), nation+region
    broadcast dims, date-range filter pushed to the orders scan,
    cents-grid revenue."""
    li = D.load(spark, sf, "lineitem")
    orders = (D.load(spark, sf, "orders")
               .where((F.col("o_orderdate")
                       >= F.to_timestamp(F.lit("1996-01-01")))
                      & (F.col("o_orderdate")
                         < F.to_timestamp(F.lit("1997-01-01")))))
    cust = D.load(spark, sf, "customer")
    supp = D.load(spark, sf, "supplier")
    nation = D.load(spark, sf, "nation")
    region = D.load(spark, sf, "region")
    rev_c = F.sum(F.round(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount"))
                          * 100).cast("bigint"))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .join(cust, (F.col("o_custkey") == F.col("c_custkey"))
                    & (F.col("c_nationkey") == F.col("s_nationkey")))
              .join(F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .where(F.col("r_name").isin("ASIA", "AFRICA"))
              .groupBy("r_name", "n_name")
              .agg(rev_c.alias("revenue_c"),
                   F.count("*").alias("n_items")))


def _q_funnel_latency(spark, sf):
    """Time-to-convert percentiles (p50/p90/p99) for the full
    view→click→purchase chain: the funnel fold threads the chain-start
    timestamp through its state, exact order-statistic ranks
    ⌈n·p/100⌉ on the converted-users frame."""
    from stark_spark.operators.funnel import funnel_latency
    ev = D.load(spark, sf, "events")
    return funnel_latency(ev, ["view", "click", "purchase"])


def _q_cusum_alerts(spark, sf):
    """Closed-form CUSUM changepoint alerts per event type: the
    sequential recursion s=max(0, s+(x−k)) rewritten as prefix-sum
    minus running-min — two stacked windows over ONE key shuffle,
    exact cents integers (k=$60, h=$200)."""
    from stark_spark.operators.anomaly import cusum_alerts
    ev = D.load(spark, sf, "events")
    return cusum_alerts(ev, "event_type", "ts", "value", "event_id",
                        k_c=6000, h_c=20000)


def _q_rolling_24h(spark, sf):
    """Trailing-24h rolling count + cents-sum per user via a RANGE
    window frame on the micro-epoch axis — one key shuffle, no range
    self-join; equal-timestamp peers included symmetrically (ANSI
    RANGE frame semantics in both engines)."""
    from stark_spark.operators.timeseries import rolling_window_sum
    ev = D.load(spark, sf, "events")
    return rolling_window_sum(ev, hours=24)


def _q_stream_ohlc(spark, sf):
    """Streaming OHLC candles == the batch resample: events replayed
    as file-source micro-batches; open/close are min/max over an
    (event-time, tie, cents) struct — order-insensitive aggregates,
    so ANY arrival order converges to the batch answer (complete mode
    retains all window state, as in `stream_windowed_stats`)."""
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_ohlc)
    ev = D.load(spark, sf, "events")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=2)
    out = stream_ohlc(s, window="1 hour", watermark="365 days")
    # state = (series × open windows) candle rows — series-scale;
    # bounded-key-space state sizing (see _stream_sink)
    t = _stream_sink(out, "complete", state_partitions=8)
    return t.select(
        "series",
        F.expr("unix_micros(win_start) div 3600000000").alias("bucket"),
        "open_c", "high_c", "low_c", "close_c", "n", "vol_c")


def _q_time_weighted_avg(spark, sf):
    """Time-weighted average value per event type (step-function hold
    until the next observation): Σ v·dt div span, exact BIGINT
    cents·µs — the irregular-sampling metric a plain AVG gets wrong.
    One lead() window + one aggregate on the key shuffle."""
    from stark_spark.operators.timeseries import time_weighted_avg
    ev = D.load(spark, sf, "events")
    return time_weighted_avg(ev)


def _q_attribution_last_touch(spark, sf):
    """Last-touch attribution: each purchase credited to the user's
    most recent prior non-purchase event type via an ignore-nulls
    last() over a [unbounded, -1] frame — the carry-forward scan, no
    self-join. Conversions without a prior touch credit 'direct'."""
    from stark_spark.operators.funnel import attribution_last_touch
    ev = D.load(spark, sf, "events")
    return attribution_last_touch(ev, conversion="purchase")


def _q_key_skew_report(spark, sf):
    """Join-planning skew profile of candidate key columns: hottest
    key share (ppm) + quantized entropy mass per column — the
    measurement that decides between a plain, broadcast, or salted
    join before the shuffle runs."""
    from stark_spark.operators.skew import key_skew_report
    ev = D.load(spark, sf, "events")
    return key_skew_report(ev, ["user_id", "event_type"])


def _q_fuzzy_canonical_names(spark, sf):
    """End-to-end entity resolution on part names: blocked levenshtein
    pairs → connected-component closure (transitive matches merge) →
    per-component canonical election (max support, ties to the smaller
    name) — the full dedupe-the-vocabulary pass, 64 names at this SF
    but vocabulary-sized (not row-sized) at any scale."""
    from stark_spark.operators.fuzzy import fuzzy_canonicalize
    part = D.load(spark, sf, "part")
    return fuzzy_canonicalize(
        part, "p_name",
        block_fn=lambda c: F.regexp_extract(c, "([^ ]+)$", 1),
        max_dist=2)


def _q_stream_outliers(spark, sf):
    """Train-offline / score-at-ingest: per-type median/MAD thresholds
    fit on the batch corpus, broadcast onto the replayed event stream,
    alerts emitted statelessly inside each micro-batch — the alert set
    must equal the batch detector's (`events_outliers`) exactly."""
    from stark_spark.operators.anomaly import robust_thresholds
    from stark_spark.streaming.stream import (read_event_stream,
                                              stream_score_outliers)
    ev = D.load(spark, sf, "events")
    th = robust_thresholds(ev, "event_type", "value", "event_id")
    d = _replay_dir(ev, sf, "events")
    s = read_event_stream(spark, d, ev.schema, max_files=2)
    out = stream_score_outliers(s, th, k=3)
    return _stream_sink(out, "append")


def _q_date_partitioned_read(spark, sf):
    """Hive date-partitioned event store: write events under
    .../event_date=D/, read back a 6-day range — the predicate
    resolves against DIRECTORY names at planning time
    (PartitionFilters; plan + files-read asserted in pytest), the
    canonical time-series retention/pruning layout."""
    import tempfile
    from stark_spark.sources.formats import (read_date_partitioned,
                                             write_date_partitioned)
    ev = D.load(spark, sf, "events")
    d = tempfile.mkdtemp(prefix="stark_datepart_") + "/events"
    write_date_partitioned(ev, d)
    out = read_date_partitioned(spark, d, start="2024-01-10",
                                end="2024-01-15")
    return out.select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        F.col("event_date").cast("string").alias("event_date"))


def _q_merge_upsert(spark, sf):
    """CDC apply (latest-wins merge): a synthetic change feed — every
    10th event corrected (+$1, 1h-later version), a sparse insert set
    with fresh keys — merged onto the base by max(version), ties to
    the update side. One key shuffle; the oracle mirrors the
    row_number pick exactly."""
    from stark_spark.operators.merge import merge_upsert
    ev = (D.load(spark, sf, "events")
           .select("event_id", "ts", "user_id", "event_type", "value"))
    upd = (ev.where(F.col("event_id") % 10 == 0)
             .withColumn("value", F.col("value") + F.lit(1.0))
             .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
             .withColumn("event_type", F.lit("corrected")))
    ins = (ev.where(F.col("event_id") % 1000 == 7)
             .withColumn("event_id",
                         F.col("event_id") + F.lit(100000000)))
    merged = merge_upsert(ev, upd.unionByName(ins), ["event_id"],
                          version_col="ts")
    return merged.select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"))


def _q_common_neighbors(spark, sf):
    """Link prediction on the handoff graph: top-20 NOT-yet-linked
    node pairs by shared-neighbor count — symmetric wedge join, pair
    count, LEFT ANTI vs the edge set, fully-ordered top-k."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import common_neighbors
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return common_neighbors(edges, k=20)


def _pq_common_neighbors_capped(spark, sf):
    """Hub-capped link prediction (r6 verdict ask #3): same handoff
    graph as `common_neighbors`, but each node keeps only its 8
    smallest-id neighbors for wedge formation — the deterministic
    degree cap that bounds the O(Σ deg²) wedge fan-out on power-law
    graphs. The anti-join still sees the full edge set."""
    from pyspark.sql import Window
    from stark_spark.operators.graph import common_neighbors
    ev = D.load(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (ev.select(F.col("user_id").alias("src"),
                       F.lead("user_id").over(w).alias("dst"))
               .where(F.col("dst").isNotNull()
                      & (F.col("src") != F.col("dst"))))
    return common_neighbors(edges, k=20, max_degree=8)


def _q_keyness_by_source(spark, sf):
    """Distinctive vocabulary per document source: top-10 terms by
    smoothed log-odds ratio vs the rest of the corpus (Monroe et al.
    keyness) — exact counts, two quantized lns per qualifying term,
    one corpus explode total."""
    from stark_spark.operators.text import keyness_log_odds
    docs = D.load(spark, sf, "documents")
    return keyness_log_odds(docs, group_col="source", k=10,
                            min_count=10)


def _q_seasonal_outliers(spark, sf):
    """Seasonality-aware anomaly detection: the robust median/MAD
    detector against a (type × hour-of-day) baseline — a value normal
    at peak hour is an anomaly at 3am. Pure operator composition: a
    derived composite key into `robust_outliers`; epoch-hour mod 24
    is exact integer time-of-day in both engines."""
    from stark_spark.operators.anomaly import robust_outliers
    ev = (D.load(spark, sf, "events")
           .withColumn("season", F.concat_ws(
               "#", F.col("event_type"),
               F.expr("(unix_micros(ts) div 3600000000) % 24"))))
    return robust_outliers(ev, "season", "value", "event_id", k=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's oracle run checks the FIRST 50
    # entries. The window rotates every round toward the queries whose
    # latest driver-green row is OLDEST (r1/r3 proved the §2 spine, r4
    # packed the never-checked text/sampling/ANN/streaming tier; r5
    # rotates the spine back in). Invariant enforced by
    # tests/test_extras.py::test_registry_driver_window_packing:
    # nothing beyond position 50 lacks a prior green driver row, and
    # the window holds the stalest entries.
    return {
        # --- latest driver-green row: r09 ---
        "sql_hull_simplify": _q_sql_hull_simplify,
        "knn_manhattan": _q_knn_manhattan,
        "stream_windowed_stats": _q_stream_windowed_stats,
        "stream_geofence": _q_stream_geofence,
        "stream_cell_extremes": _q_stream_cell_extremes,
        "stream_session_stats": _q_stream_session_stats,
        "stream_cell_counts": _q_stream_cell_counts,
        "stream_dedup": _q_stream_dedup,
        "stream_sessionize_replay": _q_stream_sessionize_replay,
        "stream_st_join": _q_stream_st_join,
        "zip_join_bucketed": _q_zip_join_bucketed,
        "multimodal_features": _q_multimodal_features,
        "partition_bsp": _q_partition_bsp,
        "ann_cosine_dup_pairs": _q_ann_dup_pairs,
        "ann_brute_topk": _q_ann_brute,
        "ann_ivf_topk": _q_ann_ivf,
        "lang_distribution": _q_lang_distribution,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "st_filter_rect_timed": _q_filter_rect_timed,
        "st_filter_intervals": _q_filter_intervals,
        "st_filter_coveredby_poly": _q_filter_coveredby_poly,
        "st_filter_z_range": _q_filter_z_range,
        "st_join_grid_points": _q_join_grid_points,
        "st_join_broadcast_points": _q_join_broadcast_points,
        "st_join_poly_contains": _q_join_poly_contains,
        "interval_join": _q_interval_join,
        "as_of_join": _q_as_of_join,
        "within_distance_join": _q_within_distance_join,
        "st_semi_join": _q_st_semi_join,
        "knn_events": _q_knn_events,
        "knn_hausdorff_st": _q_knn_hausdorff_st,
        "knn_join": _q_knn_join,
        "skyline": _q_skyline,
        "skyline_angular": _q_skyline_angular,
        "dbscan": _q_dbscan,
        "grid_cell_histogram": _q_grid_histogram,
        "agg_pricing_summary": _q_agg_pricing_summary,
        "raster_rasterize_stats": _q_raster_stats,
        "raster_roundtrip": _q_raster_roundtrip,
        "pruned_read_rect": _q_pruned_read,
        # --- latest driver-green row: r10 ---
        "dissolve_adjacent_tiles": _pq_dissolve_adjacent_tiles,
        "sql_st_buffer_erode_split": _pq_sql_st_buffer_erode_split,
        "ann_recall_planted": _pq_ann_recall_planted,
        "sql_st_degenerate_contact": _pq_sql_st_degenerate_contact,
        "pruned_join_points": _q_pruned_join,
        "pruned_read_st": _q_pruned_read_st,
        "pruned_knn": _q_pruned_knn,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_sigs": _q_dedup_minhash,
        "dedup_lsh_pairs": _q_dedup_lsh_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "contamination_bloom_jvm": _q_contamination_bloom_jvm,
        "sql_st_buffer": _q_sql_st_buffer,
        "vocab_top_k": _q_vocab_top_k,
        "doc_logprob": _q_doc_logprob,
        "sample_group_split": _q_sample_group_split,
        "multimodal_phash_pairs": _q_multimodal_phash_pairs,
        "multimodal_audio_pairs": _q_multimodal_audio_pairs,
        "multimodal_video_pairs": _q_multimodal_video_pairs,
        "stream_contamination": _q_stream_contamination,
        "bm25_topk": _q_bm25_topk,
        "knn_haversine": _q_knn_haversine,
        "trajectory_stats": _q_trajectory_stats,
        "od_matrix": _q_od_matrix,
        "stay_points": _q_stay_points,
        "distinct_hll": _q_distinct_hll,
        "bitmap_overlap": _q_bitmap_overlap,
        "tpch_q21": _q_tpch_q21,
        "funnel_steps": _q_funnel_steps,
        "funnel_latency": _q_funnel_latency,
        "cusum_alerts": _q_cusum_alerts,
        "rolling_24h": _q_rolling_24h,
        "stream_ohlc": _q_stream_ohlc,
        "time_weighted_avg": _q_time_weighted_avg,
        "attribution_last_touch": _q_attribution_last_touch,
        "key_skew_report": _q_key_skew_report,
        "fuzzy_canonical_names": _q_fuzzy_canonical_names,
        "stream_outliers": _q_stream_outliers,
        "date_partitioned_read": _q_date_partitioned_read,
        "merge_upsert": _q_merge_upsert,
        "common_neighbors": _q_common_neighbors,
        "keyness_by_source": _q_keyness_by_source,
        "seasonal_outliers": _q_seasonal_outliers,
        "cohort_retention": _q_cohort_retention,
        "event_transitions": _q_event_transitions,
        "ohlc_hourly": _q_ohlc_hourly,
        "triangle_count": _q_triangle_count,
        "fk_orphans": _q_fk_orphans,
        "fuzzy_name_pairs": _q_fuzzy_name_pairs,
        "tpch_q5": _q_tpch_q5,
        # --- latest driver-green row: r11 ---
        "ann_pq_topk_batch": _pq_ann_pq_topk_batch,
        "rrf_fusion_topk": _q_rrf_fusion_topk,
        "events_table_profile": _q_events_table_profile,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "csv_roundtrip": _q_csv_roundtrip,
        "orc_roundtrip": _q_orc_roundtrip,
        "tpch_q3": _q_tpch_q3,
        "tpch_q18": _q_tpch_q18,
        "salted_join_events": _q_salted_join_events,
        "events_outliers": _q_events_outliers,
        "pagerank_handoff": _q_pagerank_handoff,
        "pmi_collocations": _q_pmi_collocations,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "distinct_kmv": _q_distinct_kmv,
        "stream_quality_filter": _q_stream_quality_filter,
        "quality_filter_gopher": _q_quality_filter_gopher,
        "perplexity_buckets": _q_perplexity_buckets,
        "vocab_freq_spectrum": _q_vocab_freq_spectrum,
        "dedup_containment": _q_dedup_containment,
        "stream_contamination_jvm": _q_stream_contamination_jvm,
        "bm25_multi_topk": _q_bm25_multi_topk,
        "stream_contamination_ngrams": _q_stream_contamination_ngrams,
        "ann_pq_topk": _q_ann_pq_topk,
        "boilerplate_ratio": _q_boilerplate_ratio,
        "colocation_pairs": _q_colocation_pairs,
        "price_quantiles_hdr": _pq_price_quantiles_hdr,
        "parts_overlap_kmv": _pq_parts_overlap_kmv,
        "scd2_user_state": _pq_scd2_user_state,
        "attribution_linear": _pq_attribution_linear,
        "zorder_events": _pq_zorder_events,
        "user_retention_km": _pq_user_retention_km,
        "event_sequences_3": _pq_event_sequences,
        "lineitem_corr": _pq_lineitem_corr,
        "drift_psi_value": _pq_drift_psi_value,
        "chi2_type_dow": _pq_chi2_type_dow,
        "order_price_bins": _pq_order_price_bins,
        "ab_ztest_purchase": _pq_ab_ztest_purchase,
        "hourly_acf": _pq_hourly_acf,
        "forecast_snaive": _pq_forecast_snaive,
        "rfm_segments": _pq_rfm_segments,
        "data_expectations": _pq_data_expectations,
        "cube_users_hll": _pq_cube_users_hll,
        "scd2_pit_enrich": _pq_scd2_pit_enrich,
        "table_diff_orders": _pq_table_diff_orders,
        "basket_lift_pairs": _pq_basket_lift_pairs,
        "value_percent_rank": _pq_value_percent_rank,
        "ols_price_qty": _pq_ols_price_qty,
        "cms_user_counts": _pq_cms_user_counts,
        "jaccard_prefix_pairs": _pq_jaccard_prefix_pairs,
        # --- latest driver-green row: r12 ---
        "ann_knn_join_planted": _pq_ann_knn_join_planted,
        "dissolve_zones_hier": _pq_dissolve_zones_hier,
        "funnel_latency_fine": _pq_funnel_latency_fine,
        "price_percentiles_exact": _pq_price_percentiles_exact,
        "semantic_dedup_planted": _pq_semantic_dedup_planted,
        "semantic_contamination_planted": _pq_semantic_contamination_planted,
        "sample_token_budget": _pq_sample_token_budget,
        "curation_pipeline": _pq_curation_pipeline,
        "curation_pipeline_neardup": _pq_curation_pipeline_neardup,
        "passage_dedup_planted": _pq_passage_dedup_planted,
        "k_core_handoff": _pq_k_core_handoff,
        "graph_assortativity": _pq_graph_assortativity,
        "rich_club_handoff": _pq_rich_club,
        "gini_prices": _pq_gini_prices,
        "stream_semantic_contamination": _pq_stream_semantic_contamination,
        "bpe_merge_pairs": _pq_bpe_merge_pairs,
        "bfs_reach": _pq_bfs_reach,
        "stream_cms_counts": _pq_stream_cms_counts,
        "sssp_latency": _pq_sssp_latency,
        "golden_record": _pq_golden_record,
        "latency_cube_hdr": _pq_latency_cube_hdr,
        "doc_logprob_bigram": _pq_doc_logprob_bigram,
        "pivot_type_dow": _pq_pivot_type_dow,
        "min_cost_supplier": _pq_min_cost_supplier,
        "cumulative_reach": _pq_cumulative_reach,
        "stream_hll_users": _pq_stream_hll_users,
        "ppr_handoff": _pq_ppr_handoff,
        "schema_evolution_read": _pq_schema_evolution_read,
        "funnel_steps_24h": _pq_funnel_steps_24h,
        "agg_delta_apply": _pq_agg_delta_apply,
        "ann_recall_eval": _pq_ann_recall_eval,
        "st_filter_containedby_rect": _q_filter_containedby_rect,
        "raster_count_value": _q_raster_count_value,
        "distance_histogram": _q_distance_histogram,
        "raster_join_raster_sum": _q_raster_join_raster,
        "sql_raster_histogram": _q_sql_raster_hist,
        "raster_join_vector_clip": _q_raster_join_vector_clip,
        "knn_weighted_st": _q_knn_weighted_st,
        "common_neighbors_capped": _pq_common_neighbors_capped,
        "ann_recall_pq": _pq_ann_recall_pq,
        "ann_recall_lsh": _pq_ann_recall_lsh,
        "sql_st_union": _pq_sql_st_union,
        "dissolve_zones": _pq_dissolve_zones,
        "postings_index": _pq_postings_index,
        "st_join_expand_temporal": _q_join_expand_temporal,
        "st_filter_both_or_neither": _q_filter_both_or_neither,
        "st_filter_polygon_timed": _q_filter_polygon_timed,
        "sessionize": _q_sessionize,
        "within_distance_filter": _q_within_distance_filter,
        "st_anti_join": _q_st_anti_join,
        # --- latest driver-green row: r14 ---
        "simhash_pairs_planted": _pq_simhash_pairs_planted,
        "incremental_ingest_planted": _pq_incremental_ingest_planted,
        "duplicated_spans": _pq_duplicated_spans,
        "contaminated_spans": _pq_contaminated_spans,
        "stream_ingest_dedup": _pq_stream_ingest_dedup,
        "kn_discounts_docs": _pq_kn_discounts,
        "interval_join_open": _q_interval_join_open,
        "knn_join_sparse": _q_knn_join_sparse,
        "skyline_st": _q_skyline_st,
        "raster_histogram": _q_raster_hist,
        "agg_revenue_by_segment": _q_agg_revenue_by_segment,
        "dedup_keep_best": _q_dedup_keep_best,
        "text_profile": _q_text_profile,
        "text_by_source": _q_text_by_source,
        "text_repetition": _q_text_repetition,
        "pii_scrub": _q_pii_scrub,
        "chunk_documents": _q_chunk_documents,
        "contamination_exact": _q_contamination_exact,
        "contamination_lsh": _q_contamination_lsh,
        "contamination_bloom": _q_contamination_bloom,
        "kmeans_exact": _q_kmeans_exact,
        "partition_str": _q_partition_str,
        "sample_deterministic": _q_sample_deterministic,
        "sample_stratified": _q_sample_stratified,
        "sample_weighted": _q_sample_weighted,
        "sample_weighted_by_source": _q_sample_weighted_by_source,
        "mix_sources": _q_mix_sources,
        "pack_shards": _q_pack_shards,
        "length_quantiles": _q_length_quantiles,
        "source_heavy_hitters": _q_source_heavy_hitters,
        "ann_filtered_topk": _q_ann_filtered,
        "ann_brute_topk_gemm": _q_ann_brute_gemm,
        "ann_quantized_topk": _q_ann_quantized,
        "ann_ivf_pruned_topk": _q_ann_ivf_pruned,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk_gemm": _q_ann_ivf_gemm,
        "ann_knn_join": _q_ann_knn_join,
        "ann_knn_join_gemm": _q_ann_knn_join_gemm,
        "ann_dup_pairs_ivf_gemm": _q_ann_dup_pairs_ivf_gemm,
        "viz_lit_pixels": _q_viz_lit_pixels,
        "partition_spatio_temporal": _q_partition_spatio_temporal,
        "events_rollup": _q_events_rollup,
        "events_gapfill": _q_events_gapfill,
        "sql_st_difference_annulus": _pq_sql_st_difference_annulus,
        "ann_recall_lsh_mp": _pq_ann_recall_lsh_mp,
        "sql_st_buffer_erode": _pq_sql_st_buffer_erode,
        "events_gapfill_interp": _q_events_gapfill_interp,
        "sql_st_filter": _q_sql_st_filter,
        "sql_tile_accessors": _q_sql_tile_accessors,
        "sql_st_measures": _q_sql_st_measures,
    }


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _simhash_bit_sql(j: int, hcol: str = "h") -> str:
    """Predicate: bit j (MSB-first within md5 nibbles) of the hash set."""
    nib, bit = divmod(j, 4)
    chars = {0: "89abcdef", 1: "4567cdef", 2: "2367abef", 3: "13579bdf"}[bit]
    return f"strpos('{chars}', substr({hcol}, {nib + 1}, 1)) > 0"


def _pagerank_sql(n_iter: int = 3) -> str:
    """Unrolled integer-PageRank CTE chain — the DuckDB mirror of
    `graph.pagerank` (pure BIGINT mass: r div deg edge carry,
    (x*85)//100 damping, dangling mass redistributed as dm//N)."""
    head = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
      lead(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS dst
    FROM events) t
  WHERE dst IS NOT NULL AND src <> dst
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT count(*) AS n FROM nodes
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY src
), r0 AS (
  SELECT node, 1000000000000 // nn.n AS r FROM nodes, nn
)"""
    parts = [head]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f""", c{i} AS (
  SELECT e.dst AS node, sum(r{p}.r // deg.deg) AS m
  FROM e JOIN r{p} ON r{p}.node = e.src
         JOIN deg ON deg.src = e.src
  GROUP BY e.dst
), d{i} AS (
  SELECT coalesce(sum(r{p}.r), 0) AS dm
  FROM r{p} LEFT JOIN deg ON deg.src = r{p}.node
  WHERE deg.src IS NULL
), r{i} AS (
  SELECT nodes.node,
    ((150000000000 // nn.n)
     + ((coalesce(c{i}.m, 0) + (d{i}.dm // nn.n)) * 85) // 100) AS r
  FROM nodes LEFT JOIN c{i} USING (node), nn, d{i}
)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_q FROM r{n_iter}""")
    return "".join(parts)


def _hex7_sql(hcol: str) -> str:
    """First 7 hex digits of an md5 column as an integer — the DuckDB
    mirror of `sampling.hash_bucket` (Spark `conv(substring(h,1,7),
    16,10)`); DuckDB has no base-16 conv, so parse per digit."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({hcol}, {i + 1}, 1)) - 1)"
        f" * {16 ** (6 - i)}" for i in range(7))


def _hex13_sql(hcol: str) -> str:
    """First 13 hex digits as an integer (52 bits — exact in BIGINT and
    in DOUBLE): the DuckDB mirror of `sampling.weighted_sample`'s
    uniform source."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({hcol}, {i + 1}, 1)) - 1)"
        f" * {16 ** (12 - i)}" for i in range(13))


def _simhash16_sql() -> str:
    cnts = ",\n    ".join(
        f"count(*) FILTER ({_simhash_bit_sql(j)}) AS c{j}" for j in range(16))
    terms = " + ".join(
        f"(CASE WHEN 2*c{j} >= n THEN {1 << (15 - j)} ELSE 0 END)"
        for j in range(16))
    return f"""
WITH sh AS (
  SELECT doc_id, greatest(length(text) - 3, 1) AS n, md5({_sh(4)}) AS h
  FROM documents
), agg AS (
  SELECT doc_id, any_value(n) AS n,
    {cnts}
  FROM sh GROUP BY doc_id
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM agg"""


def _simhash64_pairs_sql(max_hamming: int,
                         table: str = "documents") -> str:
    """Hamming pairs without materializing the 64-bit long (1<<63
    overflows BIGINT in DuckDB): compare per-bit majority flags.
    ``table`` lets the builder run over a CTE (the composed curation
    mirror) instead of the raw documents view."""
    cnts = ",\n    ".join(
        f"count(*) FILTER ({_simhash_bit_sql(j)}) AS c{j}" for j in range(64))
    bits = ",\n    ".join(
        f"(CASE WHEN 2*c{j} >= n THEN 1 ELSE 0 END) AS b{j}" for j in range(64))
    ham = " + ".join(f"abs(x.b{j} - y.b{j})" for j in range(64))
    return f"""
WITH sh AS (
  SELECT doc_id, greatest(length(text) - 3, 1) AS n, md5({_sh(4)}) AS h
  FROM {table}
), agg AS (
  SELECT doc_id, any_value(n) AS n,
    {cnts}
  FROM sh GROUP BY doc_id
), fp AS (
  SELECT doc_id,
    {bits}
  FROM agg
)
SELECT x.doc_id AS a, y.doc_id AS b, CAST({ham} AS BIGINT) AS hamming
FROM fp x JOIN fp y ON x.doc_id < y.doc_id
WHERE {ham} <= {max_hamming}"""


_DOT = ("list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip({a}, {b}), p -> p[1]::DOUBLE * p[2]::DOUBLE)), "
        "(acc, v) -> acc + v)")


def _lsh_sig_sql(vec_expr: str, dim: int = 64, n_bits: int = 4) -> str:
    """Sign-LSH signature as SQL — identical LCG hyperplane literals
    to `similarity.lsh_hyperplanes` (repr() round-trips the doubles)."""
    from stark_spark.operators.similarity import lsh_hyperplanes
    parts = []
    for i, w in enumerate(lsh_hyperplanes(dim, n_bits)):
        arr = "[" + ", ".join(repr(float(x)) for x in w) + "]"
        dot = _DOT.format(a=vec_expr, b=arr)
        parts.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(parts)


def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _text_profile_sql() -> str:
    toks = "string_split(text, ' ')"
    n = f"len({toks})"
    nonspace = "length(replace(text, ' ', ''))"
    stop = (f"len(list_filter({toks}, w -> w IN "
            f"('the','a','of','and','to','in','is'))) / {n}")
    punct = (f"(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))"
             f" / length(text)")
    marks = {"en": ("the", "and", "of"), "es": ("el", "la", "de"),
             "de": ("der", "die", "und"), "fr": ("le", "la", "et")}
    langs = {lang: (f"len(list_filter({toks}, w -> w IN "
                    f"{tuple(ms)!r})) / {n}").replace('"', "'")
             for lang, ms in marks.items()}
    quality = (f"(least({n} / 100.0, 1.0) + (1.0 - abs(({stop}) - 0.4)) + "
               f"(1.0 - least(({punct}) * 5.0, 1.0))) / 3.0")
    lang_case = (f"CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en' "
                 f"WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es' "
                 f"WHEN s_de > 0 AND s_de >= s_fr THEN 'de' "
                 f"WHEN s_fr > 0 THEN 'fr' ELSE 'und' END")
    fp = (f"(SELECT min(md5(s.sh)) FROM (SELECT {_sh(8, 'd.text')} AS sh) s)")
    return f"""
SELECT doc_id, {n} AS n_tokens,
  {nonspace} / {n} AS avg_token_len,
  {stop} AS stopword_ratio,
  {punct} AS punct_ratio,
  {quality} AS quality,
  {lang_case} AS lang_guess,
  fp AS fingerprint
FROM (
  SELECT d.doc_id, d.text,
    {langs['en']} AS s_en, {langs['es']} AS s_es,
    {langs['de']} AS s_de, {langs['fr']} AS s_fr,
    {fp} AS fp
  FROM documents d
) t"""


def _dbscan_sql(eps: float, min_pts: int, key: str, x: str, y: str,
                table: str) -> str:
    """Exact DBSCAN spec: core = |N_eps ∪ {{self}}| >= min_pts; clusters =
    connected components of the core ε-graph, numbered by rank of each
    component's min core key; border → min cluster id among core
    neighbors; noise = -1."""
    return f"""
WITH RECURSIVE pts AS (
  SELECT {key} AS k, {x} AS x, {y} AS y FROM {table}
), cells AS (
  -- bounded-eps blocking (mirrors the engine's cell+halo build): a
  -- point's eps-neighbors all lie in its 3x3 block of eps-sized
  -- cells, so probe 9 cell keys and hash-join on the cell instead of
  -- the O(n^2) all-pairs theta-join
  SELECT k, x, y, CAST(floor(x / {eps}) AS BIGINT) AS cx,
         CAST(floor(y / {eps}) AS BIGINT) AS cy
  FROM pts
), probe AS (
  SELECT c.k, c.x, c.y, c.cx + dx.d AS cx, c.cy + dy.d AS cy
  FROM cells c,
       (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
), nbr AS (
  SELECT a.k AS ka, b.k AS kb
  FROM probe a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {eps * eps}
), core AS (
  SELECT ka AS k FROM nbr GROUP BY ka HAVING count(*) >= {min_pts}
), cedge AS (
  SELECT ka, kb FROM nbr
  WHERE ka IN (SELECT k FROM core) AND kb IN (SELECT k FROM core)
), reach(k, r) AS (
  SELECT k, k FROM core
  UNION
  SELECT c.kb, reach.r FROM reach JOIN cedge c ON c.ka = reach.k
), comp AS (
  SELECT k, min(r) AS rep FROM reach GROUP BY k
), ranked AS (
  SELECT rep, CAST(row_number() OVER (ORDER BY rep) - 1 AS INT) AS cluster
  FROM (SELECT DISTINCT rep FROM comp) t
), core_cluster AS (
  SELECT comp.k, ranked.cluster FROM comp JOIN ranked USING (rep)
), border AS (
  SELECT n.ka AS k, min(cc.cluster) AS cluster
  FROM nbr n JOIN core_cluster cc ON n.kb = cc.k
  WHERE n.ka NOT IN (SELECT k FROM core)
  GROUP BY n.ka
)
SELECT p.k AS {key},
  COALESCE(cc.cluster, b.cluster, -1) AS cluster,
  CASE WHEN cc.k IS NOT NULL THEN 1 ELSE 0 END AS is_core
FROM pts p
LEFT JOIN core_cluster cc ON cc.k = p.k
LEFT JOIN border b ON b.k = p.k"""


def _oracle_table() -> dict[str, str]:
    """Every DuckDB mirror — live, pending and retired gates — keyed
    by gate name; one call builds each entry once. Same conventions
    throughout: integers everywhere, float ops operand-order-mirrored,
    ln() quantized to BIGINT before any summation. Raises ValueError when
    the keys differ from queries() ∪ pending_queries() ∪
    retired_queries() or a name sits in two of those lists."""
    cx, cy = _xy("c_custkey")
    sx, sy = _xy("s_suppkey")
    px0 = "((p_partkey * 37) % 900) / 10.0 + 0.05::DOUBLE"
    py0 = "((p_partkey * 71) % 900) / 10.0 + 0.05::DOUBLE"
    dist_cs = (f"sqrt((({cx}) - ({sx})) * (({cx}) - ({sx})) + "
               f"(({cy}) - ({sy})) * (({cy}) - ({sy})))")
    dist_q = ("sqrt((value - 50) * (value - 50) + "
              f"(({EV_Y}) - 50) * (({EV_Y}) - 50))")
    # grid cell of the 32×32 unit grid (sx = sy = 3.125, exact binary)
    def cell(xe, ye):
        cxe = f"least(31, greatest(0, CAST(floor(({xe}) / 3.125) AS INT)))"
        cye = f"least(31, greatest(0, CAST(floor(({ye}) / 3.125) AS INT)))"
        return f"({cye}) * 32 + ({cxe})"

    zx = repr(255 / 2048.0)        # exact binary scale factors
    zy = repr(255 / 4096.0)
    # eval/train 13-gram shingle sets of the two ngram contamination
    # gates (batch and streaming)
    ngram_ctes = """
WITH ev AS (
  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN text
                      ELSE text || ' tail' END AS text
  FROM documents WHERE doc_id % 10 = 0
), evt AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM ev
), evsh AS (
  SELECT DISTINCT md5(array_to_string(tk[i:i+12], ' ')) AS h
  FROM evt, unnest(range(1, len(tk) - 11)) u(i)
  WHERE len(tk) >= 13
), trt AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
    AS tk
  FROM documents
), trsh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+12], ' ')) AS h
  FROM trt, unnest(range(1, len(tk) - 11)) u(i)
  WHERE len(tk) >= 13
)"""
    # tokenize / dl / idf / tf chain of the 3-term BM25 query, shared
    # by bm25_topk and rrf_fusion_topk
    bm25_ctes = """
WITH tk AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), st AS (
  SELECT count(*) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
), qt AS (
  SELECT * FROM tk WHERE token IN ('join', 'filter', 'merge')
), idf AS (
  SELECT token,
    CAST(floor(ln((CAST(st.n AS DOUBLE) - nd + CAST(0.5 AS DOUBLE))
                   / (nd + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
               * 1000000) AS BIGINT) AS idf_q
  FROM (SELECT token, count(DISTINCT doc_id) AS nd
        FROM qt GROUP BY token) f, st
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY doc_id, token"""
    # raster mirrors: per-pixel event counts of the 8×8-pixel tiles
    # (10.0 units / 1.25 per pixel) over events
    pix_cte = f"""
WITH pix AS (
  SELECT floor(value / 10.0) AS tx, floor(({EV_Y}) / 10.0) AS ty,
    floor(value / 1.25) AS ix, floor(({EV_Y}) / 1.25) AS iy,
    count(*) AS n
  FROM events GROUP BY 1, 2, 3, 4
)"""
    # min-ts view→click→purchase chain (funnel_steps, funnel_latency)
    # and the 3-step count report (funnel_steps, funnel_steps_24h)
    funnel_chain = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t
       GROUP BY e.user_id),
"""
    funnel_report = """c AS (SELECT (SELECT count(*) FROM s1) AS u1,
             (SELECT count(*) FROM s2) AS u2,
             (SELECT count(*) FROM s3) AS u3)
SELECT 1 AS step, 'view' AS step_name, CAST(u1 AS BIGINT) AS users,
  CAST(CASE WHEN u1 > 0 THEN u1 * 1000000 // u1 ELSE 0 END AS BIGINT)
    AS conv_ppm FROM c
UNION ALL
SELECT 2, 'click', CAST(u2 AS BIGINT),
  CAST(CASE WHEN u1 > 0 THEN u2 * 1000000 // u1 ELSE 0 END AS BIGINT)
  FROM c
UNION ALL
SELECT 3, 'purchase', CAST(u3 AS BIGINT),
  CAST(CASE WHEN u1 > 0 THEN u3 * 1000000 // u1 ELSE 0 END AS BIGINT)
  FROM c"""
    # consecutive-user edge list (lead within event_type) and the
    # common-neighbor count over its symmetric form `sym`
    lead_edges = """
WITH raw AS (
  SELECT user_id AS src,
    lead(user_id) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS dst
  FROM events),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE dst IS NOT NULL AND src <> dst),
"""
    cn_tail = """cand AS (
  SELECT s1.b AS a, s2.b AS b, count(*) AS n_common
  FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
  GROUP BY s1.b, s2.b),
nc AS (SELECT c.a, c.b, c.n_common FROM cand c
       WHERE NOT EXISTS (SELECT 1 FROM e
                         WHERE e.a = c.a AND e.b = c.b))
SELECT a, b, CAST(n_common AS BIGINT) AS n_common FROM nc
ORDER BY n_common DESC, a, b LIMIT 20"""

    def ivf_ctes(n_cent, probe_filter=None):
        """`assigned` (each vector's top-1 of the first ``n_cent``
        centroids) and, with ``probe_filter``, `probes` (each query's
        top-2 centroids)."""
        ctes = f"""
WITH assigned AS (
  SELECT vec_id, embedding, bucket FROM (
    SELECT v.vec_id, v.embedding, c.vec_id AS bucket,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos('v.embedding', 'c.embedding')} DESC, c.vec_id) AS rn
    FROM embeddings v, embeddings c WHERE c.vec_id < {n_cent}
  ) t WHERE rn = 1
)"""
        if probe_filter is None:
            return ctes
        return ctes + f""", probes AS (
  SELECT q_id, q_embedding, bucket FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_embedding, c.vec_id AS bucket,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY {_cos('q.embedding', 'c.embedding')} DESC, c.vec_id) AS rn
    FROM embeddings q, embeddings c WHERE {probe_filter}c.vec_id < {n_cent}
  ) t WHERE rn <= 2
)"""

    sql = {
        # min-ts chain as chained CTEs (the k-join form; the engine's
        # one-shuffle greedy fold provably computes the same reach)
        "funnel_steps": funnel_chain + funnel_report,

        # integer epoch-week buckets: positive, so // == Spark div
        "cohort_retention": """
WITH ev AS (SELECT user_id AS u,
                   epoch_us(ts) // 604800000000 AS period FROM events),
c AS (SELECT u, min(period) AS cohort_period FROM ev GROUP BY u)
SELECT c.cohort_period, ev.period - c.cohort_period AS period_offset,
  CAST(count(DISTINCT ev.u) AS BIGINT) AS active_users
FROM ev JOIN c USING (u)
GROUP BY c.cohort_period, period_offset""",

        "event_transitions": """
WITH p AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS to_type
  FROM events),
g AS (SELECT from_type, to_type, count(*) AS n FROM p
      WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
    AS p_ppm
FROM g""",

        # exact order-statistic percentile ranks ⌈n·p/100⌉ on the
        # converted-users latency frame (min-ts chain as in
        # funnel_steps; greedy fold start == s1.t, end == s3.t)
        "funnel_latency": funnel_chain + """\
lat AS (SELECT s3.user_id AS u,
          epoch_us(s3.t) - epoch_us(s1.t) AS latency_us
        FROM s3 JOIN s1 ON s3.user_id = s1.user_id),
r AS (SELECT latency_us,
        row_number() OVER (ORDER BY latency_us, u) AS rn,
        count(*) OVER () AS n
      FROM lat)
SELECT pct, latency_us, CAST(n AS BIGINT) AS n_converted
FROM r JOIN (VALUES (50), (90), (99)) p(pct)
  ON rn = (n * pct + 99) // 100
ORDER BY pct""",

        # CUSUM closed form: s_i = P_i - min(0, running-min P);
        # identical window stack, pure integers
        "cusum_alerts": """
WITH base AS (
  SELECT event_id, event_type, ts,
    CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events),
p AS (
  SELECT event_id, event_type, ts, value_c,
    sum(value_c - 6000) OVER (PARTITION BY event_type
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
  FROM base),
s AS (
  SELECT event_id, event_type, value_c,
    pf - least(0, min(pf) OVER (PARTITION BY event_type
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_c
  FROM p)
SELECT event_id, event_type, value_c, CAST(s_c AS BIGINT) AS s_c
FROM s WHERE s_c > 20000""",

        # Σ v·dt telescopes: bounded by max_value·span — no overflow
        "time_weighted_avg": """
WITH base AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
    CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events),
h AS (
  SELECT event_type, value_c, ts_us,
    lead(ts_us) OVER (PARTITION BY event_type
                      ORDER BY ts_us, event_id) - ts_us AS dt_us
  FROM base)
SELECT event_type, count(*) AS n,
  CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
  CAST(CASE WHEN max(ts_us) - min(ts_us) > 0
       THEN sum(value_c * dt_us) // (max(ts_us) - min(ts_us))
       END AS BIGINT) AS twa_c
FROM h GROUP BY event_type""",

        # ignore-nulls last_value over the [unbounded, -1] frame ==
        # the engine's carry-forward scan
        "attribution_last_touch": """
WITH t AS (
  SELECT event_type, value,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events)
SELECT coalesce(touch, 'direct') AS channel,
  count(*) AS n_conversions,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM t WHERE event_type = 'purchase'
GROUP BY coalesce(touch, 'direct')""",

        # per-key ln quantized to BIGINT before the order-free sum
        "key_skew_report": """
WITH c1 AS (SELECT user_id AS k, count(*) AS cnt FROM events
            GROUP BY user_id),
c2 AS (SELECT event_type AS k, count(*) AS cnt FROM events
       GROUP BY event_type),
r AS (
  SELECT 'user_id' AS column_name, CAST(sum(cnt) AS BIGINT) AS n,
    count(*) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_key_n,
    CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000)
                        AS BIGINT)) AS BIGINT) AS c_lnc_q
  FROM c1
  UNION ALL
  SELECT 'event_type', CAST(sum(cnt) AS BIGINT), count(*),
    CAST(max(cnt) AS BIGINT),
    CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000)
                        AS BIGINT)) AS BIGINT)
  FROM c2)
SELECT column_name, n, n_keys, max_key_n,
  CAST(max_key_n * 1000000 // n AS BIGINT) AS top_share_ppm, c_lnc_q
FROM r""",

        # ANSI RANGE frame: equal-ts peers included in both engines
        "rolling_24h": """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
    CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events)
SELECT event_id, user_id, ts_us, value_c,
  CAST(count(*) OVER w AS BIGINT) AS roll_n,
  CAST(sum(value_c) OVER w AS BIGINT) AS roll_sum_c
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""",

        # open/close: row_number mirror of the engine's min/max over
        # a (us, event_id, value_c) struct — event_id makes ties moot
        "ohlc_hourly": """
WITH b AS (
  SELECT event_type AS series, epoch_us(ts) // 3600000000 AS bucket,
         epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events),
o AS (SELECT series, bucket, vc FROM (
    SELECT series, bucket, vc, row_number() OVER (
      PARTITION BY series, bucket ORDER BY us, event_id) AS rn FROM b) t
  WHERE rn = 1),
c AS (SELECT series, bucket, vc FROM (
    SELECT series, bucket, vc, row_number() OVER (
      PARTITION BY series, bucket ORDER BY us DESC, event_id DESC)
      AS rn FROM b) t
  WHERE rn = 1),
g AS (SELECT series, bucket, max(vc) AS high_c, min(vc) AS low_c,
        count(*) AS n, CAST(sum(vc) AS BIGINT) AS vol_c
      FROM b GROUP BY series, bucket)
SELECT g.series, g.bucket, o.vc AS open_c, g.high_c, g.low_c,
       c.vc AS close_c, g.n, g.vol_c
FROM g JOIN o USING (series, bucket) JOIN c USING (series, bucket)""",

        # id-ordered triangle join — counts the same triangles the
        # engine's degree-ordered orientation does
        "triangle_count": lead_edges + """\
deg AS (SELECT a AS node, count(*) AS deg FROM
        (SELECT a FROM e UNION ALL SELECT b FROM e) t(a) GROUP BY a),
tri AS (SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       FROM deg)
SELECT st.n_nodes, st.n_edges, st.n_wedges,
  CAST(tri.n_triangles AS BIGINT) AS n_triangles,
  CAST(CASE WHEN st.n_wedges > 0
       THEN tri.n_triangles * 3 * 1000000 // st.n_wedges
       ELSE 0 END AS BIGINT) AS clustering_ppm
FROM st, tri""",

        # NULL FK rows are orphans (NOT EXISTS is true for them) but
        # excluded from orphan_keys (count DISTINCT skips NULL) —
        # mirrors the engine's LEFT ANTI + countDistinct
        "fk_orphans": """
SELECT 'lineitem.l_orderkey->orders' AS relationship,
  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS child_rows,
  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS BIGINT) AS orphan_rows,
  CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey))
    AS BIGINT) AS orphan_keys,
  CAST((SELECT count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
    AS parents_total,
  CAST((SELECT count(DISTINCT o_orderkey) FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)) AS BIGINT)
    AS parents_referenced
UNION ALL
SELECT 'lineitem.l_partkey->part',
  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
  CAST((SELECT count(DISTINCT l_partkey) FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
  CAST((SELECT count(DISTINCT p_partkey) FROM part) AS BIGINT),
  CAST((SELECT count(DISTINCT p_partkey) FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)) AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    AS BIGINT),
  CAST((SELECT count(DISTINCT l_suppkey) FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
  CAST((SELECT count(DISTINCT s_suppkey) FROM supplier) AS BIGINT),
  CAST((SELECT count(DISTINCT s_suppkey) FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)) AS BIGINT)
UNION ALL
SELECT 'orders.o_custkey->customer',
  CAST((SELECT count(*) FROM orders) AS BIGINT),
  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    AS BIGINT),
  CAST((SELECT count(DISTINCT o_custkey) FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
  CAST((SELECT count(DISTINCT c_custkey) FROM customer) AS BIGINT),
  CAST((SELECT count(DISTINCT c_custkey) FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS BIGINT)""",

        # blocking (last token) is part of the operator contract
        "fuzzy_name_pairs": """
WITH v AS (SELECT p_name AS name, count(*) AS n FROM part
           GROUP BY p_name),
vb AS (SELECT name, n, regexp_extract(name, '([^ ]+)$', 1) AS blk
       FROM v)
SELECT a.name AS name_a, b.name AS name_b,
  CAST(levenshtein(a.name, b.name) AS INT) AS dist,
  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
FROM vb a JOIN vb b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 2""",

        # robust_outliers against a (type x hour-of-day) composite key
        "seasonal_outliers": """
WITH base AS (
  SELECT event_id,
    event_type || '#' ||
      CAST(epoch_us(ts) // 3600000000 % 24 AS VARCHAR) AS season,
    CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), med AS (
  SELECT season, value_c AS med_c FROM (
    SELECT season, value_c,
      row_number() OVER (PARTITION BY season
                         ORDER BY value_c, event_id) AS rn,
      count(*) OVER (PARTITION BY season) AS n
    FROM base) t
  WHERE rn = (n + 1) // 2
), dev AS (
  SELECT base.event_id, base.season, base.value_c, med.med_c,
    abs(base.value_c - med.med_c) AS dev
  FROM base JOIN med USING (season)
), mad AS (
  SELECT season, dev AS mad_c FROM (
    SELECT season, dev,
      row_number() OVER (PARTITION BY season
                         ORDER BY dev, event_id) AS rn,
      count(*) OVER (PARTITION BY season) AS n
    FROM dev) t
  WHERE rn = (n + 1) // 2
)
SELECT dev.event_id, dev.season, dev.value_c, dev.med_c,
  mad.mad_c, dev.dev
FROM dev JOIN mad USING (season)
WHERE dev.dev > 3 * mad.mad_c""",

        # symmetric wedge join == common-neighbor count; anti-join
        # removes existing links; full order makes top-k deterministic
        "common_neighbors": lead_edges + """\
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
""" + cn_tail,

        # per-term quantized lns subtracted AFTER flooring (the pmi /
        # doc_logprob libm posture)
        "keyness_by_source": """
WITH tok AS (
  SELECT source, token, count(*) AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> '' GROUP BY source, token),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_g FROM tok
        GROUP BY source),
gl AS (SELECT token, CAST(sum(c) AS BIGINT) AS c_all FROM tok
       GROUP BY token),
na AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM tok),
sc AS (
  SELECT tok.source, tok.token, tok.c,
    CAST(floor(ln(CAST(tok.c + 1 AS DOUBLE)
                  / CAST(tot.n_g - tok.c + 1 AS DOUBLE))
               * 1000000.0) AS BIGINT)
    - CAST(floor(ln(CAST(gl.c_all - tok.c + 1 AS DOUBLE)
                    / CAST(na.n_all - tot.n_g
                           - (gl.c_all - tok.c) + 1 AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS score_q
  FROM tok JOIN tot USING (source) JOIN gl USING (token), na
  WHERE tok.c >= 10)
SELECT source, token, CAST(c AS BIGINT) AS c, score_q FROM (
  SELECT sc.*, row_number() OVER (PARTITION BY source
    ORDER BY score_q DESC, token) AS rn FROM sc) t
WHERE rn <= 10""",

        # the partition column is derived (to_date(ts) in UTC, pinned
        # session TZ) — the oracle filters the ORIGINAL rows by the
        # same derivation
        "date_partitioned_read": """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
  CAST(round(value * 100) AS BIGINT) AS value_c,
  CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
  AND CAST(ts AS DATE) <= DATE '2024-01-15'""",

        # latest-wins: row_number over (version DESC, src DESC) —
        # identical pick to the engine's merge
        "merge_upsert": """
WITH base AS (
  SELECT event_id, ts, user_id, event_type, value, 0 AS src
  FROM events),
upd AS (
  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
    'corrected' AS event_type, value + CAST(1.0 AS DOUBLE) AS value,
    1 AS src
  FROM events WHERE event_id % 10 = 0),
ins AS (
  SELECT event_id + 100000000 AS event_id, ts, user_id, event_type,
    value, 1 AS src
  FROM events WHERE event_id % 1000 = 7),
u AS (SELECT * FROM base UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins),
r AS (SELECT *, row_number() OVER (PARTITION BY event_id
        ORDER BY ts DESC, src DESC) AS rn FROM u)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
  CAST(round(value * 100) AS BIGINT) AS value_c
FROM r WHERE rn = 1""",

        # ER closure: recursive min-reachability over the fuzzy-pair
        # graph (the dedup_clusters pattern), canonical = (max n,
        # min name) per component
        "fuzzy_canonical_names": """
WITH RECURSIVE v AS (
  SELECT p_name AS name, count(*) AS n FROM part GROUP BY p_name),
vb AS (SELECT name, n, regexp_extract(name, '([^ ]+)$', 1) AS blk
       FROM v),
pairs AS (
  SELECT a.name AS na, b.name AS nb
  FROM vb a JOIN vb b ON a.blk = b.blk AND a.name < b.name
  WHERE levenshtein(a.name, b.name) <= 2),
sym AS (SELECT na AS a, nb AS b FROM pairs
        UNION SELECT nb, na FROM pairs),
reach(node, m) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node),
comp AS (SELECT node, min(m) AS comp FROM reach GROUP BY node),
labeled AS (
  SELECT v.name, v.n, coalesce(c.comp, v.name) AS comp
  FROM v LEFT JOIN comp c ON c.node = v.name),
canon AS (
  SELECT comp, name AS canonical FROM (
    SELECT comp, name, row_number() OVER (
      PARTITION BY comp ORDER BY n DESC, name) AS rn
    FROM labeled) t
  WHERE rn = 1)
SELECT l.name, CAST(l.n AS BIGINT) AS n, c.canonical,
  (l.name = c.canonical) AS is_canonical
FROM labeled l JOIN canon c USING (comp)""",

        "tpch_q5": """
SELECT r_name, n_name,
  CAST(sum(CAST(round(l_extendedprice
                      * (CAST(1.0 AS DOUBLE) - l_discount) * 100)
           AS BIGINT)) AS BIGINT) AS revenue_c,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'AFRICA')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name""",

        "st_filter_rect_timed": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value >= 10 AND value <= 60
  AND ({EV_Y}) >= 10 AND ({EV_Y}) <= 80
  AND {EV_T} >= 1704067200 AND {EV_T} <= 1705276800""",

        # stateless broadcast spatial join + windowed count: batch
        # point-in-rect mirror (coveredby is boundary-inclusive, so
        # x = 50 lands in BOTH fences)
                "agg_revenue_by_nation": """
SELECT n.n_name,
  CAST(floor(epoch(date_trunc('month', o.o_orderdate))) AS BIGINT)
    AS month,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
    / 100.0 AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2""",

"stream_geofence": f"""
WITH p AS (
  SELECT value AS x, ({EV_Y}) AS y,
    CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS win_start
  FROM events WHERE ts IS NOT NULL
), hits AS (
  SELECT win_start, 1 AS fence_id FROM p
  WHERE x >= 0 AND x <= 50 AND y >= 0 AND y <= 100
  UNION ALL
  SELECT win_start, 2 AS fence_id FROM p
  WHERE x >= 50 AND x <= 100 AND y >= 0 AND y <= 100
)
SELECT win_start, fence_id, CAST(count(*) AS BIGINT) AS n
FROM hits GROUP BY 1, 2""",

        # exact IEEE mirror of the native half-plane conjunction
        # (predicates.py cross-product form, same operand order) —
        # the algebraic form value*100 + y*200 <= 20000 disagreed by
        # one exactly-on-hypotenuse row at sf0.1
        "st_filter_polygon_timed": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE 200 * ({EV_Y}) >= 0
  AND (-200) * ({EV_Y}) - 100 * (value - 200) >= 0
  AND 100 * value >= 0
  AND {EV_T} >= 1704067200 AND {EV_T} <= 1711929600""",

        "st_filter_containedby_rect": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value > 20 AND value < 70 AND ({EV_Y}) > 30 AND ({EV_Y}) < 90""",

        "st_filter_both_or_neither": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value >= 0 AND value <= 100 AND ({EV_Y}) >= 0 AND ({EV_Y}) <= 100
  AND event_type = 'click'
  AND {EV_T} >= 1704067200 AND {EV_T} <= 1705276800""",

        "st_filter_intervals": f"""
SELECT event_id, {EV_T} AS t_start,
  CASE WHEN event_id % 7 = 0 THEN NULL
       ELSE {EV_T} + 86400 * (event_id % 10) END AS t_end
FROM events
WHERE value >= 0 AND value <= 100 AND ({EV_Y}) >= 0 AND ({EV_Y}) <= 100
  AND {EV_T} <= 1705708800
  AND coalesce(CASE WHEN event_id % 7 = 0 THEN NULL
       ELSE {EV_T} + 86400 * (event_id % 10) END,
       4611686018427387904) >= 1704844800""",

        "st_join_grid_points": f"""
SELECT c_custkey, s_suppkey FROM customer, supplier
WHERE ({cx}) = ({sx}) AND ({cy}) = ({sy})""",

        "st_join_poly_contains": f"""
SELECT p_partkey, c_custkey FROM part, customer
WHERE ({cx}) > ({px0}) AND ({cx}) < ({px0}) + (1 + p_partkey % 2)
  AND ({cy}) > ({py0}) AND ({cy}) < ({py0}) + (1 + p_partkey % 3)""",

        "st_join_expand_temporal": f"""
SELECT a.event_id AS event_id, b.event_id AS event_id_b
FROM events a, events b
WHERE a.event_id % 5 = 0 AND b.event_id % 7 = 0
  AND a.value - 5.0 <= b.value AND b.value <= a.value + 5.0
  AND ((a.user_id * {PX}) % 1000) / 10.0 - 5.0
      <= ((b.user_id * {PX}) % 1000) / 10.0
  AND ((b.user_id * {PX}) % 1000) / 10.0
      <= ((a.user_id * {PX}) % 1000) / 10.0 + 5.0
  AND CAST(floor(epoch(a.ts)) AS BIGINT) <= CAST(floor(epoch(b.ts)) AS BIGINT)
  AND CAST(floor(epoch(b.ts)) AS BIGINT)
      <= CAST(floor(epoch(a.ts)) AS BIGINT) + 86400""",

        "interval_join": f"""
SELECT a.event_id AS event_id, b.event_id AS event_id_b
FROM events a, events b
WHERE a.event_id % 5 = 0 AND b.event_id % 7 = 0
  AND CAST(floor(epoch(b.ts)) AS BIGINT) >= CAST(floor(epoch(a.ts)) AS BIGINT)
  AND CAST(floor(epoch(b.ts)) AS BIGINT)
      <= CAST(floor(epoch(a.ts)) AS BIGINT) + 86400""",

        "interval_join_open": f"""
SELECT a.event_id AS event_id, b.event_id AS event_id_b
FROM events a, events b
WHERE a.event_id % 50 = 0 AND b.event_id % 7 = 0
  AND CAST(floor(epoch(b.ts)) AS BIGINT) >= CAST(floor(epoch(a.ts)) AS BIGINT)
  AND (a.event_id % 7 = 0 OR
       CAST(floor(epoch(b.ts)) AS BIGINT)
         <= CAST(floor(epoch(a.ts)) AS BIGINT) + 86400)""",

        "as_of_join": """
SELECT c.event_id, b.event_id AS buy_id, b.value AS buy_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON c.user_id = b.user_id AND epoch_us(c.ts) >= epoch_us(b.ts)""",

        "within_distance_join": f"""
SELECT c_custkey, s_suppkey, {dist_cs} AS dist
FROM customer, supplier WHERE {dist_cs} <= 5.0""",

        "sessionize": f"""
WITH e AS (
  SELECT event_id, user_id, {EV_T} AS t FROM events
), s AS (
  SELECT event_id, user_id, t,
    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 21600
         THEN 1 ELSE 0 END AS nw
  FROM e
)
SELECT event_id, user_id, t,
  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS session_id
FROM s""",

        "within_distance_filter": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value <= 65.0 AND value >= 35.0
  AND ({EV_Y}) <= 65.0 AND ({EV_Y}) >= 35.0
  AND {dist_q} <= 15.0""",

        "st_semi_join": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE EXISTS (SELECT 1 FROM nation
  WHERE value >= ((n_nationkey * {PX}) % 1000) / 10.0 - 8.0
    AND value <= ((n_nationkey * {PX}) % 1000) / 10.0 + 8.0
    AND ({EV_Y}) >= ((n_nationkey * {PY}) % 1000) / 10.0 - 8.0
    AND ({EV_Y}) <= ((n_nationkey * {PY}) % 1000) / 10.0 + 8.0)""",

        "st_anti_join": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE NOT EXISTS (SELECT 1 FROM nation
  WHERE value >= ((n_nationkey * {PX}) % 1000) / 10.0 - 8.0
    AND value <= ((n_nationkey * {PX}) % 1000) / 10.0 + 8.0
    AND ({EV_Y}) >= ((n_nationkey * {PY}) % 1000) / 10.0 - 8.0
    AND ({EV_Y}) <= ((n_nationkey * {PY}) % 1000) / 10.0 + 8.0)""",

        "knn_events": f"""
SELECT event_id, {dist_q} AS dist FROM events
ORDER BY dist, event_id LIMIT 50""",

        # plugged-in L1 distance (reference distFunc): same IEEE op
        # order as the Spark Column, so dist is bit-identical
        "knn_manhattan": f"""
SELECT event_id, abs(value - 50.0) + abs(({EV_Y}) - 50.0) AS dist
FROM events ORDER BY dist, event_id LIMIT 40""",

        # haversine mirrors the Spark expression tree operand-for-
        # operand (explicit radian literal, x*x not pow); the integer
        # micro-km quantization makes the rank libm-proof
        "knn_haversine": f"""
WITH g AS (
  SELECT event_id,
    (({EV_Y}) - CAST(5.0E1 AS DOUBLE)) AS lat,
    (value * CAST(3.6 AS DOUBLE) - CAST(1.8E2 AS DOUBLE)) AS lon
  FROM events
), h AS (
  SELECT event_id,
    sin(((CAST(1.0E1 AS DOUBLE) - lat)
         * CAST('0.017453292519943295' AS DOUBLE)) / 2) AS sla,
    sin(((CAST(2.0E1 AS DOUBLE) - lon)
         * CAST('0.017453292519943295' AS DOUBLE)) / 2) AS slo,
    cos(lat * CAST('0.017453292519943295' AS DOUBLE)) AS cl1,
    cos(CAST(1.0E1 AS DOUBLE)
        * CAST('0.017453292519943295' AS DOUBLE)) AS cl2
  FROM g
)
SELECT event_id,
  CAST(round(
    (CAST('12742.0176' AS DOUBLE)
     * asin(sqrt(least(sla * sla + cl1 * cl2 * slo * slo,
                       CAST(1.0 AS DOUBLE)))))
    * CAST(1.0E6 AS DOUBLE)) AS BIGINT) AS d_q
FROM h ORDER BY d_q, event_id LIMIT 15""",

        # trajectory hops quantized to integer micro-units before the
        # per-user sum (aggregation-order-proof); (ts, event_id) order
        # pins ties
        "trajectory_stats": f"""
WITH t AS (
  SELECT event_id, user_id, value AS x, ({EV_Y}) AS y,
         {EV_T} AS ts
  FROM events
), h AS (
  SELECT user_id, ts,
    COALESCE(CAST(round(sqrt(
      (x - lag(x) OVER w) * (x - lag(x) OVER w)
      + (y - lag(y) OVER w) * (y - lag(y) OVER w)) * 1000000.0)
      AS BIGINT), 0) AS hq
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
  min(ts) AS t_start, max(ts) AS t_end,
  CAST(sum(hq) AS BIGINT) AS path_q
FROM h GROUP BY user_id""",

        # co-location: blocked (cell, bin) equi-join mirror — the
        # 3-bin probe explode matches each qualifying event pair once
        "colocation_pairs": f"""
WITH t AS (
  SELECT user_id,
    CAST(floor(value / 12.5)
         + 8 * floor((({EV_Y})) / 12.5) AS BIGINT) AS cell,
    {EV_T} AS ts,
    CAST(floor(({EV_T}) / 1800.0) AS BIGINT) AS bin
  FROM events
), probe AS (
  SELECT user_id, cell, ts, bin + dd.d AS jb
  FROM t, (VALUES (-1), (0), (1)) dd(d)
), p AS (
  SELECT a.user_id AS a, b.user_id AS b, a.ts AS ta, b.ts AS tb
  FROM probe a JOIN t b ON a.cell = b.cell AND a.jb = b.bin
  WHERE a.user_id < b.user_id AND abs(a.ts - b.ts) <= 1800
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n_meetings,
  least(min(ta), min(tb)) AS t_first,
  greatest(max(ta), max(tb)) AS t_last
FROM p GROUP BY a, b
HAVING count(*) >= 2""",

        "od_matrix": f"""
WITH t AS (
  SELECT event_id, user_id,
    CAST(floor(value / 12.5)
         + 8 * floor((({EV_Y})) / 12.5) AS BIGINT) AS cell,
    {EV_T} AS ts,
    CAST(floor(({EV_T}) / 86400.0) AS BIGINT) AS bucket
  FROM events
), r AS (
  SELECT user_id, bucket, cell, ts, event_id,
    row_number() OVER (PARTITION BY user_id, bucket
                       ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY user_id, bucket
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM t
), od AS (
  SELECT a.user_id, a.bucket, a.cell AS origin, d.cell AS dest
  FROM r a JOIN r d
    ON a.user_id = d.user_id AND a.bucket = d.bucket
  WHERE a.rn_a = 1 AND d.rn_d = 1
)
SELECT origin, dest, CAST(count(*) AS BIGINT) AS n, bucket
FROM od GROUP BY origin, dest, bucket""",

        "stay_points": f"""
WITH t AS (
  SELECT event_id, user_id, value AS x, ({EV_Y}) AS y,
         {EV_T} AS ts
  FROM events
), h AS (
  SELECT user_id, event_id, ts, x, y,
    sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
         + (y - lag(y) OVER w) * (y - lag(y) OVER w)) AS hop
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), l AS (
  SELECT user_id, ts, x, y,
    sum(CASE WHEN hop IS NULL OR hop > CAST(10.0 AS DOUBLE)
             THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS lab
  FROM h
), runs AS (
  SELECT user_id, lab, min(ts) AS stay_start, max(ts) AS stay_end,
    CAST(count(*) AS BIGINT) AS n_points,
    CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sx,
    CAST(sum(CAST(round(y * 1000000.0) AS BIGINT)) AS BIGINT) AS sy
  FROM l GROUP BY user_id, lab
)
SELECT user_id, stay_start, stay_end, n_points,
  CAST(floor(sx / n_points) AS BIGINT) AS cx_q,
  CAST(floor(sy / n_points) AS BIGINT) AS cy_q
FROM runs WHERE stay_end - stay_start >= 3600""",

        "knn_weighted_st": f"""
SELECT event_id,
  1.0 * ({dist_q}) + 0.001 * abs(CAST({EV_T} AS DOUBLE) - 1704844800)
    AS dist
FROM events ORDER BY dist, event_id LIMIT 30""",

        "knn_hausdorff_st": f"""
WITH t AS (
  SELECT event_id, value AS x, {EV_Y} AS y, {EV_T} AS ts_s,
    CASE WHEN event_id % 7 = 0 THEN NULL
         ELSE {EV_T} + 86400 * (event_id % 10) END AS te
  FROM events
)
SELECT event_id,
  1.0 * sqrt((x - 50.0) * (x - 50.0) + (y - 50.0) * (y - 50.0))
  + 0.00001 * greatest(
      abs(CAST(ts_s AS DOUBLE) - CAST(1704844800 AS DOUBLE)),
      abs(CAST(COALESCE(te, ts_s) AS DOUBLE) - CAST(1705708800 AS DOUBLE)))
    AS dist
FROM t ORDER BY dist, event_id LIMIT 30""",

        "knn_join": f"""
SELECT s_suppkey, c_custkey, dist FROM (
  SELECT s_suppkey, c_custkey, {dist_cs} AS dist,
    row_number() OVER (PARTITION BY s_suppkey
                       ORDER BY {dist_cs}, c_custkey) AS rn
  FROM supplier, customer
) t WHERE rn <= 3""",

        "knn_join_sparse": f"""
WITH o AS (
  SELECT o_orderkey, {_xy("o_orderkey", D.TABLE_SALT["orders"])[0]} AS ox,
         {_xy("o_orderkey", D.TABLE_SALT["orders"])[1]} AS oy
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT s_suppkey, o_orderkey, dist FROM (
  SELECT s_suppkey, o_orderkey,
    sqrt((({sx}) - ox) * (({sx}) - ox) +
         (({sy}) - oy) * (({sy}) - oy)) AS dist,
    row_number() OVER (PARTITION BY s_suppkey
                       ORDER BY sqrt((({sx}) - ox) * (({sx}) - ox) +
                                     (({sy}) - oy) * (({sy}) - oy)),
                                o_orderkey) AS rn
  FROM supplier, o
) t WHERE rn <= 2""",

        "skyline": f"""
WITH p AS (SELECT c_custkey, {cx} AS x, {cy} AS y FROM customer)
SELECT c_custkey, x, y FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y))""",

        "skyline_st": f"""
WITH e AS (
  SELECT event_id,
    sqrt((value - 50.0) * (value - 50.0) +
         (({EV_Y}) - 50.0) * (({EV_Y}) - 50.0)) AS d_space,
    abs({EV_T} - 1706000000) AS d_time
  FROM events WHERE event_id % 10 = 0
)
SELECT event_id, d_space, d_time FROM e p
WHERE NOT EXISTS (
  SELECT 1 FROM e q
  WHERE q.d_space <= p.d_space AND q.d_time <= p.d_time
    AND (q.d_space < p.d_space OR q.d_time < p.d_time))""",

        "dbscan": _dbscan_sql(2.0, 4, "c_custkey", cx, cy, "customer"),

        "distance_histogram": f"""
WITH p AS (
  SELECT c_custkey AS k, {cx} AS x, {cy} AS y FROM customer
), pc AS (
  SELECT k, x, y,
    (least(7, greatest(0, CAST(floor(y / 12.5) AS INT)))) * 8
      + least(7, greatest(0, CAST(floor(x / 12.5) AS INT))) AS cell
  FROM p
), s AS (
  SELECT k, x, y, cell FROM (
    SELECT k, x, y, cell,
      row_number() OVER (PARTITION BY cell ORDER BY k) AS rn
    FROM pc) t
  WHERE rn <= 8
), d AS (
  SELECT a.k,
    min(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))) AS mind
  FROM s a JOIN s b ON a.cell = b.cell AND a.k <> b.k
  GROUP BY a.k
), h AS (
  SELECT least(CAST(floor(mind / 0.25) AS INT), 15) AS bucket,
    count(*) AS num
  FROM d GROUP BY 1
)
SELECT CAST(r.range AS INT) AS bucket,
  CAST(r.range AS DOUBLE) * 0.25 AS lb,
  (CAST(r.range AS DOUBLE) + 1) * 0.25 AS ub,
  CAST(coalesce(h.num, 0) AS BIGINT) AS num
FROM range(16) r LEFT JOIN h ON h.bucket = CAST(r.range AS INT)""",

        "grid_cell_histogram": f"""
SELECT {cell('value', EV_Y)} AS cell, count(*) AS n
FROM events GROUP BY 1""",

        # stateful-stream replay == batch per-cell aggregate
        "stream_cell_extremes": f"""
SELECT {cell('value', EV_Y)} AS cell, CAST(count(*) AS BIGINT) AS n,
  min(value) AS v_min, max(value) AS v_max
FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1""",

        # session_window replay == gaps-and-islands in exact micros
        # (break when the gap to the previous event is >= 2 h: the
        # session interval is [start, last + gap) — boundary exclusive)
        "stream_session_stats": """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), s AS (
  SELECT user_id, us,
    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
              >= 7200000000 THEN 1 ELSE 0 END AS brk
  FROM e
), g AS (
  SELECT user_id, us,
    sum(brk) OVER (PARTITION BY user_id ORDER BY us
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s
)
SELECT CAST(min(us) AS BIGINT) AS sess_start_us,
  CAST(max(us) + 7200000000 AS BIGINT) AS sess_end_us,
  user_id, CAST(count(*) AS BIGINT) AS n
FROM g GROUP BY user_id, sid""",

        "stream_cell_counts": f"""
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS win_start,
  {cell('value', EV_Y)} AS cell, CAST(count(*) AS BIGINT) AS n
FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1, 2""",

        "agg_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
  sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
    / 10000.0 AS sum_disc_price,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",

        "agg_revenue_by_segment": """
SELECT c_mktsegment, count(*) AS n_orders,
  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",

        "events_daily": """
SELECT date_trunc('day', ts) AS day, count(*) AS n,
  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1""",

        "raster_rasterize_stats": pix_cte + """
SELECT tx * 10.0 AS ulx, (ty + 1) * 10.0 AS uly,
  max(n) AS pix_max, CAST(count(*) AS INT) AS n_nonzero,
  CAST(sum(n) AS BIGINT) AS n_events
FROM pix GROUP BY tx, ty""",

        "raster_histogram": pix_cte + """, hist AS (
  SELECT least(7, greatest(0, CAST(floor(n / 2.0) AS INT))) AS bucket,
    count(*) AS n
  FROM pix GROUP BY 1
), tl AS (
  SELECT tx, ty, count(*) AS nz FROM pix GROUP BY 1, 2
), z AS (
  SELECT 64 * count(*) - sum(nz) AS zn FROM tl
)
SELECT bucket, CAST(sum(n) AS BIGINT) AS n FROM (
  SELECT bucket, n FROM hist
  UNION ALL
  SELECT 0 AS bucket, zn AS n FROM z WHERE zn > 0
) u GROUP BY bucket""",

        "st_filter_z_range": f"""
SELECT event_id, value AS x, {EV_Y} AS y,
  ((user_id * 31) % 100) / 10.0 AS z
FROM events
WHERE value >= 10 AND value <= 60
  AND ({EV_Y}) >= 10 AND ({EV_Y}) <= 80
  AND ((user_id * 31) % 100) / 10.0 >= 2.0
  AND ((user_id * 31) % 100) / 10.0 <= 7.5""",

        "st_filter_coveredby_poly": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE 200 * ({EV_Y}) >= 0
  AND (-200) * ({EV_Y}) - 100 * (value - 200) >= 0
  AND 100 * value >= 0""",

        "raster_join_vector_clip": pix_cte + f""", tile AS (
  SELECT tx, ty, tx * 10.0 AS ulx, (ty + 1) * 10.0 AS uly
  FROM pix GROUP BY tx, ty
), nat AS (
  SELECT n_nationkey,
    ((n_nationkey * {PX}) % 1000) / 10.0 - 8.0 AS qx0,
    ((n_nationkey * {PY}) % 1000) / 10.0 - 8.0 AS qy0,
    ((n_nationkey * {PX}) % 1000) / 10.0 + 8.0 AS qx1,
    ((n_nationkey * {PY}) % 1000) / 10.0 + 8.0 AS qy1
  FROM nation
), pair AS (
  SELECT t.tx, t.ty, t.ulx, t.uly, v.n_nationkey,
    greatest(0, CAST(floor((v.qx0 - t.ulx) / 1.25) AS INT)) AS i0,
    least(8, CAST(ceil((v.qx1 - t.ulx) / 1.25) AS INT)) AS i1,
    greatest(0, CAST(floor((t.uly - v.qy1) / 1.25) AS INT)) AS j0,
    least(8, CAST(ceil((t.uly - v.qy0) / 1.25) AS INT)) AS j1
  FROM tile t JOIN nat v
    ON t.ulx <= v.qx1 AND v.qx0 <= t.ulx + 10.0
   AND t.uly - 10.0 <= v.qy1 AND v.qy0 <= t.uly
)
SELECT p.n_nationkey,
  p.ulx + p.i0 * 1.25 AS ulx, p.uly - p.j0 * 1.25 AS uly,
  CAST(p.i1 - p.i0 AS INT) AS width, CAST(p.j1 - p.j0 AS INT) AS height,
  CAST(COALESCE(sum(x.n), 0) AS BIGINT) AS n_ev
FROM pair p LEFT JOIN pix x
  ON x.tx = p.tx AND x.ty = p.ty
 AND x.ix >= p.tx * 8 + p.i0 AND x.ix < p.tx * 8 + p.i1
 AND x.iy >= p.ty * 8 + (8 - p.j1) AND x.iy <= p.ty * 8 + (7 - p.j0)
WHERE p.i0 < p.i1 AND p.j0 < p.j1
GROUP BY p.n_nationkey, p.ulx, p.uly, p.i0, p.i1, p.j0, p.j1""",

        "raster_join_raster_sum": f"""
WITH e AS (
  SELECT floor(value / 10.0) AS tx, floor(({EV_Y}) / 10.0) AS ty,
    event_id % 2 AS par
  FROM events
), t AS (
  SELECT tx, ty, CAST(count(*) AS BIGINT) AS n,
    count(CASE WHEN par = 0 THEN 1 END) AS ne,
    count(CASE WHEN par = 1 THEN 1 END) AS no
  FROM e GROUP BY tx, ty
)
SELECT tx * 10.0 AS ulx, (ty + 1) * 10.0 AS uly,
  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height, n AS n_ev
FROM t WHERE ne > 0 AND no > 0""",

        "raster_count_value": pix_cte + """
SELECT CAST(count(*) AS BIGINT) AS n FROM pix WHERE n = 1""",

        "raster_roundtrip": pix_cte + """, t AS (
  SELECT tx, ty, count(*) AS n_occ FROM pix GROUP BY tx, ty
)
SELECT tx * 10.0 AS ulx, (ty + 1) * 10.0 AS uly,
  CAST(2 AS BIGINT) AS n_copies,
  CAST(2 * n_occ AS BIGINT) AS nz2
FROM t""",

        "pruned_read_st": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value >= 10 AND value <= 60
  AND ({EV_Y}) >= 10 AND ({EV_Y}) <= 80
  AND {EV_T} >= 1704067200 AND {EV_T} <= 1704672000""",

        "viz_lit_pixels": f"""
SELECT DISTINCT
  CAST(floor((100 - ({EV_Y})) * (256.0 / 100.0)) AS BIGINT) * 256
    + CAST(floor(value * (256.0 / 100.0)) AS BIGINT) AS pix
FROM events
WHERE value >= 0 AND value <= 100
  AND ({EV_Y}) >= 0 AND ({EV_Y}) <= 100
  AND CAST(floor(value * (256.0 / 100.0)) AS BIGINT) BETWEEN 0 AND 255
  AND CAST(floor((100 - ({EV_Y})) * (256.0 / 100.0)) AS BIGINT)
    BETWEEN 0 AND 255""",

        "partition_spatio_temporal": f"""
SELECT {cell('value', EV_Y)} AS cell,
  least(7, greatest(0,
    CAST(floor(({EV_T} - 1704067200) / 604800) AS INT))) AS t_bucket,
  count(*) AS n_rows
FROM events GROUP BY 1, 2""",

        # `WHERE ts IS NOT NULL` mirrors the Spark side's
        # `.where(bucket.isNotNull())` (rollup.py) — without it a NULL
        # ts would emit a grain-'year' NULL-bucket row here that Spark
        # suppresses, breaking the hash gate.
        "events_rollup": """
WITH t AS (
  SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS _g_day,
    CAST(floor(epoch(date_trunc('month', ts))) AS BIGINT) AS _g_month,
    CAST(floor(epoch(date_trunc('year', ts))) AS BIGINT) AS _g_year,
    value AS _v
  FROM events
  WHERE ts IS NOT NULL
)
SELECT CASE WHEN _g_day IS NOT NULL THEN 'day'
            WHEN _g_month IS NOT NULL THEN 'month'
            ELSE 'year' END AS grain,
  coalesce(_g_day, _g_month, _g_year) AS bucket,
  count(*) AS n,
  sum(CAST(round(_v * 100) AS BIGINT)) / 100.0 AS total
FROM t GROUP BY GROUPING SETS ((_g_day), (_g_month), (_g_year))""",

        # gap-filled lattice + LOCF: last_value IGNORE NULLS over the
        # default cumulative frame == Spark last(ignorenulls) window
        "events_gapfill": """
WITH g AS (
  SELECT user_id % 200 AS k,
    CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bucket,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), spans AS (
  SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM g GROUP BY 1
), lattice AS (
  SELECT k, unnest(range(lo, hi + 21600, 21600)) AS bucket FROM spans
)
SELECT a.k, a.bucket, coalesce(g.n, CAST(0 AS BIGINT)) AS n,
  last_value(g.sc IGNORE NULLS) OVER (
    PARTITION BY a.k ORDER BY a.bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_c
FROM lattice a LEFT JOIN g ON a.k = g.k AND a.bucket = g.bucket""",

        # interp mirror: identical operand order as the Spark Column
        # ((nv-pv)::DOUBLE * Δb / span, then + pv, then round)
        "events_gapfill_interp": """
WITH g AS (
  SELECT user_id % 200 AS k,
    CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bucket,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), spans AS (
  SELECT k, min(bucket) AS lo, max(bucket) AS hi FROM g GROUP BY 1
), lattice AS (
  SELECT k, unnest(range(lo, hi + 21600, 21600)) AS bucket FROM spans
), j AS (
  SELECT a.k, a.bucket, g.n AS gn, g.sc,
    last_value(g.sc IGNORE NULLS) OVER (
      PARTITION BY a.k ORDER BY a.bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN g.sc IS NOT NULL THEN g.bucket END
               IGNORE NULLS) OVER (
      PARTITION BY a.k ORDER BY a.bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
    first_value(g.sc IGNORE NULLS) OVER (
      PARTITION BY a.k ORDER BY a.bucket
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN g.sc IS NOT NULL THEN g.bucket END
                IGNORE NULLS) OVER (
      PARTITION BY a.k ORDER BY a.bucket
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
  FROM lattice a LEFT JOIN g ON a.k = g.k AND a.bucket = g.bucket
)
SELECT k, bucket, coalesce(gn, CAST(0 AS BIGINT)) AS n,
  CASE WHEN sc IS NOT NULL THEN sc
       WHEN nb IS NULL THEN pv
       ELSE CAST(round(CAST(pv AS DOUBLE)
                       + CAST(nv - pv AS DOUBLE) * (bucket - pb)
                         / (nb - pb)) AS BIGINT)
  END AS filled_c
FROM j""",

        "sql_st_filter": f"""
SELECT event_id, value AS x, {EV_Y} AS y FROM events
WHERE value > 20 AND value < 70
  AND ({EV_Y}) > 30 AND ({EV_Y}) < 90""",

        "sql_tile_accessors": pix_cte + """, t AS (
  SELECT tx, ty, count(*) AS n_occ, min(n) AS mn, max(n) AS mx,
    list(n ORDER BY n) AS cnts
  FROM pix GROUP BY tx, ty
)
SELECT tx * 10.0 AS ulx, (ty + 1) * 10.0 AS uly,
  CAST(CASE WHEN n_occ >= 64 THEN mn ELSE 0 END AS BIGINT) AS v_min,
  CAST(mx AS BIGINT) AS v_max,
  CAST(CASE WHEN n_occ <= 32 THEN 0
            ELSE cnts[CAST(n_occ - 32 AS INT)] END AS BIGINT) AS v_median
FROM t""",

        # literal expected table — every row hand-derivable:
        # square hull, collinear collapse, collinear-vertex removal,
        # L-line triangle hull
        "sql_hull_simplify": """
SELECT * FROM (VALUES
  (1, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
      'MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2), (1 3))'),
  (2, 'LINESTRING (0 0, 2 2)', 'MULTIPOINT ((0 0), (1 1), (2 2))'),
  (3, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',
      'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
  (4, 'POLYGON ((0 0, 3 0, 3 3, 0 0))', 'LINESTRING (0 0, 3 0, 3 3)')
) AS t(id, hull, simple)""",

        # analytic formulas for the per-event triangles; every vertex
        # is an integer, so shoelace/centroid sums are exact and the
        # one-or-two IEEE roundings happen on identical operands in
        # both engines (len mirrors the kernel's (dx + hyp) + dy
        # summation order; cx mirrors (Σ(x_i+x_i+1)·cross_i / 3.0) / 2A)
        "sql_st_measures": f"""
WITH t AS (
  SELECT event_id, CAST(floor(value) AS DOUBLE) AS x,
         CAST(floor({EV_Y}) AS DOUBLE) AS y,
         CAST(1 + event_id % 5 AS DOUBLE) AS dx,
         CAST(1 + event_id % 7 AS DOUBLE) AS dy
  FROM events WHERE event_id % 13 = 0
), c AS (
  SELECT event_id, x, y, dx, dy,
         -dx * y AS c1,
         (x + dx) * (y + dy) - x * y AS c2,
         -x * dy AS c3
  FROM t
)
SELECT event_id,
  CAST(round(dx * dy / 2 * 10000) AS BIGINT) AS area_q,
  CAST(round((dx + sqrt(dx * dx + dy * dy) + dy) * 10000) AS BIGINT)
    AS len_q,
  CAST(round(((x + (x + dx)) * c1 + ((x + dx) + x) * c2 + (x + x) * c3)
             / 3.0 / (c1 + c2 + c3) * 10000) AS BIGINT) AS cx_q,
  CAST(round(((y + y) * c1 + (y + (y + dy)) * c2 + ((y + dy) + y) * c3)
             / 3.0 / (c1 + c2 + c3) * 10000) AS BIGINT) AS cy_q,
  CAST(round(dx * dy * 10000) AS BIGINT) AS env_q
FROM c""",

        # buffer gate: closed-form analytic mirror (no geometry code
        # in the oracle at all) — see _q_sql_st_buffer docstring
        "sql_st_buffer": f"""
WITH t AS (
  SELECT event_id, CAST(floor(value) AS DOUBLE) AS x,
         CAST(floor({EV_Y}) AS DOUBLE) AS y,
         CAST(1 + event_id % 5 AS DOUBLE) AS dx,
         CAST(1 + event_id % 7 AS DOUBLE) AS dy,
         CAST(1 + event_id % 3 AS DOUBLE) AS d,
         CAST(least(1 + event_id % 5, 1 + event_id % 7) AS DOUBLE) / 2
           AS dc
  FROM events WHERE event_id % 13 = 0
)
SELECT event_id,
  CAST(round((16 * sin(pi() / 16) * d * d) * 10000) AS BIGINT)
    AS parea_q,
  CAST(round((64 * d * sin(pi() / 32)) * 10000) AS BIGINT) AS plen_q,
  CAST(round((dx * dy + 2 * (dx + dy) * d
              + 16 * sin(pi() / 16) * d * d) * 10000) AS BIGINT)
    AS rarea_q,
  CAST(round((2 * (dx + dy) + 64 * d * sin(pi() / 32)) * 10000)
    AS BIGINT) AS rlen_q,
  CAST(round((3 * dx * dy + 4 * (dx + dy) * dc - dc * dc
              + 5 * (8 * sin(pi() / 16) / 2) * dc * dc) * 10000)
    AS BIGINT) AS larea_q,
  CAST(round((4 * (dx + dy) - 2 * dc + 80 * dc * sin(pi() / 32))
             * 10000) AS BIGINT) AS llen_q
FROM t""",

        "sql_raster_histogram": pix_cte + """, hist AS (
  SELECT least(7, greatest(0, CAST(floor(n / 2.0) AS INT))) AS bucket,
    count(*) AS n
  FROM pix GROUP BY 1
), tl AS (
  SELECT tx, ty, count(*) AS nz FROM pix GROUP BY 1, 2
), z AS (
  SELECT 64 * count(*) - sum(nz) AS zn FROM tl
), all_b AS (
  SELECT unnest(range(0, 8)) AS bucket
)
SELECT CAST(ab.bucket AS INT) AS bucket,
  CAST(COALESCE(h.n, 0)
       + CASE WHEN ab.bucket = 0 THEN (SELECT zn FROM z) ELSE 0 END
    AS BIGINT) AS n
FROM all_b ab LEFT JOIN hist h ON h.bucket = ab.bucket""",

        "set_ops_union_distinct": """
SELECT event_type, count(*) AS n FROM (
  SELECT DISTINCT ON (event_id) * FROM (
    SELECT * FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT * FROM events WHERE event_id % 3 = 0
  ) u
) d GROUP BY event_type""",

        "dedup_exact": """
SELECT md5(text) AS content_hash, count(*) AS n_dups,
  min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1""",

        "dedup_minhash_sigs": f"""
SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || sh)) AS minhash
FROM (SELECT doc_id, {_sh(8)} AS sh FROM documents) s,
     (SELECT unnest(range(0, 4)) AS seed) t
GROUP BY doc_id, seed""",

        "dedup_lsh_pairs": f"""
{_LSH_PAIRS_CTE.format(sh=_sh(8))}
SELECT a, b FROM lsh_pairs""",

        "dedup_clusters": f"""
WITH RECURSIVE pairs AS ({_simhash64_pairs_sql(3)}
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(node, m) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node
), comp AS (
  SELECT node, min(m) AS comp FROM reach GROUP BY node
)
SELECT d.doc_id,
  coalesce(c.comp, d.doc_id) AS rep,
  (coalesce(c.comp, d.doc_id) = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""",

        "dedup_keep_best": f"""
WITH RECURSIVE pairs AS ({_simhash64_pairs_sql(3)}
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(node, m) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node
), comp AS (
  SELECT node, min(m) AS comp FROM reach GROUP BY node
), labeled AS (
  SELECT d.doc_id, d.n_chars,
    coalesce(c.comp, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, rep,
  row_number() OVER (PARTITION BY rep
    ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM labeled""",

        "dedup_ngram_jaccard": f"""
WITH sh AS (
  SELECT DISTINCT doc_id, sh FROM
    (SELECT doc_id, {_sh(8)} AS sh FROM documents) t
), sz AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common, x.sz AS sz_a, y.sz AS sz_b,
  n_common / (x.sz + y.sz - n_common) AS jaccard
FROM inter JOIN sz x ON x.doc_id = a JOIN sz y ON y.doc_id = b
WHERE n_common / (x.sz + y.sz - n_common) >= 0.12""",

        "dedup_simhash": _simhash16_sql(),

        "dedup_simhash_pairs": _simhash64_pairs_sql(6),

        "text_profile": _text_profile_sql(),

        # BM25: idf and per-term contributions quantized to exact
        # integers before the per-doc sum (aggregation-order-proof);
        # every double literal CAST(... AS DOUBLE) to dodge DuckDB's
        # DECIMAL literal typing; operation order mirrors the Spark
        # expression tree exactly
        "bm25_topk": bm25_ctes + """
)
SELECT tf.doc_id, CAST(any_value(dl.dl) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(floor(
    CAST(idf_q AS DOUBLE)
    * (CAST(tf AS DOUBLE)
       / (CAST(tf AS DOUBLE)
          + CAST(1.2 AS DOUBLE)
            * (CAST(0.25 AS DOUBLE)
               + (CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE))
                 / st.avgdl)))
    * CAST(1000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score_q
FROM tf
JOIN dl ON tf.doc_id = dl.doc_id
JOIN idf ON tf.token = idf.token, st
GROUP BY tf.doc_id
ORDER BY score_q DESC, tf.doc_id
LIMIT 25""",

        # many-query BM25: same quantization scheme, scored per
        # (query, doc) with a window top-k per query; the q CTE lists
        # DISTINCT (query, term) pairs — the Spark side's duplicated
        # 'scan' in q3 must collapse to the same set
        "bm25_multi_topk": """
WITH q(query_id, token) AS (
  VALUES ('q1', 'join'), ('q1', 'filter'), ('q1', 'merge'),
         ('q2', 'data'), ('q2', 'stream'),
         ('q3', 'index'), ('q3', 'scan')
), tk AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id
), st AS (
  SELECT count(*) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
), vocab AS (
  SELECT DISTINCT token FROM q
), qt AS (
  SELECT tk.* FROM tk JOIN vocab USING (token)
), idf AS (
  SELECT token,
    CAST(floor(ln((CAST(st.n AS DOUBLE) - nd + CAST(0.5 AS DOUBLE))
                   / (nd + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
               * 1000000) AS BIGINT) AS idf_q
  FROM (SELECT token, count(DISTINCT doc_id) AS nd
        FROM qt GROUP BY token) f, st
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY doc_id, token
), sc AS (
  SELECT q.query_id, tf.doc_id,
    CAST(any_value(dl.dl) AS BIGINT) AS n_tokens,
    CAST(sum(CAST(floor(
      CAST(idf_q AS DOUBLE)
      * (CAST(tf AS DOUBLE)
         / (CAST(tf AS DOUBLE)
            + CAST(1.2 AS DOUBLE)
              * (CAST(0.25 AS DOUBLE)
                 + (CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE))
                   / st.avgdl)))
      * CAST(1000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score_q
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.token = idf.token
  JOIN q ON tf.token = q.token, st
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, n_tokens, score_q FROM (
  SELECT sc.*, row_number() OVER (
    PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rn
  FROM sc) r
WHERE rn <= 10""",

        # hybrid retrieval: BM25 top-50 and cosine top-50 fused by
        # reciprocal rank; each side contributes the exact integer
        # floor(1e9/(60+rank)), so rrf_q is a BIGINT sum
        "rrf_fusion_topk": bm25_ctes + f"""
), bm AS (
  SELECT tf.doc_id,
    CAST(sum(CAST(floor(
      CAST(idf_q AS DOUBLE)
      * (CAST(tf AS DOUBLE)
         / (CAST(tf AS DOUBLE)
            + CAST(1.2 AS DOUBLE)
              * (CAST(0.25 AS DOUBLE)
                 + (CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE))
                   / st.avgdl)))
      * CAST(1000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score_q
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.token = idf.token, st
  GROUP BY tf.doc_id
  ORDER BY score_q DESC, tf.doc_id
  LIMIT 50
), sparse AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY score_q DESC, doc_id) AS INT) AS rank_sparse
  FROM bm
), dense AS (
  SELECT doc_id, rank_dense FROM (
    SELECT v.vec_id AS doc_id,
      CAST(row_number() OVER (
        ORDER BY {_cos('v.embedding', 'q.embedding')} DESC,
                 v.vec_id) AS INT) AS rank_dense
    FROM embeddings v, embeddings q WHERE q.vec_id = 0) x
  WHERE rank_dense <= 50
)
SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
  s.rank_sparse, d.rank_dense,
  CAST(coalesce(CAST(floor(1000000000.0
         / (60 + s.rank_sparse)) AS BIGINT), 0)
     + coalesce(CAST(floor(1000000000.0
         / (60 + d.rank_dense)) AS BIGINT), 0) AS BIGINT) AS rrf_q
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf_q DESC, doc_id
LIMIT 20""",

        # Gopher-rule curation report: every comparison is an integer
        # cross-multiplication (no float thresholds to straddle a
        # rounding boundary); list exprs keep one row per document
        "quality_filter_gopher": """
WITH b AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_distinct(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
                           x)))) AS stops
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  (n >= 20 AND n <= 100000) AS flag_len,
  (chars >= n * 3 AND chars <= n * 10) AS flag_word_len,
  (alpha * 5 >= n * 4) AS flag_alpha,
  (stops >= 2) AS flag_stop,
  (n >= 20 AND n <= 100000 AND chars >= n * 3 AND chars <= n * 10
   AND alpha * 5 >= n * 4 AND stops >= 2) AS keep
FROM b""",

        # CCNet tiers: cost_q = (−logprob_q·1000) // n_tokens — both
        # operands positive so DuckDB's // (floor) and Spark's div
        # (truncate) agree exactly; ntile under a total order
        "perplexity_buckets": """
WITH tk AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
), vocab AS (
  SELECT token, count(*) AS n FROM tk GROUP BY token
), tot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM vocab
), lp AS (
  SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    CAST(sum(CAST(floor(ln(CAST(vocab.n AS DOUBLE) / tot.total)
                        * 1000000) AS BIGINT)) AS BIGINT) AS logprob_q
  FROM tk JOIN vocab USING (token), tot
  GROUP BY tk.doc_id
)
SELECT d.doc_id, d.lang, lp.n_tokens,
  CAST(((-lp.logprob_q) * 1000) // lp.n_tokens AS BIGINT) AS cost_q,
  CAST(ntile(3) OVER (PARTITION BY d.lang
    ORDER BY ((-lp.logprob_q) * 1000) // lp.n_tokens ASC,
             d.doc_id ASC) AS INT) AS bucket
FROM documents d JOIN lp ON d.doc_id = lp.doc_id""",

        "vocab_freq_spectrum": """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, count(*) AS c FROM tok WHERE token <> ''
  GROUP BY token
)
SELECT CAST(c AS BIGINT) AS n_occurrences,
  CAST(count(*) AS BIGINT) AS n_types
FROM vocab GROUP BY c
ORDER BY n_occurrences
LIMIT 100""",

        # iterative tier: integer PageRank, unrolled 3-iteration CTE
        # chain — bit-exact because NO float mass exists anywhere
        "pagerank_handoff": _pagerank_sql(3),

        # one-pass profile: every metric an exact integer
        "events_table_profile": """
SELECT column_name, n, n_null, n_distinct FROM (
  SELECT 'event_id' AS column_name, count(*) AS n,
    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_null,
    count(DISTINCT event_id) AS n_distinct FROM events
  UNION ALL
  SELECT 'user_id', count(*),
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT user_id) FROM events
  UNION ALL
  SELECT 'event_type', count(*),
    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT event_type) FROM events
  UNION ALL
  SELECT 'value', count(*),
    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
    count(DISTINCT value) FROM events
) t""",

        "jsonl_roundtrip": """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents""",

        "tpch_q3": """
SELECT l_orderkey, o_orderdate,
  sum(CAST(round(l_extendedprice
                 * (CAST(1.0 AS DOUBLE) - l_discount) * 100)
      AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",

        # DuckDB sum(BIGINT) -> HUGEINT: cast back (round-1 lesson)
        "tpch_q18": """
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 250) b
  ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100""",

        # the salt cancels out of the join result: plain-join oracle
        "salted_join_events": """
WITH dim AS (
  SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type
)
SELECT e.event_type, dim.type_n, count(*) AS n,
  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events e JOIN dim ON e.event_type = dim.event_type
GROUP BY e.event_type, dim.type_n""",

        # lower medians as order statistics on the cents grid; the
        # outlier test is pure integer comparison
        "events_outliers": """
WITH base AS (
  SELECT event_id, event_type,
    CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events
), med AS (
  SELECT event_type, value_c AS med_c FROM (
    SELECT event_type, value_c,
      row_number() OVER (PARTITION BY event_type
                         ORDER BY value_c, event_id) AS rn,
      count(*) OVER (PARTITION BY event_type) AS n
    FROM base) t
  WHERE rn = (n + 1) // 2
), dev AS (
  SELECT base.event_id, base.event_type, base.value_c, med.med_c,
    abs(base.value_c - med.med_c) AS dev
  FROM base JOIN med USING (event_type)
), mad AS (
  SELECT event_type, dev AS mad_c FROM (
    SELECT event_type, dev,
      row_number() OVER (PARTITION BY event_type
                         ORDER BY dev, event_id) AS rn,
      count(*) OVER (PARTITION BY event_type) AS n
    FROM dev) t
  WHERE rn = (n + 1) // 2
)
SELECT dev.event_id, dev.event_type, dev.value_c, dev.med_c,
  mad.mad_c, dev.dev
FROM dev JOIN mad USING (event_type)
WHERE dev.dev > 3 * mad.mad_c""",

        # PMI over a ratio of exact counts: identical float expression
        # tree in both engines (one ln, quantized floor(ln*1e6))
        "pmi_collocations": """
WITH sp AS (
  SELECT doc_id, string_split(text, ' ') AS sp FROM documents
), uni AS (
  SELECT token, count(*) AS cw FROM (
    SELECT unnest(sp) AS token FROM sp) t
  WHERE token <> ''
  GROUP BY token
), n1 AS (
  SELECT CAST(sum(cw) AS BIGINT) AS n1 FROM uni
), bgx AS (
  SELECT unnest(list_transform(range(1, len(sp)),
                               i -> [sp[i], sp[i + 1]])) AS pr
  FROM sp
), bg AS (
  SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS n_pair FROM bgx
  WHERE pr[1] <> '' AND pr[2] <> ''
  GROUP BY 1, 2
), n2 AS (
  SELECT CAST(sum(n_pair) AS BIGINT) AS n2 FROM bg
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
  CAST(floor(ln(
    (CAST(n_pair AS DOUBLE) * CAST(n1.n1 AS DOUBLE)
     * CAST(n1.n1 AS DOUBLE))
    / (CAST(a.cw AS DOUBLE) * CAST(b.cw AS DOUBLE)
       * CAST(n2.n2 AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_q
FROM bg JOIN uni a ON a.token = bg.w1
        JOIN uni b ON b.token = bg.w2, n1, n2
WHERE n_pair >= 5
ORDER BY pmi_q DESC, w1, w2
LIMIT 50""",

        # idf quantized per TERM, score = exact BIGINT product tf*idf_q;
        # N counts ALL documents (even token-less), matching the Spark
        # side's distinct-key count over the full frame
        "tfidf_top_terms": """
WITH tk AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2
), idf AS (
  SELECT token,
    CAST(floor(ln(
      CAST((SELECT count(DISTINCT doc_id) FROM documents) AS DOUBLE)
      / CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS idf_q
  FROM tf GROUP BY token
)
SELECT doc_id, token, tf, score_q, rank FROM (
  SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
    CAST(tf.tf * idf.idf_q AS BIGINT) AS score_q,
    CAST(row_number() OVER (PARTITION BY tf.doc_id
      ORDER BY tf.tf * idf.idf_q DESC, tf.token) AS INT) AS rank
  FROM tf JOIN idf USING (token)) r
WHERE rank <= 3""",

        # KMV bottom-k sketch on the 52-bit md5 grid: min-k of a set
        # is merge-order-free, estimate is one BIGINT floor division
        "distinct_kmv": f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), hs AS (
  SELECT DISTINCT {_hex13_sql('h32')} AS h FROM (
    SELECT md5(token) AS h32 FROM tok WHERE token <> '') t
), bk AS (
  SELECT h FROM hs ORDER BY h LIMIT 64
)
SELECT CAST(count(*) AS BIGINT) AS k_used,
  CAST(max(h) AS BIGINT) AS kth_min,
  CAST(CASE WHEN count(*) < 64 OR max(h) <= 0 THEN count(*)
       ELSE (count(*) - 1) * 4503599627370496 // max(h)
       END AS BIGINT) AS estimate
FROM bk""",

        # HyperLogLog on the same md5 grid: integer registers
        # (register = h%256, rho = 45 − bitlen(suffix)), exact
        # harmonic sum, one operand-order-mirrored float division;
        # 'ALL' is the union merge (register-wise max) of the per-flag
        # sketches — same math, so one CTE serves both via UNION ALL
        "distinct_hll": f"""
WITH vals AS (
  SELECT l_returnflag AS scope,
    md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR))
      AS h32
  FROM lineitem
), h AS (
  SELECT scope, {_hex13_sql('h32')} AS h FROM vals
), scoped AS (
  SELECT scope, h FROM h UNION ALL SELECT 'ALL' AS scope, h FROM h
), reg AS (
  SELECT scope, h % 256 AS register,
    45 - length(ltrim(bin(h // 256), '0')) AS rho
  FROM scoped
), mx AS (
  SELECT scope, register, max(rho) AS max_rho
  FROM reg GROUP BY scope, register
), agg AS (
  SELECT scope, count(*) AS n_present,
    CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT) AS s_present
  FROM mx GROUP BY scope
), est AS (
  SELECT scope,
    CAST(256 - n_present AS BIGINT) AS v_zero,
    CAST(s_present + (256 - n_present) * 4503599627370496 AS BIGINT)
      AS s_scaled
  FROM agg
), raw AS (
  SELECT scope, v_zero, s_scaled,
    CAST(round(((CAST(0.7182725932495458 AS DOUBLE)
                 * CAST(65536 AS DOUBLE)) * CAST(4503599627370496 AS DOUBLE))
         / CAST(s_scaled AS DOUBLE)) AS BIGINT) AS raw_est
  FROM est
)
SELECT scope, CAST(256 AS BIGINT) AS n_registers, v_zero, s_scaled,
  CASE WHEN v_zero > 0 AND raw_est * 2 <= 1280
       THEN CAST(round(CAST(256 AS DOUBLE)
                 * ln(CAST(256 AS DOUBLE) / CAST(v_zero AS DOUBLE)))
                 AS BIGINT)
       ELSE raw_est END AS estimate
FROM raw""",

        # bitmap overlap verified SEMANTICALLY: exact distinct
        # (user, day) intersection counts — the word packing is
        # engine-internal and injective, so popcounts must agree
        "bitmap_overlap": """
WITH m AS (
  SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d FROM events
), card AS (
  SELECT event_type, count(*) AS c FROM m GROUP BY event_type
), inter AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
    count(*) AS n_common
  FROM m a JOIN m b ON a.user_id = b.user_id AND a.d = b.d
    AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ca.event_type AS seg_a, cb.event_type AS seg_b,
  CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
  CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
  CAST(ca.c + cb.c - COALESCE(i.n_common, 0) AS BIGINT) AS n_union,
  CAST(CASE WHEN ca.c + cb.c - COALESCE(i.n_common, 0) = 0 THEN 0
       ELSE COALESCE(i.n_common, 0) * 10000
            // (ca.c + cb.c - COALESCE(i.n_common, 0)) END AS BIGINT)
    AS jaccard_bp
FROM card ca JOIN card cb ON ca.event_type < cb.event_type
LEFT JOIN inter i
  ON i.seg_a = ca.event_type AND i.seg_b = cb.event_type""",

        # Q21 shape: EXISTS/NOT-EXISTS self-join sandwich (late =
        # l_returnflag='R'; testdata has no receipt/commit dates)
        "tpch_q21": """
SELECT n_name, s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE l1.l_returnflag = 'R'
  AND n_name IN ('NATION_3', 'NATION_7')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY n_name, s_name""",

        # streaming twin of quality_filter_gopher: the REJECT stream —
        # batch rule rows with keep=false, minus the keep column
        "stream_quality_filter": """
WITH b AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_distinct(list_filter(string_split(text, ' '),
        x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'],
                           x)))) AS stops
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  (n >= 20 AND n <= 100000) AS flag_len,
  (chars >= n * 3 AND chars <= n * 10) AS flag_word_len,
  (alpha * 5 >= n * 4) AS flag_alpha,
  (stops >= 2) AS flag_stop
FROM b
WHERE NOT (n >= 20 AND n <= 100000 AND chars >= n * 3
           AND chars <= n * 10 AND alpha * 5 >= n * 4
           AND stops >= 2)""",

        # directed containment |A∩B|/|A|: integer cross-multiplied
        # threshold, both directions emitted from each undirected pair
        "dedup_containment": """
WITH sh AS (
  SELECT DISTINCT doc_id, sh FROM
    (SELECT doc_id, unnest(list_transform(
       range(1, greatest(length(text) - 7, 1) + 1),
       i -> substr(text, i, 8))) AS sh FROM documents) t
), sz AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), directed AS (
  SELECT a AS src, b AS sup, n_common FROM inter
  UNION ALL
  SELECT b AS src, a AS sup, n_common FROM inter
)
SELECT d.src, d.sup, CAST(d.n_common AS BIGINT) AS n_common,
  CAST(sz.sz AS BIGINT) AS sz_src,
  d.n_common / sz.sz AS containment
FROM directed d JOIN sz ON sz.doc_id = d.src
WHERE d.n_common * 100 >= sz.sz * 80""",

        "vocab_top_k": """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM tok WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT 100""",

        # ln quantized to floor(ln*1e6) BIGINT per term BEFORE the
        # sum — the per-doc total is exact integer arithmetic in both
        # engines (same cross-engine trick as the A-ES sampling keys)
        "doc_logprob": """
WITH tk AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
), vocab AS (
  SELECT token, count(*) AS n FROM tk GROUP BY token
), tot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM vocab
)
SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(floor(ln(CAST(vocab.n AS DOUBLE) / tot.total)
                      * 1000000) AS BIGINT)) AS BIGINT) AS logprob_q
FROM tk JOIN vocab USING (token), tot
GROUP BY tk.doc_id""",

        "text_by_source": """
WITH t AS (
  SELECT source, len(string_split(text, ' ')) AS n_tokens,
    (least(len(string_split(text, ' ')) / 100.0, 1.0)
     + (1.0 - abs((len(list_filter(string_split(text, ' '),
          w -> w IN ('the','a','of','and','to','in','is')))
          / len(string_split(text, ' '))) - 0.4))
     + (1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
          / length(text)) * 5.0, 1.0))) / 3.0 AS quality
  FROM documents
)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  min(quality) AS min_quality, max(quality) AS max_quality
FROM t GROUP BY source""",

        # pattern imported from text.py so the two engines can't drift
        # (explicit whitespace class — see BPE_TOKEN_RE's dialect note)
        "token_counts": f"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
  CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}'))
    AS INT) AS n_bpe
FROM documents""",

        "lang_distribution": """
WITH s AS (
  SELECT
    len(list_filter(string_split(text,' '), w -> w IN ('the','and','of')))
      / len(string_split(text,' ')) AS s_en,
    len(list_filter(string_split(text,' '), w -> w IN ('el','la','de')))
      / len(string_split(text,' ')) AS s_es,
    len(list_filter(string_split(text,' '), w -> w IN ('der','die','und')))
      / len(string_split(text,' ')) AS s_de,
    len(list_filter(string_split(text,' '), w -> w IN ('le','la','et')))
      / len(string_split(text,' ')) AS s_fr
  FROM documents
)
SELECT CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
            WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS lang_guess,
  count(*) AS n
FROM s GROUP BY 1""",

        "text_repetition": """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), b AS (
  SELECT doc_id, toks, n,
    CASE WHEN n >= 2
      THEN list_transform(range(1, n), i -> toks[i] || ' ' || toks[i+1])
      ELSE []::VARCHAR[] END AS bg
  FROM t
), r AS (
  SELECT doc_id, n AS n_tokens,
    len(list_distinct(toks)) / n AS distinct_token_ratio,
    list_max(list_transform(list_distinct(toks),
      x -> len(list_filter(toks, y -> y = x)))) / n AS top_token_ratio,
    CASE WHEN n >= 2
      THEN list_max(list_transform(list_distinct(bg),
        x -> len(list_filter(bg, y -> y = x)))) / (n - 1)
      ELSE 0.0::DOUBLE END AS top_bigram_ratio
  FROM b
)
SELECT doc_id, n_tokens, distinct_token_ratio, top_token_ratio,
  top_bigram_ratio,
  (n_tokens >= 20 AND distinct_token_ratio >= 0.4::DOUBLE
   AND top_token_ratio <= 0.15::DOUBLE
   AND top_bigram_ratio <= 0.08::DOUBLE) AS rep_keep
FROM r""",

        "pii_scrub": f"""
SELECT doc_id,
  len(regexp_extract_all(t, '{T.EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(t, '{T.PHONE_RE}')) AS n_phones,
  md5(regexp_replace(regexp_replace(t, '{T.EMAIL_RE}', '<EMAIL>', 'g'),
                     '{T.PHONE_RE}', '<PHONE>', 'g')) AS scrub_md5
FROM (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-0199'
         ELSE '' END AS t
  FROM documents
) s""",

        # chunk lattice mirrors the Spark slice arithmetic exactly
        # (1-based inclusive list slice == slice(start, length))
        "chunk_documents": """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 5 = 0
), c AS (
  SELECT doc_id, toks,
    greatest(1, CAST(floor((len(toks) - 5 + 14) / CAST(15 AS DOUBLE))
                     AS BIGINT)) AS nc
  FROM t
), e AS (
  SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_id FROM c
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
  CAST(len(toks[chunk_id * 15 + 1 : chunk_id * 15 + 20]) AS BIGINT)
    AS n_chunk_tokens,
  array_to_string(toks[chunk_id * 15 + 1 : chunk_id * 15 + 20], ' ')
    AS chunk
FROM e""",

        "contamination_exact": """
WITH ev AS (
  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN text
                      ELSE text || ' tail' END AS text
  FROM documents WHERE doc_id % 10 = 0
), th AS (
  SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_train
  FROM documents GROUP BY 1
)
SELECT th.content_hash, e.doc_id, th.n_train
FROM ev e JOIN th ON th.content_hash = md5(e.text)""",

        # streaming ingest decontamination == batch: the Bloom filter
        # is a pure physical prefilter and the stream replays the
        # whole table, so flagged rows are exactly the train rows
        # whose text appears in the eval corpus
        "stream_contamination": """
WITH ev AS (
  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN text
                      ELSE text || ' tail' END AS text
  FROM documents WHERE doc_id % 10 = 0
), evh AS (
  SELECT DISTINCT md5(text) AS content_hash FROM ev
)
SELECT d.doc_id, md5(d.text) AS content_hash
FROM documents d JOIN evh ON md5(d.text) = evh.content_hash""",

        # token-13-gram decontamination: EXACT window matching via
        # per-doc distinct shingle hashes; DuckDB mirrors the native
        # filter/sequence/slice/md5 expression chain with
        # list_filter + correlated unnest(range) + list slicing
        "contamination_ngrams": ngram_ctes + """
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
FROM trsh t JOIN evsh USING (h)
GROUP BY t.doc_id""",

        # window-granular self-dedup: per-doc distinct 13-gram windows,
        # boilerplate = windows in >= 2 docs, exact integer-quantized
        # ratio (floor(1e6*b/w): (1e6*b) is exact in double, one IEEE
        # division, both engines left-assoc)
        "boilerplate_ratio": """
WITH trt AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
    AS tk
  FROM documents
), trsh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+12], ' ')) AS h
  FROM trt, unnest(range(1, len(tk) - 11)) u(i)
  WHERE len(tk) >= 13
), boiler AS (
  SELECT h FROM trsh GROUP BY h HAVING count(*) >= 2
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
  FROM trsh GROUP BY doc_id
), hits AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
  FROM trsh t JOIN boiler USING (h)
  GROUP BY t.doc_id
)
SELECT h.doc_id, p.n_windows, h.n_boiler,
  CAST(floor(CAST(1000000.0 AS DOUBLE) * h.n_boiler / p.n_windows)
       AS BIGINT) AS ratio_q
FROM hits h JOIN per_doc p USING (doc_id)""",

        # streaming twin: the stream replays the whole table and the
        # join is stateless, so the flagged (doc, window) pairs are
        # exactly the batch rule's hit set
        "stream_contamination_ngrams": ngram_ctes + """
SELECT t.doc_id, t.h
FROM trsh t JOIN evsh USING (h)""",

        "contamination_lsh": f"""
WITH ev AS (
  SELECT doc_id, CASE WHEN doc_id % 20 = 0 THEN text
                      ELSE text || ' tail' END AS text
  FROM documents WHERE doc_id % 10 = 0
), sig_t AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || sh)) AS minhash
  FROM (SELECT doc_id, {_sh(8)} AS sh FROM documents) s,
       (SELECT unnest(range(0, 4)) AS seed) t
  GROUP BY doc_id, seed
), sig_e AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || sh)) AS minhash
  FROM (SELECT doc_id, {_sh(8)} AS sh FROM ev) s,
       (SELECT unnest(range(0, 4)) AS seed) t
  GROUP BY doc_id, seed
), band_t AS (
  SELECT doc_id, CAST(seed AS INT) AS band,
    seed::VARCHAR || ':' || minhash AS bucket
  FROM sig_t
), band_e AS (
  SELECT doc_id, CAST(seed AS INT) AS band,
    seed::VARCHAR || ':' || minhash AS bucket
  FROM sig_e
)
SELECT DISTINCT t.doc_id AS a, e.doc_id AS b
FROM band_t t JOIN band_e e ON t.band = e.band AND t.bucket = e.bucket""",

        "sample_group_split": f"""
WITH h AS (
  SELECT doc_id, source, md5('gsplit|' || source) AS hg
  FROM documents
)
SELECT doc_id, source,
  CASE WHEN {_hex7_sql('hg')} < {int(0.25 * SAMPLE_BUCKETS)}
       THEN 'test' ELSE 'train' END AS split
FROM h""",

        "sample_deterministic": f"""
WITH h AS (
  SELECT doc_id, source,
    md5('|' || CAST(doc_id AS VARCHAR)) AS h1,
    md5('split|' || CAST(doc_id AS VARCHAR)) AS h2
  FROM documents
), b AS (
  SELECT doc_id, source, {_hex7_sql('h1')} AS bucket,
         {_hex7_sql('h2')} AS sbucket
  FROM h
)
SELECT doc_id, source,
  CASE WHEN sbucket < {int(0.25 * SAMPLE_BUCKETS)} THEN 'test'
       ELSE 'train' END AS split
FROM b WHERE bucket < {int(0.3 * SAMPLE_BUCKETS)}""",

        # A-ES weighted sampling: u is exact binary arithmetic in both
        # engines (52-bit int + 0.5, divided by 2^52); ln() is the only
        # libm call, and its value is quantized onto an exact integer
        # grid (floor(ln(u)*1e6)) BEFORE the weight division — the
        # division of an exact small integer by the weight is
        # correctly-rounded IEEE in both engines, so a 1-ulp JVM-vs-
        # libm ln() difference can flip a key only when ln(u)*1e6 sits
        # within 1 ulp of an integer (~1e-8 per row)
        "sample_weighted": f"""
WITH h AS (
  SELECT doc_id, source, n_chars,
    md5('wsample|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
), u AS (
  SELECT doc_id, source, n_chars,
    (CAST({_hex13_sql('hx')} AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
  FROM h
)
SELECT doc_id, source, n_chars FROM u
ORDER BY floor(ln(u) * 1000000.0) / CAST(n_chars AS DOUBLE) DESC, doc_id
LIMIT 200""",

        "sample_weighted_by_source": f"""
WITH h AS (
  SELECT doc_id, source, n_chars,
    md5('wsample|' || CAST(doc_id AS VARCHAR)) AS hx
  FROM documents
), u AS (
  SELECT doc_id, source, n_chars,
    (CAST({_hex13_sql('hx')} AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
  FROM h
)
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
      ORDER BY floor(ln(u) * 1000000.0) / CAST(n_chars AS DOUBLE) DESC,
               doc_id) AS rn
  FROM u
) t WHERE rn <= 40""",

        "mix_sources": f"""
WITH w(source, w) AS (VALUES ('src0', 3), ('src1', 2),
                             ('src2', 1), ('src3', 1)),
cnt AS (
  SELECT d.source, count(*) AS n FROM documents d
  JOIN w ON d.source = w.source GROUP BY d.source
), nout AS (
  SELECT min((cnt.n * (SELECT sum(w) FROM w)) // w.w) AS n_out
  FROM cnt JOIN w ON cnt.source = w.source
), thr AS (
  SELECT cnt.source,
    ({SAMPLE_BUCKETS} * ((nout.n_out * w.w) //
                         (SELECT sum(w) FROM w))) // cnt.n AS t
  FROM cnt JOIN w ON cnt.source = w.source, nout
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON d.source = thr.source
WHERE {_hex7_sql("md5('mix|' || CAST(d.doc_id AS VARCHAR))")} < thr.t""",

        "sample_stratified": f"""
WITH h AS (
  SELECT doc_id, lang, md5('|' || CAST(doc_id AS VARCHAR)) AS h1
  FROM documents
)
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_hex7_sql('h1')} AS bucket FROM h)
WHERE bucket < CASE lang WHEN 'en' THEN {int(0.2 * SAMPLE_BUCKETS)}
                         WHEN 'zh' THEN {int(0.8 * SAMPLE_BUCKETS)}
                         ELSE {int(0.5 * SAMPLE_BUCKETS)} END""",

        "pack_shards": f"""
WITH h AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    md5('shard|' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents
), b AS (
  SELECT doc_id, n_tokens, {_hex7_sql('hh')} AS hv FROM h
), c AS (
  SELECT doc_id, n_tokens,
    CAST(sum(n_tokens) OVER (ORDER BY hv, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM b
)
SELECT doc_id, n_tokens,
  CAST(floor((cum - n_tokens) / 20000) AS BIGINT) AS shard
FROM c""",

        "source_heavy_hitters": """
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
), t AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY lang
), r AS (
  SELECT lang, source, n_docs,
    CAST(row_number() OVER (PARTITION BY lang
      ORDER BY n_docs DESC, source) AS INT) AS rank
  FROM c
)
SELECT r.lang, r.source, r.n_docs, r.rank, r.n_docs / t.n_lang AS share
FROM r JOIN t ON r.lang = t.lang WHERE r.rank <= 3""",

        "length_quantiles": """
WITH r AS (
  SELECT lang, n_chars AS value,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, q, value
FROM r JOIN (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.9::DOUBLE)) qs(q)
  ON rn = greatest(CAST(ceil(q * n) AS BIGINT), 1)""",

        "ann_brute_topk": f"""
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id, {_cos('v.embedding', 'q.embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, v.vec_id) AS INT) AS rank
  FROM embeddings v, embeddings q WHERE q.vec_id < 5
) t WHERE rank <= 10""",

        # metadata-filtered retrieval: predicate applied BEFORE scoring
        "ann_filtered_topk": f"""
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id, {_cos('v.embedding', 'q.embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, v.vec_id) AS INT) AS rank
  FROM embeddings v, embeddings q
  WHERE q.vec_id < 5 AND v.label % 3 = 0
) t WHERE rank <= 10""",

        "ann_quantized_topk": f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x ->
    CAST(floor(127.0 * x::DOUBLE /
      sqrt({_DOT.format(a='embedding', b='embedding')}) + 0.5) AS BIGINT))
    AS q
  FROM embeddings
)
SELECT q_id, vec_id, dot_q, rank FROM (
  SELECT qq.vec_id AS q_id, v.vec_id,
    list_reduce(list_prepend(0::BIGINT,
      list_transform(list_zip(v.q, qq.q), p -> p[1] * p[2])),
      (acc, e) -> acc + e) AS dot_q,
    CAST(row_number() OVER (PARTITION BY qq.vec_id
      ORDER BY list_reduce(list_prepend(0::BIGINT,
        list_transform(list_zip(v.q, qq.q), p -> p[1] * p[2])),
        (acc, e) -> acc + e) DESC, v.vec_id) AS INT) AS rank
  FROM qv v, qv qq WHERE qq.vec_id < 5
) t WHERE rank <= 10""",

        "ann_brute_topk_gemm": f"""
SELECT q_id, vec_id, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, v.vec_id) AS INT) AS rank
  FROM embeddings v, embeddings q WHERE q.vec_id < 5
) t WHERE rank <= 10""",

        "ann_ivf_topk_gemm": ivf_ctes(4, "q.vec_id < 5 AND ") + f"""
SELECT q_id, vec_id, rank FROM (
  SELECT p.q_id, a.vec_id,
    CAST(row_number() OVER (PARTITION BY p.q_id
      ORDER BY {_cos('a.embedding', 'p.q_embedding')} DESC, a.vec_id) AS INT) AS rank
  FROM assigned a JOIN probes p USING (bucket)
) t WHERE rank <= 5""",

        "ann_dup_pairs_ivf_gemm": ivf_ctes(4) + f"""
SELECT a.vec_id AS a, b.vec_id AS b
FROM assigned a JOIN assigned b USING (bucket)
WHERE a.vec_id < b.vec_id
  AND {_cos('a.embedding', 'b.embedding')} >= 0.4""",

        "ann_ivf_topk": ivf_ctes(4, "q.vec_id < 5 AND ") + f"""
SELECT q_id, vec_id, cos, rank FROM (
  SELECT p.q_id, a.vec_id, {_cos('a.embedding', 'p.q_embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY p.q_id
      ORDER BY {_cos('a.embedding', 'p.q_embedding')} DESC, a.vec_id) AS INT) AS rank
  FROM assigned a JOIN probes p USING (bucket)
) t WHERE rank <= 5""",

        "ann_lsh_topk": f"""
WITH s AS (
  SELECT vec_id, embedding,
    {_lsh_sig_sql('embedding')} AS sig
  FROM embeddings
)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id,
    {_cos('v.embedding', 'q.embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, v.vec_id)
      AS INT) AS rank
  FROM s v JOIN s q ON v.sig = q.sig
  WHERE q.vec_id < 5 AND v.vec_id <> q.vec_id
) t WHERE rank <= 5""",

        "ann_knn_join": ivf_ctes(8, "") + f"""
SELECT q_id, vec_id, cos, rank FROM (
  SELECT p.q_id, a.vec_id, {_cos('a.embedding', 'p.q_embedding')} AS cos,
    CAST(row_number() OVER (PARTITION BY p.q_id
      ORDER BY {_cos('a.embedding', 'p.q_embedding')} DESC, a.vec_id) AS INT) AS rank
  FROM assigned a JOIN probes p USING (bucket)
  WHERE a.vec_id <> p.q_id
) t WHERE rank <= 3""",

        "ann_knn_join_gemm": ivf_ctes(8, "") + f"""
SELECT q_id, vec_id, rank FROM (
  SELECT p.q_id, a.vec_id,
    CAST(row_number() OVER (PARTITION BY p.q_id
      ORDER BY {_cos('a.embedding', 'p.q_embedding')} DESC, a.vec_id) AS INT) AS rank
  FROM assigned a JOIN probes p USING (bucket)
  WHERE a.vec_id <> p.q_id
) t WHERE rank <= 3""",

        "ann_cosine_dup_pairs": f"""
SELECT a.vec_id AS a, b.vec_id AS b,
  {_cos('a.embedding', 'b.embedding')} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos('a.embedding', 'b.embedding')} >= 0.4""",

        # HDR bucket/bounds decode mirrored in DuckDB dialect
        # (// for div, ltrim(s,'0'), >>/<< shifts); nearest-rank
        # ceil via the sign-free (a+9999)//10000
        "price_quantiles_hdr": """
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), b AS (
  SELECT CASE WHEN v < 32 THEN v
         ELSE (length(ltrim(bin(v), '0')) - 1 - 5) * 32
              + (v >> CAST(length(ltrim(bin(v), '0')) - 1 - 5 AS INT))
         END AS bucket
  FROM v
), hist AS (
  SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist
), cdf AS (
  SELECT bucket,
    CAST(sum(cnt) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
), qs(q_bp) AS (
  VALUES (5000), (9000), (9900), (9999)
), sel AS (
  SELECT q_bp, min(bucket) AS bucket, min(n) AS n
  FROM cdf, tot, qs
  WHERE cum >= (q_bp * n + 9999) // 10000
  GROUP BY q_bp
)
SELECT CAST(q_bp AS INT) AS q_bp,
  CAST(CASE WHEN bucket < 32 THEN bucket
       ELSE ((bucket % 32 + 32) + 1) << CAST(bucket // 32 - 1 AS INT)
       END - CASE WHEN bucket < 32 THEN 0 ELSE 1 END AS BIGINT)
    AS estimate,
  n
FROM sel""",

        "parts_overlap_kmv": f"""
WITH ha AS (
  SELECT DISTINCT {_hex13_sql('h32')} AS h FROM (
    SELECT md5(CAST(l_partkey AS VARCHAR)) AS h32 FROM lineitem
    WHERE year(l_shipdate) = 1996) t
), hb AS (
  SELECT DISTINCT {_hex13_sql('h32')} AS h FROM (
    SELECT md5(CAST(l_partkey AS VARCHAR)) AS h32 FROM lineitem
    WHERE year(l_shipdate) = 1997) t
), sa AS (SELECT h FROM ha ORDER BY h LIMIT 128),
   sb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
   m AS (
  SELECT COALESCE(sa.h, sb.h) AS h,
    CASE WHEN sa.h IS NULL THEN 0 ELSE 1 END AS in_a,
    CASE WHEN sb.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
), l AS (SELECT * FROM m ORDER BY h LIMIT 128),
   agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k_used,
    CAST(max(h) AS BIGINT) AS kth_min,
    CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM l
), est AS (
  SELECT *, CAST(CASE WHEN k_used < 128 OR kth_min <= 0 THEN k_used
       ELSE (k_used - 1) * 4503599627370496 // kth_min END AS BIGINT)
    AS union_est
  FROM agg
)
SELECT k_used, kth_min, n_both, union_est,
  CAST(n_both * union_est // k_used AS BIGINT) AS inter_est,
  CAST(n_both * 10000 // k_used AS BIGINT) AS jaccard_bp
FROM est""",

        # gaps-and-islands SCD2; IS DISTINCT FROM == eqNullSafe
        "scd2_user_state": """
WITH s AS (
  SELECT user_id, ts, event_type,
    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
         THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), i AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM s
), v AS (
  SELECT user_id, island, any_value(event_type) AS event_type,
    min(ts) AS valid_from
  FROM i GROUP BY user_id, island
)
SELECT user_id, event_type, valid_from,
  lead(valid_from) OVER w2 AS valid_to,
  CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END
       AS INT) AS is_current
FROM v
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)""",

        "attribution_linear": """
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
    CAST(round(value * 100) AS BIGINT) AS cents,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM events
), convs AS (
  SELECT user_id, seg AS cidx, cents FROM r WHERE event_type = 'purchase'
), touches AS (
  SELECT user_id, ts, event_id, event_type, seg + 1 AS cidx
  FROM r WHERE event_type <> 'purchase'
), j AS (
  SELECT t.event_type AS channel, c.cents,
    row_number() OVER (PARTITION BY t.user_id, t.cidx
                       ORDER BY t.ts, t.event_id) AS rn,
    count(*) OVER (PARTITION BY t.user_id, t.cidx) AS n
  FROM touches t JOIN convs c
    ON c.user_id = t.user_id AND c.cidx = t.cidx
), per AS (
  SELECT channel,
    10000 // n + CASE WHEN rn = 1 THEN 10000 % n ELSE 0 END AS credit,
    cents // n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END AS rev
  FROM j
), cred AS (
  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
    CAST(sum(credit) AS BIGINT) AS credit_bp,
    CAST(sum(rev) AS BIGINT) AS revenue_c
  FROM per GROUP BY channel
), direct AS (
  SELECT 'direct' AS channel, CAST(count(*) AS BIGINT) AS n_touches,
    CAST(count(*) * 10000 AS BIGINT) AS credit_bp,
    CAST(COALESCE(sum(c.cents), 0) AS BIGINT) AS revenue_c
  FROM convs c
  LEFT JOIN (SELECT DISTINCT user_id, cidx FROM touches) t
    ON t.user_id = c.user_id AND t.cidx = c.cidx
  WHERE t.user_id IS NULL
  HAVING count(*) > 0
)
SELECT * FROM cred UNION ALL SELECT * FROM direct""",

        "zorder_events": f"""
WITH g AS (
  SELECT event_id,
    CAST(floor((least(greatest(CAST(user_id AS DOUBLE),
                               CAST(0 AS DOUBLE)),
                      CAST(2048 AS DOUBLE)) - CAST(0 AS DOUBLE))
         * CAST({zx} AS DOUBLE)) AS BIGINT) AS sx,
    CAST(floor((least(greatest(CAST(date_diff('day', DATE '2020-01-01',
                                    CAST(ts AS DATE)) AS DOUBLE),
                               CAST(0 AS DOUBLE)),
                      CAST(4096 AS DOUBLE)) - CAST(0 AS DOUBLE))
         * CAST({zy} AS DOUBLE)) AS BIGINT) AS sy
  FROM events
)
SELECT event_id,
  CAST({_zorder_interleave_sql('sx', 'sy', _ZBITS)} AS BIGINT) AS zkey
FROM g""",

        "user_retention_km": """
WITH pu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
  FROM events GROUP BY user_id
), mx AS (SELECT max(d1) AS dm FROM pu),
   obs AS (
  SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
    CASE WHEN date_diff('day', d1, dm) > 7 THEN 1 ELSE 0 END AS e
  FROM pu, mx
), per_t AS (
  SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
    CAST(sum(1 - e) AS BIGINT) AS n_censored,
    CAST(count(*) AS BIGINT) AS n_obs
  FROM obs GROUP BY t
), rk AS (
  SELECT *, CAST(sum(n_obs) OVER (ORDER BY t
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
    AS n_risk
  FROM per_t
), tm AS (
  SELECT *, CASE WHEN n_events = 0 THEN CAST(0 AS BIGINT)
    WHEN n_risk = n_events THEN CAST(-4611686018427387904 AS BIGINT)
    ELSE CAST(round(1000000.0 * ln(CAST(n_risk - n_events AS DOUBLE)
         / CAST(n_risk AS DOUBLE))) AS BIGINT) END AS term
  FROM rk
)
SELECT t, n_risk, n_events, n_censored,
  CAST(greatest(sum(term) OVER (ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    -4611686018427387904) AS BIGINT) AS log_surv_q6
FROM tm""",

        "event_sequences_3": """
WITH s AS (
  SELECT event_type AS step_1,
    lead(event_type, 1) OVER w AS step_2,
    lead(event_type, 2) OVER w AS step_3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT step_1, step_2, step_3, count(*) AS n_occurrences
FROM s WHERE step_3 IS NOT NULL
GROUP BY step_1, step_2, step_3""",

        "lineitem_corr": _corr_oracle_sql(),

        # PSI mirror: expression text identical to drift.psi_drift
        "drift_psi_value": """
WITH b AS (
  SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9) AS bin,
    CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS is_a
  FROM events
), counts AS (
  SELECT bin, CAST(sum(is_a) AS BIGINT) AS n_a,
    CAST(sum(1 - is_a) AS BIGINT) AS n_b
  FROM b GROUP BY bin
), tot AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
    CAST(sum(n_b) AS BIGINT) AS tot_b,
    CAST(count(*) AS BIGINT) AS k
  FROM counts
)
SELECT bin, n_a, n_b,
  CAST(round(1000000.0 * (
    (CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + k * 1 AS DOUBLE)
     - CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + k * 1 AS DOUBLE))
    * ln((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + k * 1 AS DOUBLE))
         / (CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + k * 1 AS DOUBLE)))
  )) AS BIGINT) AS psi_term_q6
FROM counts, tot""",

        "chi2_type_dow": """
WITH cells AS (
  SELECT event_type AS r,
    CAST(date_part('dow', ts) + 1 AS INT) AS c,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), rt AS (SELECT r, CAST(sum(n) AS BIGINT) AS n_r FROM cells GROUP BY r),
   ct AS (SELECT c, CAST(sum(n) AS BIGINT) AS n_c FROM cells GROUP BY c),
   g AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cells)
SELECT cells.r, cells.c, n,
  CAST(round(1000000.0 * (CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
       / CAST(n_tot AS DOUBLE))) AS BIGINT) AS expected_q6,
  CAST(round(1000000.0 *
    ((CAST(n AS DOUBLE) - (CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
        / CAST(n_tot AS DOUBLE)))
     * (CAST(n AS DOUBLE) - (CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
        / CAST(n_tot AS DOUBLE)))
     / (CAST(n_r AS DOUBLE) * CAST(n_c AS DOUBLE)
        / CAST(n_tot AS DOUBLE)))) AS BIGINT) AS chi2_term_q6
FROM cells JOIN rt ON cells.r = rt.r
JOIN ct ON cells.c = ct.c CROSS JOIN g""",

        "postings_index": """
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents) t
  WHERE token <> ''
)
SELECT token, CAST(count(*) AS BIGINT) AS df,
  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS postings
FROM tok GROUP BY token""",

        # boundary ranks use CAST(q AS DOUBLE)·n — the DOUBLE product
        # (not DuckDB's exact DECIMAL) to mirror Spark's float ceil
        "order_price_bins": """
WITH o AS (
  SELECT o_orderpriority AS g, o_orderkey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), r AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM o
), b AS (
  SELECT g, v AS bnd
  FROM r JOIN (VALUES (0.1), (0.2), (0.3), (0.4), (0.5), (0.6),
               (0.7), (0.8), (0.9)) AS qv(q)
    ON rn = greatest(CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT), 1)
), a AS (
  SELECT o.g, o.o_orderkey, any_value(o.v) AS v,
    CAST(sum(CASE WHEN o.v > b.bnd THEN 1 ELSE 0 END) AS INT) AS bin
  FROM o JOIN b ON b.g = o.g
  GROUP BY o.g, o.o_orderkey
)
SELECT g AS o_orderpriority, bin, CAST(count(*) AS BIGINT) AS n,
  min(v) AS min_v, max(v) AS max_v
FROM a GROUP BY g, bin""",

        # md5-parity arm assignment + pooled two-proportion z, chain
        # text identical to drift.two_proportion_ztest
        "ab_ztest_purchase": """
WITH per AS (
  SELECT user_id,
    CAST((strpos('0123456789abcdef',
          substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 AS INT)
      AS a,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY user_id
), agg AS (
  SELECT CAST(sum(1 - a) AS BIGINT) AS n_a,
    CAST(sum((1 - a) * c) AS BIGINT) AS x_a,
    CAST(sum(a) AS BIGINT) AS n_b,
    CAST(sum(a * c) AS BIGINT) AS x_b
  FROM per
)
SELECT n_a, x_a, n_b, x_b,
  CAST(CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN 0
  ELSE round(1000000.0 * (
    (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
     - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
    * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
  )) END AS BIGINT) AS z_q6
FROM agg""",

        "hourly_acf": _acf_oracle_sql(),

        # hourly cents resample → last same-phase train hour →
        # integer MAE / floor-div bias (// floors, matching the
        # operator's pmod floor-division)
        "forecast_snaive": """
WITH hours AS (
  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hv
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT epoch_us(TIMESTAMP '2024-01-24 00:00:00') // 3600000000 AS s
), train AS (SELECT hours.* FROM hours, sp WHERE h < s),
   test AS (SELECT hours.* FROM hours, sp WHERE h >= s),
   lp AS (
  SELECT k, h % 168 AS phase, max(h) AS h_train
  FROM train GROUP BY k, h % 168
), scored AS (
  SELECT t.k, t.hv, tr.hv AS v_hat
  FROM test t
  JOIN lp ON lp.k = t.k AND lp.phase = t.h % 168
  JOIN train tr ON tr.k = t.k AND tr.h = lp.h_train
)
SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_test_hours,
  CAST(CAST(sum(abs(hv - v_hat)) AS BIGINT) // count(*) AS BIGINT)
    AS mae_c,
  CAST(CAST(sum(hv - v_hat) AS BIGINT) // count(*) AS BIGINT)
    AS bias_c
FROM scored GROUP BY k""",

        # per-dim boundaries at rank ceil(double(q)·n); scores count
        # strict-greater boundaries (recency inverted)
        "rfm_segments": """
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d,
    CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), per AS (
  SELECT u, max(d) AS last_d, CAST(count(*) AS BIGINT) AS freq,
    CAST(sum(c) AS BIGINT) AS mon
  FROM ev GROUP BY u
), mx AS (SELECT max(last_d) AS dm FROM per),
   p2 AS (
  SELECT u, CAST(date_diff('day', last_d, dm) AS BIGINT) AS rec,
    freq, mon
  FROM per, mx
), qv(q) AS (VALUES (0.2), (0.4), (0.6), (0.8)),
   r_rec AS (SELECT rec AS v, row_number() OVER (ORDER BY rec) AS rn,
             count(*) OVER () AS n FROM p2),
   b_rec AS (SELECT v FROM r_rec JOIN qv
             ON rn = greatest(CAST(ceil(CAST(q AS DOUBLE) * n)
                              AS BIGINT), 1)),
   r_frq AS (SELECT freq AS v, row_number() OVER (ORDER BY freq) AS rn,
             count(*) OVER () AS n FROM p2),
   b_frq AS (SELECT v FROM r_frq JOIN qv
             ON rn = greatest(CAST(ceil(CAST(q AS DOUBLE) * n)
                              AS BIGINT), 1)),
   r_mon AS (SELECT mon AS v, row_number() OVER (ORDER BY mon) AS rn,
             count(*) OVER () AS n FROM p2),
   b_mon AS (SELECT v FROM r_mon JOIN qv
             ON rn = greatest(CAST(ceil(CAST(q AS DOUBLE) * n)
                              AS BIGINT), 1)),
   s AS (
  SELECT u, mon,
    5 - (SELECT count(*) FROM b_rec WHERE p2.rec > b_rec.v) AS s_rec,
    1 + (SELECT count(*) FROM b_frq WHERE p2.freq > b_frq.v) AS s_frq,
    1 + (SELECT count(*) FROM b_mon WHERE p2.mon > b_mon.v) AS s_mon
  FROM p2
)
SELECT concat(s_rec, s_frq, s_mon) AS rfm,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(mon) AS BIGINT) AS monetary_c_sum
FROM s GROUP BY concat(s_rec, s_frq, s_mon)""",

        # each rule mirrored as its own aggregate; NULL comparisons
        # drop out of FILTERs exactly as they do from Spark's
        # boolean-cast sums
        "data_expectations": """
SELECT 'orders.unique:o_orderkey' AS rule,
  CAST(count(*) AS BIGINT) AS n_checked,
  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orders.range:o_totalprice', CAST(count(o_totalprice) AS BIGINT),
  CAST(count(*) FILTER (o_totalprice < 0 OR o_totalprice > 600000)
       AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders.regex:o_orderstatus',
  CAST(count(o_orderstatus) AS BIGINT),
  CAST(count(*) FILTER (o_orderstatus IS NOT NULL
       AND NOT regexp_matches(o_orderstatus, '^[OFP]$')) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders.not_null:o_custkey', CAST(count(*) AS BIGINT),
  CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem.fk:l_orderkey', CAST(count(l_orderkey) AS BIGINT),
  CAST(count(*) FILTER (l_orderkey IS NOT NULL AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.range:l_discount', CAST(count(l_discount) AS BIGINT),
  CAST(count(*) FILTER (l_discount < 0.0 OR l_discount > 0.05)
       AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.regex:l_returnflag',
  CAST(count(l_returnflag) AS BIGINT),
  CAST(count(*) FILTER (l_returnflag IS NOT NULL
       AND NOT regexp_matches(l_returnflag, '^[ANR]$')) AS BIGINT)
FROM lineitem""",

        "cube_users_hll": _hll_cube_sql(),

        # SCD2 versions (non-purchase states) + interval-predicate
        # join — must equal Spark's as-of union-sweep exactly
        "scd2_pit_enrich": """
WITH st AS (
  SELECT user_id, ts, event_type AS state FROM events
  WHERE event_type <> 'purchase'
), s AS (
  SELECT user_id, ts, state,
    CASE WHEN lag(state) OVER w IS DISTINCT FROM state
         THEN 1 ELSE 0 END AS chg
  FROM st WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), i AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM s
), v AS (
  SELECT user_id, any_value(state) AS state, min(ts) AS valid_from
  FROM i GROUP BY user_id, island
), v2 AS (
  SELECT user_id, state, valid_from,
    lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      AS valid_to
  FROM v
), p AS (
  SELECT event_id, user_id, ts,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.cents, v2.state
FROM p LEFT JOIN v2 ON v2.user_id = p.user_id
  AND v2.valid_from <= p.ts
  AND (v2.valid_to IS NULL OR p.ts < v2.valid_to)""",

        "table_diff_orders": """
WITH other AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
         ELSE o_totalprice END AS o_totalprice,
    o_orderstatus,
    CASE WHEN o_orderkey % 13 = 0 THEN 'CHANGED'
         ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 50000000, o_totalprice, o_orderstatus,
    o_orderpriority
  FROM orders WHERE o_orderkey % 1000 = 3
), j AS (
  SELECT b.o_orderkey AS bk, o.o_orderkey AS ok,
    b.o_totalprice IS DISTINCT FROM o.o_totalprice AS ch_p,
    b.o_orderstatus IS DISTINCT FROM o.o_orderstatus AS ch_s,
    b.o_orderpriority IS DISTINCT FROM o.o_orderpriority AS ch_r
  FROM orders b FULL OUTER JOIN other o
    ON b.o_orderkey = o.o_orderkey
), c AS (
  SELECT
    CAST(count(*) FILTER (bk IS NULL) AS BIGINT) AS added,
    CAST(count(*) FILTER (ok IS NULL) AS BIGINT) AS removed,
    CAST(count(*) FILTER (bk IS NOT NULL AND ok IS NOT NULL
         AND NOT (ch_p OR ch_s OR ch_r)) AS BIGINT) AS unchanged,
    CAST(count(*) FILTER (bk IS NOT NULL AND ok IS NOT NULL
         AND (ch_p OR ch_s OR ch_r)) AS BIGINT) AS changed_rows,
    CAST(count(*) FILTER (bk IS NOT NULL AND ok IS NOT NULL AND ch_p)
         AS BIGINT) AS ch_price,
    CAST(count(*) FILTER (bk IS NOT NULL AND ok IS NOT NULL AND ch_s)
         AS BIGINT) AS ch_status,
    CAST(count(*) FILTER (bk IS NOT NULL AND ok IS NOT NULL AND ch_r)
         AS BIGINT) AS ch_prio
  FROM j
)
SELECT '_added' AS item, added AS n FROM c
UNION ALL SELECT '_removed', removed FROM c
UNION ALL SELECT '_unchanged', unchanged FROM c
UNION ALL SELECT '_changed_rows', changed_rows FROM c
UNION ALL SELECT 'col:o_totalprice', ch_price FROM c
UNION ALL SELECT 'col:o_orderstatus', ch_status FROM c
UNION ALL SELECT 'col:o_orderpriority', ch_prio FROM c""",

        "basket_lift_pairs": """
WITH m AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
    event_type AS item
  FROM events
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
    CAST(count(*) AS BIGINT) AS n_ab
  FROM m a JOIN m b ON a.user_id = b.user_id AND a.d = b.d
    AND a.item < b.item
  GROUP BY a.item, b.item
), singles AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM m GROUP BY item
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT user_id, d FROM m)
)
SELECT item_a, item_b, n_ab, sa.n_i AS n_a, sb.n_i AS n_b, n_baskets,
  CAST(round(1000000.0 * ((CAST(n_baskets AS DOUBLE)
       * CAST(n_ab AS DOUBLE))
       / (CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE))))
       AS BIGINT) AS lift_q6
FROM pairs
JOIN singles sa ON sa.item = pairs.item_a
JOIN singles sb ON sb.item = pairs.item_b
CROSS JOIN total""",

        "value_percent_rank": """
WITH e AS (
  SELECT event_id, event_type,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, event_type, cents AS value_c,
  CAST(CASE WHEN count(*) OVER (PARTITION BY event_type) <= 1 THEN 0
       ELSE (rank() OVER (PARTITION BY event_type ORDER BY cents) - 1)
            * 10000
            // (count(*) OVER (PARTITION BY event_type) - 1)
       END AS BIGINT) AS pr_bp
FROM e""",

        "ols_price_qty": """
WITH pts AS (
  SELECT n_name,
    CAST(round(l_quantity) AS BIGINT) AS x,
    CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), m AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx,
    CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY n_name
)
SELECT n_name, n,
  CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
    THEN CAST(round(1000000.0 * (((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))) AS BIGINT)
  END AS slope_q6,
  CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
    THEN CAST(round(1000000.0 * (((CAST(sy AS DOUBLE)
       - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)))) AS BIGINT)
  END AS intercept_q6,
  CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0
       AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
    THEN CAST(round(1000000.0 * ((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))))) AS BIGINT)
  END AS r2_q6
FROM m""",

        "cms_user_counts": _cms_oracle_sql(),


        "jaccard_prefix_pairs": """
WITH tok AS (
  SELECT DISTINCT doc_id, t AS tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id
), inter AS (
  SELECT ta.doc_id AS a, tb.doc_id AS b,
    CAST(count(*) AS BIGINT) AS n_common
  FROM tok ta JOIN tok tb
    ON ta.tok = tb.tok AND ta.doc_id < tb.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
  CAST(1000000 * n_common // (sa.sz + sb.sz - n_common) AS BIGINT)
    AS jaccard_q6
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE 1000000 * n_common // (sa.sz + sb.sz - n_common) >= 950000""",

        "bpe_merge_pairs": """
WITH toks AS (
  SELECT lower(t) AS w
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE regexp_matches(lower(t), '^[a-z]+$') AND length(t) >= 2
), words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
), pairs AS (
  -- DuckDB can't correlate generate_series bounds: fixed 1..128
  -- grid + filter (no [a-z]+ token in the corpus exceeds 129 chars)
  SELECT substring(w, CAST(i AS INT), 2) AS pair, c
  FROM words, generate_series(1, 128) t(i)
  WHERE i <= length(w) - 1
)
SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 50""",

        "bfs_reach": _bfs_sql(4),
        "sssp_latency": _sssp_sql(4),

        "golden_record": """
WITH src AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'purchase'
         THEN CAST(round(value * 100) AS BIGINT) END AS pc,
    CASE WHEN event_type <> 'purchase' THEN event_type END AS ot
  FROM events
), a1 AS (
  SELECT user_id,
    first(pc ORDER BY ts DESC, event_id DESC) AS last_purchase_c
  FROM src WHERE pc IS NOT NULL GROUP BY user_id
), a2 AS (
  SELECT user_id,
    first(ot ORDER BY ts DESC, event_id DESC) AS last_other_type
  FROM src WHERE ot IS NOT NULL GROUP BY user_id
), ls AS (
  SELECT user_id,
    first(ts ORDER BY ts DESC, event_id DESC) AS last_seen_ts
  FROM src GROUP BY user_id
)
SELECT ls.user_id, a1.last_purchase_c, a2.last_other_type,
  ls.last_seen_ts
FROM ls
LEFT JOIN a1 USING (user_id)
LEFT JOIN a2 USING (user_id)""",

        "latency_cube_hdr": _hdr_cube_sql(),

        "doc_logprob_bigram": """
WITH lsts AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
    AS lst
  FROM documents
), pairs AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(lst) - 1),
                          i -> lst[i] || ' ' || lst[i + 1])) AS pair
  FROM lsts WHERE len(lst) >= 2
), tk AS (
  SELECT token FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  WHERE token <> ''
), uni AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cu FROM tk GROUP BY token
), vv AS (
  SELECT CAST(count(*) AS BIGINT) AS v FROM uni
), big AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS cb FROM pairs GROUP BY pair
)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(CAST(floor(ln(CAST(big.cb + 1 AS DOUBLE)
       / CAST(uni.cu + vv.v AS DOUBLE)) * 1000000) AS BIGINT))
    AS BIGINT) AS logprob2_q
FROM pairs p
JOIN big USING (pair)
JOIN uni ON uni.token = split_part(p.pair, ' ', 1), vv
GROUP BY p.doc_id""",

        "pivot_type_dow": """
SELECT event_type,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 1) AS BIGINT) AS d1,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 2) AS BIGINT) AS d2,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 3) AS BIGINT) AS d3,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 4) AS BIGINT) AS d4,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 5) AS BIGINT) AS d5,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 6) AS BIGINT) AS d6,
  CAST(count(*) FILTER (dayofweek(ts) + 1 = 7) AS BIGINT) AS d7
FROM events GROUP BY event_type""",

        "min_cost_supplier": """
WITH offers AS (
  SELECT l_partkey, l_suppkey,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
), mins AS (
  SELECT l_partkey, min(price_c) AS min_c FROM offers GROUP BY l_partkey
)
SELECT DISTINCT offers.l_partkey, offers.l_suppkey, offers.price_c
FROM offers JOIN mins USING (l_partkey)
WHERE offers.price_c = mins.min_c""",

        "cumulative_reach": """
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
  GROUP BY user_id
), daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY day
)
SELECT CAST(day AS VARCHAR) AS day, new_users,
  CAST(sum(new_users) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_users
FROM daily""",

        "stream_hll_users": f"""
WITH src AS (
  SELECT md5(CAST(user_id AS VARCHAR)) AS h32 FROM events
), hh AS (
  SELECT {_hex13_sql('h32')} AS h FROM src
), regs AS (
  SELECT h % 256 AS register,
    max(45 - length(ltrim(bin(h // 256), '0'))) AS max_rho
  FROM hh GROUP BY register
), agg AS (
  SELECT CAST(256 - count(*) AS BIGINT) AS v_zero,
    CAST(CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT)
         + (256 - count(*)) * 4503599627370496 AS BIGINT) AS s_scaled,
    CAST(round(((CAST(0.7182725932495458 AS DOUBLE)
                 * CAST(65536 AS DOUBLE))
                * CAST(4503599627370496 AS DOUBLE))
         / CAST(CAST(sum(CAST(1 AS BIGINT) << (52 - max_rho)) AS BIGINT)
                + (256 - count(*)) * 4503599627370496 AS DOUBLE))
         AS BIGINT) AS raw_est
  FROM regs
)
SELECT CAST(256 AS BIGINT) AS n_registers, v_zero, s_scaled,
  CASE WHEN v_zero > 0 AND raw_est * 2 <= 1280
       THEN CAST(round(CAST(256 AS DOUBLE)
                 * ln(CAST(256 AS DOUBLE) / CAST(v_zero AS DOUBLE)))
                 AS BIGINT)
       ELSE raw_est END AS estimate
FROM agg""",

        "ppr_handoff": _ppr_sql(3),

        "schema_evolution_read": """
SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
  CAST(NULL AS VARCHAR) AS event_type
FROM events WHERE user_id % 2 = 0
UNION ALL
SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
  event_type
FROM events WHERE user_id % 2 = 1""",

        "funnel_steps_24h": """
WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t,
                   min(epoch_us(ts)) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t, s1.t1 AS t1
       FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
         AND epoch_us(e.ts) <= s1.t1 + 86400000000
       GROUP BY e.user_id, s1.t1),
s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
         AND epoch_us(e.ts) <= s2.t1 + 86400000000
       GROUP BY e.user_id),
""" + funnel_report,

        "agg_delta_apply": """
WITH o AS (
  SELECT o_orderstatus, o_orderpriority,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
    o_orderdate, o_orderkey
  FROM orders
), survivors AS (
  SELECT * FROM o
  WHERE date_part('year', o_orderdate) >= 1996
  UNION ALL
  SELECT * FROM o
  WHERE date_part('year', o_orderdate) < 1996 AND o_orderkey % 7 <> 0
)
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sum_v
FROM survivors
GROUP BY o_orderstatus, o_orderpriority
HAVING count(*) > 0""",

        # union octagon closed forms (integer rectangles, corner
        # overlap): area = 2wh - (w-dx)(h-dy),
        # perimeter = 4(w+h) - 2((w-dx)+(h-dy))
        "sql_st_union": """
WITH p AS (
  SELECT p_partkey,
    p_partkey % 5 + 4 AS w, p_partkey % 7 + 3 AS h,
    p_partkey % 3 + 1 AS dx, p_partkey % 2 + 1 AS dy
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey,
  CAST(2 * w * h - (w - dx) * (h - dy) AS BIGINT) AS uarea,
  CAST(4 * (w + h) - 2 * ((w - dx) + (h - dy)) AS BIGINT) AS ulen,
  CAST((w - dx) * (h - dy) AS BIGINT) AS iarea,
  CAST(2 * ((w - dx) + (h - dy)) AS BIGINT) AS ilen,
  CAST(w * h - (w - dx) * (h - dy) AS BIGINT) AS darea,
  CAST(2 * (w + h) AS BIGINT) AS dlen
FROM p""",
        # k-member staggered chain: area 24k - 6(k-1), one region
        "dissolve_zones": """
WITH p AS (SELECT p_partkey % 20 AS g FROM part WHERE p_partkey <= 400),
r AS (SELECT g, count(*) AS k FROM p GROUP BY g)
SELECT CAST(g AS BIGINT) AS g,
  CAST(24 * k - 6 * (k - 1) AS BIGINT) AS uarea,
  CAST(1 AS BIGINT) AS n_parts
FROM r""",
        # identical to the common_neighbors mirror except sym is
        # capped per node to the 8 smallest-id neighbors via the same
        # row_number window the operator uses; the anti-join (NOT
        # EXISTS) still probes the FULL edge set e
        "common_neighbors_capped": lead_edges + """\
sym AS (
  SELECT a, b FROM (
    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS rn
    FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) s) t
  WHERE rn <= 8),
""" + cn_tail,
        # annulus closed forms (w-square minus centered (w-2)-square):
        #   darea = w²-(w-2)² = 4w-4        dlen = 8w-8
        #   iarea: annulus ∩ corner 3-box gd = 2·2 - 1·1 = 3
        #   island: (w+4)-frame minus annulus = (w+4)²-w² + (w-2)²
        #           (the annulus hole returns as an ISLAND)
        #   uarea: ∪ disjoint 2-box = 4w-4+4;  uarea2: ∪ gd (overlap
        #           3, hole shrinks) = 4w-4 + 9 - 3
        "sql_st_difference_annulus": """
WITH p AS (
  SELECT p_partkey, p_partkey % 5 + 4 AS w
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey,
  CAST(4*w - 4 AS BIGINT) AS darea,
  CAST(8*w - 8 AS BIGINT) AS dlen,
  CAST(3 AS BIGINT) AS iarea,
  CAST((w+4)*(w+4) - w*w + (w-2)*(w-2) AS BIGINT) AS island,
  CAST(4*w AS BIGINT) AS uarea,
  CAST(4*w + 2 AS BIGINT) AS uarea2
FROM p""",
        # erosion closed forms: rectangle minus 1 per side; full
        # erosion (min side <= 2d) → NULL → -1; hole-shrink identity
        # (v-2·0.5)² with v = w-2
        "sql_st_buffer_erode": """
WITH p AS (
  SELECT p_partkey, p_partkey % 5 + 4 AS w, p_partkey % 7 + 3 AS h
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey,
  CAST((w-2)*(h-2) AS BIGINT) AS earea,
  CAST(2*(w-2) + 2*(h-2) AS BIGINT) AS elen,
  CAST(CASE WHEN least(w, h) <= 4 THEN -1
       ELSE (w-4)*(h-4) END AS BIGINT) AS evan,
  CAST((w-3)*(w-3) AS BIGINT) AS hshrink
FROM p""",

        # adjacent-tiling dissolve closed forms (see the gate
        # docstring: q = n div k, rem = n mod k)
        "dissolve_adjacent_tiles": """
WITH c AS (
  SELECT p_partkey % 20 AS g, count(*) AS rows_avail
  FROM part WHERE p_partkey <= 400 GROUP BY 1),
k AS (
  SELECT g, g % 3 + 2 AS k,
         least(rows_avail, (g % 3 + 2) * (g % 3 + 2)) AS n
  FROM c),
q AS (SELECT g, k, n, n // k AS q, n % k AS rem FROM k)
SELECT CAST(g AS BIGINT) AS g,
  CAST(n AS BIGINT) AS uarea,
  CAST(CASE WHEN rem = 0 THEN 2 * (k + q)
            WHEN q = 0 THEN 2 * n + 2
            ELSE 2 * k + 2 * q + 2 END AS BIGINT) AS ulen,
  CAST(1 AS BIGINT) AS n_parts
FROM q""",
        # split-waist erosion closed forms (see gate docstring)
        "sql_st_buffer_erode_split": """
WITH p AS (
  SELECT p_partkey, p_partkey % 5 + 4 AS w, p_partkey % 7 + 6 AS h
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey,
  CAST(2 * (w - 3) * (h - 3) AS BIGINT) AS sarea,
  CAST(2 AS BIGINT) AS snrings,
  CAST(-1 AS BIGINT) AS svan
FROM p""",
        "ann_recall_planted": _rank_eval_sql(
            _lsh_mp_topk_sql(n_probe=4, k=10,
                             src=f"({_planted_sql()})",
                             q_pred="vec_id % 12 = 0"),
            f"""SELECT q_id, vec_id, rank FROM (
  SELECT q.vec_id AS q_id, v.vec_id,
    CAST(row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {_cos('v.embedding', 'q.embedding')} DESC, v.vec_id)
      AS INT) AS rank
  FROM ({_planted_sql()}) q
  JOIN ({_planted_sql()}) v ON v.vec_id <> q.vec_id
  WHERE q.vec_id % 12 = 0) t WHERE rank <= 10""", 10),
        # degenerate-contact closed forms (see the gate docstring)
        "sql_st_degenerate_contact": """
WITH p AS (
  SELECT p_partkey, p_partkey % 4 + 2 AS s, p_partkey % 4 + 4 AS w
  FROM part WHERE p_partkey <= 200)
SELECT p_partkey,
  CAST(2 * s * s AS BIGINT) AS f8area,
  CAST(8 * s AS BIGINT) AS f8len,
  CAST(2 AS BIGINT) AS f8rings,
  CAST(4 * s * s AS BIGINT) AS farea,
  CAST(1 AS BIGINT) AS frings,
  CAST(s * s AS BIGINT) AS darea,
  CAST(-1 AS BIGINT) AS iarea,
  CAST(w * w - 2 AS BIGINT) AS pacarea,
  CAST(2 AS BIGINT) AS pacrings
FROM p""",

        "ann_knn_join_planted": _ann_knn_join_planted_sql(),
        "price_percentiles_exact": _price_percentiles_exact_sql(),
        "semantic_dedup_planted": _semantic_dedup_planted_sql(),
        "semantic_contamination_planted":
            _semantic_contamination_planted_sql(),
        "sample_token_budget": _sample_token_budget_sql(),
        "curation_pipeline": _curation_pipeline_sql(),
        "curation_pipeline_neardup": _curation_pipeline_neardup_sql(),
        "passage_dedup_planted": _passage_dedup_planted_sql(),
        "k_core_handoff": _k_core_handoff_sql(),
        "graph_assortativity": _graph_assortativity_sql(),
        "rich_club_handoff": _rich_club_sql(),
        "gini_prices": _gini_prices_sql(),
        "stream_semantic_contamination":
            _stream_semantic_contamination_sql(),
        "simhash_pairs_planted": _simhash_pairs_planted_sql(),
        "incremental_ingest_planted": _incremental_ingest_planted_sql(),
        "duplicated_spans": _duplicated_spans_sql(),
        "contaminated_spans": _contaminated_spans_sql(),
        "kn_discounts_docs": _kn_discounts_sql(),
        "curation_neardup_planted": _curation_neardup_planted_sql(),
        "doc_logprob_kn": _doc_logprob_kn_sql(),
        "doc_logprob_kn3": _doc_logprob_kn3_sql(),
    }

    # streaming replay gates — each must equal the batch computation
    sql["stream_windowed_stats"] = """
SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS win_start,
  event_type, count(*) AS n,
  sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
  max(CAST(round(value * 100) AS BIGINT)) AS max_cents
FROM events GROUP BY 1, 2"""

    sql["stream_dedup"] = """
SELECT DISTINCT user_id, event_type FROM events"""

    # multimodal: expected features computed here from the SAME
    # deterministic arrays the query encodes — numpy on both sides, so
    # the doubles are bit-identical; embedded via repr() round-trip
    rows = []
    for i, arr in _media_fixture_images():
        # the EXACT expressions image_features evaluates (same numpy
        # reduction shape — pairwise-summation order matters for the
        # last ulp)
        a = arr.astype("float64")
        m = a.mean(axis=(0, 1))
        s = a.std(axis=(0, 1))
        # string→double cast, not a ::DOUBLE decimal literal: DuckDB
        # parses bare decimals as DECIMAL first and the
        # decimal→double hop can land one ulp off repr()'s value
        rows.append(f"({i}, {arr.shape[1]}, {arr.shape[0]}, "
                    f"CAST('{float(m[0])!r}' AS DOUBLE), "
                    f"CAST('{float(s[2])!r}' AS DOUBLE))")
    sql["multimodal_features"] = (
        "SELECT * FROM (VALUES " + ", ".join(rows) +
        ") t(img_id, width, height, mean_r, std_b)")

    # image near-dup pairs: expected (a, b, hamming) computed from the
    # same deterministic fixture arrays (PNG roundtrip is lossless, so
    # the executors decode these exact pixels; matrix-DCT == naive
    # direct-sum DCT is pinned by test_phash_matrix_equals_naive)
    from itertools import combinations as _comb

    from stark_spark.operators.multimodal import phash64 as _ph
    hs = {i: _ph(arr) for i, arr in _phash_fixture_images().items()}
    prow = []
    for a, b in _comb(sorted(hs), 2):
        d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if d <= 8:
            prow.append(f"({a}, {b}, {d})")
    sql["multimodal_phash_pairs"] = (
        "SELECT * FROM (VALUES " + ", ".join(prow) +
        ") t(a_id, b_id, hamming)")

    # audio near-dup pairs: same literal-oracle scheme — raw PCM
    # decode is exact (frombuffer), fingerprints recomputed here from
    # the same int16 arrays
    from stark_spark.operators.multimodal import (audio_fingerprint64
                                                  as _afp,
                                                  decode_pcm16 as _pcm)
    ahs = {i: _afp(_pcm(w.tobytes()))
           for i, w in _afp_fixture_waves().items()}
    arow = []
    for a, b in _comb(sorted(ahs), 2):
        d = bin((ahs[a] ^ ahs[b]) & ((1 << 64) - 1)).count("1")
        if d <= 8:
            arow.append(f"({a}, {b}, {d})")
    sql["multimodal_audio_pairs"] = (
        "SELECT * FROM (VALUES " + ", ".join(arow) +
        ") t(a_id, b_id, hamming)")

    # video near-dup pairs: brute-force the expected frame-pair set
    # here (the pigeonhole banding finds EVERY pair within the bound,
    # so the distributed output is a pure function of the arrays)
    from stark_spark.operators.multimodal import phash64 as _ph64
    vfp = {}
    for i, stack in _video_fixture_effective().items():
        vfp[i] = [_ph64(stack[f]) for f in range(0, len(stack), 2)]
    vrow = []
    for a, b in _comb(sorted(vfp), 2):
        hs2 = [bin((x ^ y) & ((1 << 64) - 1)).count("1")
               for x in vfp[a] for y in vfp[b]]
        hits = [h for h in hs2 if h <= 8]
        if len(hits) >= 2:
            vrow.append(f"({a}, {b}, {len(hits)}, {min(hits)})")
    sql["multimodal_video_pairs"] = (
        "SELECT * FROM (VALUES " + ", ".join(vrow) +
        ") t(a_id, b_id, n_frames_matched, min_hamming)")

    # stream-stream join replay: even ⋈ odd event ids on exact point
    # equality within ±1 h (cell equality is implied by the point)
    sql["stream_st_join"] = f"""
SELECT a.event_id, b.event_id AS match_id
FROM events a JOIN events b
  ON a.event_id % 2 = 0 AND b.event_id % 2 = 1
 AND ((a.user_id * {PX}) % 1000) / 10.0 = ((b.user_id * {PX}) % 1000) / 10.0
 AND ((a.user_id * {PY}) % 1000) / 10.0 = ((b.user_id * {PY}) % 1000) / 10.0
 AND epoch_us(b.ts) >= epoch_us(a.ts) - 3600000000
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000"""

    # sessions over whole-second timestamps (the replay truncates on
    # write); gap 7200 s, same gaps-and-islands shape as `sessionize`
    sql["stream_sessionize_replay"] = f"""
WITH e AS (
  SELECT user_id, {EV_T} AS t FROM events
), s AS (
  SELECT user_id, t,
    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 7200
         THEN 1 ELSE 0 END AS nw
  FROM e
), lab AS (
  SELECT user_id, t,
    sum(nw) OVER (PARTITION BY user_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s
)
SELECT user_id, min(t) AS sess_start, max(t) AS sess_end,
  CAST(count(*) AS BIGINT) AS n
FROM lab GROUP BY user_id, sid"""

    # two unrolled Lloyd iterations; the exact-mean trick (integer
    # micros sums + one division) makes every intermediate double
    # bit-identical between engines, so assignments can't drift
    def _km_assign(cent_cte: str) -> str:
        return f"""
  SELECT vec_id, embedding, bucket FROM (
    SELECT v.vec_id, v.embedding, c.c_id AS bucket,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos('v.embedding', 'c.c_embedding')} DESC, c.c_id) AS rn
    FROM embeddings v, {cent_cte} c
  ) t WHERE rn = 1"""

    def _km_update(assign_cte: str, cent_cte: str) -> str:
        return f"""
  SELECT {cent_cte}.c_id,
    coalesce(l.new_emb, {cent_cte}.c_embedding) AS c_embedding
  FROM {cent_cte} LEFT JOIN (
    SELECT bucket, list(m ORDER BY pos) AS new_emb FROM (
      SELECT bucket, pos,
        CAST(sum(CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000.0
                            + 0.5) AS BIGINT)) AS DOUBLE)
          / (1000000.0::DOUBLE * count(*)) AS m
      FROM {assign_cte}, range(1, 65) r(pos)
      GROUP BY bucket, pos
    ) mm GROUP BY bucket
  ) l ON l.bucket = {cent_cte}.c_id"""

    # --- PQ (ADC) mirror: per-subspace exact-integer Lloyd's, argmin
    # encode, floor(d2*1e6) BIGINT lookup scoring. Every double op
    # copies the Spark/Python term order (left-associated chains), so
    # the adc_q column hash-gates bit-exactly.
    def _pq_d2(vexpr: str, cwexpr: str, off: str) -> str:
        return " + ".join(
            f"(CAST({vexpr}[{off} + {i}] AS DOUBLE) - {cwexpr}[{i}])"
            f" * (CAST({vexpr}[{off} + {i}] AS DOUBLE) - {cwexpr}[{i}])"
            for i in range(1, 9))

    def _pq_assign(cb: str) -> str:
        d2 = _pq_d2("v.embedding", "cb.cw", "cb.sub_id * 8")
        return f"""
  SELECT vec_id, sub_id, c_id AS code FROM (
    SELECT v.vec_id, cb.sub_id, cb.c_id,
      row_number() OVER (PARTITION BY v.vec_id, cb.sub_id
                         ORDER BY {d2}, cb.c_id) AS rn
    FROM embeddings v, {cb} cb) t WHERE rn = 1"""

    def _pq_update(a: str, cb: str) -> str:
        return f"""
  SELECT {cb}.sub_id, {cb}.c_id, coalesce(l.new_cw, {cb}.cw) AS cw
  FROM {cb} LEFT JOIN (
    SELECT sub_id, code, list(m ORDER BY pos) AS new_cw FROM (
      SELECT a.sub_id, a.code, r.pos,
        CAST(sum(CAST(floor(CAST(v.embedding[a.sub_id * 8 + r.pos]
                                 AS DOUBLE)
                            * CAST(1000000.0 AS DOUBLE)
                            + CAST(0.5 AS DOUBLE)) AS BIGINT))
             AS DOUBLE)
          / (CAST(1000000.0 AS DOUBLE) * count(*)) AS m
      FROM {a} a JOIN embeddings v USING (vec_id), range(1, 9) r(pos)
      GROUP BY 1, 2, 3) mm GROUP BY 1, 2) l
  ON l.sub_id = {cb}.sub_id AND l.code = {cb}.c_id"""

    sql["ann_pq_topk"] = f"""
WITH init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, embedding
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT 8) t
), cb0 AS (
  SELECT s.sub_id, c_id,
         list_transform(embedding[s.sub_id * 8 + 1 : s.sub_id * 8 + 8],
                        x -> CAST(x AS DOUBLE)) AS cw
  FROM init, (SELECT unnest(range(0, 8)) AS sub_id) s
), a1 AS ({_pq_assign('cb0')}
), cb1 AS ({_pq_update('a1', 'cb0')}
), a2 AS ({_pq_assign('cb1')}
), cb2 AS ({_pq_update('a2', 'cb1')}
), enc AS ({_pq_assign('cb2')}
), q AS (
  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
  WHERE vec_id < 5
), dq AS (
  SELECT q_id, cb.sub_id, cb.c_id AS code,
    CAST(floor(({_pq_d2('qe', 'cb.cw', 'cb.sub_id * 8')})
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS dqv
  FROM q, cb2 cb
), sc AS (
  SELECT q_id, e.vec_id, CAST(sum(dqv) AS BIGINT) AS adc_q
  FROM enc e JOIN dq ON e.sub_id = dq.sub_id AND e.code = dq.code
  GROUP BY q_id, e.vec_id
)
SELECT q_id, vec_id, adc_q FROM (
  SELECT sc.*, row_number() OVER (
    PARTITION BY q_id ORDER BY adc_q, vec_id) AS rn
  FROM sc) t
WHERE rn <= 10"""

    sql["kmeans_exact"] = f"""
WITH c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id,
         embedding AS c_embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4) i
), a1 AS ({_km_assign('c0')}
), c1 AS ({_km_update('a1', 'c0')}
), a2 AS ({_km_assign('c1')}
), c2 AS ({_km_update('a2', 'c1')}
)
SELECT c_id, pos - 1 AS dim, CAST(c_embedding[pos] AS DOUBLE) AS val
FROM c2, range(1, 65) r(pos)"""

    # BSP equal-cost split mirror: identical rule to bsp.bsp_partitions
    # — split the longer axis at the most cost-balanced whole-cell
    # boundary, ties resolved (imbalance, axis x-first, boundary);
    # leaf iff cost <= 500 or the rect is a single cell.
    sql["partition_bsp"] = f"""
WITH RECURSIVE hist AS (
  SELECT cell % 32 AS hx, cell // 32 AS hy, n FROM (
    SELECT {cell('value', EV_Y)} AS cell, count(*) AS n FROM events GROUP BY 1
  ) t
),
rects AS (
  SELECT 0 AS cx0, 0 AS cy0, 32 AS cx1, 32 AS cy1
  UNION ALL
  SELECT CASE WHEN c.side = 2 AND w.axis = 0 THEN w.sp ELSE r.cx0 END,
         CASE WHEN c.side = 2 AND w.axis = 1 THEN w.sp ELSE r.cy0 END,
         CASE WHEN c.side = 1 AND w.axis = 0 THEN w.sp ELSE r.cx1 END,
         CASE WHEN c.side = 1 AND w.axis = 1 THEN w.sp ELSE r.cy1 END
  FROM rects r
  JOIN LATERAL (
    SELECT axis, sp FROM (
      SELECT 0 AS axis, sp,
        abs(2 * (SELECT coalesce(sum(n), 0) FROM hist
                 WHERE hx >= r.cx0 AND hx < sp AND hy >= r.cy0 AND hy < r.cy1)
              - (SELECT coalesce(sum(n), 0) FROM hist
                 WHERE hx >= r.cx0 AND hx < r.cx1
                   AND hy >= r.cy0 AND hy < r.cy1)) AS d
      FROM range(1, 32) t(sp)
      WHERE sp > r.cx0 AND sp < r.cx1
        AND r.cx1 - r.cx0 >= r.cy1 - r.cy0 AND r.cx1 - r.cx0 > 1
      UNION ALL
      SELECT 1 AS axis, sp,
        abs(2 * (SELECT coalesce(sum(n), 0) FROM hist
                 WHERE hx >= r.cx0 AND hx < r.cx1 AND hy >= r.cy0 AND hy < sp)
              - (SELECT coalesce(sum(n), 0) FROM hist
                 WHERE hx >= r.cx0 AND hx < r.cx1
                   AND hy >= r.cy0 AND hy < r.cy1)) AS d
      FROM range(1, 32) t(sp)
      WHERE sp > r.cy0 AND sp < r.cy1
        AND (r.cy1 - r.cy0 > r.cx1 - r.cx0
             OR NOT (r.cx1 - r.cx0 >= r.cy1 - r.cy0 AND r.cx1 - r.cx0 > 1))
        AND r.cy1 - r.cy0 > 1
    ) cand ORDER BY d, axis, sp LIMIT 1
  ) w ON true
  JOIN (VALUES (1), (2)) c(side) ON true
  WHERE (SELECT coalesce(sum(n), 0) FROM hist
         WHERE hx >= r.cx0 AND hx < r.cx1 AND hy >= r.cy0 AND hy < r.cy1) > 500
    AND NOT (r.cx1 - r.cx0 = 1 AND r.cy1 - r.cy0 = 1)
)
SELECT cx0, cy0, cx1, cy1,
  CAST((SELECT coalesce(sum(n), 0) FROM hist
        WHERE hx >= t.cx0 AND hx < t.cx1 AND hy >= t.cy0 AND hy < t.cy1)
    AS BIGINT) AS cost
FROM rects t
WHERE (SELECT coalesce(sum(n), 0) FROM hist
       WHERE hx >= t.cx0 AND hx < t.cx1 AND hy >= t.cy0 AND hy < t.cy1) <= 500
   OR (t.cx1 - t.cx0 = 1 AND t.cy1 - t.cy0 = 1)"""

    # STR 3x3 mirror: strip/slab boundaries are the values at
    # np.array_split start positions under (x, y) rank order — exactly
    # str_partitioner's lexsort fit at fraction 1.0 — then every point
    # is assigned through the same boundary CASE as partition_expr.
    sql["partition_str"] = f"""
WITH pts AS (
  SELECT {cx} AS x, {cy} AS y FROM customer
), nn AS (SELECT count(*) AS n FROM pts),
ranked AS (
  SELECT x, y, row_number() OVER (ORDER BY x, y) - 1 AS rn FROM pts
),
xstarts AS (
  SELECT i, i * (n // 3) + least(i, n % 3) AS st FROM range(1, 3) t(i), nn
),
xb AS (
  SELECT s.i, r.x AS xbound FROM xstarts s JOIN ranked r ON r.rn = s.st
),
strips AS (
  SELECT r.x, r.y,
    (SELECT count(*) FROM xstarts s WHERE r.rn >= s.st) AS si
  FROM ranked r
),
ystats AS (
  SELECT si, y, row_number() OVER (PARTITION BY si ORDER BY y) - 1 AS yrn,
    count(*) OVER (PARTITION BY si) AS ns
  FROM strips
),
ystarts AS (
  SELECT si, j, j * (ns // 3) + least(j, ns % 3) AS st
  FROM (SELECT DISTINCT si, ns FROM ystats) t, range(1, 3) r(j)
),
yb AS (
  SELECT s.si, s.j, q.y AS ybound
  FROM ystarts s JOIN ystats q ON q.si = s.si AND q.yrn = s.st
),
assign AS (
  SELECT CASE WHEN p.x < (SELECT xbound FROM xb WHERE i = 1) THEN 0
              WHEN p.x < (SELECT xbound FROM xb WHERE i = 2) THEN 1
              ELSE 2 END AS si, p.y
  FROM pts p
)
SELECT CAST(a.si * 3 +
    CASE WHEN a.y < (SELECT ybound FROM yb WHERE si = a.si AND j = 1) THEN 0
         WHEN a.y < (SELECT ybound FROM yb WHERE si = a.si AND j = 2) THEN 1
         ELSE 2 END AS INT) AS part,
  count(*) AS n
FROM assign a GROUP BY 1"""

    # physical-plan twins reuse the mirror of the gate whose rows they
    # must equal. The Bloom prefilter (literal or jvm build) is a pure
    # physical optimization with zero semantic effect.
    sql["contamination_bloom"] = sql["contamination_exact"]
    sql["contamination_bloom_jvm"] = sql["contamination_exact"]
    # the jvm streaming impl (distributed words build + per-micro-batch
    # broadcast probe joins) has the literal impl's semantics
    sql["stream_contamination_jvm"] = sql["stream_contamination"]
    # format roundtrips: the oracle is the parquet original — the
    # Spark side must read back EXACTLY what it wrote
    sql["csv_roundtrip"] = sql["jsonl_roundtrip"]
    sql["orc_roundtrip"] = sql["jsonl_roundtrip"]
    # angular buckets only change the physical grouping of the skyline
    sql["skyline_angular"] = sql["skyline"]
    # partition pruning skips files, never rows of the rectangle
    sql["pruned_read_rect"] = sql["st_filter_rect_timed"]
    # grid, broadcast, pruned-storage and bucketed zipJoin (no
    # exchanges) are physical plans of the same lattice point join
    sql["st_join_broadcast_points"] = sql["st_join_grid_points"]
    sql["pruned_join_points"] = sql["st_join_grid_points"]
    sql["zip_join_bucketed"] = sql["st_join_grid_points"]
    # the pruned two-phase kNN must equal the full scan
    sql["pruned_knn"] = sql["knn_events"]
    # the hierarchical dissolve yields the same band-order-invariant
    # integers as the flat one
    sql["dissolve_zones_hier"] = sql["dissolve_zones"]
    # the batch ADC kernel produces bit-identical BIGINT scores to the
    # literal path
    sql["ann_pq_topk_batch"] = sql["ann_pq_topk"]
    # streaming arrival order cannot move a single CMS counter
    sql["stream_cms_counts"] = sql["cms_user_counts"]
    # the streaming ingest twin and the persisted banded-index probe
    # both collapse to min(hamming) per key pair, like the batch join
    sql["stream_ingest_dedup"] = sql["incremental_ingest_planted"]
    sql["incremental_ingest_indexed"] = sql["incremental_ingest_planted"]
    # the bucketed-store probe must be a results no-op vs in-memory IVF:
    # same parameters, same fold scorer, hence the identical oracle
    sql["ann_ivf_pruned_topk"] = sql["ann_ivf_topk"]
    # the streaming OHLC replay must equal the batch resample exactly
    sql["stream_ohlc"] = sql["ohlc_hourly"]
    # ingest-time scoring against batch-fit thresholds must equal the
    # batch detector on the same rows
    sql["stream_outliers"] = sql["events_outliers"]

    # entries built from other mirrors read the table built above
    sql["ann_recall_eval"] = _ann_recall_eval_sql(sql)
    tru_brute = (f"SELECT q_id, vec_id, rank "
                 f"FROM ({sql['ann_brute_topk']}) t0")
    # LSH retrieves with exclude_self, so truth drops the query's
    # own row and re-ranks
    tru_noself = f"""SELECT q_id, vec_id, row_number() OVER (
      PARTITION BY q_id ORDER BY rank) AS rank
    FROM ({sql['ann_brute_topk']}) t0 WHERE vec_id <> q_id"""
    # rank derived with the PQ operator's tie order; truth = the
    # exact brute mirror verbatim
    sql["ann_recall_pq"] = _rank_eval_sql(
        f"""SELECT q_id, vec_id, row_number() OVER (
      PARTITION BY q_id ORDER BY adc_q, vec_id) AS rank
    FROM ({sql['ann_pq_topk']}) r0""", tru_brute, 5)
    sql["ann_recall_lsh"] = _rank_eval_sql(
        f"SELECT q_id, vec_id, rank FROM ({sql['ann_lsh_topk']}) r0",
        tru_noself, 5)
    sql["ann_recall_lsh_mp"] = _rank_eval_sql(_lsh_mp_topk_sql(),
                                              tru_noself, 5)
    # the fine-percentile gate is the funnel_latency mirror with a
    # wider VALUES list
    sql["funnel_latency_fine"] = sql["funnel_latency"].replace(
        "(VALUES (50), (90), (99))",
        "(VALUES (1), (25), (50), (75), (99))")
    assert sql["funnel_latency_fine"] != sql["funnel_latency"]

    live, pending, retired = queries(), pending_queries(), retired_queries()
    names = [*live, *pending, *retired]
    shared = sorted({n for n in names if names.count(n) > 1})
    if shared:
        raise ValueError(f"names listed under two statuses: {shared}")
    if set(sql) != set(names):
        raise ValueError(
            f"oracle table keys differ from the builder lists: "
            f"no builder for {sorted(set(sql) - set(names))}, "
            f"no mirror for {sorted(set(names) - set(sql))}")
    return sql


def retired_queries():
    """Gates retired from the driver window. They keep their builders
    and mirrors and stay oracle-checked — by
    tests/test_extras.py::test_retired_gates_oracle_parity and
    `python tests/oracle_check.py --retired` — they just no longer
    occupy registry slots. Each plan shape is shadowed by a richer
    live gate:

    - set_ops_union_distinct: merge_upsert and the dedup tier carry
      union + dropDuplicates (SURVEY §2.6 notes set ops are Spark
      built-ins);
    - agg_revenue_by_nation: tpch_q5/q3/q18 carry the fact-shuffle +
      dim-broadcast rollup;
    - events_daily ⊂ events_rollup (same date-trunc groupBy, rollup
      adds GROUPING SETS);
    - token_counts ⊂ text_profile (same tokenizer, profile adds the
      quality columns);
    - dedup_simhash ⊂ simhash_pairs_planted: the planted gate runs the
      SAME banding engine (hamming_near_pairs) end-to-end with a
      stronger (closed-form planted) oracle, and the fingerprint
      bit-vote arithmetic stays pytest-pinned (test_analytics simhash
      tests);
    - contamination_ngrams ⊂ contaminated_spans: the span gate runs the
      identical 13-gram explode + eval-gram join shape and additionally
      proves the exact excision offsets the counting gate only counts.
    """
    return {"set_ops_union_distinct": _q_set_ops,
            "agg_revenue_by_nation": _q_agg_revenue_by_nation,
            "events_daily": _q_events_daily,
            "token_counts": _q_token_counts,
            "dedup_simhash": _q_dedup_simhash,
            "contamination_ngrams": _q_contamination_ngrams}


def oracle_sql() -> dict[str, str]:
    table = _oracle_table()
    return {n: table[n] for n in queries()}


def pending_oracle_sql() -> dict[str, str]:
    table = _oracle_table()
    return {n: table[n] for n in pending_queries()}


def retired_oracle_sql() -> dict[str, str]:
    table = _oracle_table()
    return {n: table[n] for n in retired_queries()}
