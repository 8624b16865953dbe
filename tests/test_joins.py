"""Grid join / broadcast join / within-distance / kNN tests.

Parity model: reference `SpatialJoinRDDTestCase.scala` +
`SpatialKnnJoinRDDTest.scala` — one expected answer, several physical
plans (grid vs broadcast vs different grid resolutions must agree).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from stark_spark import datasets as D
from stark_spark.core import geometry as G
from stark_spark.operators.join import st_join, within_distance_join
from stark_spark.operators.knn import knn, knn_join
from stark_spark.partitioner.grid import GridSpec


@pytest.fixture(scope="module")
def cust(spark, sf_dir):
    return D.st_points(spark, sf_dir, "customer", "c_custkey").cache()


@pytest.fixture(scope="module")
def supp(spark, sf_dir):
    return D.st_points(spark, sf_dir, "supplier", "s_suppkey").cache()


@pytest.fixture(scope="module")
def nation_boxes(spark, sf_dir):
    """25 nations → axis-aligned boxes over the synthetic space."""
    n = D.load(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    df = (n.withColumn("bx", (k * D.PX % 1000) / 10.0)
           .withColumn("by", (k * D.PY % 1000) / 10.0))
    df = (df.withColumn("xmin", F.col("bx") - 8.0)
            .withColumn("ymin", F.col("by") - 8.0)
            .withColumn("xmax", F.col("bx") + 8.0)
            .withColumn("ymax", F.col("by") + 8.0)
            .withColumn("t_start", F.lit(None).cast("long"))
            .withColumn("t_end", F.lit(None).cast("long")))
    # geom as WKB polygon via WKT constructor
    wkt = F.concat(
        F.lit("POLYGON (("),
        F.col("xmin"), F.lit(" "), F.col("ymin"), F.lit(", "),
        F.col("xmax"), F.lit(" "), F.col("ymin"), F.lit(", "),
        F.col("xmax"), F.lit(" "), F.col("ymax"), F.lit(", "),
        F.col("xmin"), F.lit(" "), F.col("ymax"), F.lit(", "),
        F.col("xmin"), F.lit(" "), F.col("ymin"), F.lit("))"))
    from stark_spark.functions import st_geomfromwkt
    return df.withColumn("geom", st_geomfromwkt(wkt)).cache()


def _expected_pip_pairs(cust, nation_boxes):
    c = cust.select("c_custkey", "x", "y").toPandas()
    n = nation_boxes.select("n_nationkey", "xmin", "ymin", "xmax", "ymax").toPandas()
    pairs = set()
    for _, nr in n.iterrows():
        m = c[(c.x >= nr.xmin) & (c.x <= nr.xmax) &
              (c.y >= nr.ymin) & (c.y <= nr.ymax)]
        pairs.update((int(k), int(nr.n_nationkey)) for k in m.c_custkey)
    return pairs


def test_grid_join_point_in_box(cust, nation_boxes):
    want = _expected_pip_pairs(cust, nation_boxes)
    grid = GridSpec.unit_grid()
    got = st_join(cust, nation_boxes, "coveredby", grid=grid,
                  left_points=True, right_points=False)
    rows = got.select("c_custkey", "n_nationkey").collect()
    got_pairs = {(r.c_custkey, r.n_nationkey) for r in rows}
    assert len(rows) == len(got_pairs), "duplicate pairs leaked through dedup"
    assert got_pairs == want


def test_grid_vs_broadcast_vs_resolution(cust, nation_boxes):
    """Same answer across physical plans (the reference's one-answer/
    many-plans matrix)."""
    want = _expected_pip_pairs(cust, nation_boxes)
    for plan in [
        st_join(cust, nation_boxes, "coveredby", grid=GridSpec.unit_grid(n=8),
                left_points=True),
        st_join(cust, nation_boxes, "coveredby", grid=GridSpec.unit_grid(n=64),
                left_points=True),
        st_join(cust, nation_boxes, "coveredby", broadcast=True,
                left_points=True),
    ]:
        got = {(r.c_custkey, r.n_nationkey)
               for r in plan.select("c_custkey", "n_nationkey").collect()}
        assert got == want


def test_within_distance_join(cust, supp):
    d = 5.0
    grid = GridSpec.unit_grid()
    got = within_distance_join(supp, cust, d, grid=grid)
    rows = got.select("s_suppkey", "c_custkey").collect()
    got_pairs = {(r.s_suppkey, r.c_custkey) for r in rows}
    assert len(rows) == len(got_pairs)
    s = supp.select("s_suppkey", "x", "y").toPandas()
    c = cust.select("c_custkey", "x", "y").toPandas()
    want = set()
    for _, sr in s.iterrows():
        m = c[np.hypot(c.x - sr.x, c.y - sr.y) <= d]
        want.update((int(sr.s_suppkey), int(k)) for k in m.c_custkey)
    assert got_pairs == want
    # broadcast plan agrees
    got_b = {(r.s_suppkey, r.c_custkey) for r in
             within_distance_join(supp, cust, d, broadcast=True)
             .select("s_suppkey", "c_custkey").collect()}
    assert got_b == want


def test_knn_basic(cust):
    q = G.point(50, 50)
    got = knn(cust, q, 10, tie_col="c_custkey").select("c_custkey", "dist").collect()
    c = cust.select("c_custkey", "x", "y").toPandas()
    c["d"] = np.hypot(c.x - 50, c.y - 50)
    want = c.sort_values(["d", "c_custkey"]).head(10)
    assert [r.c_custkey for r in got] == list(want.c_custkey)
    assert [r.dist for r in got] == pytest.approx(list(want.d))


def test_knn_join_exact(supp, cust):
    k = 3
    grid = GridSpec.unit_grid()
    got = knn_join(supp, cust, k, grid=grid, radius=4.0,
                   left_key="s_suppkey", tie_col="c_custkey")
    pdf = got.select("s_suppkey", "c_custkey", "dist").toPandas()
    s = supp.select("s_suppkey", "x", "y").toPandas()
    c = cust.select("c_custkey", "x", "y").toPandas()
    for _, sr in s.iterrows():
        d = np.hypot(c.x - sr.x, c.y - sr.y)
        order = sorted(zip(d, c.c_custkey))[:k]
        want_keys = [int(key) for _, key in order]
        sub = pdf[pdf.s_suppkey == sr.s_suppkey].sort_values(["dist", "c_custkey"])
        assert list(sub.c_custkey) == want_keys, f"suppkey {sr.s_suppkey}"
    # deliberately-bad radius (forces the fallback for most rows):
    # results must still be the exact kNN, and the broadcast NLJ plan
    # may not contain an unbounded CartesianProduct (the round-3
    # hardening item)
    def check_exact(got_df):
        pdf2 = got_df.select("s_suppkey", "c_custkey", "dist").toPandas()
        assert len(pdf2) == len(s) * k
        for _, sr in s.iterrows():
            d = np.hypot(c.x - sr.x, c.y - sr.y)
            want_keys = [int(key)
                         for _, key in sorted(zip(d, c.c_custkey))[:k]]
            sub = pdf2[pdf2.s_suppkey == sr.s_suppkey] \
                .sort_values(["dist", "c_custkey"])
            assert list(sub.c_custkey) == want_keys, f"key {sr.s_suppkey}"
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan

    check_exact(knn_join(supp, cust, k, grid=grid, radius=0.5,
                         left_key="s_suppkey", tie_col="c_custkey"))


def test_big_geometry_hybrid_path(spark, sf_dir):
    """Skew guard: a continent-sized polygon must not fan out across
    every cell — it rides the broadcast path; results identical."""
    from stark_spark import datasets as D
    from stark_spark.functions.constructors import st_frame
    from stark_spark.operators.join import st_join
    from stark_spark.partitioner.grid import GridSpec

    rows = [(1, "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"),   # giant
            (2, "POLYGON ((10 10, 14 10, 14 14, 10 14, 10 10))"),  # small
            (3, "POLYGON ((60 60, 61 60, 61 61, 60 61, 60 60))")]
    polys = st_frame(spark.createDataFrame(rows, "pid int, wkt string"),
                     wkt="wkt")
    cust = D.st_points(spark, sf_dir, "customer", "c_custkey")
    grid = GridSpec.unit_grid(100.0, 32)

    hybrid = st_join(polys, cust, "contains", grid=grid, right_points=True,
                     big_cell_threshold=16)
    plain = st_join(polys, cust, "contains", grid=grid, right_points=True,
                    big_cell_threshold=0)
    got = {(r.pid, r.c_custkey) for r in
           hybrid.select("pid", "c_custkey").collect()}
    want = {(r.pid, r.c_custkey) for r in
            plain.select("pid", "c_custkey").collect()}
    assert got == want
    assert len(got) > 0 and any(p == 1 for p, _ in got)


def test_interval_join_pair_dedup(spark):
    """Interval⋈interval overlap with bin dedup: each overlapping pair
    appears exactly once regardless of how many bins it spans."""
    from stark_spark.operators.temporal_join import interval_join
    a = spark.createDataFrame(
        [(1, 0, 100), (2, 50, 60), (3, 200, 300)],
        "id int, t_start long, t_end long")
    b = spark.createDataFrame(
        [(10, 90, 250), (20, 55, 58), (30, 1000, 1100)],
        "idb int, t_start long, t_end long")
    out = interval_join(a, b, bin_width=10, how_right="interval")
    got = sorted((r.id, r.idb) for r in out.select("id", "idb").collect())
    assert got == [(1, 10), (1, 20), (2, 20), (3, 10)]


def test_as_of_join_semantics(spark):
    from stark_spark.operators.temporal_join import as_of_join
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 50), (3, "u", 9), (4, "v", 100)],
        "lid int, k string, t long")
    right = spark.createDataFrame(
        [("u", 10, "a"), ("u", 50, "b"), ("u", 99, "c"), ("w", 1, "z")],
        "k string, t long, val string")
    out = as_of_join(left, right, on="k", right_cols=("val",))
    got = {r.lid: r.val_r for r in out.collect()}
    # lid=1: latest <=100 is (99,'c'); lid=2: exact tie t=50 -> 'b';
    # lid=3: nothing <=9... wait (10 > 9) -> no match, dropped;
    # lid=4: key 'v' has no right rows -> dropped
    assert got == {1: "c", 2: "b"}


def test_knn_join_zero_candidate_rows_not_dropped(spark, sf_dir):
    """Round-1 advisor bug: left rows with ZERO candidates within the
    radius were silently dropped by the fallback (it only re-joined
    keys that appeared in the windowed top-k). A sparse off-lattice
    right side (orders carries TABLE_SALT) makes most suppliers have no
    in-radius candidate; every supplier must still get exactly k rows,
    and they must equal the exact numpy answer."""
    k = 2
    supp = D.st_points(spark, sf_dir, "supplier", "s_suppkey",
                       keep_geom=False)
    orders = D.st_points(spark, sf_dir, "orders", "o_orderkey",
                         keep_geom=False)
    sparse = (orders.where(F.col("o_orderkey") % 97 == 0)
                    .select("o_orderkey", "xmin", "ymin", "xmax", "ymax")
                    .cache())
    got = knn_join(supp, sparse, k, grid=GridSpec.unit_grid(),
                   radius=1.0, left_key="s_suppkey",
                   tie_col="o_orderkey")
    pdf = got.select("s_suppkey", "o_orderkey", "dist").toPandas()
    s = supp.select("s_suppkey", "x", "y").toPandas()
    o = sparse.withColumn("x", F.col("xmin")) \
              .withColumn("y", F.col("ymin")) \
              .select("o_orderkey", "x", "y").toPandas()
    # sanity: with radius=1.0 at least one supplier has zero in-radius
    # candidates (otherwise this test degenerates like round 1's data)
    n_zero = sum(
        1 for _, sr in s.iterrows()
        if (np.hypot(o.x - sr.x, o.y - sr.y) <= 1.0).sum() == 0)
    assert n_zero > 0
    assert len(pdf) == len(s) * k
    for _, sr in s.iterrows():
        d = np.hypot(o.x - sr.x, o.y - sr.y)
        want = [int(key) for _, key in sorted(zip(d, o.o_orderkey))[:k]]
        sub = pdf[pdf.s_suppkey == sr.s_suppkey] \
            .sort_values(["dist", "o_orderkey"])
        assert list(sub.o_orderkey) == want, f"suppkey {sr.s_suppkey}"


def test_interval_join_open_vs_bruteforce(spark):
    """Open intervals (NULL t_end = +inf) on BOTH sides against a
    brute-force python recomputation, several bin widths (answers must
    be bin-independent)."""
    import itertools
    from stark_spark.operators.temporal_join import interval_join
    rows_a = [(i, 10 * i, None if i % 3 == 0 else 10 * i + 25)
              for i in range(12)]
    rows_b = [(100 + i, 7 * i, None if i % 4 == 0 else 7 * i + 11)
              for i in range(15)]
    a = spark.createDataFrame(rows_a, "id int, t_start long, t_end long")
    b = spark.createDataFrame(rows_b, "idb int, t_start long, t_end long")

    INF = float("inf")
    want = set()
    for (i, s1, e1), (j, s2, e2) in itertools.product(rows_a, rows_b):
        e1v = INF if e1 is None else e1
        e2v = INF if e2 is None else e2
        if s1 <= e2v and s2 <= e1v:
            want.add((i, j))
    for bw in (3, 10, 100):
        out = interval_join(a, b, bin_width=bw, how_right="interval")
        got = {(r.id, r.idb) for r in out.select("id", "idb").collect()}
        assert got == want, f"bin_width={bw}"
    # point right side with open left intervals
    bp = spark.createDataFrame([(200 + i, 13 * i) for i in range(10)],
                               "idb int, t_start long")
    want_p = {(i, 200 + j)
              for (i, s1, e1) in rows_a for j in range(10)
              if s1 <= 13 * j <= (INF if e1 is None else e1)}
    out = interval_join(a, bp, bin_width=10, how_right="point")
    got = {(r.id, r.idb) for r in out.select("id", "idb").collect()}
    assert got == want_p


def test_interval_join_closed_fast_path(spark):
    """open_ends=False (caller declares no NULL t_end) must match the
    default path on closed data AND plan without the cap machinery
    (no extra scan of the opposite side, no broadcast)."""
    from stark_spark.operators.temporal_join import interval_join
    rows_a = [(i, 10 * i, 10 * i + 25) for i in range(12)]
    a = spark.createDataFrame(rows_a, "id int, t_start long, t_end long")
    bp = spark.createDataFrame([(200 + i, 13 * i) for i in range(10)],
                               "idb int, t_start long")
    slow = interval_join(a, bp, bin_width=10, how_right="point")
    fast = interval_join(a, bp, bin_width=10, how_right="point",
                         open_ends=False)
    got_s = {(r.id, r.idb) for r in slow.select("id", "idb").collect()}
    got_f = {(r.id, r.idb) for r in fast.select("id", "idb").collect()}
    assert got_f == got_s and len(got_f) > 0
    plan_f = fast._jdf.queryExecution().executedPlan().toString()
    plan_s = slow._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in plan_s       # cap join is there…
    assert "BroadcastNestedLoop" not in plan_f   # …and gone when closed


def test_rect_rect_join_native_plan(spark, sf_dir, nation_boxes):
    """Declared rect × rect joins must plan with zero python UDFs."""
    # build natively from scratch: an already-planned geom UDF column
    # is NOT pruned by Catalyst even when unused (round-2 finding)
    n = D.load(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    boxes = (n.select("n_nationkey",
                      ((k * D.PX % 1000) / 10.0).alias("bx"),
                      ((k * D.PY % 1000) / 10.0).alias("by"))
              .select("n_nationkey",
                      (F.col("bx") - 8.0).alias("xmin"),
                      (F.col("by") - 8.0).alias("ymin"),
                      (F.col("bx") + 8.0).alias("xmax"),
                      (F.col("by") + 8.0).alias("ymax")))
    small = boxes.withColumnRenamed("n_nationkey", "k2")
    out = st_join(boxes, small, "intersects", grid=GridSpec.unit_grid(),
                  left_rect=True, right_rect=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # and the result matches the kernel-refined join
    from stark_spark.functions.constructors import st_box
    g = boxes.withColumn("geom", st_box(F.col("xmin"), F.col("ymin"),
                                        F.col("xmax"), F.col("ymax")))
    g2 = small.withColumn("geom", st_box(F.col("xmin"), F.col("ymin"),
                                         F.col("xmax"), F.col("ymax")))
    want = st_join(g, g2, "intersects", grid=GridSpec.unit_grid())
    got_pairs = {(r.n_nationkey, r.k2)
                 for r in out.select("n_nationkey", "k2").collect()}
    want_pairs = {(r.n_nationkey, r.k2)
                  for r in want.select("n_nationkey", "k2").collect()}
    assert got_pairs == want_pairs and len(got_pairs) >= 25


def test_within_distance_join_nonpoint(spark):
    """Non-point within-distance join (round-1 NotImplementedError):
    expanded-bbox grid candidates + vectorized pair-distance refine
    must match the scalar kernel brute force, grid and broadcast."""
    from stark_spark.core import geometry as G
    from stark_spark.functions.constructors import st_frame
    la = [(i, f"POLYGON (({10*i} 0, {10*i+4} 0, {10*i+4} 4, {10*i} 4, {10*i} 0))")
          for i in range(8)]
    rb = [(100 + i, f"LINESTRING ({5*i} 6, {5*i+3} 9)") for i in range(16)]
    a = st_frame(spark.createDataFrame(la, "ida int, wkt string"), wkt="wkt")
    b = st_frame(spark.createDataFrame(rb, "idb int, wkt string"), wkt="wkt")

    want = set()
    for i, wa in la:
        for j, wb in rb:
            if G.distance(G.from_wkt(wa), G.from_wkt(wb)) <= 3.5:
                want.add((i, j))
    assert len(want) > 0

    got_g = within_distance_join(a, b, 3.5, grid=GridSpec.unit_grid(),
                                 points=False)
    got_b = within_distance_join(a, b, 3.5, points=False, broadcast=True)
    assert {(r.ida, r.idb) for r in got_g.select("ida", "idb").collect()} == want
    assert {(r.ida, r.idb) for r in got_b.select("ida", "idb").collect()} == want


def test_semi_anti_join_partition_left(spark, sf_dir):
    """st_semi_join + anti must partition the left frame, and the semi
    key set must equal the inner join's distinct matched keys — for
    both the grid and broadcast physical plans."""
    from stark_spark.operators.join import st_semi_join
    ev = D.st_events(spark, sf_dir, keep_geom=False)
    n = D.load(spark, sf_dir, "nation")
    PX, PY = 7919, 104729
    k = F.col("n_nationkey").cast("long")
    boxes = (n.select("n_nationkey",
                      ((k * PX % 1000) / 10.0).alias("_bx"),
                      ((k * PY % 1000) / 10.0).alias("_by"))
              .select("n_nationkey",
                      (F.col("_bx") - 8.0).alias("xmin"),
                      (F.col("_by") - 8.0).alias("ymin"),
                      (F.col("_bx") + 8.0).alias("xmax"),
                      (F.col("_by") + 8.0).alias("ymax")))
    grid = GridSpec(0.0, 0.0, 100.0, 100.0, 10)
    kw = dict(left_key="event_id", grid=grid, left_rect=True,
              right_rect=True)
    semi = {r.event_id for r in
            st_semi_join(ev, boxes, "intersects", **kw).collect()}
    anti = {r.event_id for r in
            st_semi_join(ev, boxes, "intersects", anti=True, **kw).collect()}
    allk = {r.event_id for r in ev.select("event_id").collect()}
    assert semi | anti == allk and not (semi & anti)

    inner = {r.event_id for r in
             st_join(ev, boxes, "intersects", grid=grid, left_rect=True,
                     right_rect=True).select("event_id").collect()}
    assert semi == inner and len(semi) > 0 and len(anti) > 0

    bsemi = {r.event_id for r in
             st_semi_join(ev, boxes, "intersects", left_key="event_id",
                          broadcast=True, left_rect=True,
                          right_rect=True).collect()}
    assert bsemi == semi


def test_sessionize_matches_pandas(spark, sf_dir):
    from stark_spark.operators.temporal_join import sessionize
    ev = (D.load(spark, sf_dir, "events")
            .withColumn("t", F.col("ts").cast("long")))
    got = {r.event_id: r.session_id for r in
           sessionize(ev, "user_id", "t", 6 * 3600).collect()}
    pdf = ev.select("event_id", "user_id", "t").toPandas()
    want = {}
    for _, grp in pdf.groupby("user_id"):
        g = grp.sort_values(["t", "event_id"])
        sid, prev = 0, None
        for eid, t in zip(g.event_id, g.t):
            if prev is not None and t - prev > 6 * 3600:
                sid += 1
            want[eid] = sid
            prev = t
    assert got == want


def test_trajectory_stats_hand_check(spark):
    """Path lengths, spans and counts match a hand computation,
    including a ts collision broken by the tie column."""
    from stark_spark.operators.trajectory import trajectory_stats
    rows = [
        (1, 10, 100, 0.0, 0.0), (2, 10, 200, 3.0, 4.0),   # ts tie
        (3, 10, 300, 3.0, 8.0),
        (4, 20, 100, 1.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, t long, x double, y double")
    got = {r.user_id: (r.n_points, r.t_start, r.t_end, r.path_q)
           for r in trajectory_stats(df, "user_id", ts_col="t",
                                     tie_col="event_id").collect()}
    # user 10: hops 5.0 (tie order by event_id) then 4.0 → 9.0
    assert got[10] == (3, 100, 300, 9_000_000)
    assert got[20] == (1, 100, 100, 0)


def test_od_matrix_first_last(spark):
    """Origin/dest are the first/last cells by (ts, tie) per bucket;
    counts aggregate entities."""
    from pyspark.sql import functions as F
    from stark_spark.operators.trajectory import od_matrix
    rows = [
        (1, 1, 0, 5.0, 5.0), (2, 1, 50, 30.0, 5.0),
        (3, 2, 10, 5.0, 5.0), (4, 2, 60, 30.0, 5.0),
        (5, 3, 90000, 90.0, 90.0),                 # next day bucket
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, t long, x double, y double")
    cell = (F.floor(F.col("x") / F.lit(12.5))
            + F.lit(8) * F.floor(F.col("y") / F.lit(12.5))).cast("long")
    day = F.floor(F.col("t") / F.lit(86400)).cast("long")
    got = {(r.origin, r.dest, r.bucket): r.n
           for r in od_matrix(df, cell, "user_id", ts_col="t",
                              tie_col="event_id",
                              bucket=day).collect()}
    assert got[(0, 2, 0)] == 2          # users 1 and 2: cell 0 → 2
    assert got[(63, 63, 1)] == 1        # user 3, single point


def test_stay_points_hand_check(spark):
    """Chain-rule dwells: runs split where a hop exceeds the radius;
    short dwells are dropped; centroids are micro-quantized means."""
    from stark_spark.operators.trajectory import stay_points
    rows = [
        # user 1: dwell at ~ (0,0) for 2h, jump, dwell 10min (dropped)
        (1, 1, 0,     0.0, 0.0), (2, 1, 3600,  1.0, 0.0),
        (3, 1, 7200,  2.0, 0.0),
        (4, 1, 7800, 50.0, 0.0),                      # hop 48 -> break
        (5, 1, 8000, 51.0, 0.0),
        # user 2: single point
        (6, 2, 0, 9.0, 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, t long, x double, y double")
    got = {(r.user_id, r.stay_start): r
           for r in stay_points(df, "user_id", ts_col="t",
                                tie_col="event_id", radius=5.0,
                                min_dwell=3600).collect()}
    assert set(got) == {(1, 0)}
    r = got[(1, 0)]
    assert (r.stay_end, r.n_points) == (7200, 3)
    assert r.cx_q == 1_000_000 and r.cy_q == 0   # mean x = 1.0


def test_colocation_pairs_hand_check(spark):
    """Co-location semantics: pairs need same cell AND |dt| within
    the window (bin-boundary-crossing meetings must still match via
    the adjacent-bin probe); each qualifying event pair counts
    exactly once; same-entity events never pair; min_meetings
    filters."""
    from stark_spark.operators.trajectory import colocation_pairs
    rows = [
        # users 1,2 meet twice in cell (0) — second meeting crosses
        # a 100s-bin boundary (t=195 vs t=205)
        (1, 10, 0.0, 0.0), (2, 20, 0.0, 0.0),        # dt=10 ok
        (1, 195, 0.0, 0.0), (2, 205, 0.0, 0.0),      # dt=10, bins 1|2
        # user 3 same cell but far in time
        (3, 5000, 0.0, 0.0),
        # users 1,3 same time, different cell
        (3, 10, 50.0, 50.0),
    ]
    df = spark.createDataFrame(
        [(i, u, t, x, y) for i, (u, t, x, y) in enumerate(rows)],
        "event_id long, user_id long, t long, x double, y double")
    cell = (F.floor(F.col("x") / F.lit(10.0))
            + F.lit(8) * F.floor(F.col("y") / F.lit(10.0))).cast("long")
    got = {(r.a, r.b): (r.n_meetings, r.t_first, r.t_last)
           for r in colocation_pairs(df, cell, "user_id", ts_col="t",
                                     time_window=100,
                                     min_meetings=1).collect()}
    assert got == {(1, 2): (2, 10, 205)}
    # min_meetings=3 filters the pair out
    assert colocation_pairs(df, cell, "user_id", ts_col="t",
                            time_window=100,
                            min_meetings=3).count() == 0
