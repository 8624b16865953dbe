"""Hand-computed fixtures for the behavioral-analytics tier (funnel,
cohort retention, transitions, OHLC bars), the graph triangle census,
referential-integrity audit, and fuzzy matching."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return datetime.fromisoformat(s)


def test_funnel_min_ts_chain(spark):
    """Greedy fold == chained-min semantics: strict-after ordering,
    out-of-order prefixes recovered, same-timestamp steps NOT chained,
    non-funnel types ignored."""
    from stark_spark.operators.funnel import funnel
    rows = [
        # u1: clean chain -> reached 3
        (1, _ts("2024-01-01T00:00:01"), "view"),
        (1, _ts("2024-01-01T00:00:02"), "click"),
        (1, _ts("2024-01-01T00:00:03"), "purchase"),
        # u2: purchase without click -> reached 1
        (2, _ts("2024-01-01T00:00:05"), "view"),
        (2, _ts("2024-01-01T00:00:06"), "purchase"),
        # u3: early click before first view doesn't count; the later
        # full chain does -> reached 3
        (3, _ts("2024-01-01T00:00:01"), "click"),
        (3, _ts("2024-01-01T00:00:02"), "view"),
        (3, _ts("2024-01-01T00:00:03"), "click"),
        (3, _ts("2024-01-01T00:00:04"), "purchase"),
        # u4: purchase first, view later -> reached 1
        (4, _ts("2024-01-01T00:00:01"), "purchase"),
        (4, _ts("2024-01-01T00:00:09"), "view"),
        # u5: click at the SAME instant as view fails strict >, the
        # later click passes -> reached 2
        (5, _ts("2024-01-01T00:00:04"), "view"),
        (5, _ts("2024-01-01T00:00:04"), "click"),
        (5, _ts("2024-01-01T00:00:05"), "click"),
        # u6: only noise -> contributes to no step
        (6, _ts("2024-01-01T00:00:01"), "error"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = {r.step: r for r in
           funnel(df, ["view", "click", "purchase"]).collect()}
    assert [out[k].step_name for k in (1, 2, 3)] == \
        ["view", "click", "purchase"]
    assert (out[1].users, out[2].users, out[3].users) == (5, 3, 2)
    assert (out[1].conv_ppm, out[2].conv_ppm, out[3].conv_ppm) == \
        (1_000_000, 600_000, 400_000)
    with pytest.raises(ValueError):
        funnel(df, [])


def test_cohort_retention_daily(spark):
    from stark_spark.operators.funnel import cohort_retention
    rows = [
        (1, _ts("1970-01-01T05:00:00")),   # cohort day 0
        (1, _ts("1970-01-03T01:00:00")),   # offset 2
        (2, _ts("1970-01-02T00:00:00")),   # cohort day 1
        (2, _ts("1970-01-02T23:59:59")),   # same day -> offset 0 once
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort_period, r.period_offset): r.active_users
           for r in cohort_retention(df, period_days=1).collect()}
    assert got == {(0, 0): 1, (0, 2): 1, (1, 0): 1}


def test_event_transitions_ppm(spark):
    from stark_spark.operators.funnel import event_transitions
    rows = [
        (1, 1, _ts("2024-01-01T00:00:01"), "a"),
        (2, 1, _ts("2024-01-01T00:00:02"), "b"),
        (3, 1, _ts("2024-01-01T00:00:03"), "b"),
        (4, 2, _ts("2024-01-01T00:00:01"), "a"),
        (5, 2, _ts("2024-01-01T00:00:02"), "c"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    got = {(r.from_type, r.to_type): (r.n, r.p_ppm)
           for r in event_transitions(df).collect()}
    assert got == {("a", "b"): (1, 500_000), ("a", "c"): (1, 500_000),
                   ("b", "b"): (1, 1_000_000)}


def test_ohlc_bars_hand(spark):
    from stark_spark.operators.timeseries import ohlc_bars
    rows = [  # one series, one hour bucket (hour 473391 of the epoch)
        (1, "s", _ts("2024-01-01T00:10:00"), 5.00),
        (2, "s", _ts("2024-01-01T00:20:00"), 9.50),
        (3, "s", _ts("2024-01-01T00:30:00"), 1.25),
        (4, "s", _ts("2024-01-01T00:40:00"), 7.00),
        # second bucket, single row: open == close
        (5, "s", _ts("2024-01-01T01:40:00"), 2.00),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
              "value double")
    out = {r.bucket: r for r in ohlc_bars(df, bucket_hours=1).collect()}
    b0 = out[473_352]                        # 2024-01-01T00 epoch-hour
    assert (b0.open_c, b0.high_c, b0.low_c, b0.close_c) == \
        (500, 950, 125, 700)
    assert (b0.n, b0.vol_c) == (4, 500 + 950 + 125 + 700)
    b1 = out[473_353]
    assert (b1.open_c, b1.close_c, b1.n) == (200, 200, 1)


def test_ohlc_same_timestamp_tiebreak(spark):
    """Equal timestamps: the tie column decides open/close
    deterministically."""
    from stark_spark.operators.timeseries import ohlc_bars
    t = _ts("2024-01-01T00:10:00")
    df = spark.createDataFrame(
        [(2, "s", t, 8.0), (1, "s", t, 3.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = ohlc_bars(df).collect()[0]
    assert (r.open_c, r.close_c) == (300, 800)


def test_triangle_count_hand(spark):
    """Path-plus-triangle graph fed as dirty directed multi-edges:
    canonicalization dedups, the census matches hand math."""
    from stark_spark.operators.graph import triangle_count
    edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4), (4, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 4, 1)
    # degs 2,2,3,1 -> wedges 1+1+3+0 = 5; 3*1e6*1//5
    assert r.n_wedges == 5 and r.clustering_ppm == 600_000


def test_triangle_count_k4(spark):
    from stark_spark.operators.graph import triangle_count
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert (r.n_edges, r.n_triangles) == (6, 4)
    # K4: every wedge closes -> clustering exactly 1.0
    assert r.clustering_ppm == 1_000_000


def test_fk_check_orphans_and_coverage(spark):
    from stark_spark.operators.profile import fk_check
    child = spark.createDataFrame(
        [(1,), (2,), (2,), (5,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = fk_check(child, "fk", parent, "pk", relationship="t").collect()[0]
    assert r.relationship == "t"
    assert (r.child_rows, r.orphan_rows, r.orphan_keys) == (5, 2, 1)
    assert (r.parents_total, r.parents_referenced) == (3, 2)


def test_fuzzy_self_pairs_blocked(spark):
    from stark_spark.operators.fuzzy import fuzzy_self_pairs
    vals = (["small ring"] * 2 + ["smell ring", "big bolt", "bog bolt"]
            + ["ring fort"])   # 'fort' block: alone, no pair
    df = spark.createDataFrame([(v,) for v in vals], "p_name string")
    out = fuzzy_self_pairs(
        df, "p_name",
        block_fn=lambda c: F.regexp_extract(c, "([^ ]+)$", 1),
        max_dist=2)
    got = {(r.name_a, r.name_b): (r.dist, r.n_a, r.n_b)
           for r in out.collect()}
    assert got == {("small ring", "smell ring"): (1, 2, 1),
                   ("big bolt", "bog bolt"): (1, 1, 1)}


def test_cusum_closed_form_equals_recursion(spark):
    """The window closed form s_i = P_i − min(0, min P_j) must equal
    the textbook recursion s_i = max(0, s_{i-1} + (x_i − k)) on a
    value series with resets and bursts."""
    from stark_spark.operators.anomaly import cusum_alerts
    vals = [50.0, 80.0, 90.0, 10.0, 10.0, 95.0, 99.0, 99.0, 20.0,
            99.0, 99.0, 99.0, 1.0]
    k_c, h_c = 6000, 3000
    rows = [(i, "a", _ts(f"2024-01-01T00:00:{i:02d}"), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
              "value double")
    got = {r.event_id: r.s_c for r in
           cusum_alerts(df, "event_type", "ts", "value", "event_id",
                        k_c=k_c, h_c=h_c).collect()}
    # brute-force recursion
    s, expect = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + int(round(v * 100)) - k_c)
        if s > h_c:
            expect[i] = s
    assert got == expect and len(expect) >= 3


def test_rolling_window_sum_ties_and_span(spark):
    from stark_spark.operators.timeseries import rolling_window_sum
    rows = [
        (1, 7, _ts("2024-01-01T00:00:00"), 1.00),
        (2, 7, _ts("2024-01-01T12:00:00"), 2.00),
        # two rows at the SAME instant: each sees the other (RANGE peers)
        (3, 7, _ts("2024-01-02T00:00:00"), 4.00),
        (4, 7, _ts("2024-01-02T00:00:00"), 8.00),
        # 24h + 1us after row 1: row 1 out of range, rows 2-4 in
        (5, 7, _ts("2024-01-02T00:00:00.000001"), 16.00),
        (6, 8, _ts("2024-01-01T12:00:00"), 32.00),  # other key
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r.event_id: (r.roll_n, r.roll_sum_c)
           for r in rolling_window_sum(df, hours=24).collect()}
    assert got[1] == (1, 100)
    assert got[2] == (2, 300)
    assert got[3] == (4, 1500) and got[4] == (4, 1500)  # peers symmetric
    assert got[5] == (4, 3000)                          # row 1 aged out
    assert got[6] == (1, 3200)                          # key isolation


def test_funnel_latency_percentiles(spark):
    """Hand case: 4 converters with latencies 1s,2s,3s,4s ->
    p50 = rank ceil(4*.5)=2 (2s), p90 = rank ceil(3.6)=4 (4s)."""
    from stark_spark.operators.funnel import funnel_latency
    rows = []
    for u, lat in [(1, 1), (2, 2), (3, 3), (4, 4)]:
        rows.append((u, _ts("2024-01-01T00:00:00"), "view"))
        rows.append((u, _ts(f"2024-01-01T00:00:{lat:02d}"), "purchase"))
    rows.append((9, _ts("2024-01-01T00:00:00"), "view"))  # non-converter
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    res = funnel_latency(df, ["view", "purchase"], percentiles=(50, 90))
    # plan lock (r11): the percentile pick must be two-phase — no
    # global rank window over the converted-users frame. Any window
    # that orders by latency must be partitioned (by pct, spanning
    # one selected bucket); the only empty-partition windows allowed
    # are over the bounded HDR-bucket CDF frame (order by _bkt).
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan
    for line in plan.splitlines():
        # the value column is latency_us pre-r11-refactor, v inside
        # histogram.exact_quantiles — either way, a window ordering
        # by the VALUE must carry the pct partitioning
        if "windowspecdefinition" in line and (
                "latency_us" in line or "v#" in line):
            assert ", [pct#" in line, line
    out = {r.pct: r for r in res.collect()}
    assert out[50].latency_us == 2_000_000
    assert out[90].latency_us == 4_000_000
    assert out[50].n_converted == 4


def test_time_weighted_avg_hand(spark):
    """v=10 held 3s then v=40 held 1s -> TWA = (1000*3e6 + 4000*1e6)
    div 4e6 = 1750 cents; the final observation has no holding
    interval; single-row key reports NULL."""
    from stark_spark.operators.timeseries import time_weighted_avg
    rows = [
        (1, "a", _ts("2024-01-01T00:00:00"), 10.0),
        (2, "a", _ts("2024-01-01T00:00:03"), 40.0),
        (3, "a", _ts("2024-01-01T00:00:04"), 999.0),  # no hold period
        (4, "b", _ts("2024-01-01T00:00:00"), 5.0),    # span 0
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
              "value double")
    got = {r.event_type: r for r in time_weighted_avg(df).collect()}
    assert got["a"].twa_c == 1750 and got["a"].span_us == 4_000_000
    assert got["a"].n == 3
    assert got["b"].twa_c is None and got["b"].span_us == 0


def test_attribution_last_touch_hand(spark):
    from stark_spark.operators.funnel import attribution_last_touch
    rows = [
        # u1: view -> click -> purchase(20) => click credited
        (1, 1, _ts("2024-01-01T00:00:01"), "view", 0.0),
        (2, 1, _ts("2024-01-01T00:00:02"), "click", 0.0),
        (3, 1, _ts("2024-01-01T00:00:03"), "purchase", 20.0),
        # u1 second purchase right after: still click (purchases are
        # never touches)
        (4, 1, _ts("2024-01-01T00:00:04"), "purchase", 5.0),
        # u2: cold purchase => direct
        (5, 2, _ts("2024-01-01T00:00:01"), "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    got = {r.channel: (r.n_conversions, r.revenue_c)
           for r in attribution_last_touch(df).collect()}
    assert got == {"click": (2, 2500), "direct": (1, 700)}


def test_key_skew_report_hand(spark):
    """Uniform key vs hot key: shares and entropy mass by hand
    (counts 1 have ln=0; floor(ln(3)*1e6) = 1098612)."""
    from stark_spark.operators.skew import key_skew_report
    rows = [("a", "x"), ("b", "x"), ("c", "x"), ("c", "y"), ("c", "z")]
    df = spark.createDataFrame(rows, "k string, v string")
    got = {r.column_name: r for r in
           key_skew_report(df, ["k", "v"]).collect()}
    k = got["k"]           # counts: a=1 b=1 c=3
    assert (k.n, k.n_keys, k.max_key_n) == (5, 3, 3)
    assert k.top_share_ppm == 600_000
    assert k.c_lnc_q == 3 * 1_098_612
    v = got["v"]           # counts: x=3 y=1 z=1
    assert (v.n_keys, v.max_key_n, v.c_lnc_q) == (3, 3, 3 * 1_098_612)


def test_fuzzy_canonicalize_transitive(spark):
    """A~B and B~C merge even though lev(A,C)=2 > ... all within 2
    here, but the chain a..d proves closure: canonical = max support,
    ties to the smaller name."""
    from stark_spark.operators.fuzzy import fuzzy_self_pairs  # noqa: F401
    from stark_spark.operators.fuzzy import fuzzy_canonicalize
    vals = (["aaaa x"] * 2 + ["aaab x"] * 5 + ["aabb x"]  # chain via aaab
            + ["zzzz x"])                                 # isolated
    df = spark.createDataFrame([(v,) for v in vals], "nm string")
    out = {r.name: r for r in fuzzy_canonicalize(
        df, "nm",
        block_fn=lambda c: F.regexp_extract(c, "([^ ]+)$", 1),
        max_dist=2).collect()}
    # lev(aaaa,aabb)=2 within threshold too; all three one component
    assert out["aaaa x"].canonical == "aaab x"
    assert out["aabb x"].canonical == "aaab x"
    assert out["aaab x"].is_canonical
    assert out["zzzz x"].canonical == "zzzz x"      # isolated self
    assert out["zzzz x"].is_canonical


def test_merge_upsert_semantics(spark):
    from stark_spark.operators.merge import merge_upsert
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")],
        "k long, ver long, v string")
    upd = spark.createDataFrame(
        [(2, 20, "b2"),    # newer version wins
         (3, 10, "c2"),    # SAME version: update side wins the tie
         (4, 5, "d")],     # insert
        "k long, ver long, v string")
    got = {r.k: (r.ver, r.v) for r in
           merge_upsert(base, upd, ["k"], version_col="ver").collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (10, "c2"),
                   4: (5, "d")}


def test_date_partitioned_pruning(spark, tmp_path):
    """Directory-level pruning proof: a 2-day predicate over a 10-day
    layout must open only those days' files (input_file_name is the
    ground truth for what was actually read) and carry
    PartitionFilters in the plan."""
    from datetime import datetime, timedelta

    from stark_spark.sources.formats import (read_date_partitioned,
                                             write_date_partitioned)
    t0 = datetime(2024, 3, 1)
    rows = [(i, t0 + timedelta(hours=6 * i)) for i in range(40)]  # 10 days
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    path = str(tmp_path / "datepart")
    write_date_partitioned(df, path)
    out = read_date_partitioned(spark, path, start="2024-03-04",
                                end="2024-03-05")
    got = out.select("event_id",
                     F.input_file_name().alias("f")).collect()
    assert {r.event_id for r in got} == \
        {i for i in range(40)
         if datetime(2024, 3, 4) <= t0 + timedelta(hours=6 * i)
         < datetime(2024, 3, 6)}
    dirs = {r.f.split("event_date=")[1].split("/")[0] for r in got}
    assert dirs == {"2024-03-04", "2024-03-05"}   # only 2 of 10 days
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in \
        plan.split("PartitionFilters")[1][:300]


def test_common_neighbors_hand(spark):
    """Star + one edge: hub 0 links 1..4; 1-2 already linked. Top
    candidates are the remaining leaf pairs (1 common neighbor: the
    hub), existing edges excluded; pair (1,2) also shares hub but is
    linked -> absent."""
    from stark_spark.operators.graph import common_neighbors
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.a, r.b): r.n_common
           for r in common_neighbors(df, k=10).collect()}
    assert (1, 2) not in got
    assert got[(3, 4)] == 1 and got[(1, 3)] == 1 and got[(2, 4)] == 1
    # (1,2) linked; remaining leaf pairs: (1,3),(1,4),(2,3),(2,4),(3,4)
    assert len(got) == 5
    # 0 pairs with nothing (its neighbors are leaves with deg<=2 but
    # share no second neighbor with 0 except via 1-2 edge: (0,x)
    # linked already) — no (0,*) rows
    assert not any(a == 0 for a, _ in got)


def test_common_neighbors_local_fastpath_equal(spark):
    """The driver-side Gram-matrix fast path (uncapped, small node
    set) must return EXACTLY the distributed wedge join's rows
    (local_max=0 forces it) — random graph with parallel/reversed
    duplicate edges and an isolated-ish tail."""
    import numpy as np
    from stark_spark.operators.graph import common_neighbors

    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, (400, 2))
             if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = sorted(map(tuple, common_neighbors(df, k=25).collect()))
    dist = sorted(map(tuple,
                      common_neighbors(df, k=25, local_max=0).collect()))
    assert fast == dist and len(fast) == 25
    # the hand-star semantics hold on the distributed path too
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)], "src long, dst long")
    got = {(r.a, r.b): r.n_common
           for r in common_neighbors(star, k=10, local_max=0).collect()}
    assert (1, 2) not in got and got[(3, 4)] == 1 and len(got) == 5


def test_common_neighbors_max_degree(spark):
    """Hub cap: node 0 links 1..6, node 10 links 1 and 2. With
    max_degree=3 the hub keeps only its smallest-id neighbors
    {1,2,3}, so candidate pairs involving 4..6 vanish, (1,2) still
    counts both common neighbors (0 kept by both, 10 has deg 2), and
    counts are a lower bound of the uncapped run."""
    from stark_spark.operators.graph import common_neighbors
    edges = [(0, i) for i in range(1, 7)] + [(10, 1), (10, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.a, r.b): r.n_common
           for r in common_neighbors(df, k=50, max_degree=3).collect()}
    # (0,10) share kept neighbors 1 and 2 (wedges through the leaves)
    assert got == {(0, 10): 2, (1, 2): 2, (1, 3): 1, (2, 3): 1}
    full = {(r.a, r.b): r.n_common
            for r in common_neighbors(df, k=50).collect()}
    assert all(full[p] >= c for p, c in got.items())
    assert (1, 4) in full and (1, 4) not in got


def test_keyness_log_odds_hand(spark):
    """Group A over-uses 'zebra'; the smoothed log-odds puts zebra on
    top for A and not for B."""
    from stark_spark.operators.text import keyness_log_odds
    rows = [("A", "zebra zebra zebra zebra zebra common common"),
            ("A", "zebra zebra zebra zebra zebra common common"),
            ("B", "plain plain plain plain plain common common"),
            ("B", "plain plain plain plain plain common common")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = keyness_log_odds(df, group_col="source", k=1, min_count=2)
    got = {r.source: r.token for r in out.collect()}
    assert got == {"A": "zebra", "B": "plain"}


def test_kaplan_meier_distinct_guard(spark):
    """r10 verdict stretch #7: unbinned micro-grained durations must
    raise (bounded probe), binned/capped input still works."""
    import pytest

    from stark_spark.operators.survival import kaplan_meier
    df = spark.createDataFrame([(i, i % 2) for i in range(50)],
                               "duration long, event int")
    with pytest.raises(ValueError, match="div 86400"):
        kaplan_meier(df, max_distinct=10)
    assert kaplan_meier(df, max_distinct=50).count() == 50
    assert kaplan_meier(df, max_distinct=0).count() == 50


def test_funnel_latency_duplicate_percentiles(spark):
    """Review r11: a repeated pct must not double-count the per-pct
    cumulative window — duplicates dedupe to one correct row."""
    from stark_spark.operators.funnel import funnel_latency
    rows = []
    for u, lat in [(1, 1), (2, 2), (3, 3), (4, 4)]:
        rows.append((u, _ts("2024-01-01T00:00:00"), "view"))
        rows.append((u, _ts(f"2024-01-01T00:00:{lat:02d}"), "purchase"))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    got = funnel_latency(df, ["view", "purchase"],
                         percentiles=(50, 50, 90)).collect()
    assert [(r.pct, r.latency_us) for r in got] == \
        [(50, 2_000_000), (90, 4_000_000)]
