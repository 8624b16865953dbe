"""Round-6 session-4 operator batch: HDR quantile histogram, KMV set
algebra, SCD2 dimension build, linear attribution, Z-order layout,
Kaplan-Meier survival.  (Driver gates for these are staged in
`__spark_entry__.pending_queries()` — promoted into `queries()` at
the round-7 rotation when window slots free up; see
test_extras.py::test_pending_gates_oracle_parity for the comparator
run that checks them against their DuckDB oracles TODAY.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F


# --------------------------------------------------------------------------
# HDR histogram
# --------------------------------------------------------------------------

def test_hdr_bucket_exact_and_relative_error(spark):
    """Small values are exact buckets; large values land in a bucket
    whose bounds contain them with relative width ≤ 2^-sub_bits."""
    from stark_spark.operators.histogram import hdr_histogram
    vals = [0, 1, 31, 32, 33, 100, 1000, 12345, 10**12, (1 << 62) - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    rows = {r.bucket: r for r in hdr_histogram(df, "v", 5).collect()}
    total = sum(r.cnt for r in rows.values())
    assert total == len(vals)
    for r in rows.values():
        assert r.lo <= r.hi
        if r.lo < 32:                       # exact region
            assert r.lo == r.hi == r.bucket
        else:                                # bounded relative width
            assert (r.hi - r.lo + 1) <= max(1, r.lo // 32 + 1)
    # every input value is inside some bucket's [lo, hi]
    for v in vals:
        assert any(r.lo <= v <= r.hi for r in rows.values())


def test_hdr_negative_raises(spark):
    from stark_spark.operators.histogram import hdr_histogram
    df = spark.createDataFrame([(-1,)], "v long")
    with pytest.raises(Exception, match="negative"):
        hdr_histogram(df, "v").collect()


def test_hdr_quantiles_vs_exact(spark):
    """On a deterministic long-tailed fixture the sketch quantile's
    bucket CONTAINS the exact nearest-rank quantile (hi ≥ exact ≥ lo
    — the HDR guarantee)."""
    from stark_spark.operators.histogram import hdr_histogram, hdr_quantiles
    vals = [((i * i) % 97) * (i % 13 + 1) * 17 + i % 7 for i in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    hist = hdr_histogram(df, "v", 5)
    out = {r.q_bp: r.estimate
           for r in hdr_quantiles(hist, [5000, 9000, 9900]).collect()}
    sv = sorted(vals)
    for q_bp, est in out.items():
        exact = sv[math.ceil(len(sv) * q_bp / 10000) - 1]
        assert exact <= est                      # "hi" is conservative
        assert est <= exact + max(1, exact // 16)   # within one bucket


# --------------------------------------------------------------------------
# KMV set algebra
# --------------------------------------------------------------------------

def test_kmv_set_ops_small_exact(spark):
    """Below k the union sketch sees everything: union/intersection
    estimates are EXACT and Jaccard is the true ratio."""
    from stark_spark.operators.sketch import kmv_set_ops, kmv_sketch
    a = spark.createDataFrame([(i,) for i in range(30)], "v long")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "v long")
    r = kmv_set_ops(kmv_sketch(a, "v", 64), kmv_sketch(b, "v", 64), 64).first()
    assert (r.k_used, r.n_both, r.union_est, r.inter_est) == (50, 10, 50, 10)
    assert r.jaccard_bp == 10 * 10000 // 50


def test_kmv_set_ops_estimates(spark):
    """Above k: estimates land within a loose deterministic band of
    truth (fixture fixed ⇒ fact, not flake): |A|=|B|=4000 with 2000
    shared → union 6000, intersection 2000, Jaccard 1/3."""
    from stark_spark.operators.sketch import kmv_set_ops, kmv_sketch
    a = spark.createDataFrame([(i,) for i in range(4000)], "v long")
    b = spark.createDataFrame([(i,) for i in range(2000, 6000)], "v long")
    r = kmv_set_ops(kmv_sketch(a, "v", 256), kmv_sketch(b, "v", 256),
                    256).first()
    assert r.k_used == 256
    assert 4500 <= r.union_est <= 7500
    assert 1300 <= r.inter_est <= 2700
    assert 2200 <= r.jaccard_bp <= 4500


# --------------------------------------------------------------------------
# SCD2 build
# --------------------------------------------------------------------------

def test_scd2_build_basic(spark):
    from stark_spark.operators.merge import scd2_build
    rows = [
        ("k1", 1, "a"), ("k1", 2, "a"),      # restated, must collapse
        ("k1", 3, "b"), ("k1", 5, "a"),      # back to 'a' = NEW version
        ("k2", 4, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, attr string")
    out = sorted(
        scd2_build(df, ["k"], ts_col="ts", attrs=["attr"]).collect(),
        key=lambda r: (r.k, r.valid_from))
    got = [(r.k, r.attr, r.valid_from, r.valid_to, r.is_current)
           for r in out]
    assert got == [
        ("k1", "a", 1, 3, False),
        ("k1", "b", 3, 5, False),
        ("k1", "a", 5, None, True),
        ("k2", "x", 4, None, True),
    ]


def test_scd2_null_attrs_and_no_collapse(spark):
    from stark_spark.operators.merge import scd2_build
    rows = [("k", 1, None), ("k", 2, None), ("k", 3, "v"), ("k", 4, None)]
    df = spark.createDataFrame(rows, "k string, ts long, attr string")
    out = scd2_build(df, ["k"], ts_col="ts", attrs=["attr"]).collect()
    # NULL==NULL is "unchanged" (collapse), NULL vs value is a change
    assert [(r.attr, r.valid_from) for r in
            sorted(out, key=lambda r: r.valid_from)] == [
        (None, 1), ("v", 3), (None, 4)]
    out2 = scd2_build(df, ["k"], ts_col="ts", attrs=["attr"],
                      collapse_unchanged=False).collect()
    assert len(out2) == 4


# --------------------------------------------------------------------------
# Linear attribution
# --------------------------------------------------------------------------

def test_attribution_linear_conservation_and_split(spark):
    from stark_spark.operators.funnel import attribution_linear
    # user u1: view, click, purchase(30.00) → 5000/5000 bp,
    #          then ad, purchase(10.00)     → ad gets all 10000
    # user u2: purchase(7.00) with no touches → direct
    rows = [
        Row(user_id=1, event_id=1, ts=1.0, event_type="view", value=0.0),
        Row(user_id=1, event_id=2, ts=2.0, event_type="click", value=0.0),
        Row(user_id=1, event_id=3, ts=3.0, event_type="purchase", value=30.0),
        Row(user_id=1, event_id=4, ts=4.0, event_type="ad", value=0.0),
        Row(user_id=1, event_id=5, ts=5.0, event_type="purchase", value=10.0),
        Row(user_id=2, event_id=6, ts=1.0, event_type="purchase", value=7.0),
    ]
    out = {r.channel: r for r in
           attribution_linear(spark.createDataFrame(rows)).collect()}
    assert out["view"].credit_bp == 5000 and out["click"].credit_bp == 5000
    assert out["ad"].credit_bp == 10000
    assert out["direct"].credit_bp == 10000
    assert out["direct"].revenue_c == 700
    # conservation: 3 conversions × 10000 bp, revenue = 4700 cents
    assert sum(r.credit_bp for r in out.values()) == 30000
    assert sum(r.revenue_c for r in out.values()) == 4700


def test_attribution_linear_remainder_to_earliest(spark):
    from stark_spark.operators.funnel import attribution_linear
    rows = [Row(user_id=1, event_id=i, ts=float(i),
                event_type=t, value=v)
            for i, (t, v) in enumerate(
                [("a", 0.0), ("b", 0.0), ("c", 0.0),
                 ("purchase", 1.00)])]
    out = {r.channel: r.credit_bp for r in
           attribution_linear(spark.createDataFrame(rows)).collect()}
    # 10000 div 3 = 3333 each, remainder 1 to earliest touch 'a'
    assert out == {"a": 3334, "b": 3333, "c": 3333}


# --------------------------------------------------------------------------
# Z-order layout
# --------------------------------------------------------------------------

def test_zorder_key_interleaves(spark):
    from stark_spark.functions.zorder import zorder_key
    df = spark.createDataFrame([(3, 5)], "x long, y long")
    # 2-bit grid over [0,4): x=3→0b11 at even positions, y=3... use
    # known small case: bits=2, ranges [0,4): x=3→grid 2? grid scale:
    # floor((3-0)*3/4)=2 (0b10), y scaled floor(5*... clamp to 4)=3
    k = df.select(zorder_key([F.col("x"), F.col("y")],
                             [(0, 4), (0, 4)], bits=2).alias("z")).first().z
    xg, yg = 2, 3                      # 0b10, 0b11 after clamp+scale
    want = sum(((xg >> b) & 1) << (2 * b) for b in range(2)) \
        + sum(((yg >> b) & 1) << (2 * b + 1) for b in range(2))
    assert k == want


# --------------------------------------------------------------------------
# Kaplan-Meier
# --------------------------------------------------------------------------

def test_kaplan_meier_textbook(spark):
    """Hand-computed product-limit curve with censoring (the classic
    6-subject example): risk sets shrink by BOTH events and censored
    exits; censored-only times contribute factor 1."""
    from stark_spark.operators.survival import kaplan_meier
    # durations: events at 1 (x2), 3; censored at 2, 4; event at 5
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (4, 0), (5, 1)]
    df = spark.createDataFrame(rows, "duration long, event long")
    out = {r.t: r for r in kaplan_meier(df).collect()}
    assert (out[1].n_risk, out[1].n_events) == (6, 2)
    assert (out[2].n_risk, out[2].n_events, out[2].n_censored) == (4, 0, 1)
    assert (out[3].n_risk, out[3].n_events) == (3, 1)
    assert (out[5].n_risk, out[5].n_events) == (1, 1)
    # survival: t1 4/6, t2 same, t3 ×2/3, t5 hits zero
    s1 = round(1e6 * math.log(4 / 6))
    s3 = s1 + round(1e6 * math.log(2 / 3))
    assert out[1].log_surv_q6 == s1
    assert out[2].log_surv_q6 == s1
    assert out[3].log_surv_q6 == s3
    assert out[5].log_surv_q6 == -(1 << 62)      # S(t)=0 sentinel
    # monotone non-increasing
    ts = sorted(out)
    assert all(out[a].log_surv_q6 >= out[b].log_surv_q6
               for a, b in zip(ts, ts[1:]))


# --------------------------------------------------------------------------
# Batch 2: sequences, correlation, drift, chi2, postings, binning
# --------------------------------------------------------------------------

def test_event_sequences_trigrams(spark):
    from stark_spark.operators.funnel import event_sequences
    rows = [Row(user_id=1, event_id=i, ts=float(i), event_type=t,
                value=0.0)
            for i, t in enumerate(["a", "b", "c", "a", "b"])]
    rows += [Row(user_id=2, event_id=10, ts=1.0, event_type="a",
                 value=0.0),
             Row(user_id=2, event_id=11, ts=2.0, event_type="b",
                 value=0.0)]     # too short for a trigram
    out = {(r.step_1, r.step_2, r.step_3): r.n_occurrences
           for r in event_sequences(spark.createDataFrame(rows),
                                    length=3).collect()}
    assert out == {("a", "b", "c"): 1, ("b", "c", "a"): 1,
                   ("c", "a", "b"): 1}


def test_correlation_matrix_vs_numpy(spark):
    import numpy as np
    from stark_spark.operators.profile import correlation_matrix
    rng = [(i, 2 * i + 3, (i * 7) % 13) for i in range(50)]
    df = spark.createDataFrame(rng, "x long, y long, z long")
    out = {(r.var_x, r.var_y): r.corr_q6 / 1e6
           for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    a = np.array(rng, dtype=float)
    for (i, vx), (j, vy) in [((0, "x"), (1, "y")), ((0, "x"), (2, "z")),
                             ((1, "y"), (2, "z"))]:
        want = np.corrcoef(a[:, i], a[:, j])[0, 1]
        assert abs(out[(vx, vy)] - want) < 1e-5
    assert out[("x", "y")] == 1.0            # exact linear


def test_psi_drift_identical_halves_zero(spark):
    from stark_spark.operators.drift import psi_drift
    from pyspark.sql import functions as F
    rows = [(i % 5, s) for i in range(100) for s in (0, 1)]
    df = spark.createDataFrame(rows, "b long, s int")
    out = psi_drift(df, split=F.col("s") == 1,
                    bin_col=F.col("b")).collect()
    assert all(r.psi_term_q6 == 0 for r in out)       # no drift
    # shifted distribution → strictly positive total PSI
    rows2 = ([(i % 5, 1) for i in range(100)]
             + [((i % 5 + 1) % 5 if i % 3 else i % 5, 0)
                for i in range(100)])
    df2 = spark.createDataFrame(rows2, "b long, s int")
    out2 = psi_drift(df2, split=F.col("s") == 1, bin_col=F.col("b"))
    assert sum(r.psi_term_q6 for r in out2.collect()) > 0


def test_chi2_contingency_independent_uniform(spark):
    import math
    from stark_spark.operators.drift import chi2_contingency
    from pyspark.sql import functions as F
    # perfectly balanced table → observed == expected → all terms 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(25)]
    df = spark.createDataFrame(rows, "a string, b string")
    out = chi2_contingency(df, row_key=F.col("a"), col_key=F.col("b"))
    rs = out.collect()
    assert all(r.chi2_term_q6 == 0 for r in rs)
    assert all(r.expected_q6 == 25_000_000 for r in rs)
    # hand-computed 2x2: cells 30/20/20/30 → chi2 = 4.0
    rows2 = ([("x", "u")] * 30 + [("x", "v")] * 20
             + [("y", "u")] * 20 + [("y", "v")] * 30)
    df2 = spark.createDataFrame(rows2, "a string, b string")
    total = sum(r.chi2_term_q6 for r in chi2_contingency(
        df2, row_key=F.col("a"), col_key=F.col("b")).collect())
    assert math.isclose(total / 1e6, 4.0, abs_tol=1e-5)


def test_postings_index_sorted_bounded(spark):
    from stark_spark.operators.text import postings_index
    docs = spark.createDataFrame(
        [(2, "b a b"), (1, "a c"), (3, "a")],
        "doc_id long, text string")
    out = {r.token: (r.df, list(r.postings))
           for r in postings_index(docs).collect()}
    assert out == {"a": (3, [1, 2, 3]), "b": (1, [2]), "c": (1, [1])}


def test_equi_depth_bins_balanced_and_ties(spark):
    from stark_spark.operators.sampling import equi_depth_bins
    df = spark.createDataFrame([("g", i) for i in range(100)],
                               "g string, v long")
    out = sorted(equi_depth_bins(df, "g", "v", 10).collect(),
                 key=lambda r: r.bin)
    assert [r.n for r in out] == [10] * 10          # distinct values
    assert [r.min_v for r in out] == [0, 10, 20, 30, 40,
                                      50, 60, 70, 80, 90]
    # heavy ties: one value dominating collapses into ONE bin
    tied = spark.createDataFrame([("g", 5)] * 90 + [("g", i)
                                                    for i in range(10)],
                                 "g string, v long")
    out2 = equi_depth_bins(tied, "g", "v", 4).collect()
    big = [r for r in out2 if r.min_v <= 5 <= r.max_v]
    assert sum(r.n for r in out2) == 100
    assert max(r.n for r in big) >= 90              # the tie bin


# --------------------------------------------------------------------------
# Batch 3: experimentation + time-series
# --------------------------------------------------------------------------

def test_two_proportion_ztest_hand(spark):
    import math
    from stark_spark.operators.drift import two_proportion_ztest
    # arm A: 30/100 convert; arm B: 20/100 → classic pooled z
    rows = ([(0, 1)] * 30 + [(0, 0)] * 70 + [(1, 1)] * 20 + [(1, 0)] * 80)
    df = spark.createDataFrame(rows, "arm int, c int")
    r = two_proportion_ztest(df, arm=F.col("arm"),
                             converted=F.col("c")).first()
    assert (r.n_a, r.x_a, r.n_b, r.x_b) == (100, 30, 100, 20)
    p = 50 / 200
    want = (0.3 - 0.2) / math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert abs(r.z_q6 / 1e6 - want) < 1e-5
    # degenerate: nobody converts → 0 sentinel, not NaN
    dz = two_proportion_ztest(
        spark.createDataFrame([(0, 0), (1, 0)], "arm int, c int"),
        arm=F.col("arm"), converted=F.col("c")).first()
    assert dz.z_q6 == 0


def test_autocorrelation_periodic_series(spark):
    from stark_spark.operators.timeseries import autocorrelation
    # perfect period-4 series → acf(4)=1, acf(2)=-1 (antiphase)
    series = [(i, [3, 7, 3, 1][i % 4] + 10) for i in range(400)]
    df = spark.createDataFrame(series, "i long, x long")
    out = {r.lag: r.acf_q6 / 1e6
           for r in autocorrelation(df, value_col="x", order_col="i",
                                    lags=[1, 2, 4]).collect()}
    assert out[4] == 1.0
    import numpy as np
    xs = np.array([v for _, v in series], dtype=float)
    for lag in (1, 2):
        want = np.corrcoef(xs[:-lag], xs[lag:])[0, 1]
        assert abs(out[lag] - want) < 1e-5


def test_seasonal_naive_backtest_exact(spark):
    from stark_spark.operators.timeseries import seasonal_naive_backtest
    # 2 keys, hourly events over 3 "weeks" of a 2-hour period, split
    # so the last week is test; per-phase train value is the LAST one
    rows = [("k", f"1970-01-01 {h:02d}:00:00",
             float(10 + (h % 2) + h // 4))                    # drifting
            for h in range(12)]
    df = (spark.createDataFrame(rows,
                                "event_type string, ts string,"
                                " value double")
               .withColumn("ts", F.to_timestamp("ts")))
    out = seasonal_naive_backtest(
        df, key="event_type", ts="ts",
        value_expr=F.round(F.col("value") * 100),
        split_day="1970-01-01 08:00:00", period_hours=2).collect()
    r = out[0]
    # train hours 0..7 (phases: last at h=6 →1200+200, h=7 →1100+100
    # +200): v_hat per phase = value at h 6 (1300-ish) / h 7; test
    # hours 8..11 drift +100 per 4h → exact MAE hand-derivable
    vals = {h: round((10 + (h % 2) + h // 4) * 100) for h in range(12)}
    err = [abs(vals[h] - vals[6 if h % 2 == 0 else 7])
           for h in range(8, 12)]
    assert r.n_test_hours == 4
    assert r.mae_c == sum(err) // 4


def test_rfm_segments_hand(spark):
    from stark_spark.operators.profile import rfm_segments
    # three purchasers with clearly ordered R/F/M; one non-purchaser
    rows = []
    for u, (days, freq, amount) in enumerate(
            [(0, 5, 100.0), (3, 2, 10.0), (9, 1, 1.0)]):
        for k in range(freq):
            rows.append(Row(user_id=u, event_id=u * 10 + k,
                            ts=f"2024-01-{20 - days:02d} 00:00:00",
                            event_type="purchase", value=amount))
    rows.append(Row(user_id=9, event_id=99, ts="2024-01-20 00:00:00",
                    event_type="view", value=0.0))
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.to_timestamp("ts"))
    out = {r.rfm: (r.n_users, r.monetary_c_sum)
           for r in rfm_segments(df, n_bins=3).collect()}
    # user0: most recent, most frequent, biggest → "333"
    # user2: least recent/frequent/smallest → "111"
    assert out["333"] == (1, 5 * 10000)
    assert out["111"] == (1, 100)
    assert sum(n for n, _ in out.values()) == 3   # non-purchaser absent


# --------------------------------------------------------------------------
# Batch 4: expectations, HLL cube, point-in-time join
# --------------------------------------------------------------------------

def test_expectations_report_hand(spark):
    from stark_spark.operators.expectations import expectations_report
    df = spark.createDataFrame(
        [(1, 5, "A"), (2, 50, "B"), (2, None, "bad"), (4, -1, None)],
        "k long, v long, s string")
    ref = spark.createDataFrame([(1,), (2,)], "k long")
    out = {r.rule: (r.n_checked, r.n_violations)
           for r in expectations_report(df, [
               {"kind": "unique", "cols": ["k"]},
               {"kind": "not_null", "col": "v"},
               {"kind": "range", "col": "v", "lo": 0, "hi": 10},
               {"kind": "regex", "col": "s", "pattern": "^[AB]$"},
               {"kind": "fk", "col": "k", "ref": ref, "ref_col": "k"},
           ]).collect()}
    assert out["unique:k"] == (4, 1)
    assert out["not_null:v"] == (4, 1)
    assert out["range:v"] == (3, 2)          # NULL not checked; 50, -1
    assert out["regex:s"] == (3, 1)          # 'bad'
    assert out["fk:k"] == (4, 1)             # k=4 orphan


def test_hll_rollup_equals_direct(spark):
    """Register re-aggregation (merge == max) must give the SAME
    estimate as sketching each rollup slice from scratch."""
    from stark_spark.operators.sketch import (hll_estimate, hll_registers,
                                              hll_rollup)
    rows = [(chr(97 + i % 3), i % 4, i % 500) for i in range(3000)]
    df = spark.createDataFrame(rows, "a string, b long, v long")
    regs = hll_registers(df, "v", ("a", "b"))
    cube = hll_rollup(regs, ["a", "b"], [("a",), ()])
    got_a = {r.a: r.estimate for r in cube.collect() if r.level == "a"}
    want_a = {r.a: r.estimate
              for r in hll_estimate(hll_registers(df, "v", ("a",)),
                                    ("a",)).collect()}
    assert got_a == want_a
    got_tot = [r.estimate for r in cube.collect() if r.level == ""][0]
    assert got_tot == hll_estimate(hll_registers(df, "v")).first().estimate


def test_point_in_time_join_no_leakage(spark):
    from stark_spark.operators.merge import point_in_time_join, scd2_build
    dim_feed = spark.createDataFrame(
        [("u", 10, "bronze"), ("u", 20, "silver"), ("u", 30, "gold")],
        "k string, t long, tier string")
    dim = scd2_build(dim_feed, ["k"], ts_col="t", attrs=["tier"])
    facts = spark.createDataFrame(
        [("u", 5, 1), ("u", 10, 2), ("u", 25, 3), ("u", 99, 4)],
        "k string, t long, fid long")
    out = {r.fid: r.tier
           for r in point_in_time_join(
               facts, dim, keys=["k"], fact_ts="t",
               attrs=["tier"]).collect()}
    # before any version → NULL (not bronze! that would leak);
    # AT a version boundary → the new version (half-open intervals);
    # after the last → current
    assert out == {1: None, 2: "bronze", 3: "silver", 4: "gold"}


# --------------------------------------------------------------------------
# Batch 5: reconciliation, basket lift, rank normalization
# --------------------------------------------------------------------------

def test_table_diff_hand(spark):
    from stark_spark.operators.merge import table_diff
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, None), (4, 40, "d")],
        "k long, v long, s string")
    other = spark.createDataFrame(
        [(1, 10, "a"),            # unchanged
         (2, 99, "b"),            # v changed
         (3, 30, "x"),            # NULL -> value = change
         (5, 50, "e")],           # added; k=4 removed
        "k long, v long, s string")
    out = {r.item: r.n
           for r in table_diff(base, other, ["k"], ["v", "s"]).collect()}
    assert out == {"_added": 1, "_removed": 1, "_unchanged": 1,
                   "_changed_rows": 2, "col:v": 1, "col:s": 1}


def test_basket_lift_hand(spark):
    from stark_spark.operators.basket import basket_lift_pairs
    # 4 baskets: {a,b} {a,b} {a} {b,c} → n_ab(a,b)=2, lift=4*2/(3*3)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "b"),
            (3, "a"), (4, "b"), (4, "c")]
    df = spark.createDataFrame(rows, "bk long, item string")
    out = {(r.item_a, r.item_b): r
           for r in basket_lift_pairs(
               df, basket=[F.col("bk")], item=F.col("item")).collect()}
    ab = out[("a", "b")]
    assert (ab.n_ab, ab.n_a, ab.n_b, ab.n_baskets) == (2, 3, 3, 4)
    assert ab.lift_q6 == round(1e6 * (4 * 2) / (3 * 3))
    assert out[("b", "c")].n_ab == 1
    assert ("a", "c") not in out                 # never co-occur


def test_percent_rank_ties_and_bounds(spark):
    from stark_spark.operators.profile import percent_rank_features
    rows = [(i, "g", v) for i, v in enumerate([10, 20, 20, 30])]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    out = {r.id: r.pr_bp
           for r in percent_rank_features(
               df, group_col="g", value_col="v",
               id_cols=["id"]).collect()}
    # ranks: 1, 2, 2, 4 → (rk-1)*10000 div 3
    assert out == {0: 0, 1: 3333, 2: 3333, 3: 10000}
    single = percent_rank_features(
        spark.createDataFrame([(9, "g", 5)], "id long, g string, v long"),
        group_col="g", value_col="v", id_cols=["id"]).first()
    assert single.pr_bp == 0


# --------------------------------------------------------------------------
# Plan-shape assertions (scale posture): the new operators must keep
# the plans they were designed around, not just the answers.
# --------------------------------------------------------------------------

def test_plan_shapes_session4(spark):
    import __spark_entry__ as e
    sf = "/root/testdata/sf0.001"

    # Q21: the semi+anti sandwich with broadcast dims
    q21 = e.queries()["tpch_q21"](spark, sf)
    plan = q21._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan

    # zorder keys are row-local: NO exchange anywhere in the plan
    zk = e.queries()["zorder_events"](spark, sf)
    zplan = zk._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in zplan

    # HDR histogram: partial (map-side) aggregation before the
    # bucket exchange — two HashAggregate levels
    from stark_spark.operators.histogram import hdr_histogram
    from pyspark.sql import functions as F
    h = hdr_histogram(
        spark.read.parquet(f"{sf}/lineitem.parquet")
             .select(F.round(F.col("l_extendedprice") * 100)
                      .cast("long").alias("v")), "v")
    hplan = h._jdf.queryExecution().executedPlan().toString()
    assert hplan.count("HashAggregate") >= 2

    # correlation matrix: moments come from ONE aggregate over ONE
    # scan (no join in the plan at all)
    corr = e.queries()["lineitem_corr"](spark, sf)
    cplan = corr._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in cplan


def test_ols_by_group_hand(spark):
    """Closed-form fit on a hand dataset: group 'a' is y=2x+3 exactly
    (slope 2, intercept 3, R²=1), 'b' has zero x-variance (all fit
    columns NULL), 'c' has slope but zero y-variance never occurs with
    nonzero slope, so instead check a single-point group is NULL."""
    from stark_spark.operators.regress import ols_by_group
    rows = [("a", 1, 5), ("a", 2, 7), ("a", 3, 9), ("a", 10, 23),
            ("b", 4, 1), ("b", 4, 2), ("b", 4, 3),
            ("c", 7, 7)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in
           ols_by_group(df, group_cols=["g"], x_col="x", y_col="y")
           .collect()}
    assert out["a"].slope_q6 == 2_000_000
    assert out["a"].intercept_q6 == 3_000_000
    assert out["a"].r2_q6 == 1_000_000
    assert out["b"].slope_q6 is None and out["b"].r2_q6 is None
    assert out["c"].slope_q6 is None and out["c"].n == 1
    # one aggregate over one scan — the minimal-shuffle fit
    plan = (ols_by_group(df, group_cols=["g"], x_col="x", y_col="y")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan and plan.count("Scan") <= 2


def test_cms_overestimate_and_merge(spark):
    """CMS invariants: est >= exact for every key; union-of-sketches
    == sketch-of-union cell-for-cell (mergeability); cell count <= w*d."""
    from stark_spark.operators.sketch import cms_build, cms_estimate
    a = spark.range(0, 400).select((F.col("id") % 37).alias("k"))
    b = spark.range(0, 300).select((F.col("id") % 11).alias("k"))
    w, d = 32, 3                       # tiny grid to force collisions
    sa, sb = cms_build(a, "k", width=w, depth=d), cms_build(b, "k", width=w, depth=d)
    s_all = cms_build(a.unionAll(b), "k", width=w, depth=d)
    merged = (sa.unionByName(sb).groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt")))
    assert (merged.exceptAll(s_all).count() == 0
            and s_all.exceptAll(merged).count() == 0)
    assert s_all.count() <= w * d
    keys = spark.range(0, 37).select(F.col("id").alias("k"))
    est = {r.k: r.est for r in
           cms_estimate(s_all, keys, "k", width=w, depth=d).collect()}
    exact = {r.k: r.n for r in a.unionAll(b).groupBy("k")
             .agg(F.count("*").alias("n")).collect()}
    assert all(est[k] >= exact.get(k, 0) for k in est)
    # with w=32 collisions are guaranteed: some key must overestimate
    assert any(est[k] > exact.get(k, 0) for k in est)


def test_jaccard_prefix_join_no_misses(spark):
    """Prefix filtering must be LOSSLESS: result equals the brute-force
    all-pairs integer-Jaccard join on hand data with boundary cases
    (exact-threshold pair, disjoint pair, identical pair)."""
    from stark_spark.operators.dedup import jaccard_prefix_join
    docs = [
        (1, "a b c d e"),            # with 2: 4/6 = 0.666...
        (2, "a b c d x"),
        (3, "a b c d e"),            # identical to 1 -> J = 1
        (4, "p q r s t"),            # disjoint from 1-3
        (5, "a b c"),                # subset: with 1 J = 3/5 = 0.6 exact
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard_q6
           for r in jaccard_prefix_join(df, "doc_id",
                                        threshold=0.6).collect()}
    # brute force in python
    sets = {k: set(t.split(" ")) for k, t in docs}
    want = {}
    ks = sorted(sets)
    for i, a in enumerate(ks):
        for b in ks[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            jq = 1_000_000 * inter // union
            if jq >= 600_000:
                want[(a, b)] = jq
    assert got == want
    assert got[(1, 5)] == 600_000        # exact-boundary pair kept
    assert (1, 4) not in got


def test_bpe_merge_pairs_hand(spark):
    """Weighted adjacent-pair counts: 'aaab'x2 contributes aa twice
    per occurrence; non-letter and 1-char tokens are excluded."""
    from stark_spark.operators.text import bpe_merge_pairs
    df = spark.createDataFrame(
        [(1, "aaab aaab cd X9 z")], "doc_id long, text string")
    got = [(r.pair, r.cnt) for r in bpe_merge_pairs(df, 10).collect()]
    assert got == [("aa", 4), ("ab", 2), ("cd", 1)]


def test_bfs_hops_hand(spark):
    """Chain + branch + unreachable + early-exit: min-hop semantics,
    source nodes at 0 even when also reachable later."""
    from stark_spark.operators.graph import bfs_hops
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 1),   # cycle back
         (7, 8)],                                          # unreachable
        "src long, dst long")
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.hop
           for r in bfs_hops(edges, srcs, n_rounds=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3, 5: 4}
    # early exit: 10 rounds requested, frontier dies after 4


def test_sssp_bounded_hand(spark):
    """Relaxation semantics: cheaper 3-edge path beats direct edge;
    round bound excludes longer paths; early exit on convergence."""
    from stark_spark.operators.graph import sssp_bounded
    edges = spark.createDataFrame(
        [(1, 5, 100), (1, 2, 10), (2, 3, 10), (3, 5, 10),   # 1->5: 30
         (5, 6, 1), (6, 7, 1), (7, 8, 1), (8, 9, 1)],
        "src long, dst long, w long")
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist
           for r in sssp_bounded(edges, srcs, n_rounds=4).collect()}
    assert got[5] == 30                   # multi-hop beats direct 100
    # 6 via the cheap path is 4 edges (31); 7/8 only via direct 1->5
    assert got == {1: 0, 2: 10, 3: 20, 5: 30, 6: 31, 7: 102, 8: 103}
    assert 9 not in got                   # needs 5 edges minimum
    full = {r.node: r.dist
            for r in sssp_bounded(edges, srcs, n_rounds=20).collect()}
    assert full[9] == 34                  # converged: 30 + 4


def test_golden_record_fuses_columns(spark):
    """Survivorship: newest row has NULL phone, older row has it —
    the golden record keeps both bests; whole-row latest-wins would
    lose the phone."""
    from stark_spark.operators.merge import golden_record
    rows = [
        (1, 100, 1, "a@x.io", None),
        (1, 200, 2, None, "555"),       # newer, email NULL
        (1, 150, 3, "b@x.io", None),    # older than 200, newer than 100
        (2, 50, 4, None, None),
    ]
    df = spark.createDataFrame(
        rows, "uid long, ts long, eid long, email string, phone string")
    got = {r.uid: r for r in
           golden_record(df, ["uid"], ts_col="ts", tie_col="eid",
                         attrs=["email", "phone"]).collect()}
    assert got[1].email == "b@x.io" and got[1].phone == "555"
    assert got[1].last_seen_ts == 200
    assert got[2].email is None and got[2].phone is None
    plan = (golden_record(df, ["uid"], ts_col="ts", tie_col="eid",
                          attrs=["email", "phone"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan and "Join" not in plan


def test_hdr_rollup_levels_consistent(spark):
    """Cube invariants on hand data: the grand-total level equals
    hdr_quantiles on the ungrouped histogram, and every level's
    per-group n sums to the total row count."""
    from stark_spark.operators.histogram import (hdr_grouped,
                                                 hdr_histogram,
                                                 hdr_quantiles,
                                                 hdr_rollup)
    rows = [("a", "x", v * 7 + 3) for v in range(200)]
    rows += [("b", "x", v * 13 + 1) for v in range(100)]
    rows += [("b", "y", v * 3) for v in range(50)]
    df = spark.createDataFrame(rows, "g string, h string, v long")
    cells = hdr_grouped(df, "v", ["g", "h"], 5)
    cube = hdr_rollup(cells, ["g", "h"],
                      [("g", "h"), ("g",), ()], [5000, 9900])
    out = cube.collect()
    total = {(r.q_bp): (r.n, r.estimate)
             for r in out if r.level == ""}
    flat = {r.q_bp: (r.n, r.estimate)
            for r in hdr_quantiles(hdr_histogram(df, "v", 5),
                                   [5000, 9900]).collect()}
    assert total == flat
    assert all(r.n == 350 for r in out if r.level == "")
    lv_gh = [r for r in out if r.level == "g,h"]
    assert {(r.g, r.h) for r in lv_gh} == {("a", "x"), ("b", "x"),
                                           ("b", "y")}
    # per-group n: 200/100/50 at both quantiles
    ns = {(r.g, r.h, r.q_bp): r.n for r in lv_gh}
    assert ns[("a", "x", 5000)] == 200 and ns[("b", "y", 9900)] == 50


def test_personalized_pagerank_mass_locality(spark):
    """Seeded PPR sanity on a hand graph: mass concentrates near the
    seed; a node unreachable from the seed gets rank 0; seeds with no
    in-links still hold their teleport mass."""
    from stark_spark.operators.graph import personalized_pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1),      # cycle with the seed
         (9, 8), (8, 9)],             # far component
        "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.rank_q
           for r in personalized_pagerank(edges, seeds,
                                          n_iter=30).collect()}
    assert got[8] == 0 and got[9] == 0       # unreachable from seed
    # converged fixpoint: r1 = 0.15/(1-0.85^3), proximity ordering
    assert got[1] > got[2] > got[3] > 0
    # empty seed set (seed not in graph) -> all zeros
    empty = personalized_pagerank(
        edges, spark.createDataFrame([(77,)], "node long"), n_iter=2)
    assert all(r.rank_q == 0 for r in empty.collect())


def test_funnel_window_horizon(spark):
    """Anchored-horizon funnel: u1 converts inside the window, u2's
    click lands after t1+window (depth 1), u3 clicks in-window but
    purchases out (depth 2)."""
    from pyspark.sql import Row
    import datetime as dt
    from stark_spark.operators.funnel import funnel
    t0 = dt.datetime(2024, 1, 1)
    def r(u, s, t): return Row(user_id=u, event_type=s,
                               ts=t0 + dt.timedelta(seconds=t))
    rows = [r(1, "view", 0), r(1, "click", 10), r(1, "purchase", 20),
            r(2, "view", 0), r(2, "click", 120),
            r(3, "view", 0), r(3, "click", 30), r(3, "purchase", 300)]
    df = spark.createDataFrame(rows)
    out = {x.step: x.users
           for x in funnel(df, ["view", "click", "purchase"],
                           window_us=60 * 1_000_000).collect()}
    assert out == {1: 3, 2: 2, 3: 1}
    # without a window u1 and u3 fully convert (u2 never purchases)
    full = {x.step: x.users
            for x in funnel(df, ["view", "click", "purchase"]).collect()}
    assert full == {1: 3, 2: 3, 3: 2}


def test_agg_delta_apply_identities(spark):
    """IVM identities: insert-only delta == full recompute; deletes
    shrink; fully-deleted groups vanish; n can never go negative on a
    consistent feed."""
    from stark_spark.operators.merge import agg_delta_apply
    base = spark.createDataFrame(
        [("a", 2, 30), ("b", 1, 5)], "g string, n long, sum_v long")
    delta = spark.createDataFrame(
        [("a", 7, 1), ("b", 5, -1),    # a +7; b deletes its only row
         ("c", 4, 1)],                  # new group
        "g string, v long, op int")
    out = {r.g: (r.n, r.sum_v)
           for r in agg_delta_apply(base, delta, ["g"], value_col="v",
                                    op_col="op").collect()}
    assert out == {"a": (3, 37), "c": (1, 4)}   # b fully deleted
    # insert-only without op_col
    ins = spark.createDataFrame([("a", 10)], "g string, v long")
    out2 = {r.g: (r.n, r.sum_v)
            for r in agg_delta_apply(base, ins, ["g"],
                                     value_col="v").collect()}
    assert out2 == {"a": (3, 40), "b": (1, 5)}


def test_rank_eval_hand(spark):
    """recall@k + MRR on hand rankings: perfect, partial (true #1
    missing), and empty retrievals."""
    from stark_spark.operators.similarity import rank_eval
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3),
         (3, 30, 1), (3, 31, 2), (3, 32, 3)],
        "q_id long, vec_id long, rank long")
    ret = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),      # perfect
         (2, 22, 1), (2, 99, 2), (2, 20, 3)],     # 2/3, top1 at pos 3
        "q_id long, vec_id long, rank long")       # q3: nothing
    got = {r.q_id: (r.n_hits, r.recall_q6, r.mrr_q6)
           for r in rank_eval(ret, truth, k=3).collect()}
    assert got[1] == (3, 1_000_000, 1_000_000)
    assert got[2] == (2, 666_666, 333_333)
    assert got[3] == (0, 0, 0)


def test_exact_quantiles_vs_sorted_pick(spark):
    """r11: the reusable two-phase exact percentile (no global rank
    window) against the brute sorted-pick reference on a mixed-bucket
    corpus, plus the edges: tail percentiles, duplicate pcts deduped,
    negative input raises, empty input -> empty output."""
    import math

    import pytest

    from stark_spark.operators.histogram import exact_quantiles
    vals = ([3] * 40 + [7] * 10 + list(range(100, 400, 7))
            + [10_000, 10_001] + list(range(50_000, 50_500, 13)))
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    pcts = (1, 25, 50, 75, 99, 100)
    got = {r.pct: (r.value, r.n) for r in
           exact_quantiles(df, "x", pcts + (50,)).collect()}
    srt = sorted(vals)
    n = len(srt)
    for p in pcts:
        want = srt[max(math.ceil(n * p / 100), 1) - 1]
        assert got[p] == (want, n), p
    assert len(got) == len(pcts)          # duplicate 50 deduped
    empty = spark.createDataFrame([], "x long")
    assert exact_quantiles(empty, "x", [50]).count() == 0
    neg = spark.createDataFrame([(-1,)], "x long")
    with pytest.raises(Exception, match="negative"):
        exact_quantiles(neg, "x", [50]).collect()
