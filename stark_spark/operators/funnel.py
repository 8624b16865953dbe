"""Behavioral analytics over event streams: ordered-step funnels,
cohort retention, and next-event (Markov) transition matrices.

These are the standard product-analytics queries every event pipeline
runs (the reference's event tier stops at sessionization —
`SpatialRDDFunctions.scala` has no behavioral layer — so this extends
§2.9 the same way the dedup/ANN tiers do).

Scale posture shared by all three:

* exactly ONE shuffle on the entity key (`user_id`) does the heavy
  lifting; everything after operates on per-entity aggregates or a
  tiny report frame.
* `funnel` folds each user's event list with a JVM-native
  `aggregate()` lambda over a sorted array — the alternative (one
  join per funnel step) costs k shuffles; the fold costs one. The
  per-user array is bounded by that user's matching-event count,
  the same bound sessionization already accepts.
* every output number is an exact integer (counts, micro-epoch
  timestamps, ppm ratios via positive integer division), so results
  are bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_US_PER_DAY = 86_400_000_000


def funnel(df: DataFrame, steps: list[str], *, user: str = "user_id",
           ts: str = "ts", type_col: str = "event_type",
           window_us: int | None = None) -> DataFrame:
    """Ordered-step conversion funnel: ``(step, step_name, users,
    conv_ppm)`` — users that reached step k, where "reached" means the
    min-timestamp chain t₁ = min ts of step 1, t₂ = min ts of step 2
    with ts > t₁ (strict), … Semantics identical to the classic
    chained-subquery form; computed here in ONE shuffle:

    1. filter to funnel event types (pushed to the scan),
    2. per user: sorted (ts, step_idx) array, folded left-to-right by
       a greedy scan (greedy earliest-advance provably attains the
       min-ts chain, so "levels reached" matches the k-join form),
    3. explode reach-levels and count — a |steps|-row report.

    ``conv_ppm`` = users·10⁶ div users(step 1) (exact integer).

    ``window_us``: optional conversion horizon (µs) ANCHORED at the
    user's first step-1 event — steps beyond the first count only
    within [t₁, t₁+window] (the windowFunnel semantics product
    analytics wants: "converted within 24 h of first view"). Greedy
    earliest-advance remains optimal because t₁ is fixed by
    definition and every later deadline is t₁-relative."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    step_idx = F.when(F.col(type_col) == steps[0], 0)
    for i, s in enumerate(steps[1:], start=1):
        step_idx = step_idx.when(F.col(type_col) == s, i)
    evs = (df.where(F.col(type_col).isin(list(steps)))
             .select(F.col(user).alias("u"),
                     F.unix_micros(F.col(ts)).alias("us"),
                     step_idx.cast("int").alias("si")))
    arr = F.sort_array(F.collect_list(F.struct("us", "si")))
    init = F.struct(F.lit(0).cast("int").alias("reached"),
                    F.lit(-1).cast("long").alias("last_us"),
                    F.lit(-1).cast("long").alias("first_us"))
    def _advance(acc, x):
        ok = (x["si"] == acc["reached"]) & (
            (acc["reached"] == F.lit(0)) | (x["us"] > acc["last_us"]))
        if window_us is not None:
            ok = ok & ((acc["reached"] == F.lit(0))
                       | (x["us"] <= acc["first_us"]
                          + F.lit(int(window_us))))
        return F.when(
            ok,
            F.struct((acc["reached"] + F.lit(1)).cast("int")
                     .alias("reached"),
                     x["us"].alias("last_us"),
                     F.when(acc["reached"] == F.lit(0), x["us"])
                      .otherwise(acc["first_us"]).alias("first_us"))
        ).otherwise(acc)

    fold = F.aggregate(arr, init, _advance)
    per_user = (evs.groupBy("u")
                   .agg(fold.getField("reached").alias("reached")))
    # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
    # returning empty — users that reached nothing must be dropped
    # before the explode, not by it
    counts = (per_user.where(F.col("reached") >= 1)
              .select(F.explode(F.sequence(F.lit(1), F.col("reached")))
                       .alias("step"))
              .groupBy("step").agg(F.count("*").alias("users")))
    spark = df.sparkSession
    names = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "step int, step_name string")
    # scalar via agg-on-possibly-empty: when NO user reaches step 1
    # the filtered frame has zero rows, and a bare select would
    # annihilate the crossJoin (the report must still show 0s) —
    # caught by the Hypothesis property test
    first = counts.where(F.col("step") == 1).agg(
        F.coalesce(F.max("users"), F.lit(0).cast("long")).alias("_u1"))
    return (names.join(counts, "step", "left")
                 .crossJoin(F.broadcast(first))
                 .select("step", "step_name",
                         F.coalesce(F.col("users"), F.lit(0))
                          .cast("long").alias("users"),
                         F.when(F.col("_u1") > 0,
                                F.expr("coalesce(users, 0L) * 1000000 "
                                       "div _u1"))
                          .otherwise(F.lit(0)).cast("long")
                          .alias("conv_ppm")))


def cohort_retention(df: DataFrame, *, user: str = "user_id",
                     ts: str = "ts",
                     period_days: int = 7) -> DataFrame:
    """Cohort retention triangle: ``(cohort_period, period_offset,
    active_users)`` — users bucketed by the period of their FIRST
    event, counted distinct in every later period they appear in.
    Periods are integer epoch-day buckets (``epoch_us div (days·day)``
    — positive, so floor = truncate in every engine).

    Shape: one groupBy(user) for the cohort assignment, one
    co-partitioned join back (same key — no second exchange of the
    fact side under AQE), one count-distinct by (cohort, offset)."""
    us_per = period_days * _US_PER_DAY
    ev = df.select(F.col(user).alias("u"),
                   F.expr(f"unix_micros({ts}) div {us_per}")
                    .alias("period"))
    cohort = ev.groupBy("u").agg(F.min("period").alias("cohort_period"))
    return (ev.join(cohort, "u")
              .groupBy("cohort_period",
                       (F.col("period") - F.col("cohort_period"))
                       .alias("period_offset"))
              .agg(F.countDistinct("u").alias("active_users")))


def event_transitions(df: DataFrame, *, user: str = "user_id",
                      ts: str = "ts", type_col: str = "event_type",
                      tie_col: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    ``(from_type, to_type, n, p_ppm)`` where next = lead() over each
    user's (ts, tie) order and p_ppm = n·10⁶ div Σn(from_type) —
    exact integers end-to-end. One window shuffle on the user key,
    then a |types|²-row aggregate."""
    from pyspark.sql import Window
    w = Window.partitionBy(user).orderBy(ts, tie_col)
    pairs = (df.select(F.col(type_col).alias("from_type"),
                       F.lead(type_col).over(w).alias("to_type"))
               .where(F.col("to_type").isNotNull())
               .groupBy("from_type", "to_type")
               .agg(F.count("*").alias("n")))
    totals = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n",
        F.expr("n * 1000000").cast("long").alias("_num"),
        F.sum("n").over(totals).alias("_den")
    ).select("from_type", "to_type", "n",
             F.expr("_num div _den").cast("long").alias("p_ppm"))


def funnel_latency(df: DataFrame, steps: list[str], *,
                   user: str = "user_id", ts: str = "ts",
                   type_col: str = "event_type",
                   percentiles: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """Time-to-convert distribution: for users completing the FULL
    min-ts chain (see `funnel`), latency = t_k − t₁ in micro-seconds;
    report EXACT order-statistic percentiles — rank ⌈n·p/100⌉ under
    (latency, user) total order, the same lower-order-stat convention
    the median/MAD detector uses — plus the converted-user count.
    (The tie-break on user never changes the reported VALUE — the
    latency at rank r is determined by the sorted latency multiset —
    so the pick below runs on per-distinct-latency counts.)

    Same one-shuffle fold as `funnel` with the chain-start timestamp
    threaded through the state; the percentile pick is the TWO-PHASE
    exact selection (no global single-partition rank window, however
    large the cohort):

    1. per-distinct-latency counts (one cohort-scale shuffle),
       checkpointed so the event-scale fold runs exactly once;
    2. bucket CDF over the HDR log-buckets of the latency domain —
       the same `histogram.hdr_quantiles` shape, single-partition
       window over a frame BOUNDED at ~2k rows by construction —
       locates each percentile's bucket and residual rank;
    3. the exact order-statistic pick runs only inside the ≤
       len(percentiles) selected buckets: a window PARTITIONED by
       pct over that bucket's occupied distinct values.

    Output: (pct, latency_us, n_converted)."""
    from .histogram import exact_quantiles
    if not steps:
        raise ValueError("funnel_latency needs at least one step")
    step_idx = F.when(F.col(type_col) == steps[0], 0)
    for i, s in enumerate(steps[1:], start=1):
        step_idx = step_idx.when(F.col(type_col) == s, i)
    evs = (df.where(F.col(type_col).isin(list(steps)))
             .select(F.col(user).alias("u"),
                     F.unix_micros(F.col(ts)).alias("us"),
                     step_idx.cast("int").alias("si")))
    arr = F.sort_array(F.collect_list(F.struct("us", "si")))
    init = F.struct(F.lit(0).cast("int").alias("reached"),
                    F.lit(-1).cast("long").alias("last_us"),
                    F.lit(-1).cast("long").alias("first_us"))
    fold = F.aggregate(
        arr, init,
        lambda acc, x: F.when(
            (x["si"] == acc["reached"])
            & ((acc["reached"] == F.lit(0)) | (x["us"] > acc["last_us"])),
            F.struct((acc["reached"] + F.lit(1)).cast("int")
                     .alias("reached"),
                     x["us"].alias("last_us"),
                     F.when(acc["reached"] == F.lit(0), x["us"])
                      .otherwise(acc["first_us"]).alias("first_us"))
        ).otherwise(acc))
    done = (evs.groupBy("u").agg(fold.alias("st"))
               .where(F.col("st.reached") == len(steps))
               .select("u", (F.col("st.last_us") - F.col("st.first_us"))
                       .alias("latency_us")))
    # the two-phase pick is `histogram.exact_quantiles` (extracted
    # r11): distinct-value counts pinned (the fold above
    # runs once), bounded HDR bucket CDF, per-pct in-bucket order
    # statistic — no global rank window at any cohort size
    res = exact_quantiles(done.select("latency_us"), "latency_us",
                          percentiles)
    return (res.select("pct",
                       F.col("value").alias("latency_us"),
                       F.col("n").alias("n_converted"))
               .orderBy("pct"))


def attribution_last_touch(df: DataFrame, *,
                           conversion: str = "purchase",
                           user: str = "user_id", ts: str = "ts",
                           type_col: str = "event_type",
                           tie_col: str = "event_id",
                           value: str = "value") -> DataFrame:
    """Last-touch marketing attribution: every conversion event is
    credited to the user's most recent PRIOR non-conversion event type
    (strictly before in (ts, tie) order; conversions with no prior
    touch credit 'direct'). One window shuffle on the user key — the
    frame [unbounded, -1 row] with ignore-nulls last() is the exact
    "carry the latest touch forward" scan, no self-join.

    Output: (channel, n_conversions, revenue_c) — conversion value on
    the cents grid."""
    from pyspark.sql import Window
    w = (Window.partitionBy(user).orderBy(ts, tie_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(F.when(F.col(type_col) != conversion,
                          F.col(type_col)), ignorenulls=True).over(w)
    return (df.withColumn("_touch", touch)
              .where(F.col(type_col) == conversion)
              .groupBy(F.coalesce(F.col("_touch"), F.lit("direct"))
                        .alias("channel"))
              .agg(F.count("*").alias("n_conversions"),
                   F.sum(F.round(F.col(value) * 100).cast("long"))
                    .alias("revenue_c")))


def attribution_linear(df: DataFrame, *,
                       conversion: str = "purchase",
                       user: str = "user_id", ts: str = "ts",
                       type_col: str = "event_type",
                       tie_col: str = "event_id",
                       value: str = "value") -> DataFrame:
    """Linear multi-touch attribution: every conversion splits its
    credit EQUALLY across all non-conversion touches on the user's
    path since their previous conversion (exclusive) — the standard
    linear model, next to `attribution_last_touch`'s winner-takes-all.

    Exact-integer conservation: each conversion carries 10000 credit
    basis points and its cents-grid revenue; a path of n touches gets
    ``x div n`` each with the REMAINDER assigned to the earliest touch
    (deterministic tie rule), so per-conversion totals conserve
    exactly — Σ credit_bp over the output = 10000 · n_conversions.
    Pathless conversions credit 'direct' in full.

    Plan shape: ONE window pass on the user key assigns every row its
    conversion-segment index (running count of conversions), then
    touches equi-join conversions on (user, segment) — co-partitioned
    by the same key, no self-join explosion, no per-row Python.

    Output: (channel, n_touches, credit_bp, revenue_c).
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(user).orderBy(ts, tie_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    is_conv = F.col(type_col) == conversion
    seg = F.sum(is_conv.cast("int")).over(w).alias("_seg")
    rows = df.select(user, ts, tie_col, type_col, value, seg)
    convs = (rows.where(F.col(type_col) == conversion)
                 .select(F.col(user).alias("_u"),
                         F.col("_seg").alias("_cidx"),
                         F.round(F.col(value) * 100).cast("long")
                          .alias("_cents")))
    touches = (rows.where(F.col(type_col) != conversion)
                   .select(user, ts, tie_col, type_col,
                           (F.col("_seg") + 1).alias("_cidx")))
    wt = (Window.partitionBy(user, "_cidx").orderBy(ts, tie_col))
    joined = (touches
              .join(convs, (touches[user] == convs["_u"])
                    & (touches["_cidx"] == convs["_cidx"]))
              .drop(convs["_cidx"]).drop("_u")
              .withColumn("_rn", F.row_number().over(wt))
              .withColumn("_n", F.count("*").over(
                  Window.partitionBy(user, "_cidx"))))
    per_touch = (joined.withColumn(
        "credit_bp",
        F.expr("10000 div _n")
        + F.when(F.col("_rn") == 1, F.expr("10000 % _n")).otherwise(0))
        .withColumn(
        "rev_c",
        F.expr("_cents div _n")
        + F.when(F.col("_rn") == 1, F.expr("_cents % _n")).otherwise(0)))
    credited = (per_touch.groupBy(F.col(type_col).alias("channel"))
                .agg(F.count("*").alias("n_touches"),
                     F.sum("credit_bp").cast("long").alias("credit_bp"),
                     F.sum("rev_c").cast("long").alias("revenue_c")))
    # conversions whose path had no touches → full credit to 'direct'
    direct = (convs.join(touches.select(F.col(user).alias("_u"),
                                        "_cidx").distinct(),
                         ["_u", "_cidx"], "left_anti")
                   .agg(F.count("*").alias("n_touches"),
                        (F.count("*") * 10000).alias("credit_bp"),
                        F.sum("_cents").alias("revenue_c"))
                   .select(F.lit("direct").alias("channel"),
                           F.col("n_touches").cast("long"),
                           F.col("credit_bp").cast("long"),
                           F.coalesce(F.col("revenue_c"), F.lit(0))
                            .cast("long").alias("revenue_c"))
                   .where(F.col("n_touches") > 0))
    return credited.unionByName(direct)


def event_sequences(df: DataFrame, *, length: int = 3,
                    user: str = "user_id", ts: str = "ts",
                    type_col: str = "event_type",
                    tie_col: str = "event_id") -> DataFrame:
    """Frequent consecutive event-type sequences (path mining): every
    run of ``length`` consecutive events per user becomes one
    n-gram; output each observed sequence with its support count.

    One window shuffle on the user key (``length−1`` leads over the
    same sorted frame share one sort); counting is a map-side-combined
    groupBy on the bounded sequence space (|types|^length keys).

    Output: (step_1..step_N, n_occurrences).
    """
    from pyspark.sql import Window
    w = Window.partitionBy(user).orderBy(ts, tie_col)
    steps = [F.col(type_col).alias("step_1")]
    for i in range(1, length):
        steps.append(F.lead(type_col, i).over(w).alias(f"step_{i + 1}"))
    grams = (df.select(*steps)
               .where(F.col(f"step_{length}").isNotNull()))
    return (grams.groupBy(*[f"step_{i + 1}" for i in range(length)])
                 .agg(F.count("*").alias("n_occurrences")))
