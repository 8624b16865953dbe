"""HDR-style mergeable quantile histogram (all-integer, bit-exact).

The 100 TB quantile problem: exact order statistics need a global
sort or a two-phase rank search per quantile; sketches (t-digest,
KLL) answer any quantile from a tiny mergeable summary but are
randomized.  The HdrHistogram family (Tene's High Dynamic Range
histogram, the latency-pipeline standard) is the DETERMINISTIC
member: bucket a non-negative integer value by (exponent, top
``sub_bits`` mantissa bits), giving bounded RELATIVE error
2^-sub_bits with a bucket count that grows only logarithmically with
the value range.  Every operation here is integer bit arithmetic —
reproducible in any engine, so the sketch itself can be
oracle-verified, not just its answers.

- bucket(v) for v < 2^s is v itself (small values are EXACT);
  otherwise e = bit_length(v)-1 and the bucket packs
  (e-s)·2^s + (v >> (e-s)), i.e. the leading 1+s bits of v.
- bucket bounds reconstruct by reversing the shift; estimates can be
  the bucket's lo / hi / midpoint — all integers.
- Merge = per-bucket count sum (groupBy-sum is already the shape).
- Quantile q (basis points) = value bound of the first bucket whose
  cumulative count reaches ceil(n·q/10000) — nearest-rank applied to
  the sketch.

Scale shape: one map-side-combined groupBy on the bucket id (at most
(64−s)·2^s keys — ~1.9k for s=5 over the full BIGINT range), then an
ordered window over that BOUNDED bucket frame for the CDF.  Nothing
row-scale ever shuffles; per-shard histograms union-merge with one
more bounded groupBy.

Quantile entry points — which to use (the r11 audit's table):

====================================  =================================
entry point                           guarantee
====================================  =================================
``exact_quantiles`` (this module)     EXACT global order statistics —
                                      two-phase selection, no global
                                      sort; the engine behind
                                      ``funnel.funnel_latency`` and
                                      ``EventFrame.quantiles(
                                      exact=True)``.
``hdr_histogram`` + ``hdr_quantiles`` SKETCH — deterministic,
                                      HDR-BOUNDED (2^-sub_bits
                                      relative error); SQL-composable
                                      via the registered
                                      ``hdr_bucket(v)`` function;
                                      ``EventFrame.quantiles(
                                      exact=False)``.
``sampling.group_quantiles``          EXACT per-group discrete
                                      quantiles (per-GROUP window
                                      sort — group-scale partitions,
                                      never a global window).
``profile.rfm_segments``              exact on the per-entity frame;
                                      documented HDR fallback at
                                      extreme entity counts.
====================================  =================================

Anything else in the repo claiming percentiles routes through one of
these four; new call sites must say which guarantee they inherit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def hdr_bucket_sql(col: str, sub_bits: int = 5) -> str:
    """SQL expression for the HDR bucket id of non-negative BIGINT
    ``col`` — kept as a plain string so the DuckDB oracle can embed
    the IDENTICAL expression (bin()/trim bit-length, shiftright)."""
    s = sub_bits
    bl = f"length(trim(LEADING '0' FROM bin({col})))"
    return (f"CASE WHEN {col} < {1 << s} THEN {col} "
            f"ELSE ({bl} - 1 - {s}) * {1 << s} "
            f"+ shiftright({col}, CAST({bl} - 1 - {s} AS INT)) END")


def hdr_bounds_sql(bucket: str, sub_bits: int = 5) -> tuple[str, str]:
    """SQL expressions for the inclusive (lo, hi) bounds of a bucket."""
    s = sub_bits
    # bucket = (e-s)·2^s + mant with mant ∈ [2^s, 2^(s+1)), so the
    # exponent part is (bucket div 2^s) − 1, not bucket div 2^s
    e = f"(({bucket} div {1 << s}) - 1)"             # e - s
    mant = f"({bucket} % {1 << s} + {1 << s})"       # 1+s leading bits
    lo = (f"CASE WHEN {bucket} < {1 << s} THEN {bucket} "
          f"ELSE shiftleft({mant}, CAST({e} AS INT)) END")
    hi = (f"CASE WHEN {bucket} < {1 << s} THEN {bucket} "
          f"ELSE shiftleft({mant} + 1, CAST({e} AS INT)) - 1 END")
    return lo, hi


def hdr_histogram(df: DataFrame, col: str, sub_bits: int = 5) -> DataFrame:
    """Histogram of non-negative BIGINT ``df[col]``: one row per
    occupied bucket, (bucket, lo, hi, cnt).  Negative input violates
    the contract and raises in-plan (no silent clamping)."""
    guarded = F.when(F.col(col) < 0, F.expr(
        f"raise_error('hdr_histogram: negative value in {col}')")
    ).otherwise(F.col(col).cast("long")).alias("v")
    hist = (df.select(guarded)
              .select(F.expr(hdr_bucket_sql("v", sub_bits)).cast("long")
                       .alias("bucket"))
              .groupBy("bucket")
              .agg(F.count("*").alias("cnt")))
    lo, hi = hdr_bounds_sql("bucket", sub_bits)
    return hist.select("bucket",
                       F.expr(lo).cast("long").alias("lo"),
                       F.expr(hi).cast("long").alias("hi"),
                       "cnt")


def hdr_quantiles(hist: DataFrame, quantiles_bp: list[int],
                  value: str = "hi") -> DataFrame:
    """Nearest-rank quantiles from a histogram.

    For each q in basis points: the first bucket, in value order,
    whose cumulative count reaches ceil(n·q/10000); the estimate is
    that bucket's ``value`` bound ("hi" = conservative upper bound,
    "lo", or "mid").  The single-partition window is over the BOUNDED
    bucket frame (≤ ~2k rows) — safe by construction, not accident.
    """
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    val = {"lo": F.col("lo"), "hi": F.col("hi"),
           "mid": (F.col("lo")
                   + F.expr("(hi - lo) div 2")).cast("long")}[value]
    cdf = (hist.withColumn("cum", F.sum("cnt").over(w))
               .withColumn("n", F.sum("cnt").over(
                   Window.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing)))
               .withColumn("val", val)
               .select("bucket", "val", "cum", "n"))
    qs = (hist.sparkSession.range(1)
              .select(F.explode(F.array(
                  *[F.lit(int(q)) for q in quantiles_bp])).alias("q_bp")))
    ranked = (cdf.crossJoin(F.broadcast(qs))
                 # ceil(n·q/1e4) for positives; (a+9999) div 10000 is
                 # trunc/floor-agnostic, so any engine mirrors it
                 .withColumn("rank",
                             F.expr("(q_bp * n + 9999) div 10000"))
                 .where(F.col("cum") >= F.col("rank")))
    return (ranked.groupBy("q_bp")
                  .agg(F.min_by("val", "bucket").alias("estimate"),
                       F.min("n").alias("n")))


def hdr_grouped(df: DataFrame, col: str, dims: list[str],
                sub_bits: int = 5) -> DataFrame:
    """Per-(dims, bucket) HDR cell table — the mergeable grouped
    histogram state: ONE map-side-combined aggregate over raw rows;
    everything downstream (rollup levels, quantiles) runs on this
    bounded frame (≤ groups × ~2k buckets)."""
    guarded = F.when(F.col(col) < 0, F.expr(
        f"raise_error('hdr_grouped: negative value in {col}')")
    ).otherwise(F.col(col).cast("long")).alias("v")
    cells = (df.select(*dims, guarded)
               .select(*dims,
                       F.expr(hdr_bucket_sql("v", sub_bits)).cast("long")
                        .alias("bucket"))
               .groupBy(*dims, "bucket")
               .agg(F.count("*").alias("cnt")))
    lo, hi = hdr_bounds_sql("bucket", sub_bits)
    return cells.select(*dims, "bucket",
                        F.expr(lo).cast("long").alias("lo"),
                        F.expr(hi).cast("long").alias("hi"), "cnt")


def hdr_rollup(cells: DataFrame, dims: list[str],
               grouping_sets: list[tuple[str, ...]],
               quantiles_bp: list[int], *,
               value: str = "hi") -> DataFrame:
    """Latency-percentile CUBE from ONE histogram pass: the grouped
    cell table re-aggregates (bucket-wise count SUM — histogram merge
    IS addition) for every grouping set, then nearest-rank quantiles
    read off each group's bucket CDF.  The sketch twin of
    `sketch.hll_rollup`: expensive pass over raw data once, every
    rollup level bounded-keyspace work — the only way a p99 cube is
    computable at 100 TB without re-scanning per level.

    Output: dims (NULL where rolled up), level, q_bp, n, estimate.
    """
    from pyspark.sql import Window
    cells = materialize(cells)
    val = {"lo": F.col("lo"), "hi": F.col("hi"),
           "mid": (F.col("lo")
                   + F.expr("(hi - lo) div 2")).cast("long")}[value]
    qs = (cells.sparkSession.range(1)
               .select(F.explode(F.array(
                   *[F.lit(int(q)) for q in quantiles_bp])).alias("q_bp")))
    outs = []
    for gs in grouping_sets:
        keep = [d for d in dims if d in gs]
        h = (cells.groupBy(*keep, "bucket")
                  .agg(F.min("lo").alias("lo"), F.min("hi").alias("hi"),
                       F.sum("cnt").alias("cnt")))
        wc = (Window.partitionBy(*keep).orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, 0))
        wn = (Window.partitionBy(*keep)
                    .rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing))
        cdf = (h.withColumn("cum", F.sum("cnt").over(wc))
                .withColumn("n", F.sum("cnt").over(wn))
                .withColumn("val", val))
        ranked = (cdf.crossJoin(F.broadcast(qs))
                     .withColumn("rank",
                                 F.expr("(q_bp * n + 9999) div 10000"))
                     .where(F.col("cum") >= F.col("rank")))
        sel = []
        for d in dims:
            if d in gs:
                sel.append(F.col(d).cast("string").alias(d))
            else:
                sel.append(F.lit(None).cast("string").alias(d))
        outs.append(
            ranked.groupBy(*keep, "q_bp")
                  .agg(F.min_by("val", "bucket").alias("estimate"),
                       F.min("n").alias("n"))
                  .select(*sel, F.lit(",".join(keep)).alias("level"),
                          "q_bp", F.col("n").cast("long").alias("n"),
                          F.col("estimate").cast("long")
                           .alias("estimate")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def exact_quantiles(df: DataFrame, value_col: str,
                    percentiles: tuple[int, ...] | list[int],
                    *, sub_bits: int = 5) -> DataFrame:
    """EXACT global order-statistic percentiles with NO global sort —
    the two-phase selection the r11 funnel rewrite introduced, as a
    reusable operator (``funnel_latency`` delegates here). Where
    `hdr_quantiles` answers from the lossy sketch (bucket bound,
    2^-sub_bits relative error), this drills into the winning buckets
    and returns the true value at rank ⌈n·p/100⌉ (lower order
    statistic, ties irrelevant: the value at a rank is determined by
    the value multiset).

    1. per-distinct-value counts — one value-cardinality-scale
       shuffle, lazily checkpointed so upstream runs once;
    2. HDR bucket CDF over the ≤ ~2k-row bounded bucket frame (the
       module's standard argument) locates each percentile's bucket
       and residual rank;
    3. the exact pick runs only inside the ≤ |percentiles| selected
       buckets, window partitioned per pct.

    Contract: ``value_col`` is non-negative BIGINT (same as
    `hdr_histogram` — negatives raise in-plan, no silent clamping);
    percentiles are integers in (0, 100], deduplicated. Output:
    (pct, value, n), n = total row count, ordered by pct; empty
    input → empty output.
    """
    guarded = F.when(F.col(value_col) < 0, F.expr(
        f"raise_error('exact_quantiles: negative value in {value_col}')")
    ).otherwise(F.col(value_col).cast("long")).alias("v")
    vals = materialize(df.select(guarded)
                         .groupBy("v").agg(F.count("*").alias("cnt"))
                         .withColumn("_bkt",
                                     F.expr(hdr_bucket_sql("v", sub_bits))
                                      .cast("long")), eager=False)
    bt = vals.groupBy("_bkt").agg(F.sum("cnt").alias("bcnt"))
    bw = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    cdf = (bt.withColumn("cum", F.sum("bcnt").over(bw))
             .withColumn("n", F.sum("bcnt").over(
                 Window.rowsBetween(Window.unboundedPreceding,
                                    Window.unboundedFollowing))))
    spark = df.sparkSession
    pcts = spark.createDataFrame(
        [(int(p),) for p in sorted(set(percentiles))], "pct int")
    targets = (cdf.crossJoin(F.broadcast(pcts))
                  .withColumn("rank", F.expr("(n * pct + 99) div 100"))
                  .where((F.col("cum") >= F.col("rank"))
                         & (F.col("cum") - F.col("bcnt") < F.col("rank")))
                  .select("pct", "_bkt",
                          (F.col("rank") - F.col("cum") + F.col("bcnt"))
                          .alias("_resid"), "n"))
    wv = (Window.partitionBy("pct").orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0))
    return (vals.join(F.broadcast(targets), "_bkt")
                .withColumn("_vcum", F.sum("cnt").over(wv))
                .where(F.col("_vcum") >= F.col("_resid"))
                .groupBy("pct")
                .agg(F.min("v").alias("value"),
                     F.min("n").cast("long").alias("n"))
                .orderBy("pct"))


def gini_ppm(df: DataFrame, value_col: str, *,
             partitions: int | None = None) -> DataFrame:
    """EXACT Gini coefficient of a non-negative BIGINT column with NO
    global sort — inequality / concentration profiling ("how skewed
    is spend per customer / tokens per source?"). NULL values are
    excluded (standard SQL-aggregate semantics); negatives raise
    in-plan.

    Formula (ties handled by consecutive-rank blocks): with values
    sorted ascending and a_v = count of rows strictly below distinct
    value v (m_v of them), the rank-weighted sum is
    ``T = Σ_v v·(m_v·a_v + m_v(m_v+1)/2)`` and
    ``G = (2T − (n+1)S) / (nS)`` with S = Σ v. The per-value block
    term m·a + m(m+1)/2 stays int64 (≤ n² rows² — exact to ~3e9
    rows); the v-weighted sums T, S promote to DECIMAL(38,0)
    (128-bit exact — v_max·n²/2 overflows int64 already at 60M
    1e7-cent rows, which ANSI mode correctly refused instead of
    wrapping), mirroring DuckDB's HUGEINT sums integer-for-integer;
    ONE double division at the end, floored to ppm (the
    assortativity posture).

    Scale shape: the prefix count a_v is a TWO-PHASE distributed
    prefix sum in VALUE order. Phase-1 buckets come from a SAMPLED
    RANGE PARTITIONING of the per-distinct-value frame
    (``repartitionByRange(P, v)`` → monotone ``spark_partition_id``)
    rather than any fixed arithmetic of v — so the driver-side
    offsets collect is exactly ≤ P rows REGARDLESS of the value
    domain (cents, nanoseconds, or 63-bit hashes all alike — the
    r11 weak mark was `v div 65536` collecting one row per occupied
    64Ki-wide stripe, unbounded for hash-valued columns), and the
    sampled boundaries balance per-bucket window sizes even for
    pathologically clustered domains. The frame is lazily
    checkpointed so the sampled boundaries are computed once and the
    offsets collect + the per-bucket window provably see the SAME
    bucket ids. Phase-2 is the per-bucket value-order window +
    broadcast offsets; never a global single-partition window (the
    funnel_latency lesson). Output: one row (n, gini_ppm).
    """
    spark = df.sparkSession
    nparts = int(partitions
                 or spark.conf.get("spark.sql.shuffle.partitions", "200"))
    guarded = F.when(F.col(value_col) < 0, F.expr(
        f"raise_error('gini_ppm: negative value in {value_col}')")
    ).otherwise(F.col(value_col).cast("long")).alias("v")
    # materialize the per-distinct-value aggregate BEFORE the range
    # exchange: repartitionByRange's boundary-sampling pass otherwise
    # executes the whole scan+aggregate a SECOND time just to pick
    # boundaries (r13 A/B: two full aggregate executions per call) —
    # checkpointed, the sampler and the shuffle both read the ≤
    # |distinct v| narrow blocks
    per_v0 = materialize(df.where(F.col(value_col).isNotNull())
                           .select(guarded)
                           .groupBy("v").agg(F.count("*").alias("m")))
    per_v = materialize(
        per_v0.repartitionByRange(nparts, "v")
              .withColumn("_bk", F.spark_partition_id().cast("long")),
        eager=False)
    # phase-1 bucket offsets IN-PLAN: an exclusive prefix sum over the
    # ≤ nparts bucket totals (single-partition window over ≤ P rows —
    # the bounded size the offsets collect already guaranteed), then
    # broadcast back. No driver transfer at all; the lazy checkpoint
    # above still pins ONE range shuffle that both branches share.
    woff = (Window.orderBy("_bk")
                  .rowsBetween(Window.unboundedPreceding, -1))
    off = (per_v.groupBy("_bk").agg(F.sum("m").alias("_t"))
                .select("_bk", F.coalesce(F.sum("_t").over(woff),
                                          F.lit(0)).alias("_off")))
    w = (Window.partitionBy("_bk").orderBy("v")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (per_v.withColumn("_cum", F.sum("m").over(w))
                   .join(F.broadcast(off), "_bk")
                   .withColumn("a", F.col("_cum") + F.col("_off")
                               - F.col("m")))
    dec = "DECIMAL(38, 0)"
    agg = ranked.agg(
        F.sum("m").alias("n"),
        F.sum(F.expr(f"CAST(v AS {dec}) * CAST(m AS {dec})")).alias("s"),
        F.sum(F.expr(f"CAST(v AS {dec}) * CAST(m * a "
                     f"+ (m * (m + 1)) div 2 AS {dec})")).alias("t"))
    return agg.select(
        # empty input: the global agg yields one all-NULL row; n
        # coalesces to 0 so the (n=0, gini=0) contract row survives
        # the in-plan offsets rewrite (the old driver-collect path
        # special-cased emptiness)
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.when((F.col("n") > 0) & (F.col("s") > 0),
               F.expr(f"CAST(floor(CAST(2 * t - (CAST(n AS {dec}) + 1) "
                      f"* s AS DOUBLE) * CAST(1000000 AS DOUBLE) "
                      f"/ (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))) "
                      f"AS BIGINT)"))
         .otherwise(F.lit(0)).cast("long").alias("gini_ppm"))
