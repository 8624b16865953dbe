"""Time-bar resampling (OHLC candles) over event streams.

The canonical market-data / metrics rollup: per (series, time bucket)
emit open / high / low / close / volume. Complements the temporal
tier's `sessionize` and gap-fill: those reshape rows, this aggregates
them onto a regular time grid.

Exactness: values ride the cents grid (`round(v·100)` BIGINT); open
and close are picked by min/max over a (ts_us, tie, value) struct —
Spark orders structs lexicographically, so a unique tie column makes
the pick deterministic and oracle-mirrorable with row_number() — the
same first/last idiom the trajectory tier uses
(`operators/trajectory.py`). One shuffle on (series, bucket); every
aggregate is map-side combinable, so a 100 TB resample is one pass +
one exchange of the already-reduced per-bucket rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize

_US_PER_HOUR = 3_600_000_000


def ohlc_bars(df: DataFrame, *, series: str = "event_type",
              ts: str = "ts", value: str = "value",
              tie_col: str = "event_id",
              bucket_hours: int = 1) -> DataFrame:
    """``(series, bucket, open_c, high_c, low_c, close_c, n, vol_c)``
    per (series, ``bucket_hours``-hour epoch bucket); *_c columns are
    exact cents (BIGINT)."""
    us_per = bucket_hours * _US_PER_HOUR
    base = df.select(
        F.col(series).alias("series"),
        F.expr(f"unix_micros({ts}) div {us_per}").alias("bucket"),
        F.unix_micros(F.col(ts)).alias("_us"),
        F.col(tie_col).alias("_tie"),
        F.round(F.col(value) * 100).cast("long").alias("_vc"))
    first = F.min(F.struct("_us", "_tie", "_vc"))
    last = F.max(F.struct("_us", "_tie", "_vc"))
    return (base.groupBy("series", "bucket")
                .agg(first.getField("_vc").alias("open_c"),
                     F.max("_vc").alias("high_c"),
                     F.min("_vc").alias("low_c"),
                     last.getField("_vc").alias("close_c"),
                     F.count("*").alias("n"),
                     F.sum("_vc").alias("vol_c")))


def rolling_window_sum(df: DataFrame, *, key: str = "user_id",
                       ts: str = "ts", value: str = "value",
                       tie_col: str = "event_id",
                       hours: int = 24) -> DataFrame:
    """Trailing event-time rolling aggregate per key: for every row,
    count + exact cents-sum of that key's rows in the closed interval
    [t − hours, t]. A RANGE window frame on the micro-epoch axis —
    one shuffle on the key, no self-join (the naive form is a range
    self-join that re-reads the fact table twice and explodes
    pair-wise; the frame form is a single sorted scan per key).

    Ties: a RANGE frame includes ALL peer rows with the same
    event-time in both Spark and ANSI SQL, so equal-timestamp rows see
    each other symmetrically — deterministic without a tie column in
    the frame itself (``tie_col`` only stabilizes output identity).

    Output: (tie, key, ts_us, value_c, roll_n, roll_sum_c)."""
    from pyspark.sql import Window
    span = hours * _US_PER_HOUR
    base = df.select(F.col(tie_col), F.col(key),
                     F.unix_micros(F.col(ts)).alias("ts_us"),
                     F.round(F.col(value) * 100).cast("long")
                      .alias("value_c"))
    w = (Window.partitionBy(key).orderBy("ts_us")
         .rangeBetween(-span, 0))
    return (base.withColumn("roll_n", F.count("*").over(w))
                .withColumn("roll_sum_c", F.sum("value_c").over(w)))


def time_weighted_avg(df: DataFrame, *, key: str = "event_type",
                      ts: str = "ts", value: str = "value",
                      tie_col: str = "event_id") -> DataFrame:
    """Time-weighted average per key: each observation holds until the
    next one (left-continuous step function), so
    TWA = Σ vᵢ·(tᵢ₊₁ − tᵢ) div (t_last − t_first) — the metric that
    makes irregular samples comparable (a plain AVG over-weights
    bursts).

    Exactness + overflow honesty: the weighted sum is BIGINT
    cents·micro-seconds; Σdt telescopes to the key's SPAN, so the sum
    is bounded by max_value_c · span_us (≈1.3e17 for $490 over a
    month) — far under BIGINT, but a multi-year span at large values
    approaches 2⁶³: switch ``ts`` to milli-epoch upstream for decade
    spans. Single-observation keys have span 0 and report NULL (the
    step function is undefined), mirrored by an explicit CASE.

    One shuffle on the key: lead() window for the holding interval,
    then one aggregate. Output: (key, n, span_us, twa_c)."""
    from pyspark.sql import Window
    w = Window.partitionBy(key).orderBy("ts_us", tie_col)
    base = df.select(F.col(key), F.col(tie_col),
                     F.unix_micros(F.col(ts)).alias("ts_us"),
                     F.round(F.col(value) * 100).cast("long")
                      .alias("value_c"))
    held = base.withColumn(
        "dt_us", F.lead("ts_us").over(w) - F.col("ts_us"))
    return (held.groupBy(key)
                .agg(F.count("*").alias("n"),
                     (F.max("ts_us") - F.min("ts_us")).alias("span_us"),
                     F.sum(F.col("value_c") * F.col("dt_us"))
                      .alias("_wsum"))
                .select(key, "n", "span_us",
                        F.when(F.col("span_us") > 0,
                               F.expr("_wsum div span_us"))
                         .cast("long").alias("twa_c")))


def autocorrelation(df: DataFrame, *, value_col: str, order_col: str,
                    lags: list[int]) -> DataFrame:
    """Autocorrelation of a regularly-indexed integer series at the
    given lags (the model-identification diagnostic for any metric
    series: seasonality shows as spikes at the period).

    The series must be integer-valued on a gapless integer index
    (resample first — e.g. hourly counts). For each lag L the moments
    over the n−L overlapping pairs (Σx, Σy, Σx², Σy², Σxy) are EXACT
    BIGINTs from one self-join on index+L (co-partitioned equi-join,
    no window over the whole series); the Pearson quotient is the
    one mirrored double chain, quantized to 1e-6.

    Output: (lag, n_pairs, acf_q6).
    """
    base = df.select(F.col(order_col).cast("long").alias("i"),
                     F.col(value_col).cast("long").alias("x"))
    # each lag consumes base twice (probe + shifted side): pin the
    # resampled series once or Catalyst re-runs the upstream
    # aggregate 2·|lags| times (the pmi repeated-scan lesson)
    base = materialize(base)
    parts = []
    for lag in lags:
        lead = base.select((F.col("i") - lag).alias("i"),
                           F.col("x").alias("y"))
        m = (base.join(lead, "i")
                 .agg(F.count("*").alias("n"),
                      F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                      F.sum(F.col("x") * F.col("x")).alias("sxx"),
                      F.sum(F.col("y") * F.col("y")).alias("syy"),
                      F.sum(F.col("x") * F.col("y")).alias("sxy")))
        corr = (
            "CAST(round(1000000.0 * ("
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            ")) AS BIGINT)")
        parts.append(m.select(F.lit(lag).alias("lag"),
                              F.col("n").cast("long").alias("n_pairs"),
                              F.expr(corr).alias("acf_q6")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def seasonal_naive_backtest(df: DataFrame, *, key: str, ts: str,
                            value_expr, split_day: str,
                            period_hours: int = 168) -> DataFrame:
    """Backtest of the seasonal-naive forecast (ŷ_t = y_{t−period}) —
    the baseline every forecasting system must beat, evaluated the
    way a production backtest runs: train on history before
    ``split_day``, score each test hour against the LAST same-phase
    train hour, report exact integer MAE/bias on the value grid.

    All arithmetic is integer (cents sums, counts, abs/diff); the
    only division is the final mean, kept as (sum, n) pairs PLUS a
    floor-divided mae_c/bias_c so the row is self-contained.

    Output per key: (key, n_test_hours, mae_c, bias_c).
    """
    hours = (df.select(F.col(key).alias("k"),
                       F.expr(f"unix_micros({ts}) div 3600000000")
                        .alias("h"),
                       value_expr.cast("long").alias("v"))
               .groupBy("k", "h").agg(F.sum("v").alias("hv")))
    # four consumers (train filter, test filter, phase max, forecast
    # values) would each re-run the hourly resample: pin it once —
    # the frame is bounded by keys × hours, not by event volume
    hours = materialize(hours)
    split_h = F.expr(
        f"unix_micros(to_timestamp('{split_day}')) div 3600000000")
    hours = hours.withColumn("_split", split_h)
    train = hours.where(F.col("h") < F.col("_split"))
    test = hours.where(F.col("h") >= F.col("_split"))
    # last same-phase train hour: phase = h % period; max train h per
    # (key, phase) — a bounded (keys × period) frame, broadcast back
    last_phase = (train
                  .withColumn("phase", F.expr(f"h % {period_hours}"))
                  .groupBy("k", "phase")
                  .agg(F.max("h").alias("h_train")))
    train_vals = train.select(F.col("k"), F.col("h").alias("h_train"),
                              F.col("hv").alias("v_hat"))
    scored = (test
              .withColumn("phase", F.expr(f"h % {period_hours}"))
              .join(F.broadcast(last_phase), ["k", "phase"])
              .join(train_vals, ["k", "h_train"]))
    # bias can be negative: Spark's `div` and DuckDB's `//` BOTH
    # truncate toward zero (verified −1995 vs −1994 during gate
    # bring-up), so plain integer division mirrors exactly
    return (scored.groupBy(F.col("k").alias(key))
            .agg(F.count("*").cast("long").alias("n_test_hours"),
                 F.expr("CAST(sum(abs(hv - v_hat)) div count(*) AS BIGINT)")
                  .alias("mae_c"),
                 F.expr("CAST(sum(hv - v_hat) div count(*) AS BIGINT)")
                  .alias("bias_c")))
