"""Robust outlier detection (median / MAD), exact-integer form.

The production outlier rule for metric streams is the robust z-score:
flag x when |x − median| > k·MAD (median absolute deviation). Unlike
mean/stddev it doesn't let the outliers poison their own detector —
and unlike a float z-score it can be computed EXACTLY here: values
ride the cents grid (round(x·100) BIGINT, the repo-wide money trick),
medians are order statistics (lower median — the element at position
⌈n/2⌉ under a total order), and the flag test |v−med| > k·MAD is
pure integer comparison. No float appears anywhere, so the result is
bit-exact in any engine.

Scale shape: one shuffle on the group key, then two window passes
(value rank, deviation rank) over the same partitioning — Spark
reuses the exchange; the med/MAD frames are group-cardinality-sized
and broadcast back. Skewed groups are single-partition sorts — the
same hazard class as any per-key window (AQE cannot split a window
partition); at extreme per-key volume the two medians would move to
a two-pass quantile-cut, trading exactness for balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def robust_outliers(df: DataFrame, group: str, value: str, key: str, *,
                    k: int = 3) -> DataFrame:
    """Rows where |value_c − median| > k·MAD within their group
    (value_c = round(value·100) cents). Output: (key, group, value_c,
    med_c, mad_c, dev) — every column an exact BIGINT."""
    base = df.select(
        F.col(key), F.col(group),
        F.round(F.col(value) * 100).cast("long").alias("value_c"))
    th = robust_thresholds(df, group, value, key)
    return (base.join(F.broadcast(th), group)
                .withColumn("dev",
                            F.abs(F.col("value_c") - F.col("med_c")))
                .where(F.col("dev") > F.lit(k) * F.col("mad_c"))
                .select(key, group, "value_c", "med_c", "mad_c", "dev"))


def robust_thresholds(df: DataFrame, group: str, value: str,
                      key: str) -> DataFrame:
    """The offline 'model' behind `robust_outliers`: per-group
    ``(group, med_c, mad_c)`` on the cents grid (lower medians as
    order statistics, tie-broken by ``key``). Fit once on the batch
    corpus, then score anywhere — including statelessly at ingest
    (`streaming.stream.stream_score_outliers`).

    ONE corpus shuffle (r14, guide §2.4 — consecutive windows on the
    same partition key share the exchange): the median is attached to
    every row analytically (``max(when(rn == target, v))`` over the
    unbounded group window — the value at row (n + 1) div 2 under
    ORDER BY (value, key), without a (group, med) join-back), the MAD
    chain re-sorts the SAME group partitions by dev, and the
    thresholds fall out of a final group aggregate that is already
    co-partitioned. The previous med-join-mad form paid two corpus
    window shuffles + a join and scanned the input twice."""
    from pyspark.sql import Window
    base = df.select(
        F.col(key), F.col(group),
        F.round(F.col(value) * 100).cast("long").alias("value_c"))
    wc = Window.partitionBy(group)
    wv = wc.orderBy(F.col("value_c"), F.col(key))
    rows = (base.withColumn("_rn", F.row_number().over(wv))
                .withColumn("_n", F.count("*").over(wc))
                .withColumn("med_c", F.max(F.when(
                    F.col("_rn") == F.expr("(_n + 1) div 2"),
                    F.col("value_c"))).over(wc))
                .withColumn("dev", F.abs(F.col("value_c")
                                         - F.col("med_c"))))
    wd = wc.orderBy(F.col("dev"), F.col(key))
    rows = (rows.withColumn("_rn2", F.row_number().over(wd))
                .withColumn("mad_c", F.max(F.when(
                    F.col("_rn2") == F.expr("(_n + 1) div 2"),
                    F.col("dev"))).over(wc)))
    return (rows.groupBy(group)
                .agg(F.max("med_c").alias("med_c"),
                     F.max("mad_c").alias("mad_c")))


def cusum_alerts(df, key: str, ts: str, value: str, tie_col: str, *,
                 k_c: int, h_c: int):
    """One-sided CUSUM changepoint detector per key, in CLOSED FORM.

    The textbook recursion s_i = max(0, s_{i-1} + (x_i − k)) looks
    sequential (a per-row loop — the scale killer), but has the exact
    closed form s_i = P_i − min(0, min_{j≤i} P_j) where P is the
    running prefix sum of (x_i − k): two stacked window functions over
    ONE shuffle on the key, no recursion, no Python. Values ride the
    cents grid, so s is an exact integer and the alert predicate
    (s > h) is integer comparison — bit-stable in any engine.

    ``k_c`` (reference/slack, cents) tunes what counts as drift;
    ``h_c`` (decision threshold, cents) tunes sensitivity. Output:
    alert rows (tie, key, value_c, s_c) — rows where the accumulated
    positive drift since the last reset exceeds h_c."""
    from pyspark.sql import Window
    vc = F.round(F.col(value) * 100).cast("long")
    base = df.select(F.col(tie_col), F.col(key), vc.alias("value_c"),
                     F.col(ts).alias("_ts"))
    p = F.sum(F.col("value_c") - F.lit(k_c)).over(
        Window.partitionBy(key).orderBy("_ts", tie_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = base.withColumn("_p", p)
    run_min = F.min("_p").over(
        Window.partitionBy(key).orderBy("_ts", tie_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = out.withColumn(
        "s_c", F.col("_p") - F.least(F.lit(0).cast("long"), run_min))
    return (out.where(F.col("s_c") > h_c)
               .select(tie_col, key, "value_c", "s_c"))
