"""Multi-grain temporal rollup — GROUPING SETS in one scan.

Net-new vs the reference (timescale-style "continuous aggregate"
shape): one pass over the fact table produces day/month/year (any
grain list) rollups simultaneously via GROUPING SETS — Spark expands
the sets inside a single shuffle with partial aggregation, instead of
one scan + shuffle per grain. At 100 TB that's G× fewer scans for G
grains.

Money/double measures use the repo's integer-cents rule
(round(x·100)::bigint before summing) so results are independent of
float reduction order — oracle-hashable at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def multi_grain_rollup(df: DataFrame, ts_col: str, value_col: str,
                       grains: tuple[str, ...] = ("day", "month", "year"),
                       ) -> DataFrame:
    """→ (grain, bucket, n, total): one row per (grain, time-bucket).

    ``bucket`` is the truncated bucket start as epoch seconds (long —
    keeps the hash comparable across engines' timestamp renderings).
    Grain of each output row is recovered from which grouping column
    is non-null (un-grouped set members are NULL) — no grouping_id()
    portability concerns.
    """
    t = F.col(ts_col)
    pre = df.select(
        *[F.date_trunc(g.upper(), t).cast("long").alias(f"_g_{g}")
          for g in grains],
        F.col(value_col).alias("_v"))
    cols = [f"_g_{g}" for g in grains]
    grouped = pre.groupingSets([[c] for c in cols], *[F.col(c) for c in cols])
    agg = grouped.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("_v") * 100).cast("long")) / 100.0)
        .alias("total"))
    expr = None
    for g in grains:
        cond = F.col(f"_g_{g}").isNotNull()
        expr = F.when(cond, g) if expr is None else expr.when(cond, g)
    return agg.select(expr.alias("grain"),
                      F.coalesce(*cols).alias("bucket"), "n", "total") \
              .where(F.col("bucket").isNotNull())


def time_bucket_gapfill(df: DataFrame, key_col: str, ts_col: str,
                        value_col: str, *, step_s: int = 86400,
                        fill: str = "locf") -> DataFrame:
    """Timescale-style ``time_bucket_gapfill``: per-key equi-width time
    buckets with the EMPTY buckets materialized, counts zero-filled and
    the summed measure carried forward (``fill="locf"``) or left NULL
    (``fill="none"``).

    → (key, bucket, n, filled_c): bucket = epoch-seconds bucket start;
    filled_c = integer-cents sum (order-independent, oracle-hashable).

    Scale shape: one (key, bucket) hash aggregation; the gap lattice is
    `sequence(min_b, max_b)` PER KEY (explode is bounded by each key's
    own span — no global driver-side calendar); LOCF is a per-key
    ordered window — the partitionBy(key) keeps it off the
    single-partition global-window anti-pattern. Re-uses the (key)
    exchange for span + window stages.
    """
    if fill not in ("locf", "interp", "none"):
        raise ValueError(f"unknown fill mode: {fill!r}")
    b = (F.floor(F.col(ts_col).cast("long") / step_s) * step_s).alias("bucket")
    g = (df.where(F.col(ts_col).isNotNull())
           .groupBy(F.col(key_col).alias("k"), b)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col(value_col) * 100).cast("long"))
                 .alias("sc")))
    spans = g.groupBy("k").agg(F.min("bucket").alias("lo"),
                               F.max("bucket").alias("hi"))
    lattice = spans.select(
        "k", F.explode(F.sequence(F.col("lo"), F.col("hi"),
                                  F.lit(step_s))).alias("bucket"))
    out = (lattice.join(g, ["k", "bucket"], "left")
                  .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
    if fill in ("locf", "interp"):
        from pyspark.sql import Window
        wp = (Window.partitionBy("k").orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, 0))
        locf = F.last("sc", ignorenulls=True).over(wp)
        if fill == "locf":
            out = out.withColumn("filled_c", locf)
        else:
            # linear interpolation between the surrounding data
            # buckets; trailing gaps (no next) fall back to LOCF
            wn = (Window.partitionBy("k").orderBy("bucket")
                        .rowsBetween(0, Window.unboundedFollowing))
            db = F.when(F.col("sc").isNotNull(), F.col("bucket"))
            pv, pb = locf, F.last(db, ignorenulls=True).over(wp)
            nv = F.first("sc", ignorenulls=True).over(wn)
            nb = F.first(db, ignorenulls=True).over(wn)
            interp = F.round(
                pv.cast("double") +
                (nv - pv).cast("double") * (F.col("bucket") - pb)
                / (nb - pb)).cast("long")
            out = out.withColumn(
                "filled_c",
                F.when(F.col("sc").isNotNull(), F.col("sc"))
                 .when(nb.isNull(), pv)
                 .otherwise(interp))
    else:
        out = out.withColumn("filled_c", F.col("sc"))
    return out.select("k", "bucket", "n", "filled_c")
