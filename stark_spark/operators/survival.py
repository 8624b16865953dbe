"""Kaplan-Meier survival / retention curves.

The product-limit estimator (Kaplan & Meier 1958) — churn/retention
analysis in its statistically honest form: at each distinct event
time t, S(t) multiplies by (1 − d_t/n_t) where d_t = events at t and
n_t = subjects still at risk (duration ≥ t); right-censored subjects
(observation ended, no event) leave the risk set without an event.

Determinism: counts are exact integers; the survival curve is
reported in LOG space with each factor quantized to micro-nats
BEFORE the cumulative sum — round(1e6·ln((n−d)/n)) — the repo's
standard quantized-ln pattern (keyness, A-ES sampling): the one libm
call per distinct time, integer thereafter, so the running product
is an exact BIGINT sum cross-engine.

Scale shape: one groupBy on the (binned) duration plus one ordered
window over DISTINCT durations.  The window frame is
|distinct t|-sized, not subject-sized; callers bin durations to a
calendar grid (day/hour) at scale, which is also the statistically
sane resolution.  Risk sets come from a reverse cumulative sum — no
per-subject self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def kaplan_meier(df: DataFrame, *, duration: str = "duration",
                 event: str = "event",
                 max_distinct: int = 100_000) -> DataFrame:
    """KM curve from (duration ≥ 0 integer, event 0/1) rows.

    Output, one row per distinct duration with ≥1 observation, in
    time order: (t, n_risk, n_events, n_censored, log_surv_q6) where
    log_surv_q6 = Σ_{s ≤ t, d_s > 0} round(1e6·ln(1 − d_s/n_s)) —
    monotone non-increasing, 0 while nothing has happened;
    S(t) ≈ exp(log_surv_q6 / 1e6).  If at some t every remaining
    subject exits by event (n = d), ln(0) would be −∞: the row
    reports the sentinel minimum BIGINT instead (documented: the
    curve has hit zero).

    CONTRACT (r10 verdict stretch #7): the two ordered windows below
    are single-partition over the DISTINCT-duration frame — bounded
    only if the caller's duration grid is. Calendar-grid durations
    (days/hours — the statistically sane resolution) are fine;
    microsecond-raw durations on a large cohort are the funnel-rank
    anti-pattern. ``max_distinct`` is the tripwire: a bounded probe
    (reads at most max_distinct+1 distinct values, never a full
    count) raises with a bin-your-durations message instead of
    silently sorting an unbounded frame on one task. 0 disables.
    """
    per_t = (df.groupBy(F.col(duration).cast("long").alias("t"))
               .agg(F.sum(F.col(event).cast("long")).alias("n_events"),
                    F.sum(F.lit(1) - F.col(event).cast("long"))
                     .alias("n_censored"),
                    F.count("*").alias("n_obs")))
    if max_distinct:
        # pinned: the probe's count and the KM windows below share
        # one copy of the grouped frame instead of paying the input
        # scan + shuffle a second time (review r11)
        per_t = materialize(per_t)
    if max_distinct and (per_t.limit(max_distinct + 1).count()
                         > max_distinct):
        raise ValueError(
            f"kaplan_meier: more than max_distinct={max_distinct} "
            f"distinct durations — the KM windows would sort them on "
            f"a single task. Bin '{duration}' to a calendar grid "
            f"first (e.g. F.expr('{duration} div 86400') for days), "
            f"or raise max_distinct explicitly")
    w_after = (Window.orderBy("t")
               .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    w_upto = (Window.orderBy("t")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    term = F.when(
        F.col("n_events") == 0, F.lit(0).cast("long")
    ).when(
        F.col("n_risk") == F.col("n_events"),
        F.lit(-(1 << 62)).cast("long")          # S hit exactly zero
    ).otherwise(F.expr(
        "CAST(round(1000000.0 * ln(CAST(n_risk - n_events AS DOUBLE)"
        " / CAST(n_risk AS DOUBLE))) AS BIGINT)"))
    return (per_t
            .withColumn("n_risk", F.sum("n_obs").over(w_after))
            .withColumn("_term", term)
            .withColumn("log_surv_q6",
                        F.greatest(F.sum("_term").over(w_upto),
                                   F.lit(-(1 << 62)).cast("long")))
            .select("t", "n_risk", "n_events", "n_censored",
                    "log_surv_q6")
            .orderBy("t"))
