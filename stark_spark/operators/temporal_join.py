"""Temporal joins: binned interval join and as-of join.

The reference's only temporal join is the conjunct inside ST predicate
joins (SURVEY.md §2.3 "interval/temporal join exists only as the
temporal conjunct"); these two are the dedicated temporal family a
general engine needs, built on the same scale shape as the spatial
grid join:

* **interval_join** — intervals ⋈ instants/intervals by overlap.
  Physical plan = the 1-D analog of the grid join: explode each
  interval to the fixed-width TIME BINS it covers, equi-join on bin,
  native overlap refine, reference-point dedup (a pair is kept only
  in the bin containing the overlap start). Shuffle keys are small
  ints; AQE handles hot bins.
* **as_of_join** — for each left row, the LATEST right row with
  ``r.t <= l.t`` per key (the time-series join Spark lacks). Physical
  plan = union the tagged sides, one window ``last(ignorenulls)``
  sweep per key ordered by (t, side) — no per-key loop, no range
  self-join blow-up; state is one running row per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame, *,
                  bin_width: int, suffix: str = "_r",
                  how_right: str = "point",
                  open_ends: bool = True) -> DataFrame:
    """Overlap join on [t_start, t_end] intervals.

    NULL ``t_end`` = open interval [start, +inf) on EITHER side
    (reference `Interval.scala:10-16` allows ``end = None``). Open
    intervals are capped IN-PLAN (a broadcast 1-row agg, no driver
    action) at the max start bin of the OPPOSITE side: a pair's
    reference bin is ``floor(max(s_l, s_r)/w)``, and when the open
    side starts earlier that is the other side's start bin — so each
    side only needs the other side's max. The refine then applies the
    true NULL-as-infinity semantics. right: instants
    (``how_right='point'``, joined on t_start) or intervals
    (``'interval'``). ``bin_width`` in the time unit (seconds).

    ``open_ends=False`` is the caller's declaration that no ``t_end``
    is NULL (the reference knows this statically from its
    ``Option[end]``): the cap scans/broadcasts are skipped entirely —
    one pass over each input. Rows violating the declaration drop
    silently (SQL NULL-predicate semantics), they do not error.

    At scale: an open interval fans out to O(cap − start) bins —
    bounded by the data's total span / bin_width, same as a closed
    interval of maximal length.
    """
    ren = {c: c + suffix for c in ("t_start", "t_end")
           if c in right.columns}
    for old, new in ren.items():
        right = right.withColumnRenamed(old, new)

    lbin0 = F.floor(F.col("t_start") / bin_width).cast("long")
    rbin0 = F.floor(F.col("t_start" + suffix) / bin_width).cast("long")

    l = left
    lbin1 = F.floor(F.col("t_end") / bin_width).cast("long")
    if open_ends:
        # cap for open LEFT ends = max right start bin (1-row agg,
        # broadcast — stays lazy, no collect)
        lcap = right.agg(F.max(rbin0).alias("_mrb"))
        l = left.crossJoin(F.broadcast(lcap))
        lbin1 = F.coalesce(lbin1, F.col("_mrb"))
    l = (l.withColumn("_bin",
                      F.explode(F.sequence(lbin0,
                                           F.greatest(lbin0, lbin1))))
          .drop("_mrb"))

    # NULL-aware containment: r.t ≤ l.t_end with NULL t_end = +inf
    l_end_ok = F.col("t_start" + suffix) <= F.col("t_end")
    if open_ends:
        l_end_ok = F.col("t_end").isNull() | l_end_ok

    if how_right == "point":
        r = right.withColumn("_bin", rbin0)
        joined = (l.join(r, "_bin")
                   .where((F.col("t_start" + suffix) >= F.col("t_start")) &
                          l_end_ok))
        # a point lives in exactly one bin — no duplicate pairs
        return joined.drop("_bin")

    r = right
    rbin1 = F.floor(F.col("t_end" + suffix) / bin_width).cast("long")
    if open_ends:
        rcap = left.agg(F.max(lbin0).alias("_mlb"))
        r = right.crossJoin(F.broadcast(rcap))
        rbin1 = F.coalesce(rbin1, F.col("_mlb"))
    r = (r.withColumn("_bin",
                      F.explode(F.sequence(rbin0,
                                           F.greatest(rbin0, rbin1))))
          .drop("_mlb"))
    # overlap ⇔ s_l ≤ e_r' ∧ s_r ≤ e_l'  (NULL end = +inf ⇒ true)
    r_end_ok = F.col("t_start") <= F.col("t_end" + suffix)
    if open_ends:
        r_end_ok = F.col("t_end" + suffix).isNull() | r_end_ok
    joined = l.join(r, "_bin").where(r_end_ok & l_end_ok)
    # reference-point dedup: keep the pair only in the bin holding the
    # overlap start (same trick as the spatial grid join)
    ref = F.greatest(F.col("t_start"), F.col("t_start" + suffix))
    joined = joined.where(
        F.col("_bin") == F.floor(ref / bin_width).cast("long"))
    return joined.drop("_bin")


def as_of_join(left: DataFrame, right: DataFrame, *, on: str,
               left_time: str = "t", right_time: str = "t",
               right_cols: tuple[str, ...] = (),
               suffix: str = "_r") -> DataFrame:
    """For each left row: the latest right row with
    ``right.t <= left.t`` sharing ``on`` (inner — unmatched left rows
    drop, mirroring SQL ASOF JOIN). ``right_cols`` are the right-side
    columns to carry; they come back suffixed.

    One union + one window sweep: right rows sort before left rows at
    equal timestamps (``<=`` semantics); ``last(ignorenulls)`` carries
    the newest right values forward to each left row.
    """
    lt = left.withColumn("_t", F.col(left_time).cast("long")) \
             .withColumn("_side", F.lit(1))
    carried = ["_m"] + list(right_cols)   # _m = explicit match marker
    rt = right.withColumn("_m", F.lit(1)).select(
        F.col(on),
        F.col(right_time).cast("long").alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias("_carry_" + c) for c in carried])
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    for c in carried:
        lt = lt.withColumn("_carry_" + c, F.lit(None))
    u = lt.unionByName(rt.select(*lt.columns))

    w = (Window.partitionBy(on).orderBy("_t", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for c in carried:
        u = u.withColumn("_last_" + c,
                         F.last("_carry_" + c, ignorenulls=True).over(w))
    out = u.where(F.col("_side") == 1)
    out = out.where(F.col("_last__m").isNotNull())   # inner semantics
    for c in list(right_cols):
        out = out.withColumn(c + suffix, F.col("_last_" + c))
    drop = (["_t", "_side"] + ["_carry_" + c for c in carried] +
            ["_last_" + c for c in carried])
    return out.drop(*drop)


def sessionize(df: DataFrame, key: str, ts_col: str, gap: int, *,
               session_col: str = "session_id") -> DataFrame:
    """Assign batch session ids: per ``key``, a new session starts
    whenever the gap to the previous event exceeds ``gap`` seconds
    (the batch twin of Structured Streaming's ``session_window``,
    which only exists as a grouped aggregate — this keeps ROWS,
    labeling each with its session).

    Physical plan: one shuffle on ``key``, then two window passes over
    the same (key, ts) sort — lag to flag session starts, running sum
    to number them — Catalyst reuses one sort for both. Session ids
    are (key-local, 0-based) and deterministic given a tie-break on
    event order within equal timestamps (callers with duplicate
    timestamps per key should pass a composite ts or accept
    order-by-ts determinism of the SUM, which is unaffected by ties:
    equal-ts rows always share a session).

    At scale: no global ordering, state per key is the running counter
    inside the window — the classic gaps-and-islands rewrite, all
    codegen.
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    is_start = (F.when(F.col(ts_col) - F.lag(ts_col).over(w) > gap, 1)
                 .otherwise(0))
    df2 = df.withColumn("_new", is_start)
    wc = (Window.partitionBy(key).orderBy(ts_col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df2.withColumn(session_col, F.sum("_new").over(wc))
               .drop("_new"))
