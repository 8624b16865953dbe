"""Table profiling — the validate-before-ingest pass.

Every production pipeline runs a profile before accepting a new data
drop: row count, per-column null rate, per-column cardinality. The
whole profile here is ONE aggregate over one scan — every metric is a
combined agg expression, so a 100 TB profile costs exactly one pass
plus a |columns|-sized result — then an in-plan unpivot (stack) turns
the single wide row into the (column, metric...) report shape.

All metrics are exact integers (counts), so the report is bit-stable
in any engine. Exact distinct on a high-cardinality column is itself
a shuffle (count(DISTINCT) expands to an internal aggregate); for
estimate-grade profiling at extreme cardinality swap in the KMV
sketch (`operators.sketch.distinct_kmv`) per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n, n_null, n_distinct) per profiled column.

    ``n`` repeats the table row count on every row of the report —
    redundancy that makes each report row self-contained (null RATE
    is n_null/n without a second lookup). NULLs do not count toward
    ``n_distinct`` (SQL count-distinct semantics in both engines)."""
    cols = list(cols) if cols is not None else list(df.columns)
    aggs = [F.count("*").alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nl{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd{i}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nl{i}, _nd{i}" for i, c in enumerate(cols))
    return (wide.select(
                F.col("_n"),
                F.expr(f"stack({len(cols)}, {stack_args}) "
                       f"AS (column_name, n_null, n_distinct)"))
            .select("column_name", F.col("_n").alias("n"),
                    "n_null", "n_distinct"))


def fk_check(child: DataFrame, fk: str, parent: DataFrame,
             pk: str, *, relationship: str,
             broadcast_parent_keys: bool = True) -> DataFrame:
    """Referential-integrity audit for one child→parent relationship:
    one row ``(relationship, child_rows, orphan_rows, orphan_keys,
    parents_total, parents_referenced)``.

    * orphans: child rows whose FK has no parent — a LEFT ANTI join
      against the parent's distinct key column (broadcast when the
      key set fits, which it does for every dim table; set
      ``broadcast_parent_keys=False`` for fact→fact checks so the
      anti-join shuffles instead).
    * coverage: distinct FK values ∩ parent keys via LEFT SEMI —
      "childless parents" (parents_total − parents_referenced) is the
      usual early warning that a feed dropped a partition.

    All counts are exact; NULL FKs count as orphan rows (a NULL
    reference violates the constraint) but not as orphan_keys.

    Physical shape (r13): ONE pass over the child — a single LEFT
    OUTER join of the child's FK column against the (broadcast)
    distinct parent keys feeds every child-side statistic (total
    rows, orphan rows = unmatched, orphan keys = distinct unmatched
    FKs, parents_referenced = distinct matched keys) in one
    aggregate; only ``parents_total`` needs a second (dim-sized)
    aggregate. The previous form built four aggregate subtrees
    (child counted, child anti-joined, keys counted, keys
    semi-joined) — three scans of the fact table per relationship
    where one suffices (guide §1.2: don't recompute what one pass
    already saw)."""
    keys = parent.select(F.col(pk).alias("_pk")).distinct()
    jkeys = F.broadcast(keys) if broadcast_parent_keys else keys
    j = child.select(F.col(fk).alias("_fk")) \
             .join(jkeys, F.col("_fk") == F.col("_pk"), "left")
    # Two countDistinct over different columns in one agg plan
    # through an Expand that feeds ~3x the child row volume into the
    # partial aggregate (still one scan — better than the old three).
    # On very wide facts where the Expand term ever dominates, split
    # orphan_keys/parents_referenced into a second agg over a
    # checkpointed join instead.
    stats = j.agg(
        F.count(F.lit(1)).alias("child_rows"),
        F.count(F.when(F.col("_pk").isNull(), 1)).alias("orphan_rows"),
        F.countDistinct(F.when(F.col("_pk").isNull(), F.col("_fk")))
         .alias("orphan_keys"),
        F.countDistinct(F.col("_pk")).alias("parents_referenced"))
    c = keys.agg(F.count("*").alias("parents_total"))
    return (stats.crossJoin(c)
             .select(F.lit(relationship).alias("relationship"),
                     "child_rows", "orphan_rows", "orphan_keys",
                     "parents_total", "parents_referenced"))


def correlation_matrix(df, cols: list[str]) -> "DataFrame":
    """Pearson correlation for every pair of integer-grid columns.

    ONE pass computes every moment (Σx, Σx², Σxy for all pairs —
    map-side combined, nothing but the 1-row moment frame leaves the
    executors); the pair rows are then built from that single row.
    Inputs must already be integers on a caller-chosen grid (dollars,
    cents, percent) so the moment sums are EXACT BIGINTs; the only
    float work is the final normalized quotient per pair —
    numerator/denominator assembled in DOUBLE with a fixed operand
    order and one sqrt (IEEE-correctly-rounded, engine-safe), then
    quantized: corr_q6 = round(1e6·r).

    Output: (var_x, var_y, n, corr_q6) for x < y in ``cols`` order.
    """
    from pyspark.sql import functions as F
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = df.agg(*aggs)
    rows = []
    for a, b in pairs:
        corr = (
            "CAST(round(1000000.0 * ("
            f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt((CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
            ")) AS BIGINT)")
        rows.append(m.select(F.lit(a).alias("var_x"),
                             F.lit(b).alias("var_y"),
                             F.col("n").cast("long").alias("n"),
                             F.expr(corr).alias("corr_q6")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def rfm_segments(df, *, user: str = "user_id", ts: str = "ts",
                 type_col: str = "event_type", value: str = "value",
                 conversion: str = "purchase",
                 n_bins: int = 5) -> "DataFrame":
    """RFM (recency / frequency / monetary) customer segmentation.

    Per user over their conversion events: recency = days from last
    conversion to the corpus max day, frequency = conversion count,
    monetary = cents sum — exact integers.  Each dimension is scored
    1..n_bins by equal-frequency boundaries (exact discrete quantiles
    of the per-user frame; value-based assignment so ties collapse
    deterministically — recency scores INVERTED so higher = more
    recent).  Output one row per occupied segment: (rfm, n_users,
    monetary_c_sum).

    Scale note: the boundary quantiles sort the per-USER aggregate
    (entity-count-sized, not event-count-sized); at extreme user
    counts the HDR sketch (operators.histogram) supplies boundaries
    instead — same assignment step.
    """
    from pyspark.sql import functions as F
    from stark_spark.operators.sampling import group_quantiles
    ev = (df.where(F.col(type_col) == conversion)
            .select(F.col(user).alias("u"),
                    F.col(ts).cast("date").alias("d"),
                    F.round(F.col(value) * 100).cast("long").alias("c")))
    per = (ev.groupBy("u")
             .agg(F.max("d").alias("last_d"),
                  F.count("*").cast("long").alias("freq"),
                  F.sum("c").alias("mon")))
    # per is consumed by three boundary computations plus the
    # scoring join — pin the (user-count-sized) frame once instead of
    # re-running the event aggregate per consumer
    per = materialize(per)
    mx = per.agg(F.max("last_d").alias("dm"))
    per = materialize(per.crossJoin(F.broadcast(mx))
                         .select("u", F.datediff("dm", "last_d").cast("long")
                                       .alias("rec"),
                                 "freq", "mon"))
    qs = [k / n_bins for k in range(1, n_bins)]
    scored = per
    for dim, invert in (("rec", True), ("freq", False), ("mon", False)):
        bnds = (group_quantiles(
                    per.select(F.lit("g").alias("_g"), dim), "_g", dim, qs)
                .groupBy("_g")
                .agg(F.sort_array(F.collect_list("value"))
                      .alias(f"_b_{dim}")))
        scored = (scored.withColumn("_g", F.lit("g"))
                        .join(F.broadcast(bnds), "_g").drop("_g"))

        def _binner(d):
            return lambda acc, b: acc + (F.col(d) > b).cast("int")

        raw = F.aggregate(f"_b_{dim}", F.lit(0), _binner(dim))
        score = (F.lit(n_bins) - raw) if invert else (raw + F.lit(1))
        scored = (scored.withColumn(f"s_{dim}", score)
                        .drop(f"_b_{dim}"))
    seg = F.concat_ws("", "s_rec", "s_freq", "s_mon")
    return (scored.groupBy(seg.alias("rfm"))
                  .agg(F.count("*").cast("long").alias("n_users"),
                       F.sum("mon").cast("long").alias("monetary_c_sum")))


def percent_rank_features(df, *, group_col: str, value_col: str,
                          id_cols: list[str]) -> "DataFrame":
    """Rank-normalize a feature per group: pr_bp = (RANK−1)·10000 div
    (n−1) — the distribution-free [0,10000] feature scaling that
    survives outliers and distribution drift (ranks, not values).
    RANK() gives ties identical scores (deterministic without a tie
    column); single-row groups score 0 by convention.

    One shuffle on the group key; per-group window sort — the
    standard feature-prep shape.  Output: id_cols + (group, value_c,
    pr_bp).
    """
    from pyspark.sql import Window
    w = Window.partitionBy(group_col).orderBy("value_c")
    n = F.count("*").over(Window.partitionBy(group_col))
    return (df.select(*id_cols, group_col,
                      F.col(value_col).alias("value_c"))
              .withColumn("_rk", F.rank().over(w))
              .withColumn("_n", n)
              .withColumn("pr_bp", F.expr(
                  "CASE WHEN _n <= 1 THEN 0L"
                  " ELSE (_rk - 1) * 10000 div (_n - 1) END"))
              .drop("_rk", "_n"))
