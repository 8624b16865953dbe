"""Market-basket association mining (support / confidence / lift).

The co-occurrence statistics behind "frequently bought together" and
feature-interaction screens: treat each (user, day) as a basket of
distinct event types, count pairwise co-occurrence, and score lift =
P(a,b) / (P(a)·P(b)) — the bounded-keyspace version of association
rule mining (the item vocabulary is small; baskets are many).

Scale shape: distinct (basket, item) → self-join WITHIN the basket
key (co-partitioned equi-join; pair fan-out is per-basket
|items|², bounded by the item vocabulary, not basket count) → one
map-side-combined pair count; singles and the basket total are two
more bounded aggregates broadcast back.  All counts exact; lift is
the one mirrored double chain, quantized to 1e-6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def basket_lift_pairs(df: DataFrame, *, basket: list, item: Column
                      ) -> DataFrame:
    """Pair support and lift over baskets.

    Output per unordered item pair (a < b): (item_a, item_b, n_ab,
    n_a, n_b, n_baskets, lift_q6 = round(1e6·(n·n_ab)/(n_a·n_b))).
    Pairs never co-occurring are absent (support 0 has no lift).
    """
    m = materialize(
        df.select(*[c.alias(f"_k{i}") for i, c in enumerate(basket)],
                  item.alias("item"))
          .distinct())       # 3 consumers below
    kcols = [f"_k{i}" for i in range(len(basket))]
    a = m.select(*kcols, F.col("item").alias("item_a"))
    b = m.select(*kcols, F.col("item").alias("item_b"))
    pairs = (a.join(b, kcols)
              .where(F.col("item_a") < F.col("item_b"))
              .groupBy("item_a", "item_b")
              .agg(F.count("*").alias("n_ab")))
    singles = m.groupBy("item").agg(F.count("*").alias("n_i"))
    total = (m.select(*kcols).distinct()
              .agg(F.count("*").alias("n_baskets")))
    lift = ("CAST(round(1000000.0 * "
            "((CAST(n_baskets AS DOUBLE) * CAST(n_ab AS DOUBLE))"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))"
            " AS BIGINT)")
    return (pairs
            .join(F.broadcast(singles.select(
                F.col("item").alias("item_a"),
                F.col("n_i").alias("n_a"))), "item_a")
            .join(F.broadcast(singles.select(
                F.col("item").alias("item_b"),
                F.col("n_i").alias("n_b"))), "item_b")
            .crossJoin(F.broadcast(total))
            .select("item_a", "item_b",
                    F.col("n_ab").cast("long").alias("n_ab"),
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("n_baskets").cast("long").alias("n_baskets"),
                    F.expr(lift).alias("lift_q6")))
