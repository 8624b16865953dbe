"""Fuzzy (approximate-string) matching — the entity-resolution join.

Record linkage at scale is always blocking + refine: a cheap
deterministic BLOCK key bounds the candidate pairs (the all-pairs
cross product is the scale killer), then an edit-distance REFINE
keeps true matches. Same filter-refine discipline as the spatial tier
(`functions/predicates.py`), applied to strings.

Everything stays JVM-side: `levenshtein()` is a Catalyst built-in
(codegen'd Wagner–Fischer), the block join is a plain equi-join
(broadcast when one side is dim-sized), so no Python touches the hot
path. The blocking key is part of the operator's CONTRACT (pairs in
different blocks are never compared — standard ER semantics), which
is what makes the result deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def fuzzy_self_pairs(df: DataFrame, col: str, *, block_fn,
                     max_dist: int = 2) -> DataFrame:
    """Near-duplicate VALUE pairs within one column: distinct values
    with their row-support counts, blocked by ``block_fn(value_col)``
    (a Column → Column builder), refined by edit distance, emitted
    canonically as ``(name_a, name_b, dist, n_a, n_b)`` with
    name_a < name_b. The distinct-first step is the vocabulary trick:
    dedup entity NAMES (small frame) instead of rows (huge), then map
    back by join if row-level pairs are needed."""
    vals = (df.groupBy(F.col(col).alias("name"))
              .agg(F.count("*").alias("n"))
              .withColumn("_blk", block_fn(F.col("name"))))
    a = vals.select(F.col("name").alias("name_a"),
                    F.col("n").alias("n_a"), "_blk")
    b = vals.select(F.col("name").alias("name_b"),
                    F.col("n").alias("n_b"), "_blk")
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (a.join(b, "_blk")
             .where((F.col("name_a") < F.col("name_b"))
                    & (dist <= max_dist))
             .select("name_a", "name_b", dist.cast("int").alias("dist"),
                     "n_a", "n_b"))


def fuzzy_canonicalize(df: DataFrame, col: str, *, block_fn,
                       max_dist: int = 2) -> DataFrame:
    """Full entity-resolution pass over one column: fuzzy pairs
    (`fuzzy_self_pairs`) become an undirected match graph, connected
    components merge transitive matches (A~B, B~C ⇒ one entity even
    when levenshtein(A,C) > max_dist — the standard ER closure), and
    each component elects a CANONICAL surface form: highest row
    support, ties to the lexicographically smaller name (encoded as
    ``min(struct(-n, name))`` — one deterministic aggregate).

    Output: (name, n, canonical, is_canonical) for every distinct
    value. Scale shape: everything runs on the distinct-value
    vocabulary; components via `operators.graph.connected_components`
    (driver union-find under the size guard, hash-min label
    propagation above it).

    The vocabulary aggregate is materialized (`materialize`)
    ONCE: it feeds the blocked self-join (twice — both sides), the
    component node set, and the final labeling join, and
    `connected_components`' eager edge probe is a separate action —
    un-materialized, the corpus-scale distinct-name aggregate
    re-executed 3-4× per invocation (r14 job trace). The frame is
    the distinct-value vocabulary — tiny relative to the rows at any
    corpus size."""
    from stark_spark.operators.graph import connected_components
    vals = materialize(df.groupBy(F.col(col).alias("name"))
                         .agg(F.count("*").alias("n")))
    blocked = vals.withColumn("_blk", block_fn(F.col("name")))
    a = blocked.select(F.col("name").alias("name_a"),
                       F.col("n").alias("n_a"), "_blk")
    b = blocked.select(F.col("name").alias("name_b"),
                       F.col("n").alias("n_b"), "_blk")
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    pairs = (a.join(b, "_blk")
              .where((F.col("name_a") < F.col("name_b"))
                     & (dist <= max_dist))
              .select("name_a", "name_b"))
    comp = connected_components(
        pairs.select(F.col("name_a").alias("a"),
                     F.col("name_b").alias("b")),
        nodes=vals.select("name"))
    labeled = vals.join(comp.withColumnRenamed("node", "name"), "name")
    canon = (labeled.groupBy("comp")
             .agg(F.min(F.struct((-F.col("n")).alias("negn"), "name"))
                   .getField("name").alias("canonical")))
    return (labeled.join(canon, "comp")
                   .select("name", "n", "canonical",
                           (F.col("name") == F.col("canonical"))
                            .alias("is_canonical")))
