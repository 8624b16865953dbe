"""Deterministic distinct-count sketching (KMV / bottom-k).

The k-minimum-values sketch (Bar-Yossef et al. 2002): hash every
value onto a uniform grid, keep the k smallest distinct hashes; the
k-th smallest estimates the distinct count as (k−1)·M/kth where M is
the hash-space size. With a DETERMINISTIC hash (md5, as everywhere in
this repo's sampling/dedup tiers) the sketch — and therefore the
estimate — is bit-reproducible in any engine: there is no randomness
to seed and no merge-order dependence (min-k of a set is order-free).

This is the cardinality sketch a 100 TB pipeline actually runs
(HyperLogLog's job) but in an exactly-testable form: the hash is the
52-bit integer from the first 13 hex digits of md5 (exact in BIGINT
and DOUBLE — same grid as `sampling.weighted_sample`'s uniform), and
the estimator is one BIGINT division.

Scale shape: distinct-hash → global bottom-k plans as a per-partition
top-k (TakeOrderedAndProject) — each task keeps k rows, the driver
merge sees tasks·k rows, nothing corpus-sized moves. Mergeability
(union two sketches = bottom-k of concatenation) is the property that
makes this shard-parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize

HASH_BITS = 52
HASH_SPACE = 1 << HASH_BITS


def kmv_hash(value: Column) -> Column:
    """52-bit deterministic uniform hash of a value (md5 hex → int)."""
    h = F.md5(value.cast("string"))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long")


def distinct_kmv(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """KMV distinct-count estimate for ``df[col]``.

    Output (one row): (k_used, kth_min, estimate) where
    ``estimate = (k_used−1)·2^52 div kth_min`` — exact integer
    division, so the whole result is deterministic cross-engine.
    When the true distinct count is ≤ k the sketch is EXACT:
    k_used = n_distinct and estimate reports n_distinct itself.
    """
    hashes = (df.select(kmv_hash(F.col(col)).alias("h"))
                .distinct()
                .orderBy(F.col("h").asc())
                .limit(k))
    agg = hashes.agg(F.count("*").alias("k_used"),
                     F.max("h").alias("kth_min"))
    # k_used < k → sketch saw every distinct hash: report exactly.
    # kth_min = 0 (probability ~2^-52) would zero-divide: same fallback.
    exact_small = (F.col("k_used") < F.lit(k)) | (F.col("kth_min") <= 0)
    est = F.when(
        exact_small, F.col("k_used")
    ).otherwise(
        F.expr(f"(k_used - 1) * {HASH_SPACE}L div kth_min"))
    return agg.select("k_used", "kth_min",
                      est.cast("long").alias("estimate"))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) on the same deterministic 52-bit
# md5 grid.  Unlike library HLLs (randomized seeds, opaque register
# blobs) every piece here is an integer a second engine can recompute:
# register index = low p bits, rho = leading-zero rank of the
# remaining (52-p)-bit suffix, and the harmonic sum is kept EXACT as
# the integer  S = Σ_j 2^(52 − M_j)  (zero registers contribute 2^52),
# so the only float work is the final  α·m²·2^52 / S  division —
# one literal multiply chain mirrored operand-for-operand in the
# DuckDB oracle.  Mergeability is register-wise max, which groupBy-max
# already is: union of shards == sketch of union, bit-for-bit.
#
# Scale shape: one map-side-combined groupBy on the register id
# (m keys total, m = 2^p), then a single m-row aggregate.  Nothing
# corpus-sized shuffles; per-source sketches merge with one more
# m-key max — the shape a 100 TB distinct-count actually runs.
# ---------------------------------------------------------------------------

HLL_P = 8                      # m = 256 registers (~6.5% std error)
HLL_M = 1 << HLL_P
HLL_SUFFIX_BITS = HASH_BITS - HLL_P          # 44
# alpha_256 = 0.7213/(1 + 1.079/256); the literal is embedded (not
# recomputed) so Spark and the oracle parse the identical double.
HLL_ALPHA = "0.7182725932495458"


def hll_registers(df: DataFrame, col: str,
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-(group, register) max-rho table — the mergeable sketch state.

    rho of a suffix w (44 bits) = 44 − bit_length(w) + 1, computed
    without libm via ``length(ltrim(bin(w),'0'))`` (bin() of 0 is
    "0" → length 0 → rho 45, the all-zero-suffix case, no branch
    needed).  Registers never observed are absent here; the
    estimator accounts for them as zeros.
    """
    h = kmv_hash(F.col(col)).alias("h")
    base = df.select(*group_cols, h)
    reg = (base
           .withColumn("register", F.expr(f"h % {HLL_M}L").cast("long"))
           .withColumn("suffix", F.expr(f"h div {HLL_M}L"))
           .withColumn(
               "rho",
               (F.lit(HLL_SUFFIX_BITS + 1)
                - F.length(F.expr(
                    "trim(LEADING '0' FROM bin(suffix))"))).cast("long")))
    return (reg.groupBy(*group_cols, "register")
               .agg(F.max("rho").alias("max_rho")))


def hll_merge(*sketches: DataFrame,
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Union-merge register tables: register-wise max. Exact: the
    merged sketch equals the sketch of the unioned inputs."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (out.groupBy(*group_cols, "register")
               .agg(F.max("max_rho").alias("max_rho")))


def hll_estimate(registers: DataFrame,
                 group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Estimate from a register table.

    Output per group: (n_registers, v_zero, s_scaled, estimate).
    s_scaled = Σ 2^(52−M_j) + v_zero·2^52 — exact BIGINT (≤ 2^60 for
    p=8).  estimate = round(α·m²·2^52 / S) with the small-range
    linear-counting branch m·ln(m/V) when raw ≤ 5/2·m and V>0
    (quantized to BIGINT; ln() is the one libm call, same accepted
    1-ulp-at-a-rounding-boundary risk as sampling's A-ES keys).
    """
    agg = (registers.groupBy(*group_cols)
           .agg(F.count("*").alias("n_present"),
                F.sum(F.expr(f"shiftleft(1L, {HASH_BITS} - max_rho)"))
                 .alias("s_present")))
    m, a = HLL_M, HLL_ALPHA
    out = (agg
           .withColumn("v_zero", (F.lit(m) - F.col("n_present")).cast("long"))
           .withColumn("s_scaled",
                       F.expr(f"s_present + v_zero * {HASH_SPACE}L"))
           .withColumn("raw_est", F.expr(
               f"CAST(round((({a} * {float(m * m)!r}) * {float(HASH_SPACE)!r})"
               f" / CAST(s_scaled AS DOUBLE)) AS BIGINT)"))
           .withColumn("estimate", F.expr(
               f"CASE WHEN v_zero > 0 AND raw_est * 2 <= {5 * m}"
               f" THEN CAST(round({float(m)!r} *"
               f" ln({float(m)!r} / CAST(v_zero AS DOUBLE))) AS BIGINT)"
               f" ELSE raw_est END")))
    return out.select(*group_cols,
                      F.lit(m).cast("long").alias("n_registers"),
                      "v_zero", "s_scaled", "estimate")


# ---------------------------------------------------------------------------
# KMV set algebra (Beyer et al., SIGMOD 2007).  HLL unions trivially
# but cannot intersect; the KMV sketch can do BOTH from the same
# bottom-k state: take L = bottom-k of the union of two sketches'
# hash sets, estimate |A∪B| from L's k-th minimum exactly as
# `distinct_kmv` does, and estimate Jaccard as the fraction of L's
# members present in both input sketches.  Every quantity is an
# integer (hash sets, counts, floor divisions) — bit-reproducible.
#
# Scale shape: sketches are k rows each; all set algebra here runs on
# two k-row frames (driver-scale constants), never on the raw data.
# ---------------------------------------------------------------------------


def kmv_sketch(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Bottom-k distinct-hash sketch of ``df[col]`` — the mergeable
    state behind `distinct_kmv` (one column ``h``, ≤ k rows)."""
    return (df.select(kmv_hash(F.col(col)).alias("h"))
              .distinct()
              .orderBy(F.col("h").asc())
              .limit(k))


def kmv_set_ops(sketch_a: DataFrame, sketch_b: DataFrame,
                k: int = 64) -> DataFrame:
    """Union / intersection / Jaccard estimates from two bottom-k
    sketches (one output row).

    L = bottom-k of the merged hash sets; with K = |L| and
    kth = max(L): union_est follows the KMV estimator (exact when
    K < k — the merged sketch saw every distinct hash); n_both counts
    L's members present in BOTH sketches; jaccard_bp = n_both·10000
    div K and inter_est = n_both·union_est div K (floor semantics,
    documented).  All integers.
    """
    a = sketch_a.select("h").withColumn("in_a", F.lit(1))
    b = sketch_b.select("h").withColumn("in_b", F.lit(1))
    merged = (a.join(b, "h", "full_outer")
               .select("h",
                       F.coalesce("in_a", F.lit(0)).alias("in_a"),
                       F.coalesce("in_b", F.lit(0)).alias("in_b"))
               .orderBy(F.col("h").asc())
               .limit(k))
    agg = merged.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_min"),
        F.sum(F.expr("in_a * in_b")).cast("long").alias("n_both"))
    exact_small = (F.col("k_used") < F.lit(k)) | (F.col("kth_min") <= 0)
    union_est = F.when(
        exact_small, F.col("k_used")
    ).otherwise(F.expr(f"(k_used - 1) * {HASH_SPACE}L div kth_min"))
    return (agg.withColumn("union_est", union_est.cast("long"))
               .withColumn("inter_est",
                           F.expr("n_both * union_est div k_used"))
               .withColumn("jaccard_bp",
                           F.expr("n_both * 10000 div k_used"))
               .select("k_used", "kth_min", "n_both", "union_est",
                       "inter_est", "jaccard_bp"))


def hll_rollup(registers: DataFrame, dims: list[str],
               grouping_sets: list[tuple[str, ...]]) -> DataFrame:
    """Sketch-partitioned distinct-count CUBE: ONE register table,
    re-aggregated (register-wise max) for every grouping set — the
    100 TB pattern where the expensive pass over raw data runs once
    and every rollup level is a bounded-keyspace max.  Valid because
    HLL merge IS max: max over a finer partition of the data equals
    the sketch of the coarser slice, exactly.

    Output per grouping set: the ``dims`` columns (NULL where rolled
    up), ``level`` = comma-joined kept dims ('' = grand total), and
    the standard estimate columns.
    """
    # every grouping set re-aggregates the same register table:
    # pin it once (bounded: groups × m rows), or the raw-data sketch
    # pass re-runs per level — defeating the whole point
    registers = materialize(registers)
    outs = []
    for gs in grouping_sets:
        keep = [d for d in dims if d in gs]
        merged = (registers.groupBy(*keep, "register")
                           .agg(F.max("max_rho").alias("max_rho")))
        est = hll_estimate(merged, tuple(keep))
        sel = []
        for d in dims:
            if d in gs:
                sel.append(F.col(d).cast("string").alias(d))
            else:
                sel.append(F.lit(None).cast("string").alias(d))
        sel.append(F.lit(",".join(keep)).alias("level"))
        sel += [F.col(c) for c in
                ("n_registers", "v_zero", "s_scaled", "estimate")]
        outs.append(est.select(*sel))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — the mergeable
# frequency sketch: d independent hash rows of w counters; the
# estimate for a key is the MIN of its d counters, an overestimate
# with error ≤ εN (ε = e/w) at confidence 1−δ (δ = e^−d).  As with
# KMV/HLL above, every hash is deterministic md5 (row-salted), so the
# sketch — cell for cell — and every estimate is bit-reproducible in
# any engine.
#
# Scale shape: the build is ONE map-side-combined groupBy onto w·d
# cells (a few thousand keys regardless of input volume — partial
# aggregation collapses each task's contribution to ≤ w·d rows before
# the shuffle); merging shard sketches is cell-wise sum, which that
# same groupBy already is.  Queries join a key-list frame against the
# broadcast cell frame — never against the data.
# ---------------------------------------------------------------------------


def _cms_bucket(value: Column, row: int, width: int) -> Column:
    """Deterministic bucket of ``value`` in hash row ``row``."""
    h = F.md5(F.concat(F.lit(f"cms{row}:"), value.cast("string")))
    return (F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
            % F.lit(width)).cast("long")


def cms_build(df: DataFrame, col: str, *, width: int = 1024,
              depth: int = 4) -> DataFrame:
    """Build the (row, bucket, cnt) cell frame — ≤ width·depth rows."""
    rows = F.array(*[
        F.struct(F.lit(d).cast("long").alias("row"),
                 _cms_bucket(F.col(col), d, width).alias("bucket"))
        for d in range(depth)])
    return (df.select(F.explode(rows).alias("c"))
              .groupBy(F.col("c.row").alias("row"),
                       F.col("c.bucket").alias("bucket"))
              .agg(F.count("*").alias("cnt")))


def cms_estimate(sketch: DataFrame, keys: DataFrame, col: str, *,
                 width: int = 1024, depth: int = 4) -> DataFrame:
    """Point-query estimates for every key in ``keys[col]``.

    Output: (col, est) with est = min over the key's d counters
    (0 where a counter cell was never touched).  ``sketch`` is
    broadcast — it is at most width·depth rows by construction.
    """
    probes = keys.select(
        F.col(col),
        F.explode(F.array(*[
            F.struct(F.lit(d).cast("long").alias("row"),
                     _cms_bucket(F.col(col), d, width).alias("bucket"))
            for d in range(depth)])).alias("p"))
    j = probes.join(F.broadcast(sketch),
                    (F.col("p.row") == F.col("row"))
                    & (F.col("p.bucket") == F.col("bucket")),
                    "left")
    return (j.groupBy(col)
             .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                   .alias("est")))
