"""Deterministic sampling, splitting, and shard packing for
training-data pipelines.

Net-new beyond the reference (training-data-pipeline tier, like
operators/dedup.py). Design constraints:

* **no randomness** — every op derives from ``md5(salt | key)``, so a
  pipeline re-run (or a DuckDB oracle) reproduces the exact same
  sample/split/shard assignment. ``rand()`` would be neither
  re-runnable nor oracle-checkable, and real curation pipelines need
  reproducible membership anyway (audit, leakage checks, incremental
  re-runs).
* **scale shape** — sampling/splitting are stateless row-local
  filters (no shuffle at all); shard packing is the only op that
  needs global state (a running sum) and implements it as a
  two-phase distributed prefix sum, never a single global window.

The hash bucket is the first 7 hex digits of md5 (28 bits) — small
enough for exact integer arithmetic in both Spark (``conv``) and
DuckDB (per-digit ``strpos`` parse, see __spark_entry__.py oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: size of the hash-bucket space (28 bits).
BUCKETS = 1 << 28


def hash_bucket(key: Column, *, salt: str = "") -> Column:
    """Uniform deterministic bucket in ``[0, BUCKETS)`` from a key
    column. ``salt`` decouples independent decisions made from the
    same key (sample vs split vs shard order)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("long")


def deterministic_sample(df: DataFrame, key: str, fraction: float, *,
                         salt: str = "") -> DataFrame:
    """Keep a reproducible ``fraction`` of rows by key hash.

    Row-local filter — no shuffle, no state; membership is a pure
    function of (key, salt), so re-runs and incremental extensions of
    the corpus agree on every row they share. Catalyst pushes the
    filter to the scan like any other predicate.
    """
    return df.where(hash_bucket(F.col(key), salt=salt)
                    < int(fraction * BUCKETS))


def train_test_split(df: DataFrame, key: str, test_fraction: float, *,
                     salt: str = "split") -> DataFrame:
    """Adds a ``split`` column ('test' / 'train') by key hash —
    deterministic, leakage-free (a key always lands on the same side,
    even across pipeline re-runs and corpus growth)."""
    test = hash_bucket(F.col(key), salt=salt) < int(test_fraction * BUCKETS)
    return df.withColumn("split", F.when(test, F.lit("test"))
                                    .otherwise(F.lit("train")))


def group_split(df: DataFrame, group_col: str, test_fraction: float, *,
                salt: str = "gsplit") -> DataFrame:
    """Group-aware train/test split: the hash is taken over the GROUP
    key, so every row of a group lands on the same side — the
    leakage-prevention split when documents share provenance (same
    source domain, same conversation, same repository) and row-level
    splitting would leak near-identical content across the boundary.
    Row-local expression of the group column: no shuffle, no group
    materialization, deterministic across re-runs and corpus growth.
    Same machinery as `train_test_split` — only the hashed column (a
    group key instead of the row key) and the salt differ."""
    return train_test_split(df, group_col, test_fraction, salt=salt)


def stratified_sample(df: DataFrame, key: str, strata_col: str,
                      fractions: dict[str, float], *,
                      default: float = 0.0, salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample common
    languages, keep all rare ones). ``fractions`` maps stratum value →
    keep fraction; unlisted strata use ``default``. Row-local filter,
    no shuffle."""
    thr = F.lit(int(default * BUCKETS))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value,
                     F.lit(int(frac * BUCKETS))).otherwise(thr)
    return df.where(hash_bucket(F.col(key), salt=salt) < thr)


def pack_shards(df: DataFrame, key: str, weight_col: str,
                capacity: int, *, salt: str = "shard",
                n_buckets: int = 256) -> DataFrame:
    """Assign rows to fixed-capacity training shards by a global
    running sum of ``weight_col`` (e.g. token counts) in deterministic
    hash order: ``shard = floor(cum_before / capacity)``.

    A naive ``sum() OVER (ORDER BY …)`` is a single-partition global
    window — the classic scale killer. This is the two-phase
    distributed prefix sum instead:

    1. bucket rows by the TOP bits of the order hash (so bucket order
       == global hash order), aggregate one weight total per bucket,
       and turn those ``n_buckets`` totals into per-bucket offsets
       with an IN-PLAN prefix-sum window over the bounded totals
       frame (single-partition, but ≤ n_buckets rows at any corpus
       size — no driver collect);
    2. per-bucket windows (parallel across buckets) compute local
       running sums; a broadcast join adds each bucket's global
       offset.

    Rows may straddle a shard boundary (document-level sharding —
    every row belongs to exactly one shard; shards fill to ≥capacity
    except the last). Output: input columns + ``shard``.
    """
    bucket_width = BUCKETS // n_buckets
    h = hash_bucket(F.col(key), salt=salt)
    rows = df.withColumn("_h", h).withColumn(
        "_bucket", (F.col("_h") / bucket_width).cast("int"))

    # Phase-1 offsets as an IN-PLAN prefix sum over the bounded
    # totals frame (≤ n_buckets rows) instead of a driver collect +
    # createDataFrame round trip (r14; the gini_ppm r13 precedent,
    # guide §5 — no driver loops in query paths). The window's empty
    # frame on bucket 0 yields NULL → coalesce 0, matching the old
    # loop's running offset; exact integer sums either way. One
    # fewer action per invocation; the operator is now fully lazy.
    ow = (Window.orderBy("_bucket")
                .rowsBetween(Window.unboundedPreceding, -1))
    off_df = (rows.groupBy("_bucket")
                  .agg(F.sum(weight_col).alias("_total"))
                  .withColumn("_offset",
                              F.coalesce(F.sum("_total").over(ow),
                                         F.lit(0)).cast("long"))
                  .select("_bucket", "_offset"))

    w = (Window.partitionBy("_bucket")
               .orderBy("_h", key)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = rows.withColumn("_cum", F.sum(weight_col).over(w))
    out = (local.join(F.broadcast(off_df), "_bucket")
                .withColumn("shard",
                            F.floor((F.col("_cum") + F.col("_offset")
                                     - F.col(weight_col))
                                    / F.lit(capacity)))
                .drop("_h", "_bucket", "_cum", "_offset"))
    return out


def token_budget_sample(df: DataFrame, key: str, weight_col: str,
                        budget, *, source_col: str | None = None,
                        default_budget: int = 0, salt: str = "budget",
                        n_buckets: int = 256) -> DataFrame:
    """Deterministic token-budget selection — "give me ≤ B tokens
    per source": rows in deterministic hash order, kept while the
    per-source running sum of ``weight_col`` stays within the
    source's budget. The mixture-construction primitive a training
    pipeline runs after dedup/quality ("60 GT web + 30 GT code +
    10 GT wiki"): `mix_sources` picks proportions, this enforces an
    ABSOLUTE cap.

    ``budget``: an int (one cap; per source if ``source_col`` is
    given, global otherwise) or a dict source→cap (sources absent
    from the dict get ``default_budget``, default 0 = excluded).
    Dict keys are compared as STRINGS (the source column is cast to
    string first, so int sources work with int or str keys alike);
    the NULL-source group can be budgeted with the key
    ``"\\x00null"``.

    Keep rule: ``cum_weight ≤ budget`` where ``cum_weight`` includes
    the row itself — the first over-budget row and everything after
    it (in hash order) drop; no row is split. Deterministic under
    any partitioning; re-runs and engines agree bit-for-bit.

    Scale shape: the running sum is the same TWO-PHASE distributed
    prefix sum as `pack_shards` — never a single-partition global
    window. Phase-1 offsets are an in-plan window over the bounded
    per-(source, bucket) totals frame (``n_sources × n_buckets`` ≈
    10⁴ rows at any corpus size — sources are corpora, dozens), so
    the operator is fully lazy: no driver collect at any scale.
    Output: the kept rows + ``cum_weight``.
    """
    src = F.col(source_col) if source_col else F.lit("__all__")
    # NULL sources form one group (SQL PARTITION BY semantics) and get
    # default_budget; without the sentinel they'd silently drop at the
    # equi-join on _src (null never equals null in a join key)
    src = F.coalesce(src.cast("string"), F.lit("\x00null"))
    bucket_width = BUCKETS // n_buckets
    rows = (df.withColumn("_src", src)
              .withColumn("_h", hash_bucket(F.col(key), salt=salt))
              .withColumn("_bucket",
                          (F.col("_h") / bucket_width).cast("int")))

    # Per-(source, bucket) offsets as an IN-PLAN prefix sum over the
    # bounded totals frame (≤ n_sources·n_buckets rows) instead of a
    # driver collect + createDataFrame round trip (r14; the gini_ppm
    # r13 precedent, guide §5 — no driver loops in query paths). The
    # window's empty frame on each source's first bucket yields NULL
    # → coalesce 0, matching the old loop's per-source reset; exact
    # integer sums either way. One fewer action per invocation and
    # the operator is now fully lazy.
    ow = (Window.partitionBy("_src").orderBy("_bucket")
                .rowsBetween(Window.unboundedPreceding, -1))
    off_df = (rows.groupBy("_src", "_bucket")
                  .agg(F.sum(weight_col).alias("_total"))
                  .withColumn("_offset",
                              F.coalesce(F.sum("_total").over(ow),
                                         F.lit(0)).cast("long"))
                  .select("_src", "_bucket", "_offset"))

    if isinstance(budget, dict):
        # keys stringified to match _src's string cast (ADVICE r11: a
        # non-string source column otherwise builds a map<int,int>
        # probed with a string — analysis error or a silent
        # default_budget fallback). The NULL-source group is
        # addressable via the "\x00null" sentinel key.
        pairs = [x for s, b in sorted(
                     budget.items(), key=lambda kv: str(kv[0]))
                 for x in (F.lit(str(s)), F.lit(int(b)))]
        cap = F.coalesce(F.element_at(F.create_map(*pairs),
                                      F.col("_src")),
                         F.lit(int(default_budget)))
    else:
        cap = F.lit(int(budget))

    w = (Window.partitionBy("_src", "_bucket")
               .orderBy("_h", key)
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))
    local = rows.withColumn("_cum", F.sum(weight_col).over(w))
    return (local.join(F.broadcast(off_df), ["_src", "_bucket"])
                 .withColumn("cum_weight",
                             (F.col("_cum") + F.col("_offset"))
                             .cast("long"))
                 .where(F.col("cum_weight") <= cap)
                 .drop("_src", "_h", "_bucket", "_cum", "_offset"))


def mix_sources(df: DataFrame, key: str, source_col: str,
                weights: dict[str, int], *, salt: str = "mix") -> DataFrame:
    """Reweight a corpus to a target mixture (domain balancing for
    training data: "2 parts web, 1 part wiki, 1 part code…"), keeping
    the largest corpus the targets allow.

    ``weights`` maps source value → integer mixture parts; unlisted
    sources are dropped. With ``W = sum(parts)`` the achievable corpus
    size is capped by the most over-demanded source:
    ``N = min_s floor(count_s * W / w_s)``; each source then keeps
    ``k_s = floor(N * w_s / W)`` rows via the deterministic hash
    filter (threshold ``floor(BUCKETS * k_s / count_s)``). All-integer
    arithmetic end-to-end, so a DuckDB oracle reproduces the exact
    membership — no float rates anywhere.

    Scale shape: one map-side-combined count per source (the column is
    low-cardinality by construction), a tiny driver collect, then a
    row-local hash filter with literal thresholds — no shuffle of the
    data itself, and the filter pushes to the scan like any predicate.
    """
    counts = {r[0]: r[1] for r in
              df.where(F.col(source_col).isin(*weights))
                .groupBy(source_col).count().collect()}
    W = sum(weights.values())
    n_out = min(counts.get(s, 0) * W // w
                for s, w in weights.items() if w > 0)
    thr = None
    for s, w in sorted(weights.items()):
        t = (BUCKETS * (n_out * w // W) // counts[s]) if counts.get(s) \
            else 0
        cond = F.col(source_col) == s
        thr = F.when(cond, F.lit(t)) if thr is None \
            else thr.when(cond, F.lit(t))
    thr = thr.otherwise(F.lit(0))
    return df.where(hash_bucket(F.col(key), salt=salt) < thr)


def group_quantiles(df: DataFrame, group_col: str, value_col: str,
                    qs: list[float]) -> DataFrame:
    """Exact discrete quantiles per group (lower order statistic:
    the value at row ``ceil(q*n)`` of the sorted group — DuckDB's
    ``quantile_disc`` definition, deterministic on any dtype, no
    interpolation arithmetic to diverge between engines).

    Scale shape: one shuffle on the group key, per-group sort inside
    the window — no global ordering, and ONE window pass for every
    requested quantile: each ranked row keeps the (possibly several)
    q's whose pick position ``greatest(ceil(q·n), 1)`` is its own rank
    (array filter + explode — a per-q where/union re-ran the whole
    window sort per quantile). Output: (group, q, value).
    """
    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = (df.select(group_col, value_col)
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("_n", F.count("*").over(
                    Window.partitionBy(group_col))))
    qarr = F.array(*[F.lit(q) for q in qs])
    hit = F.filter(qarr, lambda q: F.col("_rn")
                   == F.greatest(F.ceil(q * F.col("_n")), F.lit(1)))
    return (ranked.withColumn("_qs", hit)
                  .where(F.size("_qs") > 0)
                  .select(F.col(group_col),
                          F.explode("_qs").alias("q"),
                          F.col(value_col).alias("value")))


def top_k_per_group(df: DataFrame, group_col: str, order_col: str,
                    k: int, *, ascending: bool = False,
                    tie_cols: list | None = None,
                    rank_col: str = "rank") -> DataFrame:
    """Top-k rows per group by ``order_col`` (heavy hitters per
    stratum — e.g. dominant sources per language when auditing a
    training mix). One shuffle on the group key, per-group window
    top-k (Spark's rank filter pushes the limit into the sort).
    ``tie_cols`` break order ties deterministically (required for
    reproducible/oracle-checkable output)."""
    order = [F.col(order_col).asc() if ascending
             else F.col(order_col).desc()]
    order += [F.col(c) for c in (tie_cols or [])]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .where(F.col(rank_col) <= k))


def _aes_key(key: str, weight_col: str, salt: str) -> Column:
    """Efraimidis–Spirakis exponential key ln(u)/w over an exact
    52-bit md5 uniform of (salt, key) — rank DESC, take top k.

    Cross-engine determinism: ln() is the only libm call, and JVM
    Math.log vs another engine's libm log can differ by 1 ulp, which
    could flip a rank-k boundary row. Mitigation: quantize ln(u) onto
    an exact integer grid (floor(ln(u)·1e6)) BEFORE dividing by the
    weight — the grid value is an exact small integer in a double, and
    integer/weight division is correctly-rounded IEEE in every engine,
    so the ranking keys are bit-identical unless ln(u)·1e6 lands
    within 1 ulp of an integer (probability ~1e-8 per row). The 1e-6
    relative quantization of ln leaves A-ES inclusion probabilities
    unchanged to ~1e-6.

    Weights MUST be > 0 (a negative weight would always rank first and
    w=0 yields -Inf): enforced with a runtime assertion on the scan."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"),
                       F.col(key).cast("string")))
    u = ((F.conv(F.substring(h, 1, 13), 16, 10).cast("double")
          + F.lit(0.5)) / F.lit(float(1 << 52)))
    w = F.col(weight_col).cast("double")
    lnq = F.floor(F.log(u) * F.lit(1e6)).cast("double")
    guard = F.assert_true(
        w > 0, F.concat(F.lit("weighted sample: non-positive weight in "
                              f"column '{weight_col}': "),
                        w.cast("string")))
    return F.when(guard.isNull(), lnq / w)


def weighted_sample(df: DataFrame, key: str, weight_col: str, k: int, *,
                    salt: str = "wsample") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): rank rows by ``ln(u) / w`` with ``u`` a 52-bit
    md5-derived uniform of (salt, key) and take the top k — inclusion
    probability proportional to weight, reproducible across re-runs
    and engines (u is exact binary arithmetic; only ln() is libm).

    Scale shape: the key is a narrow native expression and the top-k
    plans as TakeOrderedAndProject (per-partition heaps + driver
    merge) — no sort shuffle, no state, works unchanged at any corpus
    size."""
    return (df.withColumn("_wkey", _aes_key(key, weight_col, salt))
              .orderBy(F.desc("_wkey"), F.col(key))
              .limit(k)
              .drop("_wkey"))


def weighted_sample_by_group(df: DataFrame, key: str, group_col: str,
                             weight_col: str, k: int, *,
                             salt: str = "wsample") -> DataFrame:
    """Per-group weighted sampling without replacement: the A-ES key
    ranked inside each group (one window over the group-key exchange —
    the stratified twin of `weighted_sample`, e.g. "top-N docs per
    source, length-biased")."""
    keyed = df.withColumn("_wkey", _aes_key(key, weight_col, salt))
    return top_k_per_group(keyed, group_col, "_wkey", k,
                           ascending=False, tie_cols=[key],
                           rank_col="_rn").drop("_wkey", "_rn")


def equi_depth_bins(df: DataFrame, group_col: str, value_col: str,
                    n_bins: int = 10) -> DataFrame:
    """Per-group equal-frequency binning (optimizer-statistics /
    feature-discretization shape): boundaries are the exact discrete
    k/n-quantiles from `group_quantiles` (value at rank ⌈q·n⌉ — no
    interpolation), assignment is value-based — bin = number of
    boundaries strictly below the value — so ties collapse into one
    bin deterministically (honest equi-depth: with heavy ties, bins
    are uneven and that is the truth of the data).

    One group-key shuffle for the boundary quantiles, a broadcast of
    the groups×(n_bins−1) boundary frame, then one counting groupBy.
    Output: (group, bin, n, min_v, max_v).
    """
    qs = [k / n_bins for k in range(1, n_bins)]
    bounds = (group_quantiles(df.select(group_col, value_col),
                              group_col, value_col, qs)
              .groupBy(group_col)
              .agg(F.sort_array(F.collect_list("value")).alias("_bnds")))
    binned = (df.select(group_col, F.col(value_col).alias("_v"))
                .join(F.broadcast(bounds), group_col)
                .withColumn("bin", F.aggregate(
                    "_bnds", F.lit(0),
                    lambda acc, b: acc + (F.col("_v") > b).cast("int"))))
    return (binned.groupBy(group_col, "bin")
                  .agg(F.count("*").alias("n"),
                       F.min("_v").alias("min_v"),
                       F.max("_v").alias("max_v")))
