"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Net-new beyond the reference (training-data-pipeline tier). Design
constraints:

* **hash functions shared with the oracle** — everything derives from
  `md5` (identical in Spark SQL and DuckDB), so each stage is
  hash-checkable;
* **scale shape** — candidate generation is always
  explode → groupBy/join on a bucket key (shuffle on small keys), never
  an n² comparison; n² verification happens only within buckets.

MinHash here is the k-seed variant: ``minhash(doc, s) = min over
shingles of md5(s || '|' || shingle)`` — a uniform random permutation
per seed for all practical purposes. Bands of ``rows_per_band`` seeds
are concatenated; docs sharing any band bucket become candidates
(standard LSH banding).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stark_spark.operators.text import shingles
from stark_spark.materialize import materialize


def _sql_array_lit(values, element_type: str) -> Column:
    """Array literal built as ONE SQL expression string — a single
    py4j call plus one JVM-side parse, instead of the classic-PySpark
    ``lit(list)`` expansion of one ``lit`` round-trip per element
    (r14 measured ~240 ms → ~5 ms at 225 bloom words; the driver
    pays this per gate invocation). Values are identical to
    ``F.lit(list).cast("array<type>")``: integer elements print
    exactly; doubles print via ``repr`` — the shortest round-trip
    form, which the JVM's correctly-rounded parse maps back to the
    same IEEE bits — with a ``D`` suffix so ``-0.0`` stays a DOUBLE
    literal (a DECIMAL detour would lose the sign bit). Non-finite
    doubles have no SQL literal form and fall back to the old path."""
    import math as _math
    vals = list(values)
    if element_type == "double":
        vals = [float(v) for v in vals]
        if not vals or not all(_math.isfinite(v) for v in vals):
            return F.lit(vals).cast("array<double>")
        body = ",".join(f"{v!r}D" for v in vals)
    else:
        vals = [int(v) for v in vals]
        if not vals:
            return F.lit(vals).cast(f"array<{element_type}>")
        body = ",".join(str(v) for v in vals)
    return F.expr(f"CAST(array({body}) AS ARRAY<{element_type}>)")


def _spread_by_key(df: DataFrame, key: str) -> DataFrame:
    """Repartition by ``key`` ahead of a per-doc hashing expansion.

    Moves the shuffle BEFORE the heavy explode/md5 map work (shuffle
    bytes = the input itself, before shingle expansion) and lets the
    downstream ``groupBy(key, …)`` aggregate reuse the exchange (hash
    distribution on a subset of the grouping keys satisfies the
    clustering requirement). Without it a single-file local input runs
    the whole map stage on one core — A/B at sf0.1: 8.7s → 1.0s for
    minhash signatures.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism,
                          key)


def exact_dups(df: DataFrame, key: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash. Output: one row per
    duplicated content value (group size > 1): (content_hash,
    n_dups, keep_key = min key)."""
    h = F.md5(F.col(text_col))
    return (df.select(F.col(key), h.alias("content_hash"))
              .groupBy("content_hash")
              .agg(F.count("*").alias("n_dups"), F.min(key).alias("keep_" + key))
              .where(F.col("n_dups") > 1))


def minhash_signature_long(df: DataFrame, key: str, *, n_seeds: int = 8,
                           shingle_k: int = 8,
                           text_col: str = "text") -> DataFrame:
    """Long-form signatures: (key, seed, minhash). One explode + one
    groupBy — the partial min is map-side combined, so the shuffle
    carries ≤ |docs|·n_seeds tiny rows at any corpus size."""
    # NOTE: the "compute all seeds per shingle row into min columns"
    # variant (avoiding the ×n_seeds explode) was A/B-measured 2×
    # SLOWER at sf0.1 (4.4s vs 2.0s) — the narrow-row explode + one
    # min(string) per (key, seed) group wins under whole-stage codegen.
    sh = _spread_by_key(df, key).select(
        key, F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"))
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1))).alias("seed")
    return (sh.select(key, seeds, F.col("sh"))
              .select(key, "seed",
                      F.md5(F.concat(F.col("seed").cast("string"),
                                     F.lit("|"), F.col("sh"))).alias("h"))
              .groupBy(key, "seed")
              .agg(F.min("h").alias("minhash")))


def _band_buckets(df: DataFrame, key: str, *, n_seeds: int,
                  rows_per_band: int, shingle_k: int,
                  text_col: str) -> DataFrame:
    """(key, band, bucket) LSH banding frame — the join key shared by
    the self-join (`lsh_candidate_pairs`) and the cross-corpus join
    (`cross_lsh_pairs`)."""
    sig = minhash_signature_long(df, key, n_seeds=n_seeds,
                                 shingle_k=shingle_k, text_col=text_col)
    return (sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
               .groupBy(key, "band")
               .agg(F.concat_ws(",", F.sort_array(F.collect_list(
                   F.concat_ws(":", F.col("seed").cast("string"), F.col("minhash"))
               ))).alias("bucket")))


def lsh_candidate_pairs(df: DataFrame, key: str, *, n_seeds: int = 8,
                        rows_per_band: int = 2, shingle_k: int = 8,
                        text_col: str = "text") -> DataFrame:
    """LSH banding: docs sharing any band bucket → candidate pairs
    (a < b, deduplicated). Self-join on the band-bucket key only."""
    band = _band_buckets(df, key, n_seeds=n_seeds,
                         rows_per_band=rows_per_band, shingle_k=shingle_k,
                         text_col=text_col)
    a = band.select(F.col(key).alias("a"), "band", "bucket")
    b = band.select(F.col(key).alias("b"), "band", "bucket")
    return (a.join(b, ["band", "bucket"])
             .where(F.col("a") < F.col("b"))
             .select("a", "b").distinct())


def cross_exact_dups(train: DataFrame, eval_df: DataFrame, key: str, *,
                     text_col: str = "text") -> DataFrame:
    """Exact train→eval contamination: each EVAL row whose text hash
    appears in TRAIN, with the train multiplicity. The leakage check
    every benchmark-respecting pipeline runs before training.

    Scale shape: train collapses to distinct content hashes first
    (groupBy, map-side combined) — the join carries one row per
    DISTINCT train text, and AQE broadcasts it when the hash set is
    small. Output: (content_hash, eval key, n_train)."""
    th = (train.select(F.md5(F.col(text_col)).alias("content_hash"))
               .groupBy("content_hash")
               .agg(F.count("*").alias("n_train")))
    rh = eval_df.select(F.col(key), F.md5(F.col(text_col)).alias("content_hash"))
    return rh.join(th, "content_hash")


def _shingle_hashes(toks: Column, n: int) -> Column:
    """Array of md5 hashes of every n-TOKEN window over an ALREADY-
    MATERIALIZED token-array column — all native expressions:
    sequence + transform(slice → concat_ws → md5). Docs shorter than
    n tokens yield an empty array.

    ``toks`` must be an attribute reference (hoist the
    filter(split(...)) into a withColumn first — see
    `_doc_shingle_rows`): an inline expression would re-run the
    split per WINDOW inside the transform lambda, O(tokens^2)/doc."""
    idx = F.when(F.size(toks) >= n,
                 F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))) \
          .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.md5(
        F.concat_ws(" ", F.slice(toks, i, n))))


def _doc_shingle_rows(df: DataFrame, n: int, text_col: str,
                      *keep_cols: str) -> DataFrame:
    """Per-row DISTINCT n-token-window hashes exploded to rows
    (keep_cols..., h) with the token array hoisted once per row."""
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda t: t != F.lit(""))
    return (df.withColumn("_toks", toks)
              .select(*keep_cols,
                      F.explode(F.array_distinct(
                          _shingle_hashes(F.col("_toks"), n)))
                       .alias("h")))


def cross_ngram_contamination(train: DataFrame, eval_df: DataFrame,
                              key: str, *, n: int = 13,
                              text_col: str = "text") -> DataFrame:
    """Token-n-gram train→eval contamination — the standard
    benchmark-decontamination rule (flag a train doc if ANY of its
    n-token windows appears anywhere in the eval corpus; n=13 is the
    GPT-3/PaLM convention): catches partial inclusions and suffix
    edits that full-text hashing misses and that MinHash banding only
    finds probabilistically — this check is EXACT.

    Scale shape: shingle windows are native array expressions (no
    Python); each side explodes to per-doc DISTINCT shingle hashes
    (array_distinct BEFORE the explode, so a doc's repeated n-gram
    costs one row); the eval side collapses to a distinct hash set
    (small by contract — AQE broadcasts it under the threshold) and
    the only corpus-sized shuffle is the per-train-doc hit count.
    Output: (<key>, n_hit_shingles) — train docs with >= 1 matching
    window, with the count of their DISTINCT windows found in eval."""
    ev_sh = _doc_shingle_rows(eval_df, n, text_col).distinct()
    # spread the train scan BEFORE the shingle expansion (the same
    # idiom minhash/jaccard/simhash use): the shuffle carries raw
    # text bytes, pre-explosion, and without it a single-file local
    # input runs the whole explode+hash+probe map on one core
    # (r14 interleaved A/B at sf0.1: 1.29 -> 0.62 s min)
    tr_sh = _doc_shingle_rows(_spread_by_key(train, key), n,
                              text_col, key)
    return (tr_sh.join(ev_sh, "h")
                 .groupBy(key)
                 .agg(F.count("*").alias("n_hit_shingles")))


def doc_boilerplate_ratio(df: DataFrame, key: str, *, n: int = 13,
                          min_docs: int = 2,
                          text_col: str = "text") -> DataFrame:
    """Per-document boilerplate score: the fraction of a doc's
    distinct n-token windows that are corpus-wide boilerplate (in
    ``min_docs`` or more documents) — the window-granular quality signal a
    100 TB pipeline thresholds on before training. ratio is
    quantized to floor(1e6·n_boiler/n_windows) (exact integer
    division of two counts — aggregation-order-proof). Docs shorter
    than n tokens have no windows and are excluded.

    Scale shape — ONE corpus pass, zero joins: the per-doc distinct
    windows explode once; a count() window over the hash attaches
    each window's corpus document-frequency (doc_sh rows are per-doc
    DISTINCT, so count-per-hash IS the distinct-doc count); one
    groupBy(key) then folds windows and boilerplate hits together.
    (The previous join form re-ran the shingle explode three times —
    doc frame twice plus the boilerplate set's own pass; measured
    5.0 s vs 1.4 s at sf0.1.) Output: (<key>, n_windows, n_boiler,
    ratio_q) for docs with at least one boilerplate window."""
    from pyspark.sql import Window
    # spread before the expansion — same rationale as
    # cross_ngram_contamination (r14 A/B: 0.96 -> 0.80 s min; the
    # h-window shuffle dominates, but the explode stage stops being
    # single-task on few-file inputs)
    doc_sh = _doc_shingle_rows(_spread_by_key(df, key), n,
                               text_col, key)
    n_docs = F.count("*").over(Window.partitionBy("h"))
    return (doc_sh.withColumn("_nd", n_docs)
                  .groupBy(key)
                  .agg(F.count("*").alias("n_windows"),
                       F.sum((F.col("_nd") >= min_docs).cast("long"))
                        .alias("n_boiler"))
                  .where(F.col("n_boiler") > 0)
                  .select(F.col(key), F.col("n_windows"),
                          F.col("n_boiler"),
                          F.floor(F.lit(1000000.0) * F.col("n_boiler")
                                  / F.col("n_windows"))
                           .cast("long").alias("ratio_q")))


def cross_lsh_pairs(train: DataFrame, eval_df: DataFrame, key: str, *,
                    n_seeds: int = 8, rows_per_band: int = 2,
                    shingle_k: int = 8, text_col: str = "text") -> DataFrame:
    """NEAR-dup train→eval contamination candidates (catches light
    paraphrases/suffix edits that exact hashing misses): band both
    corpora with the same MinHash seeds, join on (band, bucket).
    Output: (a = train key, b = eval key), deduplicated. Verify with
    an n-gram Jaccard / simhash pass as for self-dedup."""
    kw = dict(n_seeds=n_seeds, rows_per_band=rows_per_band,
              shingle_k=shingle_k, text_col=text_col)
    a = _band_buckets(train, key, **kw).select(
        F.col(key).alias("a"), "band", "bucket")
    b = _band_buckets(eval_df, key, **kw).select(
        F.col(key).alias("b"), "band", "bucket")
    return a.join(b, ["band", "bucket"]).select("a", "b").distinct()


def _bloom_sizing(n: int, fpp: float) -> tuple[int, int]:
    """Shared Bloom geometry for the literal and distributed builds:
    (m bits, k probes) for ``n`` items at the target false-positive
    rate. m is forced ODD with a 2048-bit floor (double-hashing
    degeneracy guard — see `bloom_build`), k capped at 16 so the
    native probe stays a short conjunction."""
    import math
    n = max(1, n)
    ln2 = math.log(2.0)
    m = max(2048, int(math.ceil(-n * math.log(fpp) / (ln2 * ln2))))
    m += 1 - (m % 2)
    k = min(16, max(1, int(round(m / n * ln2))))
    return m, k


# Most hashes `bloom_build` takes: ~1.8 MB of plan literal at fpp=1e-3.
# The literal Bloom paths collect the eval hashes to the driver; larger
# eval sets take impl="jvm", which builds the filter distributed.
BLOOM_LITERAL_MAX_HASHES = 1 << 20


def bloom_build(hashes: list[str], fpp: float = 1e-3):
    """Build a Bloom filter over md5-hex values. Returns
    ``(words, m, k)``: 32-bit words (as Python ints), bit count, and
    hash count, sized for the target false-positive rate.

    Double hashing (Kirsch–Mitzenmacher): position_j = (h1 + j*h2) mod
    m, where h1/h2 are the first/second 15 hex chars of the md5 — the
    exact arithmetic `bloom_might_contain` re-derives natively, so the
    build and the probe agree bit-for-bit. Guards against the
    small-filter failure modes of double hashing (positions form an
    arithmetic progression, so tiny m gives correlated bits; an even
    step on an even m walks only a coset): m is forced ODD with a
    2048-bit floor (256 B — free), the step lands in [1, m-1], and k
    is capped at 16 so the native probe stays a short conjunction.
    Raises ValueError past `BLOOM_LITERAL_MAX_HASHES` hashes."""
    if len(hashes) > BLOOM_LITERAL_MAX_HASHES:
        raise ValueError(
            f"{len(hashes)} distinct eval hashes exceed the literal Bloom "
            f"limit of {BLOOM_LITERAL_MAX_HASHES}; pass impl=\"jvm\" to "
            f"build the filter distributed")
    n = max(1, len(hashes))
    m, k = _bloom_sizing(n, fpp)
    words = [0] * ((m + 31) // 32)
    for hx in hashes:
        h1 = int(hx[0:15], 16) % m
        h2 = int(hx[15:30], 16) % (m - 1) + 1
        for j in range(k):
            p = (h1 + j * h2) % m
            words[p >> 5] |= 1 << (p & 31)
    return words, m, k


def _bloom_h12(name: str, m: int) -> tuple[str, str]:
    """SQL (h1, h2) double-hash pair over the md5-hex column ``name``
    — the exact arithmetic of `bloom_build` (conv + pmod on
    15-hex-digit = 60-bit chunks). Backticks in the name are doubled,
    so any column name parses as one identifier."""
    q = "`" + name.replace("`", "``") + "`"
    return (f"(CAST(conv(substring({q}, 1, 15), 16, 10) AS BIGINT) "
            f"% {m})",
            f"((CAST(conv(substring({q}, 16, 15), 16, 10) AS BIGINT) "
            f"% {m - 1}) + 1)")


def _bloom_probe_sql(h1: str, h2: str, arr: str, m: int, k: int) -> str:
    """The k-probe Bloom membership conjunction as ONE SQL string:
    position_j = (h1 + j*h2) mod m, then ``getbit`` on the 32-bit word
    ``element_at(arr, pos/32 + 1)``. Parsed once (one py4j call),
    where the Column-arithmetic loop paid ~20 round-trips per probe
    (~165–250 ms at k=10, r14-measured)."""
    conds = []
    for j in range(k):
        pos = f"(({h1} + {j} * {h2}) % {m})"
        word = f"element_at({arr}, CAST(({pos} / 32) AS INT) + 1)"
        conds.append(f"(getbit({word}, {pos} % 32) = 1)")
    return "(true AND " + " AND ".join(conds) + ")"


def bloom_might_contain(hash_col: str, words: list[int],
                        m: int, k: int) -> Column:
    """Native membership test of the md5-hex column ``hash_col``
    against a driver-built Bloom filter: ``conv`` + ``pmod`` +
    ``element_at`` on a literal word array + ``getbit`` —
    whole-stage-codegen end-to-end, no Python on the scan. 32-bit
    words keep every value positive in a BIGINT, so no
    sign-extension subtleties in ``getbit``. The whole expression,
    word array included, is one SQL string (`_bloom_probe_sql`)."""
    arr = ("CAST(array(" + ",".join(str(int(w)) for w in words)
           + ") AS ARRAY<BIGINT>)")
    return F.expr(_bloom_probe_sql(*_bloom_h12(hash_col, m), arr, m, k))


def bloom_words_df(eval_hashes: DataFrame, m: int, k: int) -> DataFrame:
    """Distributed Bloom build: explode each eval hash into its k bit
    positions, then `groupBy(word_idx).agg(bit_or(bit))` — Spark's
    partial aggregation makes this a genuine JVM tree-aggregate (each
    task ORs its local bits; the shuffle carries at most m/32 words
    per task). No driver collect, no plan literal: the eval side can
    be arbitrarily large.

    Input: a DataFrame with a single md5-hex column ``h`` (distinct
    not required). Output: (w_idx int, word long) — only word indexes
    with at least one set bit are present."""
    h1, h2 = _bloom_h12("h", m)
    pos = F.explode(F.array(*[F.expr(f"(({h1} + {j} * {h2}) % {m})")
                              for j in range(k)])).alias("pos")
    return (eval_hashes.select(pos)
            .select(F.shiftright(F.col("pos"), 5).cast("int").alias("w_idx"),
                    # F.shiftleft takes only a literal shift; the SQL
                    # form accepts a column
                    F.expr("shiftleft(1L, CAST(pos % 32 AS INT))")
                     .alias("bit"))
            .groupBy("w_idx")
            .agg(F.bit_or("bit").alias("word")))


def _bloom_probe_array(scan: DataFrame, hash_col: str,
                       words_df: DataFrame, m: int, k: int) -> DataFrame:
    """Probe a distributed Bloom filter via ONE broadcast of the
    dense word array (r14, replacing the k-broadcast-join chain): the
    sparse (w_idx, word) aggregate densifies in-plan (map lookup over
    sequence(0, m/32−1), missing word = 0 = no bits set), rides ONE
    single-row crossJoin broadcast, and all k probes are
    getbit/element_at codegen on the array column — no join
    machinery per probe. The r14 A/B at sf0.1 (row-identical
    output): 1.20 → 0.86 s min-of-5; the k-join form paid k separate
    BroadcastExchanges per invocation and one BHJ per probe.

    Scale bound: the array is one row of m/32 BIGINTs — ~3.6 MB per
    million eval hashes at fpp 1e-3, ~360 MB at 100 M. A row must
    stay under Spark's 2 GiB limit, so m ≥ 2^33 bits raises
    `ValueError` before any plan is built."""
    nw = (m + 31) // 32
    if 8 * nw >= 1 << 31:
        raise ValueError(
            f"Bloom filter of m={m} bits needs a {8 * nw}-byte word "
            f"array, over Spark's 2 GiB row limit: split the eval set "
            f"into shards (<= ~5e8 hashes each at fpp 1e-3) or raise "
            f"fpp")
    warr_row = materialize(words_df.groupBy()
                           .agg(F.map_from_entries(
                               F.collect_list(F.struct("w_idx", "word")))
                               .alias("_mp"))
                           .select(F.expr(
                               f"transform(sequence(0, {nw - 1}), "
                               f"i -> coalesce(element_at(_mp, i), 0L))")
                               .alias("_warr")))
    h1, h2 = _bloom_h12(hash_col, m)
    out = (scan.crossJoin(F.broadcast(warr_row))
               .withColumn("_h1", F.expr(h1))
               .withColumn("_h2", F.expr(h2)))
    cond = _bloom_probe_sql("`_h1`", "`_h2`", "`_warr`", m, k)
    return out.where(F.expr(cond)).drop("_warr", "_h1", "_h2")


def cross_bloom_dups(train: DataFrame, eval_df: DataFrame, key: str, *,
                     text_col: str = "text", fpp: float = 1e-3,
                     impl: str = "literal") -> DataFrame:
    """Exact train→eval contamination via a Bloom prefilter — the
    100 TB decontamination shape. `cross_exact_dups` shuffles every
    distinct TRAIN hash into a groupBy before the join; here the huge
    train scan is filtered FIRST through a compact Bloom built over the
    (small, by contract) eval-hash set, so the shuffle carries only
    eval-sized + false-positive survivors: ~|eval| + fpp·|train| rows
    instead of |distinct train|. The final equi-join against the true
    eval hashes removes Bloom false positives, and no true match is
    ever dropped (no false negatives), so the result is EXACTLY
    `cross_exact_dups`' — same oracle, cheaper plan.

    Two physically-different builds, identical semantics:

    - ``impl="literal"`` (default, small eval sets): driver-built
      bitmap applied as a literal-array + ``getbit`` expression
      (codegen, no Python, no broadcast variable). Raises ValueError
      above `BLOOM_LITERAL_MAX_HASHES` distinct eval hashes.
    - ``impl="jvm"`` (large eval sets — full benchmark suites): the
      filter words are built DISTRIBUTED (`bloom_words_df`: explode
      into bit positions → bit_or tree-aggregate, no driver collect)
      and probed via ONE single-row broadcast of the dense word
      array + k getbit probes (`_bloom_probe_array`) — no plan
      literal at any eval size; the broadcast is m/32 longs
      (~3.6 MB at 1M eval rows).

    Output: (content_hash, <key> of the eval row, n_train)."""
    ev_hash = F.md5(F.col(text_col))
    # eval is read more than once (build + closing join). Deliberately
    # NOT persisted here: an internal cache could never be released by
    # the caller and would leak storage memory for the session
    # lifetime when called repeatedly. Re-reading the small-by-contract
    # eval side is cheaper than a leaked cache; callers that invoke
    # this in a loop should `eval_df.persist()` themselves and manage
    # the lifecycle.
    #
    # PRECONDITION: eval_df must be DETERMINISTIC across evaluations —
    # the zero-false-negative guarantee compares hashes collected for
    # the filter build against hashes recomputed in the closing join.
    # A nondeterministic eval pipeline (seedless sample(), uuid(),
    # limit over an unordered shuffle, ...) can silently drop matches;
    # persist() or `materialize` such inputs before calling.
    tr_hash = train.select(F.md5(F.col(text_col)).alias("content_hash"))
    if impl == "literal":
        hashes = [r.h for r in
                  eval_df.select(ev_hash.alias("h")).distinct().collect()]
        words, m, k = bloom_build(hashes, fpp)
        filtered = tr_hash.where(
            bloom_might_contain("content_hash", words, m, k))
    elif impl == "jvm":
        ev_hashes = eval_df.select(ev_hash.alias("h")).distinct()
        m, k = _bloom_sizing(ev_hashes.count(), fpp)
        filtered = _bloom_probe_array(tr_hash, "content_hash",
                                      bloom_words_df(ev_hashes, m, k),
                                      m, k)
    else:
        raise ValueError(f"unknown bloom impl: {impl!r}")
    th = (filtered.groupBy("content_hash")
                  .agg(F.count("*").alias("n_train")))
    rh = eval_df.select(F.col(key), ev_hash.alias("content_hash"))
    return rh.join(th, "content_hash")


def dedup_clusters(df: DataFrame, key: str, *,
                   pairs: DataFrame | None = None, n_seeds: int = 8,
                   rows_per_band: int = 2, shingle_k: int = 8,
                   text_col: str = "text") -> DataFrame:
    """Near-dup pairs → clusters → canonical keep-list: the step that
    turns pairwise dedup output into "which rows to drop".

    ``pairs``: verified/candidate pair frame with columns (a, b);
    default = LSH banding over ``df``. Clusters are connected
    components of the pair graph (operators/graph.py — driver
    union-find small, hash-min propagation large); the canonical
    representative is the MIN key per cluster (deterministic).
    Returns (key, rep, keep) for EVERY input row — singletons are
    their own rep with keep=true.
    """
    from stark_spark.operators.graph import connected_components
    if pairs is None:
        pairs = lsh_candidate_pairs(df, key, n_seeds=n_seeds,
                                    rows_per_band=rows_per_band,
                                    shingle_k=shingle_k, text_col=text_col)
    cc = connected_components(pairs, src="a", dst="b") \
        .withColumnRenamed("node", key)
    return (df.select(key)
              .join(cc, key, "left")
              .select(F.col(key),
                      F.coalesce("comp", F.col(key)).alias("rep"))
              .withColumn("keep", F.col("rep") == F.col(key)))

def dedup_keep_best(df: DataFrame, key: str, score_col: str, *,
                    pairs: DataFrame | None = None, n_seeds: int = 8,
                    rows_per_band: int = 2, shingle_k: int = 8,
                    text_col: str = "text") -> DataFrame:
    """`dedup_clusters` with a QUALITY keeper policy: inside each
    near-dup cluster keep the row maximizing ``score_col`` (tie →
    smallest key) instead of the smallest key — "keep the longest /
    highest-quality copy", the policy real training pipelines want
    (min-id keeps whichever shard happened to be crawled first).

    Returns (key, rep, keep): rep is still the min-key canonical id
    (stable cluster identity under re-scoring); keep marks the
    score-argmax row. Cost over dedup_clusters: one extra window over
    the cluster key — no new shuffles of the corpus (the rep join
    already keyed it).
    """
    from pyspark.sql import Window
    from stark_spark.operators.graph import connected_components
    if pairs is None:
        pairs = lsh_candidate_pairs(df, key, n_seeds=n_seeds,
                                    rows_per_band=rows_per_band,
                                    shingle_k=shingle_k, text_col=text_col)
    cc = connected_components(pairs, src="a", dst="b") \
        .withColumnRenamed("node", key)
    labeled = (df.select(key, score_col)
                 .join(cc, key, "left")
                 .select(F.col(key), F.col(score_col),
                         F.coalesce("comp", F.col(key)).alias("rep")))
    w = Window.partitionBy("rep").orderBy(F.desc(score_col), F.col(key))
    return (labeled.withColumn("keep", F.row_number().over(w) == 1)
                   .select(key, "rep", "keep"))



def ngram_jaccard_pairs(df: DataFrame, key: str, *, shingle_k: int = 8,
                        threshold: float = 0.5,
                        text_col: str = "text",
                        candidates: DataFrame | None = None) -> DataFrame:
    """Pairs with char-k-gram Jaccard ≥ threshold.

    Distributed shape WITHOUT candidates: distinct (key, shingle) →
    self-join on shingle → per-pair intersection counts → Jaccard vs
    per-doc set sizes. That self-join explodes on very common
    shingles, so at scale ALWAYS pass ``candidates`` (e.g. from LSH):
    the candidate-driven plan joins each pair to its two shingle sets
    instead — O(|candidates| × shingles/doc) rows, linear in the
    (rare at scale) candidate count, never the all-pairs blow-up.
    """
    sh = (_spread_by_key(df, key)
          .select(key, F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"))
          .distinct())
    sizes = sh.groupBy(key).agg(F.count("*").alias("sz"))
    if candidates is not None:
        ia = (candidates.select("a", "b")
                        .join(sh.select(F.col(key).alias("a"), "sh"), "a"))
        inter = (ia.join(sh.select(F.col(key).alias("b"), "sh"),
                         ["b", "sh"])
                   .groupBy("a", "b").agg(F.count("*").alias("n_common")))
    else:
        a = sh.select(F.col(key).alias("a"), "sh")
        b = sh.select(F.col(key).alias("b"), "sh")
        inter = (a.join(b, "sh").where(F.col("a") < F.col("b"))
                  .groupBy("a", "b").agg(F.count("*").alias("n_common")))
    sza = sizes.select(F.col(key).alias("a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col(key).alias("b"), F.col("sz").alias("sz_b"))
    out = (inter.join(sza, "a").join(szb, "b")
                .withColumn("jaccard",
                            F.col("n_common") /
                            (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))))
    return out.where(F.col("jaccard") >= threshold) \
              .select("a", "b", "n_common", "sz_a", "sz_b", "jaccard")


def jaccard_prefix_join(df: DataFrame, key: str, *,
                        threshold: float = 0.6,
                        text_col: str = "text") -> DataFrame:
    """EXACT token-set similarity self-join via prefix filtering
    (Chaudhuri et al. SSJoin 2006 / Bayardo et al. AllPairs 2007) —
    the deterministic complement to the MinHash-LSH tier: every pair
    with Jaccard ≥ threshold is returned, no probabilistic misses.

    The scale trick: a pair with J ≥ t must share a token inside each
    side's PREFIX — the first ``|d| − floor(t·|d|) + 1`` tokens when
    every doc orders its tokens by ascending document frequency
    (rarest first, ties on the token string: a global total order).
    So the candidate join runs on prefix tokens only — the rarest in
    the corpus, which is what bounds the per-token bucket fan-out —
    instead of the classic any-shared-token self-join whose hottest
    bucket is the corpus's most COMMON token. Candidates are then
    verified with exact intersection counts.

    All-integer output contract: jaccard_q6 = (10⁶·|∩|) div |∪|, so
    the threshold decision is integer division — bit-reproducible in
    any engine. The prefix length is computed against (t_q6−1)/10⁶ so
    integer-boundary pairs the q6 rule accepts can never be missed by
    the float prefix arithmetic.

    Output: (a, b, n_common, sz_a, sz_b, jaccard_q6), a < b.
    """
    t_q6 = int(round(threshold * 1_000_000))
    # NOTE (r13 A/B): do NOT materialize tok/per_doc here even
    # though both feed multiple subtrees — the identical distinct
    # subtrees already share one exchange via ReusedExchange, column
    # pruning collapses the `sizes` branch to a count-only aggregate,
    # and the checkpointed LogicalRDD's unknown stats demote the
    # downstream broadcast joins. Interleaved A/B at sf0.1:
    # none 6.1 s / tok-ckpt 17.7 s / both-ckpt 9.8 s (min of 4).
    tok = (_spread_by_key(df, key)
           .select(key, F.explode(F.split(F.col(text_col), " "))
                         .alias("tok"))
           .distinct())
    freq = tok.groupBy("tok").agg(F.count("*").alias("df_tok"))
    ranked = tok.join(freq, "tok")
    per_doc = (ranked.groupBy(key)
               .agg(F.array_sort(F.collect_list(
                        F.struct("df_tok", "tok"))).alias("ts"),
                    F.count("*").alias("sz")))
    # Exact-integer prefix bound (r14, guide §2.3 shuffle fewer rows /
    # §3 join-input reduction): a qualifying partner must overlap this
    # doc in n ≥ ceil(t_q6·sz / 10⁶) tokens — from the integer
    # acceptance rule 10⁶·n ≥ t_q6·(sz_a + sz_b − n) with sz_b ≥ n —
    # so a shared token must appear within the first sz − n_min + 1
    # df-ordered tokens. The old float form floor(((t_q6−1)/10⁶)·sz)
    # was one token conservative at nearly every size (sz=23, t=0.95:
    # prefix 3 vs exact 2), and candidate volume is quadratic in
    # prefix rows per bucket. Pure ceil integer arithmetic, so no
    # float-boundary risk; the result set is untouched (the verify is
    # exact and the oracle brute-forces all pairs).
    n_min = F.expr(f"(sz * {t_q6} + 999999) div 1000000")
    prefix_len = (F.col("sz") - n_min + 1).cast("int")
    pref = per_doc.select(
        key, "sz",
        F.posexplode(F.slice(F.col("ts.tok"), F.lit(1), prefix_len))
         .alias("pos", "tok"))
    # Two candidate-side prunes, both IDENTITIES on the result set:
    # 1. AllPairs length filter (Bayardo et al. 2007 §3.1): J ≥ t
    #    forces n_common ≤ min(sz) and union ≥ max(sz), so
    #    10⁶·min(sz) ≥ t_q6·max(sz) — inside the join itself.
    #    Decisive on skewed/small vocabularies where "rare-token"
    #    prefixes degenerate into huge buckets (a 31-token corpus
    #    measured 11.3M → 2.2M candidates, 3.6× wall).
    # 2. PPJoin positional filter (Xiao et al. 2008 §3): at a shared
    #    prefix token (0-based positions i, j in the df-sorted token
    #    lists) the overlap is bounded by min(sz_a − i, sz_b − j); a
    #    qualifying pair needs n·(10⁶+t_q6) ≥ t_q6·(sz_a+sz_b).
    #    Applied PER OCCURRENCE inside the join (r14): a pair
    #    survives iff SOME occurrence's bound passes ⟺ the max over
    #    occurrences passes (the r13 groupBy+max form), so the
    #    surviving pair set is identical — but failing occurrences
    #    now drop BEFORE the distinct instead of riding through it.
    a = pref.select(F.col(key).alias("a"), F.col("sz").alias("sz_pa"),
                    F.col("pos").alias("pos_a"), "tok")
    b = pref.select(F.col(key).alias("b"), F.col("sz").alias("sz_pb"),
                    F.col("pos").alias("pos_b"), "tok")
    cand = (a.join(b, "tok")
             .where((F.col("a") < F.col("b"))
                    & (F.col("sz_pa") * 1_000_000 >= F.col("sz_pb") * t_q6)
                    & (F.col("sz_pb") * 1_000_000 >= F.col("sz_pa") * t_q6)
                    & (F.least(F.col("sz_pa") - F.col("pos_a"),
                               F.col("sz_pb") - F.col("pos_b"))
                       * (1_000_000 + t_q6)
                       >= (F.col("sz_pa") + F.col("sz_pb")) * t_q6))
             .select("a", "b").distinct())
    # Verify by per-pair set intersection over the per-doc token
    # arrays attached with two key joins (r14, guide §1.2 / §2.3):
    # the r13 verify exploded every candidate pair back into
    # per-token rows (cand ⋈ tok on a, then on (b, tok), then a
    # count aggregate — at sf0.1 that is |cand|·~23 ≈ 50M rows
    # through two exchanges); the join+intersect form computes the
    # identical n_common (tokens are distinct per doc by
    # construction) with candidate-count rows and no verify-side
    # aggregate, and sizes ride the same joins.
    #
    # The intersection itself runs in a mapInPandas batch (guide
    # §4.2), NOT as `size(array_intersect(...))`: ArrayIntersect has
    # no codegen — every candidate pair pays an interpreted
    # nullSafeEval building SQLOpenHashSets, which (a) dominated the
    # verify's CPU even when healthy (~40 s JVM CPU per sf0.1 run)
    # and (b) intermittently ran 3-10× slower WITH 3-5× more JVM CPU
    # on identical data (192 s CPU for a 9 s rep; thread dumps show
    # every task inside ArrayIntersect.nullSafeEval; GC delta 0.2 s —
    # a JIT deopt/recompile pathology of the interpreted eval loop,
    # reproduced across sessions, worst in long bench sessions:
    # 26.7/27.0 s in one quiet-canary bench vs ~2 s healthy). The
    # Python set path is exact (frozenset ∩ over distinct tokens),
    # as fast as the JVM path's healthy mode, and its worst observed
    # excursion is ~7 s under the same storms (vs 17-75 s).
    # Ship each side's token set as ONE space-joined string, not
    # an array<string> (r14 follow-up): thread-sampling the slow
    # reps showed the task threads inside Arrow's
    # StringWriter.setValue — the JVM→Python write paid one
    # varchar append PER TOKEN PER PAIR (~40×2 per candidate).
    # tokens come from split(text, ' '), so they contain no
    # spaces and join(' ')/split(' ') round-trip EXACTLY
    # (empty tokens included); the Python set is built from the
    # identical token multiset, so n_common is unchanged.
    ja = per_doc.select(F.col(key).alias("a"),
                        F.array_join("ts.tok", " ").alias("_sa"),
                        F.col("sz").alias("sz_a"))
    jb = per_doc.select(F.col(key).alias("b"),
                        F.array_join("ts.tok", " ").alias("_sb"),
                        F.col("sz").alias("sz_b"))
    joined = cand.join(ja, "a").join(jb, "b")

    def _verify(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            n = [len(frozenset(x.split(" "))
                     .intersection(y.split(" ")))
                 for x, y in zip(pdf["_sa"], pdf["_sb"])]
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"],
                                "n_common": n,
                                "sz_a": pdf["sz_a"],
                                "sz_b": pdf["sz_b"]})

    kt = dict(df.dtypes)[key]
    out = joined.mapInPandas(
        _verify,
        f"a {kt}, b {kt}, n_common long, sz_a long, sz_b long")
    out = out.withColumn("jaccard_q6",
                         F.expr("1000000 * n_common div "
                                "(sz_a + sz_b - n_common)"))
    return (out.where(F.col("jaccard_q6") >= t_q6)
               .select("a", "b",
                       F.col("n_common").cast("long")
                        .alias("n_common"),
                       F.col("sz_a").cast("long").alias("sz_a"),
                       F.col("sz_b").cast("long").alias("sz_b"),
                       F.col("jaccard_q6").cast("long")
                        .alias("jaccard_q6")))


def simhash_fingerprints(df: DataFrame, key: str, *, n_bits: int = 64,
                         shingle_k: int = 4, text_col: str = "text",
                         out_col: str = "fp") -> DataFrame:
    """(key, fingerprint) frame — the fast path for corpus-scale
    SimHash, bit-identical to the native fold Column spec in
    tests/reference.py (property-tested in tests/test_analytics.py).

    Why not that fold Column itself: it is a
    higher-order-function tree, and Spark HOFs are CodegenFallback —
    interpreted per-row eval measured ~24ms/doc.

    One scalar pandas UDF — per doc, md5 each char k-gram (memoized
    per batch: natural-language shingle sets repeat heavily),
    ``np.unpackbits`` the first ceil(n_bits/8) digest bytes into an
    (n, 8·bytes) matrix, keep its first n_bits columns (MSB-first,
    the same bit order as the spec's hex nibbles), one column-sum
    majority vote. The whole doc stays in one Arrow batch — no
    shingle explode, no per-bit aggregate. A/B at sf0.1 against the
    explode/aggregate plan: 9.4s → 0.7s.

    The input is repartitioned by ``key`` first: it moves the shuffle
    BEFORE the heavy hashing work (one text-sized shuffle, same
    bytes as the input). Single-file local inputs would otherwise run
    the whole map stage on one core.
    """
    assert n_bits % 4 == 0 and n_bits <= 64
    from pyspark.sql.functions import pandas_udf

    n_bytes = (n_bits + 7) // 8
    k = shingle_k

    @pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        import hashlib
        cache: dict = {}
        out = np.zeros(len(texts), dtype=np.int64)
        mask = np.zeros(len(texts), dtype=bool)
        w = np.uint64(1) << np.arange(n_bits - 1, -1, -1,
                                      dtype=np.uint64)
        for idx, t in enumerate(texts):
            if t is None:
                mask[idx] = True
                continue
            n = max(len(t) - (k - 1), 1)
            digs = bytearray()
            for i in range(n):
                s = t[i:i + k]
                d = cache.get(s)
                if d is None:
                    d = hashlib.md5(s.encode()).digest()[:n_bytes]
                    cache[s] = d
                digs += d
            bits = np.unpackbits(
                np.frombuffer(bytes(digs), dtype=np.uint8)
                  .reshape(n, n_bytes), axis=1)[:, :n_bits]
            counts = bits.sum(axis=0, dtype=np.int64)
            fp = w[(counts * 2) >= n].sum(dtype=np.uint64)
            out[idx] = np.int64(fp.astype(np.int64))
        res = pd.Series(out)
        if mask.any():
            res = res.astype(object)
            res[mask] = None
        return res

    return _spread_by_key(df, key).select(
        key, _fp(F.col(text_col)).alias(out_col))


def simhash_near_pairs(df: DataFrame, key: str, *, max_hamming: int = 3,
                       text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Scale shape: block on bit-bands of the fingerprint (pigeonhole: two
    fingerprints within hamming d share at least one of d+1 bands
    unchanged), verify hamming inside blocks only.

    The fingerprint frame is materialized (`materialize`) before
    the banded self-join: the 2×(d+1) branch plans would otherwise each
    re-execute the fingerprint aggregate (no common exchange above the
    agg for ReusedExchange to dedup), and join-key ``isnotnull``
    pushdown re-inlines the fp expression when it is a Project alias —
    measured minutes instead of seconds at sf0.1. The checkpointed
    frame is (key, int64) — tiny at any corpus size.
    """
    fp = materialize(
        simhash_fingerprints(df, key, n_bits=64, text_col=text_col))
    return hamming_near_pairs(fp, key, fp_col="fp",
                              max_hamming=max_hamming)


def _banded_fp(fp_df: DataFrame, key: str, fp_col: str,
               n_bands: int) -> DataFrame:
    """(key, fp, band, bucket) pigeonhole banding frame for a 64-bit
    fingerprint column: one scan + explode instead of an n_bands-
    branch union — same rows, but the fp frame is read once and the
    pre-shuffle task count stays at the input's partitioning (the
    union shape spawned n_bands×partitions map tasks — pure overhead
    at any scale). Shared by the self-join (`hamming_near_pairs`) and
    the cross-corpus incremental join (`hamming_near_join`)."""
    fp = fp_df.select(F.col(key), F.col(fp_col).alias("fp"))
    band_width = 64 // n_bands
    band_exprs = []
    for i in range(n_bands):
        shift = i * band_width
        width = band_width if i < n_bands - 1 else 64 - shift
        if width >= 64:           # max_hamming=0: one full-width band
            expr = F.col("fp")
        else:
            expr = F.shiftrightunsigned(F.col("fp"), shift).bitwiseAND(
                F.lit((1 << width) - 1))
        band_exprs.append(F.struct(F.lit(i).alias("band"),
                                   expr.alias("bucket")))
    return (fp.select(key, "fp",
                      F.explode(F.array(*band_exprs)).alias("bb"))
              .select(key, "fp", F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))


# Largest band-bucket `hamming_near_pairs` will self-join; see its
# docstring.
HAMMING_BUCKET_CAP = 1 << 16


def hamming_near_pairs(fp_df: DataFrame, key: str, *,
                       fp_col: str = "fp",
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column (SimHash,
    image perceptual hash, audio fingerprint ...) by hamming distance
    ≤ max_hamming: pigeonhole banding (two fingerprints within
    hamming d share at least one of d+1 bands unchanged) → band
    equi-join → exact bit_count verify inside blocks only. The input
    frame should be cheap to re-read (checkpoint upstream if it is an
    aggregate — see `simhash_near_pairs`).

    Skew guard (the r11 scale-honesty note made engine code): the
    band equi-join is QUADRATIC inside a bucket, and a template-heavy
    real crawl can put a large fraction of the corpus into one
    band-bucket (low fingerprint diversity) — a one-task n² straggler
    no partitioning fixes. An EAGER probe (one aggregate over the
    banded frame — cheap when the input is checkpointed, which every
    in-repo caller does) raises ValueError when any band-bucket holds
    more than `HAMMING_BUCKET_CAP` rows, with rescale guidance. The
    probe adds no node to the returned plan.
    """
    banded = _banded_fp(fp_df, key, fp_col, max_hamming + 1)
    mx = (banded.groupBy("band", "bucket").count()
                .agg(F.max("count")).first()[0]) or 0
    if mx > HAMMING_BUCKET_CAP:
        raise ValueError(
            f"hamming_near_pairs: a band-bucket holds {mx} rows "
            f"(> {HAMMING_BUCKET_CAP}) — a low-diversity "
            f"(template-heavy) corpus would make the band "
            f"self-join quadratic in one task. Collapse exact-"
            f"duplicate fingerprints first, or lower max_hamming "
            f"(fewer, wider bands).")
    a = banded.select(F.col(key).alias("a"), F.col("fp").alias("fp_a"),
                      "band", "bucket")
    b = banded.select(F.col(key).alias("b"), F.col("fp").alias("fp_b"),
                      "band", "bucket")
    cand = (a.join(b, ["band", "bucket"]).where(F.col("a") < F.col("b"))
             .select("a", "b", "fp_a", "fp_b").distinct())
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cand.withColumn("hamming", hamming)
                .where(F.col("hamming") <= max_hamming)
                .select("a", "b", "hamming"))


def hamming_near_join(new_df: DataFrame, index_df: DataFrame,
                      key: str, *, fp_col: str = "fp",
                      index_key: str | None = None,
                      max_hamming: int = 3) -> DataFrame:
    """INCREMENTAL-INGEST near-dup join: match each fingerprint of a
    (typically small) NEW batch against a persisted fingerprint
    INDEX by hamming distance ≤ max_hamming — the daily-crawl shape
    ("is today's batch a near-dup of anything already in the 100 TB
    corpus?") that the self-join (`hamming_near_pairs`) cannot
    express without re-pairing the whole index against itself.

    Same pigeonhole machinery (two fingerprints within hamming d
    share ≥ 1 of d+1 bands): both frames band via `_banded_fp`, the
    band frames equi-join, exact bit_count verifies inside blocks.
    Scale shape: the index is banded with a MAP-ONLY explode (d+1
    rows per entry, no index shuffle beyond the join's own exchange
    — and when the new batch is small Spark broadcasts ITS banded
    side, making the whole join one map-side pass over the index;
    the big side is never self-paired, so there is no quadratic
    bucket risk from index skew — per-bucket cost is
    |new∩bucket|·|index∩bucket|, bounded by the batch). Output:
    (new_key, index_key, hamming) — one row per matching pair;
    anti-join the new batch on new_key to keep only fresh docs.
    """
    ik = index_key or key
    a = (_banded_fp(new_df, key, fp_col, max_hamming + 1)
         .select(F.col(key).alias("_new"), F.col("fp").alias("fp_a"),
                 "band", "bucket"))
    b = (_banded_fp(index_df, ik, fp_col, max_hamming + 1)
         .select(F.col(ik).alias("_idx"), F.col("fp").alias("fp_b"),
                 "band", "bucket"))
    cand = (a.join(b, ["band", "bucket"])
             .select("_new", "_idx", "fp_a", "fp_b").distinct())
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # collapse to one row per KEY pair (min hamming) — with multiple
    # fingerprints per key this is the only shape that agrees with
    # the streaming twin's groupBy (r12 ADVICE); with unique keys
    # (every in-repo gate) it is the identity
    return (cand.withColumn("hamming", hamming)
                .where(F.col("hamming") <= max_hamming)
                .groupBy(F.col("_new").alias("new_key"),
                         F.col("_idx").alias("index_key"))
                .agg(F.min("hamming").alias("hamming")))


def save_fp_index(fp_df: DataFrame, path: str, *, key: str = "doc_id",
                  fp_col: str = "fp", max_hamming: int = 3,
                  bucket_shards: int = 64) -> None:
    """Persist a fingerprint index PRE-BANDED and shard-partitioned —
    the storage layout that makes small-batch incremental ingest
    SUBLINEAR in index size (r12 verdict #7; the reference's own
    partition_info pruning idea, `SpatioTemporalRDD.scala:658-713`,
    applied to fingerprint space). `hamming_near_join` re-bands the
    full index on every call — one map pass, fine for batch-daily,
    wasteful for hourly ingest against a 100 TB corpus. This writer
    pays the banding ONCE: the index is exploded into its
    ``max_hamming + 1`` pigeonhole bands and written partitioned by
    ``(band, bshard = bucket % bucket_shards)`` — 4×64 directories by
    default — so a probe can Catalyst-prune every directory whose
    (band, shard) no batch fingerprint hashes into, BEFORE any row
    is deserialized. Storage cost: (d+1)× the raw fingerprint table
    — fingerprints are 16 bytes/row, so a 100 TB corpus's index is
    ~tens of GB banded; the probe reads only matching shards of it.

    Metadata (band count, shard modulus, column names) rides in
    ``path/_meta`` — underscore-prefixed, invisible to the data scan,
    the `save_ivf_bucketed` convention."""
    n_bands = max_hamming + 1
    banded = (_banded_fp(fp_df, key, fp_col, n_bands)
              .withColumn("bshard",
                          F.pmod(F.col("bucket"),
                                 F.lit(int(bucket_shards))).cast("int")))
    (banded.repartition("band", "bshard")
           .write.mode("overwrite").partitionBy("band", "bshard")
           .parquet(path))
    meta = fp_df.sparkSession.createDataFrame(
        [(int(n_bands), int(bucket_shards), key, fp_col)],
        "n_bands int, bucket_shards int, key string, fp_col string")
    meta.coalesce(1).write.mode("overwrite").parquet(path + "/_meta")


def hamming_near_join_indexed(new_df: DataFrame, index_path: str, *,
                              key: str = "doc_id",
                              fp_col: str = "fp",
                              max_hamming: int = 3) -> DataFrame:
    """`hamming_near_join` against a `save_fp_index` store: the new
    batch bands in memory (d+1 rows per fingerprint), the DISTINCT
    (band, shard) set it occupies is collected (≤ n_bands ×
    bucket_shards rows — driver-tiny by construction, independent of
    both batch and index size), and the index scan carries
    ``(band · shards + bshard) IN (…)`` — a deterministic expression
    of the two partition columns, so Catalyst prunes whole
    directories and I/O is ∝ the shards the batch actually touches
    (assert ``PartitionFilters`` in the plan). A small batch touches
    few shards → sublinear ingest in index size; a full-corpus batch
    touches all of them → graceful degradation to the in-memory
    join's cost. Output is IDENTICAL to `hamming_near_join` on the
    same frames: (new_key, index_key, hamming), min-collapsed per
    key pair."""
    spark = new_df.sparkSession
    mf = spark.read.parquet(index_path + "/_meta").first()
    n_bands = max_hamming + 1
    if mf.n_bands != n_bands:
        raise ValueError(
            f"hamming_near_join_indexed: index at {index_path} was "
            f"banded for max_hamming={mf.n_bands - 1}, probe asked "
            f"max_hamming={max_hamming} — rebuild the index or match "
            f"the threshold (pigeonhole bands are not reusable across "
            f"thresholds)")
    shards = int(mf.bucket_shards)
    a = materialize(
        _banded_fp(new_df, key, fp_col, n_bands)
        .select(F.col(key).alias("_new"), F.col("fp").alias("fp_a"),
                "band", "bucket")
        .withColumn("bshard",
                    F.pmod(F.col("bucket"), F.lit(shards)).cast("int")))
    present = sorted({r.band * shards + r.bshard
                      for r in a.select("band", "bshard")
                                .distinct().collect()})
    idx = (spark.read.parquet(index_path)
           .where((F.col("band") * F.lit(shards) + F.col("bshard"))
                  .isin(present))
           .select(F.col(mf.key).alias("_idx"),
                   F.col(mf.fp_col).alias("fp_b"), "band", "bucket"))
    cand = (a.join(idx, ["band", "bucket"])
             .select("_new", "_idx", "fp_a", "fp_b").distinct())
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cand.withColumn("hamming", hamming)
                .where(F.col("hamming") <= max_hamming)
                .groupBy(F.col("_new").alias("new_key"),
                         F.col("_idx").alias("index_key"))
                .agg(F.min("hamming").alias("hamming")))


def duplicated_spans(df: DataFrame, key: str, *, n: int = 13,
                     min_docs: int = 2, text_col: str = "text",
                     broadcast_dups: bool = True) -> DataFrame:
    """MAXIMAL duplicated-span extraction — the span-granular member
    of the substring-dedup family (Lee et al. 2021's "Deduplicating
    Training Data Makes Language Models Better" removes repeated
    substrings, not whole docs): every token covered by some
    corpus-duplicated ``n``-gram, with overlapping/adjacent hits
    MERGED into maximal spans, reported as exact token offsets.
    Where `passage_dedup` rewrites docs on a fixed chunk grid (and
    misses repeats that straddle chunk boundaries) and
    `doc_boilerplate_ratio` only scores, this emits the precise
    (start, end) regions — the input a surgical redaction / rewrite
    step needs, alignment-free.

    Semantics: token = whitespace-split non-empty (the repo's
    convention, identical in the DuckDB mirror); an n-gram starting
    at token i is duplicated iff it appears in ≥ ``min_docs``
    distinct documents; two duplicated starts merge iff their gap is
    ≤ n (overlap or exact adjacency ⇒ contiguous covered tokens).
    Output: (key, span_start, span_end, span_tokens) with end
    EXCLUSIVE — span_tokens = end - start.

    Scale shape: one explode into (doc, pos, gram) rows (T rows per
    T-token doc — same footprint as the contamination n-gram pass);
    the duplicated-gram set is a hash aggregate joined back on the
    gram (broadcast when Zipf-small, ``broadcast_dups=False`` for
    template-heavy corpora); island-merge is one per-DOC window
    (doc-scale partitions, never global). Nothing corpus-quadratic.
    """
    g = _gram_positions(df, key, int(n), text_col)
    dup = (g.groupBy("gram").agg(F.countDistinct(key).alias("_nd"))
            .where(F.col("_nd") >= int(min_docs)).select("gram"))
    hits = (g.join(F.broadcast(dup) if broadcast_dups else dup, "gram")
             .select(key, "pos"))
    return _merge_spans(hits, key, int(n))


def _gram_positions(df: DataFrame, key: str, n: int,
                    text_col: str) -> DataFrame:
    """(key, pos, gram) — every token ``n``-gram with its 0-based
    start offset; whitespace-split non-empty tokens (the repo's
    convention, identical in the DuckDB mirrors)."""
    toks = F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")
    grams = F.expr(
        f"CASE WHEN size(_t) < {n} THEN "
        f"CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(0, size(_t) - {n}), "
        f"i -> array_join(slice(_t, i + 1, {n}), ' ')) END")
    return (df.select(F.col(key), toks.alias("_t"))
              .select(F.col(key),
                      F.posexplode(grams).alias("pos", "gram")))


def _merge_spans(hits: DataFrame, key: str, n: int) -> DataFrame:
    """Gaps-and-islands merge of n-gram start positions into maximal
    spans (gap ≤ n ⇒ contiguous covered tokens). Per-DOC window —
    doc-scale partitions, never global."""
    w = Window.partitionBy(key).orderBy("pos")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = (hits.withColumn(
               "_brk", F.when(F.col("pos") - F.lag("pos").over(w)
                              > n, 1).otherwise(0))
               .withColumn("_grp", F.sum("_brk").over(wc)))
    return (isl.groupBy(key, "_grp")
               .agg(F.min("pos").alias("_s"),
                    (F.max("pos") + n).alias("_e"))
               .select(F.col(key),
                       F.col("_s").cast("long").alias("span_start"),
                       F.col("_e").cast("long").alias("span_end"),
                       (F.col("_e") - F.col("_s")).cast("long")
                       .alias("span_tokens")))


def contaminated_spans(df: DataFrame, eval_df: DataFrame, key: str, *,
                       n: int = 13, text_col: str = "text",
                       eval_text_col: str = "text",
                       broadcast_eval: bool = True) -> DataFrame:
    """SPAN-level train→eval decontamination — the surgical twin of
    `cross_ngram_contamination` (which only counts matching windows
    per doc): the exact (start, end-exclusive) token offsets of every
    maximal train-document region covered by some eval-set ``n``-gram
    — so the pipeline can EXCISE the leaked benchmark passage and
    keep the rest of the document, instead of dropping it whole.
    Same island-merge machinery as `duplicated_spans`.

    Scale shape: the eval gram set is a distinct projection of the
    (small) eval corpus, broadcast by default
    (``broadcast_eval=False`` for giant eval suites); the train side
    is one explode + one semi-shaped join + a per-DOC window. Output:
    (key, span_start, span_end, span_tokens)."""
    g = _gram_positions(df, key, int(n), text_col)
    ev = (_gram_positions(eval_df.select(
              F.col(eval_text_col).alias("_etx")).withColumn(
                  "_ek", F.monotonically_increasing_id()),
              "_ek", int(n), "_etx")
          .select("gram").distinct())
    hits = (g.join(F.broadcast(ev) if broadcast_eval else ev, "gram")
             .select(key, "pos"))
    return _merge_spans(hits, key, int(n))


def containment_pairs(df: DataFrame, key: str, *, shingle_k: int = 8,
                      threshold_pct: int = 80,
                      text_col: str = "text",
                      candidates: DataFrame | None = None) -> DataFrame:
    """Directed near-superset pairs by shingle CONTAINMENT
    ``|A∩B| / |A|`` — the asymmetric cousin of Jaccard (Broder 1997):
    a short document quoted inside a long one scores ~1.0 on
    containment while its Jaccard stays tiny, so this is the operator
    that catches quote-inclusion / partial-copy dedup cases Jaccard
    misses. Emits BOTH directions (a⊂b and b⊂a are different facts).

    Exactness: the threshold test is the integer cross-multiplication
    ``100·n_common ≥ threshold_pct·sz`` — no float threshold; the
    reported ``containment`` is a ratio of two exact ints (identical
    IEEE division in any engine).

    Scale shape: identical to `ngram_jaccard_pairs` — pass LSH
    ``candidates`` at scale so the shingle self-join never sees a
    common-shingle blow-up; candidate-driven cost is
    O(|candidates| × shingles/doc). Output: (src, sup, n_common,
    sz_src, containment) where ``src`` is the (possibly) contained
    doc and ``sup`` the (possible) superset."""
    sh = (_spread_by_key(df, key)
          .select(key,
                  F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"))
          .distinct())
    sizes = sh.groupBy(key).agg(F.count("*").alias("sz"))
    if candidates is not None:
        ia = (candidates.select("a", "b")
                        .join(sh.select(F.col(key).alias("a"), "sh"), "a"))
        inter = (ia.join(sh.select(F.col(key).alias("b"), "sh"),
                         ["b", "sh"])
                   .groupBy("a", "b").agg(F.count("*").alias("n_common")))
    else:
        a = sh.select(F.col(key).alias("a"), "sh")
        b = sh.select(F.col(key).alias("b"), "sh")
        inter = (a.join(b, "sh").where(F.col("a") < F.col("b"))
                  .groupBy("a", "b").agg(F.count("*").alias("n_common")))
    # undirected candidate pairs -> two directed containment facts
    directed = inter.select(
        F.col("a").alias("src"), F.col("b").alias("sup"), "n_common"
    ).unionByName(inter.select(
        F.col("b").alias("src"), F.col("a").alias("sup"), "n_common"))
    szs = sizes.select(F.col(key).alias("src"), F.col("sz").alias("sz_src"))
    out = (directed.join(szs, "src")
                   .where(F.col("n_common") * F.lit(100)
                          >= F.col("sz_src") * F.lit(threshold_pct))
                   .withColumn("containment",
                               F.col("n_common") / F.col("sz_src")))
    return out.select("src", "sup", "n_common", "sz_src", "containment")


def passage_dedup(df: DataFrame, key: str, *, chunk_tokens: int = 10,
                  min_docs: int = 2, text_col: str = "text",
                  broadcast_dups: bool = True) -> DataFrame:
    """Repeated-passage removal with DOCUMENT RECONSTRUCTION — the
    C4/RefinedWeb-style cleanup that REWRITES documents instead of
    dropping them: split each doc's token stream into aligned
    ``chunk_tokens``-token chunks, count each distinct chunk's
    document frequency corpus-wide, and rebuild every doc from the
    chunks appearing in fewer than ``min_docs`` documents (license
    headers, navigation boilerplate, quoted footers vanish; unique
    prose survives). The within-doc sibling of `doc_boilerplate_ratio`
    (which only SCORES) and the repetition gates (which only FLAG).

    Alignment caveat (the classic chunking trade): only passages that
    land on the same chunk offsets in every copy are caught — shared
    PREFIXES always align; mid-document repeats align only by luck.
    Content-defined chunking would fix that at the cost of a
    non-SQL-mirrorable splitter; this operator keeps the exact,
    oracle-checkable form.

    Scale shape: one explode into (doc, pos, chunk) rows; the
    duplicated-chunk set is a hash aggregate (distinct-doc count ≥
    min_docs — Zipf-small on real corpora, like the Bloom eval sets)
    joined back on the chunk hash; reassembly is one groupBy(key)
    with an in-group sort_array — no windows, no self-join, nothing
    corpus-quadratic. ``broadcast_dups=False`` switches the mark join
    to a plain shuffle join for corpora whose duplicated-chunk set is
    NOT small (heavy mirror/template corpora) — same rows, one more
    exchange. Output: (key, n_chunks, n_removed, clean_text).
    """
    k = int(chunk_tokens)
    toks = F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")
    # guard: Spark's sequence(0, -1) DESCENDS (it doesn't produce an
    # empty array like DuckDB generate_series) — empty docs must
    # short-circuit to zero chunks
    chunks = F.expr(
        f"CASE WHEN size(_t) = 0 THEN array() "
        f"ELSE transform(sequence(0, CAST(floor((size(_t) - 1) / {k}) "
        f"AS INT)), i -> array_join(slice(_t, i * {k} + 1, {k}), ' ')) "
        f"END")
    ch = (df.select(F.col(key), toks.alias("_t"))
            .select(F.col(key), F.posexplode(chunks)
                     .alias("pos", "chunk")))
    dup = (ch.groupBy("chunk")
             .agg(F.countDistinct(key).alias("nd"))
             .where(F.col("nd") >= min_docs)
             .select("chunk"))
    dmark = dup.withColumn("_dup", F.lit(True))
    kept = ch.join(F.broadcast(dmark) if broadcast_dups else dmark,
                   "chunk", "left")
    agg = (kept.groupBy(key)
               .agg(F.count("*").alias("n_chunks"),
                    F.sum(F.when(F.col("_dup").isNotNull(), 1)
                           .otherwise(0)).alias("n_removed"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(F.col("_dup").isNull(),
                                       F.struct("pos", "chunk")))),
                            lambda s: s["chunk"]),
                        " ").alias("clean_text")))
    # docs with zero chunks (empty text) never reach the explode —
    # reattach them with identity output
    base = df.select(F.col(key))
    return (base.join(agg, key, "left")
                .select(F.col(key),
                        F.coalesce("n_chunks", F.lit(0))
                         .cast("long").alias("n_chunks"),
                        F.coalesce("n_removed", F.lit(0))
                         .cast("long").alias("n_removed"),
                        F.coalesce("clean_text", F.lit(""))
                         .alias("clean_text")))
