"""End-to-end document curation — the composed pipeline a training-
data run executes between raw crawl and tokenizer: quality gate →
exact dedup → benchmark decontamination → token-budget selection.

Each step is an existing first-class operator (gopher_flags,
content-hash dedup, the cross_* contamination idiom,
token_budget_sample); this module owns the COMPOSITION so a user
gets the whole pipeline as one call (or fluently via `api.DocFrame`)
instead of hand-wiring four stages. Every step is deterministic and
oracle-mirrorable, so the composed output is too (gate:
``curation_pipeline``).

Scale shape per step (the 100 TB lens):

* quality — map-only codegen projection, fuses into the scan;
* exact dedup — ONE shuffle on the content hash (window min per
  hash partition, no join-back);
* decontamination — broadcast anti-join (the eval set is dim-sized
  BY CONTRACT, like every cross_* benchmark side);
* budget — the two-phase distributed prefix sum (pack_shards
  shape), never a global single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import token_budget_sample
from .text import gopher_flags


def _is_materialized_scan(df: DataFrame) -> bool:
    """True iff the root of the frame's analyzed plan is a
    ``LogicalRDD`` — what a ``localCheckpoint``/``checkpoint``
    returns. Re-checkpointing such a frame pays a full copy job and
    buys nothing (the blocks are already pinned). Any other root,
    a ``cache()``d frame included, reads as not materialized."""
    try:
        node = df._jdf.queryExecution().analyzed()
        return node.getClass().getSimpleName() == "LogicalRDD"
    except Exception:  # pragma: no cover — py4j surface drift
        return False


def filter_quality(df: DataFrame, *, text_col: str = "text",
                   min_tokens: int = 20,
                   max_tokens: int = 100_000) -> DataFrame:
    """Rows passing ALL Gopher rule flags (the conjunctive ``keep``
    of `quality_filter_gopher`, as a filter instead of a report)."""
    fl = gopher_flags(F.col(text_col), min_tokens=min_tokens,
                      max_tokens=max_tokens)
    keep = (fl["flag_len"] & fl["flag_word_len"]
            & fl["flag_alpha"] & fl["flag_stop"])
    return df.where(keep)


def dedup_exact_keep_first(df: DataFrame, key: str, *,
                           text_col: str = "text") -> DataFrame:
    """Exact content dedup keeping the LOWEST-keyed copy of each
    distinct text: one shuffle on md5(text), min-key per partition
    via an unbounded window (no second pass, no join-back)."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (df.withColumn("_k0", F.min(key).over(w))
              .where(F.col(key) == F.col("_k0"))
              .drop("_k0"))


def decontaminate_exact(df: DataFrame, eval_df: DataFrame, *,
                        text_col: str = "text",
                        eval_text_col: str | None = None) -> DataFrame:
    """Drop training docs whose text appears verbatim in the eval
    set (hash anti-join; the exact tier of the contamination family
    — `dedup.cross_bloom_dups`/`cross_ngram_contamination` are the
    probabilistic/fuzzy siblings). The eval side is distinct-hashed
    and broadcast — dim-sized by contract."""
    ev = (eval_df.select(F.md5(F.col(eval_text_col or text_col))
                          .alias("_evh")).distinct())
    return df.join(F.broadcast(ev),
                   F.md5(F.col(text_col)) == F.col("_evh"),
                   "left_anti")


def dedup_near_keep_best(df: DataFrame, key: str, score_col: str, *,
                         text_col: str = "text",
                         max_hamming: int = 3,
                         fp_col: str | None = None) -> DataFrame:
    """NEAR-dup removal keeping the best-scored copy per cluster:
    pigeonhole-banded hamming pairs → connected components →
    `dedup.dedup_keep_best` argmax — the fuzzy stage real pipelines
    run after exact dedup ("keep the longest / highest-quality
    near-copy"). One banded self-join on the fingerprint bands + the
    CC cost; the survivors join back on ``key``.

    Fingerprints: by default SimHash is computed from ``text_col``
    (`dedup.simhash_near_pairs`); pass ``fp_col`` to band a
    PRECOMPUTED 64-bit fingerprint column instead (image phash,
    audio fingerprint, an offline simhash pass — any hamming-space
    signal), riding the identical engine
    (`dedup.hamming_near_pairs`).

    The input frame is materialized (``localCheckpoint``) FIRST:
    this stage fans ``df`` out three ways — the fingerprint pass,
    the (key, score) cluster labeling, and the survivor join-back —
    and in the composed `curate` pipeline ``df`` is the whole
    quality→exact-dedup→decontaminate chain (a full-text window
    shuffle per execution). Without the checkpoint each branch
    re-runs that chain (r13 A/B at sf0.1: the upstream appears
    twice in the final join plan alone, 3 executions per
    invocation); with it the chain runs once and every branch reads
    the materialized blocks. On a real cluster swap for
    ``checkpoint()`` to reliable storage — same trade the
    simhash fingerprint checkpoint already documents. The
    checkpoint is skipped when the root of the input plan is a
    ``LogicalRDD`` (a checkpointed frame), since re-checkpointing
    blocks buys nothing."""
    from .dedup import (dedup_keep_best, hamming_near_pairs,
                        simhash_near_pairs)
    if not _is_materialized_scan(df):
        df = df.localCheckpoint()
    if fp_col is not None:
        # (key, int64) frame — tiny; its own checkpoint keeps the
        # banded self-join's branches off the wide-row df blocks
        fp = df.select(key, fp_col).localCheckpoint()
        pairs = hamming_near_pairs(fp, key, fp_col=fp_col,
                                   max_hamming=max_hamming)
    else:
        pairs = simhash_near_pairs(df, key, max_hamming=max_hamming,
                                   text_col=text_col)
    kb = dedup_keep_best(df, key, score_col, pairs=pairs)
    return df.join(kb.where(F.col("keep")).select(key), key)


def curate(df: DataFrame, key: str, *, text_col: str = "text",
           min_tokens: int = 20, max_tokens: int = 100_000,
           eval_df: DataFrame | None = None,
           near_dup: str | None = None, fp_col: str | None = None,
           score_col: str | None = None, max_hamming: int = 3,
           budgets=None, weight_col: str | None = None,
           source_col: str | None = None, default_budget: int = 0,
           salt: str = "curate") -> DataFrame:
    """The composed pipeline: quality → exact dedup → decontaminate
    (if ``eval_df``) → near-dup keep-best (if ``near_dup="simhash"``
    or ``near_dup="hamming"`` with a precomputed ``fp_col``; requires
    ``score_col``) → token budget (if ``budgets``; requires
    ``weight_col``). Returns the curated rows; when the budget step
    runs, a ``cum_weight`` column records each survivor's running
    position against its source's cap."""
    out = filter_quality(df, text_col=text_col, min_tokens=min_tokens,
                         max_tokens=max_tokens)
    out = dedup_exact_keep_first(out, key, text_col=text_col)
    if eval_df is not None:
        out = decontaminate_exact(out, eval_df, text_col=text_col)
    if near_dup is not None:
        if near_dup not in ("simhash", "hamming"):
            raise ValueError(f"unknown near_dup engine {near_dup!r}")
        if score_col is None:
            raise ValueError("near_dup requires score_col")
        if near_dup == "hamming" and fp_col is None:
            raise ValueError("near_dup='hamming' requires fp_col")
        out = dedup_near_keep_best(
            out, key, score_col, text_col=text_col,
            max_hamming=max_hamming,
            fp_col=fp_col if near_dup == "hamming" else None)
    if budgets is not None:
        if weight_col is None:
            raise ValueError("budgets requires weight_col")
        # r14: the budget stage consumes its input TWICE — originally
        # as two actions (the per-(source, bucket) totals collect,
        # then the final windowed keep plan; the per-job trace showed
        # 9 driver jobs re-running the chain inside the collect
        # alone), and since the in-plan-offsets rewrite as the two
        # branches of one plan (the totals aggregate and the local
        # prefix window shuffle on different child shapes, so
        # ReusedExchange cannot dedup them). Either way an
        # un-materialized input executes the whole quality→dedup→
        # decontaminate(→near-dup) chain twice. Materialize the
        # (post-dedup, so reduced) survivor set once; both branches
        # read the blocks. Same trade as the near-dup stage's entry
        # checkpoint — swap for checkpoint() on a real cluster.
        out = out.localCheckpoint()
        out = token_budget_sample(out, key, weight_col, budgets,
                                  source_col=source_col,
                                  default_budget=default_budget,
                                  salt=salt)
    return out
