"""Text-analysis operators for large-scale training-data pipelines.

Net-new beyond the reference (SURVEY.md §7 "beyond-parity"): language
ID, quality scoring, token counting, document fingerprinting. All are
pure native column expressions (split / higher-order array functions /
md5) — no Python UDFs, fully codegen'd, and every formula is
reproducible in ANSI SQL for the DuckDB oracle.

At 100 TB these run as one narrow projection pass over the corpus —
no shuffle except the caller's own aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize

# tiny deterministic english-ish stopword set (shared with oracle SQL)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space tokenizer, matching
    `string_split(text,' ')` in the oracle)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-ish pre-tokenizer approximation: a letters run is one token,
# each digit its own token, each non-space symbol its own token — the
# boundaries BPE vocabularies split on. Kept inside the RE2 ∩
# java.util.regex common dialect so the identical pattern runs in
# Spark codegen AND the DuckDB oracle (`regexp_extract_all`).
# Whitespace is spelled as an explicit class, not `\s`: Java's \s
# includes \x0b (vertical tab) while RE2's does not, so the shorthand
# would silently diverge between the two engines on VT-bearing text.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\f\x0b]"


def token_count_bpe(text: Column) -> Column:
    """Subword-boundary token count (BPE-ish): a closer proxy for LLM
    token budgets than whitespace counting — digits and punctuation
    cost one token each. Native `regexp_count`, no UDF."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def avg_token_len(text: Column) -> Column:
    """Mean token length — (chars - spaces) / tokens, exact in SQL."""
    n = token_count(text)
    total = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return total / n


def stopword_ratio(text: Column) -> Column:
    hits = F.size(F.filter(tokens(text), lambda w: w.isin(*STOPWORDS)))
    return hits / token_count(text)


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    stripped = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(stripped)) / F.length(text)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality in [0,1]: long-enough docs with a
    natural stopword rate and low punctuation score high.

    Deterministic rational arithmetic — identical formula in the oracle.
    """
    n = token_count(text)
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    stop = stopword_ratio(text)
    stop_term = F.lit(1.0) - F.abs(stop - F.lit(0.4))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return (len_term + stop_term + punct_term) / 3.0


# language ID: score by hit-rate of tiny per-language marker lexicons.
# (A real deployment plugs in cld3/fasttext via pandas UDF; this n-gram
# heuristic keeps the whole operator native and oracle-checkable.)
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    n = F.size(toks)
    return {lang: F.size(F.filter(toks, lambda w: w.isin(*marks))) / n
            for lang, marks in _LANG_MARKERS.items()}


def lang_guess(text: Column) -> Column:
    """argmax over marker scores, 'und' when all zero. Deterministic
    tie-break by language name order (en < es < de is NOT alpha — we use
    explicit chained comparison so the oracle CASE matches exactly)."""
    s = lang_scores(text)
    best = F.lit("und")
    best_score = F.lit(0.0)
    for lang in ("en", "es", "de", "fr"):  # fixed priority on ties
        cond = s[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s[lang]).otherwise(best_score)
    return best


def shingles(text: Column, k: int = 8) -> Column:
    """Character k-gram array (positions 1..len-k+1) — the basis for
    fingerprinting / MinHash. Native `sequence`+`transform`; mirrored in
    SQL as a lateral `range` + `substr`."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))),
        lambda i: F.substring(text, i, k))


def fingerprint(text: Column, k: int = 8) -> Column:
    """Deterministic document fingerprint: min md5 over char k-grams
    (winnowing-lite rolling-hash selection)."""
    return F.array_min(F.transform(shingles(text, k), F.md5))


# --- repetition / boilerplate profiling (Gopher-rule style) ---------
#
# Gopher/C4-style repetition gates for training-data curation: docs
# dominated by a few tokens or a repeated phrase are boilerplate and
# get filtered. All pure higher-order array expressions — O(distinct ×
# n) per doc inside whole-stage codegen, one narrow map pass at 100 TB.


def distinct_token_ratio(text: Column) -> Column:
    """Type/token ratio — low means few distinct words repeated a lot."""
    toks = tokens(text)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def top_token_ratio(text: Column) -> Column:
    """Frequency of the most common token / n_tokens."""
    toks = tokens(text)
    return F.array_max(F.transform(
        F.array_distinct(toks),
        lambda x: F.size(F.filter(toks, lambda y: y == x)))) / F.size(toks)


def word_bigrams(text: Column) -> Column:
    """Adjacent word pairs joined by one space; empty for 1-token docs
    (guarded — ``sequence(1, 0)`` would count DOWN in Spark).

    Shape: zip_with over two slices of the token array — each slice
    materializes the array once, so the pass is O(tokens) per row.
    (The transform(sequence)/element_at form re-evaluates the token
    split per ELEMENT — O(tokens^2) per doc; fixing the same pattern
    in doc_logprob_bigram measured 4.6x at sf0.1.)"""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))


def top_bigram_ratio(text: Column) -> Column:
    """Frequency of the most common word bigram / (n_tokens - 1);
    0.0 for single-token docs."""
    bg = word_bigrams(text)
    n = F.size(tokens(text))
    return F.when(n >= 2, F.array_max(F.transform(
        F.array_distinct(bg),
        lambda x: F.size(F.filter(bg, lambda y: y == x)))) / (n - 1)
    ).otherwise(F.lit(0.0))


def repetition_keep(text: Column, *, min_tokens: int = 20,
                    min_ttr: float = 0.4, max_top_token: float = 0.15,
                    max_top_bigram: float = 0.08) -> Column:
    """Boolean curation gate over the repetition metrics (thresholds
    follow the Gopher-rules shape, tuned to split the test corpus)."""
    return ((token_count(text) >= min_tokens)
            & (distinct_token_ratio(text) >= min_ttr)
            & (top_token_ratio(text) <= max_top_token)
            & (top_bigram_ratio(text) <= max_top_bigram))


def repetition_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the repetition metric set + the keep gate."""
    t = F.col(text_col)
    return (df.withColumn("n_tokens", token_count(t))
              .withColumn("distinct_token_ratio", distinct_token_ratio(t))
              .withColumn("top_token_ratio", top_token_ratio(t))
              .withColumn("top_bigram_ratio", top_bigram_ratio(t))
              .withColumn("rep_keep", repetition_keep(t)))


# --- PII scrubbing ----------------------------------------------------
#
# Regex-based email/phone redaction for corpus cleaning. Patterns stay
# inside the RE2 ∩ java.util.regex common dialect so the identical
# string runs in Spark (codegen regexp_replace) and the DuckDB oracle.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_email_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(EMAIL_RE))


def pii_phone_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PHONE_RE))


def pii_scrub(text: Column) -> Column:
    """Replace every email → ``<EMAIL>`` and phone → ``<PHONE>``."""
    scrubbed = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full analysis column set."""
    t = F.col(text_col)
    return (df.withColumn("n_tokens", token_count(t))
              .withColumn("avg_token_len", avg_token_len(t))
              .withColumn("stopword_ratio", stopword_ratio(t))
              .withColumn("punct_ratio", punct_ratio(t))
              .withColumn("quality", quality_score(t))
              .withColumn("lang_guess", lang_guess(t))
              .withColumn("fingerprint", fingerprint(t)))


def chunk_by_tokens(df: DataFrame, key: str, text_col: str = "text", *,
                    max_tokens: int = 64, overlap: int = 8) -> DataFrame:
    """Split documents into overlapping token-budget chunks — the
    context-window prep step (pretraining packing / retrieval
    chunking). Chunk i covers tokens [i·step, i·step + max_tokens)
    with step = max_tokens − overlap; every doc yields ≥ 1 chunk.

    → (key, chunk_id, n_chunk_tokens, chunk). Fully native
    (split / sequence / explode / slice / array_join): the explode is
    the only row growth (≈ n_tokens/step per doc) and there is NO
    shuffle — chunking stays scan-shaped at any corpus size.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n - F.lit(overlap) + F.lit(step - 1)) / F.lit(step))
         .cast("int"))
    out = (df.select(F.col(key), toks.alias("_toks"),
                     F.explode(F.sequence(F.lit(0), n_chunks - 1))
                      .alias("chunk_id")))
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * step + 1,
                    max_tokens)
    return out.select(
        key, "chunk_id",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk"))


def vocab_top_k(df: DataFrame, k: int, *, text_col: str = "text",
                min_count: int = 1) -> DataFrame:
    """Corpus vocabulary: exact token counts, top-k by (count DESC,
    token ASC) — the tokenizer-building / frequency-cutoff pass every
    training pipeline runs before fitting a BPE model.

    Scale shape: explode → hash aggregate with map-side combine (each
    task pre-counts its tokens, the shuffle carries per-task distinct
    tokens only), then the global top-k plans as
    TakeOrderedAndProject — per-partition heaps, no full sort.
    Output: (token, n)."""
    tok = (df.select(F.explode(tokens(F.col(text_col))).alias("token"))
             .where(F.col("token") != ""))
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= min_count)
    return counts.orderBy(F.desc("n"), F.col("token")).limit(k)


def doc_logprob(df: DataFrame, key: str, *, text_col: str = "text",
                vocab: DataFrame | None = None) -> DataFrame:
    """Unigram log-probability quality score per document (the classic
    LM-based quality filter: perplexity-ish scoring against the
    corpus' own unigram distribution, OOV-free by construction since
    the vocabulary IS the corpus).

    Cross-engine exactness: every ln() is quantized onto an exact
    integer grid BEFORE summation — per token the score contribution
    is floor(ln(count/total)·1e6) as a BIGINT, so the per-document sum
    is exact integer arithmetic in any engine (same trick as the A-ES
    sampling keys; a 1-ulp libm difference flips a term only when
    ln·1e6 sits within 1 ulp of an integer).

    Scale shape: one corpus aggregate for counts (map-side combined),
    broadcast-joined back to the exploded tokens (vocab is
    |distinct tokens| — broadcast at any realistic corpus; pass a
    pre-filtered ``vocab`` to cap it), then one groupBy(key) sum.
    Output: (key, n_tokens, logprob_q) with logprob_q = Σ quantized
    terms (BIGINT)."""
    tok = (df.select(F.col(key),
                     F.explode(tokens(F.col(text_col))).alias("token"))
             .where(F.col("token") != ""))
    if vocab is None:
        # pinned: the total .first() below and the broadcast side
        # share one copy of the (vocab-sized) frame, so the corpus
        # explode+agg runs once
        vocab = materialize(
            tok.groupBy("token").agg(F.count("*").alias("_n")))
    else:
        vocab = vocab.select("token", F.col("n").alias("_n"))
    total = vocab.agg(F.sum("_n")).first()[0] or 1   # empty corpus →
    # empty join result with the correct schema, not a plan-time crash
    term = F.floor(
        F.log(F.col("_n").cast("double") / F.lit(float(total)))
        * F.lit(1e6)).cast("long")
    return (tok.join(F.broadcast(vocab), "token")
               .groupBy(key)
               .agg(F.count("*").alias("n_tokens"),
                    F.sum(term).alias("logprob_q")))


def doc_logprob_bigram(df: DataFrame, key: str, *,
                       text_col: str = "text") -> DataFrame:
    """Bigram LM quality score per document with add-one smoothing:
    Σ ln((c(a,b)+1)/(c(a)+V)) over the doc's adjacent token pairs —
    the next-order LM filter after `doc_logprob` (catches shuffled-
    word salad a unigram model scores as fluent).

    Same cross-engine exactness contract as `doc_logprob`: each term
    quantizes to floor(ln·1e6) BIGINT micro-nats BEFORE the per-doc
    sum, so aggregation order cannot move the result.

    Scale shape: bigram generation is a per-row array transform (no
    window, no shuffle); corpus statistics are two map-side-combined
    aggregates (bigram counts, unigram counts — both vocabulary-
    sized); scoring joins doc bigrams to the two count frames on
    their vocab keys. V (distinct unigrams) is one driver scalar.
    Output: (key, n_bigrams, logprob2_q)."""
    # hoist the token array into a column so each element_at in the
    # transform lambda indexes a materialized array instead of
    # re-evaluating filter(split(text)) per element (O(tokens^2)/doc)
    #
    # NOTE (r14 negative result — do not re-try): folding the unigram
    # pass into the bigram explode pmi-style (one combined struct
    # explode, unigram rows with NULL b, checkpointed count frame)
    # measured EQUAL-to-slower in an interleaved A/B at sf0.1
    # (old min 1.25 / med 1.55 vs new min 1.38 / med 1.60, 6 reps):
    # the saved tokenize pass is repaid by the wider (a, b) aggregate
    # key and by materializing the bigram-vocab-sized count frame the
    # old form only streams into a broadcast. pmi_collocations keeps
    # the combined form because BOTH of its passes were pinned
    # frames read several times; here the bigram counts never
    # needed a pin.
    pair_expr = ("CASE WHEN size(_toks) >= 2 THEN "
                 "transform(sequence(1, size(_toks) - 1), "
                 "i -> concat(element_at(_toks, i), ' ', "
                 "element_at(_toks, i + 1))) "
                 "ELSE array() END")
    pairs = (df.select(F.col(key),
                       F.expr(f"filter(split({text_col}, ' '), "
                              "t -> t <> '')").alias("_toks"))
               .select(F.col(key),
                       F.explode(F.expr(pair_expr)).alias("pair")))
    # the V count below materializes it; the scoring join then reads
    # the vocab-sized frame back instead of re-running the corpus
    # explode+agg
    uni = materialize(
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
          .where(F.col("token") != "")
          .groupBy("token").agg(F.count("*").alias("cu")))
    v = uni.count()
    big = pairs.groupBy("pair").agg(F.count("*").alias("cb"))
    first_tok = F.expr("substring_index(pair, ' ', 1)").alias("token")
    term = F.expr(
        f"CAST(floor(ln(CAST(cb + 1 AS DOUBLE)"
        f" / CAST(cu + {v} AS DOUBLE)) * 1000000) AS BIGINT)")
    return (pairs
            .join(F.broadcast(big), "pair")
            .withColumn("token", first_tok)
            .join(F.broadcast(uni), "token")
            .groupBy(key)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum(term).alias("logprob2_q")))


def bm25_topk(df: DataFrame, key: str, query_terms: list[str], k: int,
              *, text_col: str = "text", k1: float = 1.2,
              b: float = 0.75) -> DataFrame:
    """BM25 lexical retrieval over the corpus — the sparse twin of the
    dense ANN tier (classic Okapi BM25: idf-weighted, length-
    normalized term-frequency saturation).

    Cross-engine exactness: idf per term is quantized to
    floor(ln(...)·1e6) (an exact integer), each term's contribution is
    quantized to floor(idf_q · saturation · 1e3) as a BIGINT, and the
    per-document score is the SUM OF INTEGERS — exact under any
    aggregation order, so the oracle matches bit-for-bit (double sums
    would be shuffle-order-dependent).

    Scale shape: NO explode and NO groupBy anywhere — per-document
    term frequencies and lengths are higher-order array expressions in
    one narrow projection, corpus statistics (N, total length, every
    per-term document frequency) come from ONE combined aggregate
    (single collect), and scoring is row-local with driver-computed
    idf literals. The narrow per-doc projection is materialized once
    (`materialize`) and feeds both the stats aggregate and
    the scoring scan, so the corpus is tokenized exactly ONCE; the
    top-k is a TakeOrderedAndProject over the checkpointed rows.
    Output: (key, n_tokens, score_q)."""
    import math
    terms = sorted(set(query_terms))
    toks = tokens(F.col(text_col))
    dl_expr = F.size(F.filter(toks, lambda w: w != F.lit("")))

    def tf_expr(t: str):
        return F.size(F.filter(toks, lambda w: w == F.lit(t)))

    base = df.select(F.col(key), dl_expr.alias("_dl"),
                     *[tf_expr(t).alias(f"_tf{i}")
                       for i, t in enumerate(terms)]) \
             .where(F.col("_dl") > 0)
    # Materialize the narrow (key, _dl, _tf...) projection once: the
    # stats aggregate AND the scoring scan both consume it, and each
    # would otherwise re-tokenize the ENTIRE corpus (guide §1.2 —
    # remove whole passes first). The checkpointed rows are
    # 2+|terms| integers per doc — far smaller than the text they
    # replace.
    base = materialize(base)
    aggs = [F.count("*").alias("n"), F.sum("_dl").alias("tot")]
    aggs += [F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"nd{i}")
             for i in range(len(terms))]
    stats = base.agg(*aggs).first()
    if not stats.n:
        return (df.select(F.col(key),
                          F.lit(0).cast("long").alias("n_tokens"),
                          F.lit(0).cast("long").alias("score_q"))
                  .limit(0))
    n_docs = stats.n
    avgdl = float(stats.tot) / float(n_docs)   # exact int/int division
    idf_q = [math.floor(math.log(
        (n_docs - stats[f"nd{i}"] + 0.5) / (stats[f"nd{i}"] + 0.5)
        + 1.0) * 1e6) for i in range(len(terms))]

    def contrib(i: int):
        tf = F.col(f"_tf{i}").cast("double")
        sat = tf / (tf + F.lit(k1)
                    * (F.lit(1.0 - b)
                       + F.lit(b) * F.col("_dl").cast("double")
                       / F.lit(avgdl)))
        c = F.floor(F.lit(idf_q[i]).cast("double") * sat
                    * F.lit(1e3)).cast("long")
        return F.when(F.col(f"_tf{i}") > 0, c).otherwise(F.lit(0))

    score = F.lit(0).cast("long")
    any_tf = F.lit(0)
    for i in range(len(terms)):
        score = score + contrib(i)
        any_tf = any_tf + F.col(f"_tf{i}")
    return (base.where(any_tf > 0)
                .select(F.col(key), F.col("_dl").alias("n_tokens"),
                        score.alias("score_q"))
                .orderBy(F.desc("score_q"), F.col(key))
                .limit(k))


def bm25_multi_topk(df: DataFrame, key: str, queries: DataFrame, k: int,
                    *, query_col: str = "query_id",
                    terms_col: str = "terms", text_col: str = "text",
                    k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Many-query BM25 retrieval — the sparse twin of the dense tier's
    `brute_force_topk` many-query shape: ``queries`` is a DataFrame
    (query_id, terms array<string>), and every query gets its own
    top-k document list in ONE pass over the corpus.

    Scale shape (the 100 TB retrieval plan):

    * the query side is dim-sized BY CONTRACT (like ANN query
      vectors): its exploded (query, term) pairs and the distinct
      term vocabulary are BROADCAST, never shuffled;
    * the corpus explodes into tokens ONCE, and the broadcast
      vocabulary semi-join prunes that stream to query-term hits
      before the only corpus-keyed shuffle (groupBy (doc, term));
      documents containing no query term never leave their scan task;
    * corpus statistics (N, total length) come from one combined
      aggregate on a no-explode projection; per-term document
      frequencies come from the (already tiny) hits frame;
    * idf is computed on the DRIVER from those |vocab| counts with
      the same floor(ln(...)*1e6) integer quantization as
      `bm25_topk` (Python libm, matching the oracle's ln — the JVM's
      Math.log may round differently at quantization boundaries) and
      rejoined as a broadcast literal frame;
    * per-(query, doc) scores are SUMS OF INTEGERS — exact under any
      aggregation order — and the final top-k per query is one
      window over the scored hits (partition = query_id).

    Duplicate terms within a query count once (set semantics, as in
    `bm25_topk`). Output: (query_id, <key>, n_tokens, score_q),
    k rows per query (ties broken by ascending key)."""
    import math

    from pyspark.sql import Window

    spark = df.sparkSession
    toks = tokens(F.col(text_col))
    dl_expr = F.size(F.filter(toks, lambda w: w != F.lit("")))
    base = (df.select(F.col(key), dl_expr.alias("_dl"), toks.alias("_tk"))
              .where(F.col("_dl") > 0))

    qterms = (queries.select(F.col(query_col).alias("_qid"),
                             F.explode(terms_col).alias("_term"))
                     .distinct())
    vocab = qterms.select("_term").distinct()

    # corpus stats (N, total length) ride the tf pass as ONE sentinel
    # pseudo-term per document, appended INSIDE the explode array —
    # the separate stats aggregate tokenized the ENTIRE corpus a
    # second time per invocation (guide §1.2: remove whole passes
    # first). The sentinel contains a space, which no token produced
    # by a single-space split can, so it cannot collide with a real
    # term; it survives the vocab prune via an explicit union row,
    # contributes one (key, sentinel) group per doc (so its document
    # frequency = N and its summed _dl = total corpus length — the
    # identical count/sum aggregates), and the scoring joins drop it
    # naturally (it is in neither the idf nor the qterms frame).
    SENT = "\x00 stats"
    vocab_plus = vocab.unionByName(
        spark.createDataFrame([(SENT,)], "_term string"))

    # inverted-index hits: explode -> broadcast vocab prune -> one
    # corpus-keyed shuffle; _dl rides along (constant per key)
    # pinned (the repo idiom, histogram.exact_quantiles): the nd
    # collect below and the scored pass share one copy, so the corpus
    # explode runs ONCE — the scored pass reads the
    # (query-vocab-bounded) hits back instead of re-tokenizing the
    # corpus
    tf = materialize(
        base.select(F.col(key), F.col("_dl"),
                    F.explode(F.concat(
                        F.col("_tk"), F.array(F.lit(SENT))))
                     .alias("_term"))
            .where(F.col("_term") != "")
            .join(F.broadcast(vocab_plus), "_term")
            .groupBy(F.col(key), F.col("_term"))
            .agg(F.count("*").alias("_tf"), F.max("_dl").alias("_dl")))

    # per-term document frequency (+ the sentinel's N / Σ_dl) ->
    # driver-quantized idf literals, one collect
    rows = tf.groupBy("_term").agg(F.count("*").alias("nd"),
                                   F.sum("_dl").alias("sdl")).collect()
    nd = {r._term: r.nd for r in rows if r._term != SENT}
    sent = next((r for r in rows if r._term == SENT), None)
    if sent is None:
        qs = queries.select(F.col(query_col)).limit(0)
        return (qs.crossJoin(df.select(F.col(key)).limit(0))
                  .withColumn("n_tokens", F.lit(0).cast("long"))
                  .withColumn("score_q", F.lit(0).cast("long")))
    n_docs, avgdl = sent.nd, float(sent.sdl) / float(sent.nd)
    idf = spark.createDataFrame(
        [(t, math.floor(math.log(
            (n_docs - c + 0.5) / (c + 0.5) + 1.0) * 1e6))
         for t, c in nd.items()],
        "_term string, _idf_q long")

    sat = (F.col("_tf").cast("double")
           / (F.col("_tf").cast("double")
              + F.lit(k1) * (F.lit(1.0 - b)
                             + F.lit(b) * F.col("_dl").cast("double")
                             / F.lit(avgdl))))
    contrib = F.floor(F.col("_idf_q").cast("double") * sat
                      * F.lit(1e3)).cast("long")
    scored = (tf.join(F.broadcast(idf), "_term")
                .join(F.broadcast(qterms), "_term")
                .groupBy(F.col("_qid"), F.col(key))
                .agg(F.sum(contrib).alias("score_q"),
                     F.max("_dl").alias("n_tokens")))
    w = Window.partitionBy("_qid").orderBy(F.desc("score_q"),
                                           F.col(key).asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= k)
                  .select(F.col("_qid").alias(query_col), F.col(key),
                          F.col("n_tokens"), F.col("score_q")))


# --- composite curation filters (Gopher / CCNet style) ---------------


def gopher_flags(text: Column, *, min_tokens: int = 20,
                 max_tokens: int = 100_000) -> dict[str, Column]:
    """Per-rule boolean flags of a Gopher-style quality gate (Rae et
    al. 2021's doc-level heuristics, re-expressed over the whitespace
    tokenizer). EVERY comparison is integer-vs-integer — the mean-
    word-length band [3,10] is tested as ``3·n ≤ chars ≤ 10·n``
    instead of dividing, and the ≥80%-alphabetic rule as
    ``5·alpha ≥ 4·n`` — so the flags are exact in any engine, with
    no float thresholds to straddle a rounding boundary.

    Scale shape: one narrow codegen projection per document — no
    shuffle, no UDF; at 100 TB this is a map-only pass that fuses
    into the scan."""
    toks = tokens(text)
    n = F.size(F.filter(toks, lambda w: w != F.lit("")))
    chars = F.length(F.replace(text, F.lit(" "), F.lit("")))
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    stops = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(s) for s in STOPWORDS])))
    return {
        "flag_len": (n >= F.lit(min_tokens)) & (n <= F.lit(max_tokens)),
        "flag_word_len": (chars >= n * F.lit(3)) & (chars <= n * F.lit(10)),
        "flag_alpha": alpha * F.lit(5) >= n * F.lit(4),
        "flag_stop": stops >= F.lit(2),
    }


def quality_filter_gopher(df: DataFrame, key: str,
                          text_col: str = "text", *,
                          min_tokens: int = 20,
                          max_tokens: int = 100_000) -> DataFrame:
    """Gopher-rule curation verdict per document: the four rule flags
    plus the conjunctive ``keep``. Returns every document (the
    curation REPORT — filtering is ``.where('keep')``).

    Output: (key, n_tokens, flag_len, flag_word_len, flag_alpha,
    flag_stop, keep)."""
    t = F.col(text_col)
    fl = gopher_flags(t, min_tokens=min_tokens, max_tokens=max_tokens)
    toks = tokens(t)
    n = F.size(F.filter(toks, lambda w: w != F.lit("")))
    keep = fl["flag_len"] & fl["flag_word_len"] & fl["flag_alpha"] \
        & fl["flag_stop"]
    return df.select(
        F.col(key), n.cast("long").alias("n_tokens"),
        fl["flag_len"].alias("flag_len"),
        fl["flag_word_len"].alias("flag_word_len"),
        fl["flag_alpha"].alias("flag_alpha"),
        fl["flag_stop"].alias("flag_stop"),
        keep.alias("keep"))


def perplexity_buckets(df: DataFrame, key: str, *,
                       text_col: str = "text",
                       lang_col: str = "lang",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing: score each document against
    the corpus' own unigram LM (`doc_logprob`), normalize by length,
    and split each language into ``n_buckets`` quality tiers
    (head / middle / tail for the default 3).

    Cross-engine exactness: the normalized score is
    ``cost_q = (−logprob_q · 1000) div n_tokens`` — BOTH operands
    positive, so Spark's ``div`` (truncate) and the oracle's ``//``
    (floor) agree exactly; `ntile` is then deterministic under the
    total order (cost_q, key).

    Scale shape: doc_logprob is one corpus aggregate + broadcast vocab
    join + per-doc integer sum; the ntile window shuffles once on the
    language key. Per-language skew (one language dominating the
    corpus) is the known hazard at 100 TB — the production variant
    ranks via a two-pass quantile-sketch cut instead of a single
    window; this operator is the exact small-partition form.
    Output: (key, lang, n_tokens, cost_q, bucket)."""
    from pyspark.sql import Window
    lp = doc_logprob(df, key, text_col=text_col)
    base = (df.select(F.col(key), F.col(lang_col).alias("lang"))
              .join(lp, key))
    cost = F.expr("(-logprob_q) * 1000 div n_tokens")
    w = Window.partitionBy("lang").orderBy(F.col("cost_q").asc(),
                                           F.col(key).asc())
    return (base.withColumn("cost_q", cost.cast("long"))
                .withColumn("bucket", F.ntile(n_buckets).over(w))
                .select(key, "lang", "n_tokens", "cost_q", "bucket"))


def vocab_freq_spectrum(df: DataFrame, *, text_col: str = "text",
                        max_rows: int = 100) -> DataFrame:
    """Token frequency-of-frequencies (the Zipf spectrum): for each
    occurrence count c, how many distinct token types occur exactly c
    times. The c=1 row is the hapax count — the standard signal for
    tokenizer vocabulary sizing and Good-Turing smoothing mass.

    Scale shape: explode → two cascaded map-side-combined hash
    aggregates (token counts, then count-of-counts over the already
    |vocab|-sized frame) → TakeOrderedAndProject for the bounded
    output. Output: (n_occurrences, n_types), ``max_rows`` smallest
    counts (the spectrum head — the tail is the top-k vocab's job)."""
    tok = (df.select(F.explode(tokens(F.col(text_col))).alias("token"))
             .where(F.col("token") != ""))
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    return (counts.groupBy("c").agg(F.count("*").alias("n_types"))
                  .select(F.col("c").alias("n_occurrences"), "n_types")
                  .orderBy(F.col("n_occurrences").asc())
                  .limit(max_rows))


def bpe_merge_pairs(df: DataFrame, k: int = 50, *,
                    text_col: str = "text") -> DataFrame:
    """One BPE-training merge round: the top-k adjacent character
    pairs across the corpus, weighted by word frequency — the count
    that picks each merge in byte-pair-encoding tokenizer training
    (Sennrich et al. 2016).

    The scale trick is the same one every real BPE trainer uses:
    pair generation runs over the DISTINCT-WORD vocabulary (each word
    contributes its pairs × its corpus frequency), never over the
    corpus — so after one map-side-combined word-count aggregate, all
    remaining work is vocabulary-sized. Iterating the full training
    loop re-applies the winning merge to the vocab frame (vocab-sized
    per round) and re-runs this count; this operator is that round's
    engine. Output: (pair, cnt), ties broken on the pair string.

    Words are lowercased ASCII-letter runs (``^[a-z]+$`` after
    lower()), so the pair alphabet — and the oracle mirror — is
    unambiguous."""
    words = (df.select(F.explode(tokens(F.col(text_col))).alias("t"))
               .select(F.lower(F.col("t")).alias("w"))
               .where(F.col("w").rlike("^[a-z]+$")
                      & (F.length("w") >= 2))
               .groupBy("w").agg(F.count("*").alias("c")))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> substring(w, i, 2))")).alias("pair"),
        F.col("c"))
    return (pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))
                 .orderBy(F.desc("cnt"), F.asc("pair"))
                 .limit(k)
                 .select("pair", F.col("cnt").cast("long").alias("cnt")))


def pmi_collocations(df: DataFrame, k: int = 50, *,
                     text_col: str = "text",
                     min_count: int = 5) -> DataFrame:
    """Top-k word collocations by pointwise mutual information —
    the classic phrase-mining pass (Church & Hanks 1990) used to
    decide which adjacent pairs become single tokens.

    PMI = ln( p(ab) / (p(a)·p(b)) ) computed as ONE ln over a ratio
    of exact counts, then quantized to floor(ln·1e6) BIGINT — the
    same libm-boundary posture as `doc_logprob` (a 1-ulp ln
    difference only matters when ln·1e6 sits within an ulp of an
    integer). Empty tokens are excluded from both the unigram and
    bigram vocabularies.

    Scale shape: ONE explode→hash-aggregate pass emitting both
    vocabularies (unigram rows carry a NULL w2; map-side combined),
    two scalar totals over the vocab-sized count frame, then a
    vocab-sized broadcast join of unigram counts onto the bigram
    frame and a TakeOrderedAndProject top-k. Nothing is
    corpus-quadratic. Output: (w1, w2, n_pair, pmi_q)."""
    # ONE corpus pass for BOTH vocabularies (r14, guide §1.2): the
    # token array is hoisted once per row and emits unigram structs
    # (w2 NULL) and adjacent-pair structs through a single explode →
    # one (w1, w2) hash aggregate — the previous two-pass form split
    # the text twice and pinned two corpus-derived frames. Pair
    # structs come straight from the zip_with slices (no concat_ws +
    # re-split round trip); the empty-token filters
    # match the old per-pass filters exactly, so both count frames
    # are value-identical. The combined frame is VOCAB-sized but
    # consumed 4 times below (two scalar totals + join sides) —
    # materialize for the same reason as before (without it
    # every consumer re-runs the corpus explode; measured 5.9 s vs
    # 1.5 s at sf0.1 for the two-pass form).
    toks = tokens(F.col(text_col))
    n = F.size(F.col("_tk"))
    pair_structs = F.when(n >= 2, F.zip_with(
        F.slice(F.col("_tk"), 1, n - 1), F.slice(F.col("_tk"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    uni_structs = F.transform(
        F.col("_tk"),
        lambda t: F.struct(t.alias("w1"),
                           F.lit(None).cast("string").alias("w2")))
    counts = materialize(
        df.withColumn("_tk", toks)
          .select(F.explode(F.concat(uni_structs, pair_structs))
                   .alias("p"))
          .select("p.w1", "p.w2")
          .where((F.col("w1") != "")
                 & (F.col("w2").isNull() | (F.col("w2") != "")))
          .groupBy("w1", "w2").agg(F.count("*").alias("c")))
    uni = (counts.where(F.col("w2").isNull())
                 .select(F.col("w1").alias("w"), F.col("c").alias("cw")))
    bg = (counts.where(F.col("w2").isNotNull())
                .select("w1", "w2", F.col("c").alias("n_pair")))
    n1 = uni.agg(F.sum("cw")).first()[0] or 1
    n2 = bg.agg(F.sum("n_pair")).first()[0] or 1
    ca = uni.select(F.col("w").alias("w1"), F.col("cw").alias("ca"))
    cb = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cb"))
    ratio = (F.col("n_pair").cast("double") * F.lit(float(n1))
             * F.lit(float(n1))
             / (F.col("ca").cast("double") * F.col("cb").cast("double")
                * F.lit(float(n2))))
    return (bg.where(F.col("n_pair") >= min_count)
              .join(F.broadcast(ca), "w1")
              .join(F.broadcast(cb), "w2")
              .select("w1", "w2", "n_pair",
                      F.floor(F.log(ratio) * F.lit(1e6))
                       .cast("long").alias("pmi_q"))
              .orderBy(F.desc("pmi_q"), F.col("w1"), F.col("w2"))
              .limit(k))


def tfidf_top_terms(df: DataFrame, key: str, *, text_col: str = "text",
                    k_per_doc: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-k terms by TF·IDF.

    Exactness: idf_q = floor(ln(N/df_t)·1e6) is one quantized ln per
    TERM (vocab-sized, not corpus-sized), and the score is the BIGINT
    product tf·idf_q — exact integer arithmetic past that point, so
    ranking and output are bit-stable in any engine.

    Scale shape: explode → groupBy(key, token) for tf (map-side
    combined), per-term document frequency from that same frame,
    broadcast idf join, one window over the document key. Output:
    (key, token, tf, score_q, rank)."""
    from pyspark.sql import Window
    tok = (df.select(F.col(key),
                     F.explode(tokens(F.col(text_col))).alias("token"))
             .where(F.col("token") != ""))
    tf = tok.groupBy(key, "token").agg(F.count("*").alias("tf"))
    n_docs = df.select(key).distinct().count()
    idf = (tf.groupBy("token").agg(F.count("*").alias("df_t"))
             .select("token",
                     F.floor(F.log(F.lit(float(n_docs))
                                   / F.col("df_t").cast("double"))
                             * F.lit(1e6)).cast("long").alias("idf_q")))
    w = Window.partitionBy(key).orderBy(
        F.desc("score_q"), F.col("token").asc())
    return (tf.join(F.broadcast(idf), "token")
              .withColumn("score_q", F.col("tf") * F.col("idf_q"))
              .withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k_per_doc)
              .select(key, "token", "tf", "score_q", "rank"))


def keyness_log_odds(df: DataFrame, *, group_col: str = "source",
                     text_col: str = "text", k: int = 10,
                     min_count: int = 10) -> DataFrame:
    """Distinctive-vocabulary mining: per group, the top-k terms most
    over-represented vs the REST of the corpus, scored by the
    smoothed log-odds ratio (the keyness statistic of Monroe et al.
    2008 with +1 smoothing):

        score = ln((c_g+1)/(n_g−c_g+1)) − ln((c_r+1)/(n_r−c_r+1))

    Exactness: every count is an exact integer; each ln runs on the
    identical double ratio in both engines and is quantized to
    floor(ln·10⁶) BIGINT BEFORE the subtraction — the repo's libm
    posture (divergence only matters at a rank boundary within 1
    ulp). Support floor ``min_count`` keeps noise terms out.

    Scale shape: ONE corpus explode into (group, token) counts
    (map-side combined, materialized — three consumers);
    group totals and global per-token totals both derive from that
    count frame (vocab-sized aggregates, no second corpus pass);
    final ranking is a per-group window over the qualifying vocab.
    Output: (group, token, c, score_q), k rows per group."""
    from pyspark.sql import Window
    g = group_col
    tok = materialize(
        df.select(F.col(g),
                  F.explode(tokens(F.col(text_col))).alias("token"))
          .where(F.col("token") != "")
          .groupBy(g, "token").agg(F.count("*").alias("c")))
    totals = tok.groupBy(g).agg(F.sum("c").alias("n_g"))
    glob = tok.groupBy("token").agg(F.sum("c").alias("c_all"))
    n_all = tok.agg(F.sum("c")).first()[0] or 1
    lnq = (lambda num, den:
           F.floor(F.log(num.cast("double") / den.cast("double"))
                   * F.lit(1e6)).cast("long"))
    scored = (tok.join(F.broadcast(totals), g)
                 .join(glob, "token")
                 .where(F.col("c") >= min_count)
                 .select(g, "token", "c",
                         (lnq(F.col("c") + 1,
                              F.col("n_g") - F.col("c") + 1)
                          - lnq(F.col("c_all") - F.col("c") + 1,
                                F.lit(n_all) - F.col("n_g")
                                - (F.col("c_all") - F.col("c")) + 1))
                         .alias("score_q")))
    w = Window.partitionBy(g).orderBy(F.desc("score_q"), "token")
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= k)
                  .select(g, "token", "c", "score_q"))


def postings_index(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Inverted index build: one row per token with its document
    frequency and the full sorted posting list — the materialized
    artifact behind the sparse-retrieval tier (bm25/tf-idf score at
    query time against exactly this shape).

    Scale shape: explode → distinct (map-side combined) → one groupBy
    on the token; posting lists are arrays ONLY per token (bounded by
    df), never a corpus-wide collect.  At web scale the list column
    shards naturally by token ranges on write.

    Output: (token, df, postings sorted ascending).
    """
    tok = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens(F.col(text_col))).alias("token"))
               .where(F.col("token") != "")
               .distinct())
    return (tok.groupBy("token")
               .agg(F.count("*").cast("long").alias("df"),
                    F.sort_array(F.collect_list("doc_id"))
                     .alias("postings")))


def kn_discounts(df: DataFrame, *, text_col: str = "text",
                 min_total: int = 1) -> DataFrame:
    """Kneser–Ney smoothing statistics for a bigram LM — the missing
    piece between the raw counts (`vocab_freq_spectrum`,
    `doc_logprob_bigram`'s add-one) and a properly smoothed model
    (Kneser & Ney 1995; Chen & Goodman 1998): the absolute discount
    ``D = n1 / (n1 + 2·n2)`` from the corpus count-of-counts, and per
    context w1 the backoff mass ``λ(w1) = D · |distinct w2| /
    total(w1)``. Everything stays integer-exact: the two ratios are
    single integral divisions on the ppm grid in DECIMAL(38,0)
    (mirroring DuckDB HUGEINT ``//`` — verified identical), so the
    output is hash-stable in any engine. Contexts with fewer than
    ``min_total`` bigram occurrences are dropped (their λ is noise).

    Scale shape: one explode into adjacent-token pairs (the
    `pmi_collocations` footprint), one (w1, w2) hash aggregate, then
    a 1-row global count-of-counts aggregate broadcast-crossed into
    the context-scale frame. Output: (w1, total, n_distinct, d_ppm,
    lambda_ppm); d_ppm repeats per row (it is the corpus constant).
    """
    toks = F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")
    pairs = F.expr(
        "CASE WHEN size(_t) < 2 THEN "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) "
        "ELSE transform(sequence(0, size(_t) - 2), "
        "i -> struct(_t[i] AS w1, _t[i + 1] AS w2)) END")
    bg = (df.select(toks.alias("_t"))
            .select(F.explode(pairs).alias("p"))
            .select("p.w1", "p.w2"))
    c = materialize(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c")))
    glob = c.agg(
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"))
    ctx = (c.groupBy("w1").agg(F.sum("c").alias("total"),
                               F.count("*").alias("n_distinct"))
             .where(F.col("total") >= int(min_total)))
    dec = "DECIMAL(38, 0)"
    guard = "n1 + 2 * n2 = 0"
    return (ctx.crossJoin(F.broadcast(glob))
               .select("w1",
                       F.col("total").cast("long").alias("total"),
                       F.col("n_distinct").cast("long")
                        .alias("n_distinct"),
                       F.expr(f"CASE WHEN {guard} THEN CAST(0 AS "
                              f"BIGINT) ELSE CAST(CAST(1000000 AS "
                              f"{dec}) * n1 div (n1 + 2 * n2) AS "
                              f"BIGINT) END").alias("d_ppm"),
                       F.expr(f"CASE WHEN {guard} THEN CAST(0 AS "
                              f"BIGINT) ELSE CAST(CAST(1000000 AS "
                              f"{dec}) * n1 * n_distinct div "
                              f"(CAST(n1 + 2 * n2 AS {dec}) * total)"
                              f" AS BIGINT) END").alias("lambda_ppm")))


def kn_discounts_mod(df: DataFrame, *, text_col: str = "text",
                     min_total: int = 1) -> DataFrame:
    """MODIFIED Kneser–Ney statistics (Chen & Goodman 1998 §4.1.6) —
    the three-discount refinement of `kn_discounts`: with Y =
    n1/(n1+2·n2) from the corpus count-of-counts,

        D1  = 1 − 2·Y·n2/n1 = 1 − 2·n2/(n1+2·n2)
        D2  = 2 − 3·Y·n3/n2
        D3+ = 3 − 4·Y·n4/n3

    and per context w1 the interpolation mass
    ``λ(w1) = (D1·N1(w1) + D2·N2(w1) + D3+·N3+(w1)) / total(w1)``
    where Nk(w1) = |{w2 : c(w1,w2) = k}| (N3+ counts c ≥ 3). Same
    integer-exactness contract as `kn_discounts`: every ratio is a
    single integral division on the ppm grid in DECIMAL(38,0)
    (DuckDB HUGEINT ``//`` identical); degenerate denominators (a
    count-of-count class that does not occur) pin the unused
    discount to 0 via CASE, and negative estimates clamp to 0 — so
    the output hashes identically in any engine.

    Scale shape: identical to `kn_discounts` — one explode, one
    (w1, w2) hash aggregate, a 1-row count-of-counts broadcast.
    Output: (w1, total, n1w, n2w, n3pw, d1_ppm, d2_ppm, d3_ppm,
    lambda_ppm); the d*_ppm are corpus constants repeated per row.
    """
    toks = F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")
    pairs = F.expr(
        "CASE WHEN size(_t) < 2 THEN "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) "
        "ELSE transform(sequence(0, size(_t) - 2), "
        "i -> struct(_t[i] AS w1, _t[i + 1] AS w2)) END")
    bg = (df.select(toks.alias("_t"))
            .select(F.explode(pairs).alias("p"))
            .select("p.w1", "p.w2"))
    c = materialize(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c")))
    glob = c.agg(*[
        F.sum(F.when(F.col("c") == k, 1).otherwise(0)).alias(f"n{k}")
        for k in (1, 2, 3, 4)])
    ctx = (c.groupBy("w1")
             .agg(F.sum("c").alias("total"),
                  F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                   .alias("n1w"),
                  F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
                   .alias("n2w"),
                  F.sum(F.when(F.col("c") >= 3, 1).otherwise(0))
                   .alias("n3pw"))
             .where(F.col("total") >= int(min_total)))
    dec = "DECIMAL(38, 0)"
    # Dk on the ppm grid, with integral division and clamps:
    #   D1 = 1 − 2n2/(n1+2n2);  Dk = k − (k+1)·n1·n_{k+1} /
    #   ((n1+2n2)·n_k)  for k = 2, 3 (n_4 stands in for n_{k+1} of
    #   the 3+ class, the standard estimator)
    d1 = (f"CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS BIGINT) ELSE "
          f"CAST(greatest(CAST(1000000 AS BIGINT) - CAST(CAST(2000000"
          f" AS {dec}) * n2 div (n1 + 2 * n2) AS BIGINT), 0) AS "
          f"BIGINT) END")
    d2 = (f"CASE WHEN n2 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS "
          f"BIGINT) ELSE CAST(greatest(CAST(2000000 AS BIGINT) - "
          f"CAST(CAST(3000000 AS {dec}) * n1 * n3 div "
          f"(CAST(n1 + 2 * n2 AS {dec}) * n2) AS BIGINT), 0) AS "
          f"BIGINT) END")
    d3 = (f"CASE WHEN n3 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS "
          f"BIGINT) ELSE CAST(greatest(CAST(3000000 AS BIGINT) - "
          f"CAST(CAST(4000000 AS {dec}) * n1 * n4 div "
          f"(CAST(n1 + 2 * n2 AS {dec}) * n3) AS BIGINT), 0) AS "
          f"BIGINT) END")
    lam = (f"CAST((CAST(_d1 AS {dec}) * n1w + CAST(_d2 AS {dec}) * "
           f"n2w + CAST(_d3 AS {dec}) * n3pw) div total AS BIGINT)")
    return (ctx.crossJoin(F.broadcast(glob))
               .withColumn("_d1", F.expr(d1))
               .withColumn("_d2", F.expr(d2))
               .withColumn("_d3", F.expr(d3))
               .select("w1",
                       F.col("total").cast("long").alias("total"),
                       F.col("n1w").cast("long").alias("n1w"),
                       F.col("n2w").cast("long").alias("n2w"),
                       F.col("n3pw").cast("long").alias("n3pw"),
                       F.col("_d1").alias("d1_ppm"),
                       F.col("_d2").alias("d2_ppm"),
                       F.col("_d3").alias("d3_ppm"),
                       F.expr(lam).alias("lambda_ppm")))


def doc_logprob_kn(df: DataFrame, key: str, *,
                   text_col: str = "text") -> DataFrame:
    """Per-document log-probability under an INTERPOLATED MODIFIED
    Kneser–Ney bigram LM fit on the same corpus — the smoothed
    scorer the `kn_discounts` family exists for (and the proper
    replacement for `doc_logprob_bigram`'s add-one): for each
    adjacent pair,

        P(w2|w1) = (c(w1,w2) − D(c)) / total(w1)
                 + λ(w1) · cont(w2) / T

    with D(c) the count-class discount (D1/D2/D3+ per Chen &
    Goodman), λ(w1) the `kn_discounts_mod` interpolation mass,
    cont(w2) = |{w1 : c(w1,w2) > 0}| the CONTINUATION count (the KN
    insight: how many contexts a word completes, not how often it
    occurs), and T = |distinct bigram types|.

    Cross-engine exactness: the probability is assembled as ONE
    integer ratio — num = (c·10⁶ − D(c)_ppm)·T + (D1·N1 + D2·N2 +
    D3·N3+)_ppm·cont(w2), den = 10⁶·total·T, both DECIMAL(38) exact
    in either engine — then each term quantizes floor(ln(num/den) ·
    10⁶) BIGINT micro-nats BEFORE the per-doc sum (a single DOUBLE
    division and one ln, the `doc_logprob_bigram` idiom), so
    aggregation order cannot move the result. num > 0 always: c ≥ 1
    in-corpus and the λ-mass term is positive whenever the class-1
    discount bites.

    Scale shape: the stats are two vocabulary-scale hash aggregates
    (bigram counts + per-context classes) and two broadcast-sized
    side frames (continuation counts, the 1-row globals); scoring
    joins each doc pair to them on vocab keys — the
    `doc_logprob_bigram` join pattern with one extra broadcast.
    Output: (key, n_bigrams, logprob_kn_q)."""
    pair_expr = ("CASE WHEN size(_toks) >= 2 THEN "
                 "transform(sequence(1, size(_toks) - 1), "
                 "i -> struct(element_at(_toks, i) AS w1, "
                 "element_at(_toks, i + 1) AS w2)) "
                 "ELSE CAST(array() AS "
                 "ARRAY<STRUCT<w1: STRING, w2: STRING>>) END")
    doc_pairs = (df.select(F.col(key),
                           F.expr(f"filter(split({text_col}, ' '), "
                                  "t -> t <> '')").alias("_toks"))
                   .select(F.col(key),
                           F.explode(F.expr(pair_expr)).alias("p"))
                   .select(F.col(key), "p.w1", "p.w2"))
    stats = kn_discounts_mod(df, text_col=text_col)
    bgc = materialize(
        doc_pairs.groupBy("w1", "w2").agg(F.count("*").alias("c")))
    cont = bgc.groupBy("w2").agg(F.count("*").alias("cont"))
    t_types = bgc.count()
    dec = "DECIMAL(38, 0)"
    d_of_c = ("CASE WHEN c = 1 THEN d1_ppm WHEN c = 2 THEN d2_ppm "
              "ELSE d3_ppm END")
    lam_ppm = (f"CAST(d1_ppm AS {dec}) * n1w + CAST(d2_ppm AS {dec})"
               f" * n2w + CAST(d3_ppm AS {dec}) * n3pw")
    num = (f"(CAST(c AS {dec}) * 1000000 - ({d_of_c})) * {t_types}"
           f" + ({lam_ppm}) * cont")
    den = f"CAST(1000000 AS {dec}) * total * {t_types}"
    term = (f"CAST(floor(ln(CAST({num} AS DOUBLE) / "
            f"CAST({den} AS DOUBLE)) * 1000000) AS BIGINT)")
    return (doc_pairs
            .join(F.broadcast(bgc), ["w1", "w2"])
            .join(F.broadcast(stats), "w1")
            .join(F.broadcast(cont), "w2")
            .groupBy(key)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum(F.expr(term)).alias("logprob_kn_q")))


def doc_logprob_kn3(df: DataFrame, key: str, *,
                    text_col: str = "text") -> DataFrame:
    """Per-document log-probability under an interpolated MODIFIED
    Kneser–Ney TRIGRAM LM — the full Chen & Goodman recursion on top
    of `doc_logprob_kn`'s bigram machinery:

        P(w3|w1,w2) = (c(w1w2w3) − D(c))/total(w1,w2)
                    + λ(w1,w2) · P_KN(w3|w2)
        P_KN(w3|w2) = (N(·w2w3) − D'(N))/N(·w2·)
                    + λ'(w2) · N(··w3)/T₂

    where the LOWER orders use CONTINUATION counts (N(·w2w3) = how
    many distinct w1 precede the bigram — the KN insight applied
    recursively), each level's D1/D2/D3+ come from ITS OWN
    count-of-counts (trigram counts for the top level, continuation
    counts for the backoff level), and T₂ = |distinct (w2,w3)|.

    Exactness: all counts, discounts (ppm grid) and interpolation
    masses are integer-exact as in `kn_discounts_mod`; the final
    probability is assembled in DOUBLE with a FIXED operand order —
    p1 = uc/T₂; p2 = (bcn + m2·p1)/(10⁶·total2); p3 = (cn +
    m3·p2)/(10⁶·total3) — three IEEE-754 mult/add/divide steps that
    both engines evaluate identically (no reassociation, no FMA),
    then floor(ln·10⁶) micro-nats per term before the per-doc sum.
    (A single-rational DECIMAL assembly would need ~10⁴² headroom at
    petabyte counts — past DECIMAL(38) — so the top level is the
    documented double; the bigram gate `doc_logprob_kn` keeps the
    fully integral form.)

    Scale shape: three vocabulary-scale hash aggregates (trigram
    counts, bigram-continuation counts, their context rollups) +
    1-row global count-of-counts frames; scoring joins each doc
    trigram to them on vocab keys, all broadcast-sized at any corpus
    (vocab ≪ corpus). Docs with < 3 tokens emit no row. Output:
    (key, n_trigrams, logprob_kn3_q)."""
    tri_expr = ("CASE WHEN size(_toks) >= 3 THEN "
                "transform(sequence(1, size(_toks) - 2), "
                "i -> struct(element_at(_toks, i) AS w1, "
                "element_at(_toks, i + 1) AS w2, "
                "element_at(_toks, i + 2) AS w3)) "
                "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, "
                "w2: STRING, w3: STRING>>) END")
    doc_tri = (df.select(F.col(key),
                         F.expr(f"filter(split({text_col}, ' '), "
                                "t -> t <> '')").alias("_toks"))
                 .select(F.col(key),
                         F.explode(F.expr(tri_expr)).alias("p"))
                 .select(F.col(key), "p.w1", "p.w2", "p.w3"))
    tri = materialize(
        doc_tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c")))

    dec = "DECIMAL(38, 0)"

    def _discounts(cnts, col):
        """1-row (d1, d2, d3) ppm frame from a count column's
        count-of-counts — the `kn_discounts_mod` estimator."""
        g = cnts.agg(*[
            F.sum(F.when(F.col(col) == k, 1).otherwise(0))
             .alias(f"n{k}") for k in (1, 2, 3, 4)])
        d1 = (f"CASE WHEN n1 + 2 * n2 = 0 THEN CAST(0 AS BIGINT) "
              f"ELSE CAST(greatest(CAST(1000000 AS BIGINT) - "
              f"CAST(CAST(2000000 AS {dec}) * n2 div (n1 + 2 * n2) "
              f"AS BIGINT), 0) AS BIGINT) END")
        d2 = (f"CASE WHEN n2 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS "
              f"BIGINT) ELSE CAST(greatest(CAST(2000000 AS BIGINT) "
              f"- CAST(CAST(3000000 AS {dec}) * n1 * n3 div "
              f"(CAST(n1 + 2 * n2 AS {dec}) * n2) AS BIGINT), 0) AS "
              f"BIGINT) END")
        d3 = (f"CASE WHEN n3 = 0 OR n1 + 2 * n2 = 0 THEN CAST(0 AS "
              f"BIGINT) ELSE CAST(greatest(CAST(3000000 AS BIGINT) "
              f"- CAST(CAST(4000000 AS {dec}) * n1 * n4 div "
              f"(CAST(n1 + 2 * n2 AS {dec}) * n3) AS BIGINT), 0) AS "
              f"BIGINT) END")
        return g.select(F.expr(d1).alias("d1"), F.expr(d2).alias("d2"),
                        F.expr(d3).alias("d3"))

    glob3 = _discounts(tri, "c")
    ctx3 = (tri.groupBy("w1", "w2")
            .agg(F.sum("c").alias("total3"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                  .alias("k1"),
                 F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
                  .alias("k2"),
                 F.sum(F.when(F.col("c") >= 3, 1).otherwise(0))
                  .alias("k3p")))
    # bigram CONTINUATION counts: rows of tri are distinct trigrams,
    # so count(*) per (w2, w3) = |{w1 : c(w1,w2,w3) > 0}|
    bc = materialize(
        tri.groupBy("w2", "w3").agg(F.count("*").alias("bc")))
    glob2 = _discounts(bc, "bc")
    ctx2 = (bc.groupBy("w2")
            .agg(F.sum("bc").alias("total2"),
                 F.sum(F.when(F.col("bc") == 1, 1).otherwise(0))
                  .alias("j1"),
                 F.sum(F.when(F.col("bc") == 2, 1).otherwise(0))
                  .alias("j2"),
                 F.sum(F.when(F.col("bc") >= 3, 1).otherwise(0))
                  .alias("j3p")))
    uc = bc.groupBy("w3").agg(F.count("*").alias("uc"))
    t2 = bc.count()

    g3 = glob3.select(F.col("d1").alias("e1"), F.col("d2").alias("e2"),
                      F.col("d3").alias("e3"))
    d_of_c = "CASE WHEN c = 1 THEN e1 WHEN c = 2 THEN e2 ELSE e3 END"
    d_of_bc = ("CASE WHEN bc = 1 THEN d1 WHEN bc = 2 THEN d2 "
               "ELSE d3 END")
    m3 = (f"CAST(e1 AS {dec}) * k1 + CAST(e2 AS {dec}) * k2 "
          f"+ CAST(e3 AS {dec}) * k3p")
    m2 = (f"CAST(d1 AS {dec}) * j1 + CAST(d2 AS {dec}) * j2 "
          f"+ CAST(d3 AS {dec}) * j3p")
    # fixed-operand-order double assembly (see docstring)
    term = (
        f"CAST(floor(ln("
        f"(CAST(CAST(c AS {dec}) * 1000000 - ({d_of_c}) AS DOUBLE)"
        f" + CAST({m3} AS DOUBLE) * ("
        f"(CAST(CAST(bc AS {dec}) * 1000000 - ({d_of_bc}) AS DOUBLE)"
        f" + CAST({m2} AS DOUBLE) * "
        f"(CAST(uc AS DOUBLE) / CAST({t2} AS DOUBLE)))"
        f" / (CAST(1000000 AS DOUBLE) * CAST(total2 AS DOUBLE))))"
        f" / (CAST(1000000 AS DOUBLE) * CAST(total3 AS DOUBLE))"
        f") * 1000000) AS BIGINT)")
    return (doc_tri
            .join(F.broadcast(tri), ["w1", "w2", "w3"])
            .join(F.broadcast(ctx3), ["w1", "w2"])
            .join(F.broadcast(bc), ["w2", "w3"])
            .join(F.broadcast(ctx2), ["w2"])
            .join(F.broadcast(uc), ["w3"])
            .crossJoin(F.broadcast(g3))
            .crossJoin(F.broadcast(glob2))
            .groupBy(key)
            .agg(F.count("*").alias("n_trigrams"),
                 F.sum(F.expr(term)).alias("logprob_kn3_q")))
