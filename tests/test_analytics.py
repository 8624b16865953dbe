"""Skyline + DBSCAN + dedup/text/similarity operator tests.

Parity model: reference `SkylineTest.scala` (dominance),
`SparkDBScanSpec.scala` (clustering vs ground truth on labeled data);
dedup/text are net-new, tested against pandas recomputations.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stark_spark import datasets as D
from stark_spark.operators.dbscan import dbscan
from stark_spark.operators.dedup import (exact_dups, lsh_candidate_pairs,
                                         minhash_signature_long,
                                         ngram_jaccard_pairs,
                                         simhash_near_pairs)
from stark_spark.operators.similarity import brute_force_topk, cosine, ivf_topk
from stark_spark.operators.skyline import skyline
from stark_spark.operators.text import text_profile
from stark_spark.partitioner.grid import GridSpec
from tests.reference import local_dbscan


# ---------------------------------------------------------------- skyline

def _pandas_skyline(pdf, x="x", y="y"):
    pts = pdf[[x, y]].to_numpy()
    keep = []
    for i, (xi, yi) in enumerate(pts):
        dominated = ((pts[:, 0] <= xi) & (pts[:, 1] <= yi) &
                     ((pts[:, 0] < xi) | (pts[:, 1] < yi))).any()
        if not dominated:
            keep.append(i)
    return pdf.iloc[keep]


def test_skyline_matches_bruteforce(spark, sf_dir):
    ev = D.st_events(spark, sf_dir, keep_geom=False)
    got = skyline(ev, "x", "y").select("event_id").toPandas()
    pdf = ev.select("event_id", "x", "y").toPandas()
    want = _pandas_skyline(pdf)
    assert set(got.event_id) == set(want.event_id)
    assert len(got) == len(want)


def test_skyline_many_plans(spark):
    rows = [(i, float((i * 37) % 101), float((i * 61) % 97)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    want = set(_pandas_skyline(df.toPandas()).id)
    assert set(skyline(df).select("id").toPandas().id) == want
    rep = df.repartition(13)
    assert set(skyline(rep).select("id").toPandas().id) == want


def test_skyline_distributed_merge_anticorrelated(spark, monkeypatch):
    """Adversarial stage-1 blow-up: an anti-correlated corpus (strictly
    descending staircase, every point Pareto-optimal) makes the local
    fronts O(n), which would funnel everything through the coalesce(1)
    merge task. With GLOBAL_MERGE_LIMIT forced low the operator must
    take the distributed range-merge path and return the identical
    (full) skyline; a second corpus with dominated rows checks the
    cross-partition prefix-min filter actually drops them."""
    from stark_spark.operators import skyline as S
    monkeypatch.setattr(S, "GLOBAL_MERGE_LIMIT", 100)
    # staircase: all 2000 points mutually non-dominating
    rows = [(i, float(i), float(2000 - i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, y double") \
              .repartition(16)
    got = set(S.skyline(df).select("id").toPandas().id)
    assert got == set(range(2000))
    # dominated shadow: each staircase point duplicated at (+0.5, +0.5)
    rows2 = rows + [(10_000 + i, xi + 0.5, yi + 0.5)
                    for i, xi, yi in rows]
    df2 = spark.createDataFrame(rows2, "id long, x double, y double") \
               .repartition(16)
    got2 = set(S.skyline(df2).select("id").toPandas().id)
    assert got2 == set(range(2000))
    # tie semantics survive the distributed path: exact duplicates kept
    rows3 = rows + [(20_000 + i, xi, yi) for i, xi, yi in rows[:50]]
    df3 = spark.createDataFrame(rows3, "id long, x double, y double") \
               .repartition(16)
    got3 = set(S.skyline(df3).select("id").toPandas().id)
    assert got3 == set(range(2000)) | {20_000 + i for i in range(50)}


# ---------------------------------------------------------------- dbscan

def _naive_dbscan(xs, ys, eps, min_pts):
    labels, _ = local_dbscan(np.asarray(xs), np.asarray(ys), eps, min_pts)
    return labels


def _cluster_signature(keys, labels):
    """Label-invariant signature: frozenset of frozensets of member keys."""
    groups = {}
    for k, l in zip(keys, labels):
        if l >= 0:
            groups.setdefault(l, set()).add(k)
    return frozenset(frozenset(g) for g in groups.values())


def test_dbscan_matches_single_node(spark):
    rng = np.random.RandomState(42)
    # three gaussian blobs + noise
    blobs = [rng.normal(loc, 1.2, size=(60, 2)) for loc in ((10, 10), (30, 30), (10, 30))]
    noise = rng.uniform(0, 40, size=(30, 2))
    pts = np.vstack(blobs + [noise])
    rows = [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, xmin double, ymin double")
    grid = GridSpec(0, 0, 40.000001, 40.000001, 5, 5)
    eps, min_pts = 1.5, 4

    got = dbscan(df, eps, min_pts, key="id", grid=grid).toPandas()
    want_labels = _naive_dbscan(pts[:, 0], pts[:, 1], eps, min_pts)

    sig_got = _cluster_signature(got.id, got.cluster)
    sig_want = _cluster_signature(range(len(pts)), want_labels)
    assert sig_got == sig_want
    # determinism across grid resolutions (different partitionings)
    got2 = dbscan(df, eps, min_pts, key="id",
                  grid=GridSpec(0, 0, 40.000001, 40.000001, 3, 3)).toPandas()
    assert _cluster_signature(got2.id, got2.cluster) == sig_want


# ------------------------------------------------------------- text/dedup

@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return D.load(spark, sf_dir, "documents").cache()


def test_text_profile(docs):
    got = text_profile(docs).select("doc_id", "n_tokens", "stopword_ratio",
                                    "quality", "fingerprint").toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    import hashlib
    for _, r in pdf.sample(10, random_state=0).iterrows():
        toks = r.text.split(" ")
        grow = got[got.doc_id == r.doc_id].iloc[0]
        assert grow.n_tokens == len(toks)
        sw = sum(1 for w in toks if w in
                 ("the", "a", "of", "and", "to", "in", "is"))
        assert grow.stopword_ratio == pytest.approx(sw / len(toks))
        k = 8
        n_sh = max(len(r.text) - k + 1, 1)
        fp = min(hashlib.md5(r.text[i:i + k].encode()).hexdigest()
                 for i in range(n_sh))
        assert grow.fingerprint == fp


def test_repetition_profile(spark, docs):
    from collections import Counter

    from stark_spark.operators.text import repetition_profile
    got = repetition_profile(docs).select(
        "doc_id", "distinct_token_ratio", "top_token_ratio",
        "top_bigram_ratio", "rep_keep").toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    for _, r in pdf.sample(10, random_state=1).iterrows():
        toks = r.text.split(" ")
        n = len(toks)
        grow = got[got.doc_id == r.doc_id].iloc[0]
        assert grow.distinct_token_ratio == pytest.approx(len(set(toks)) / n)
        assert grow.top_token_ratio == pytest.approx(
            Counter(toks).most_common(1)[0][1] / n)
        bg = [f"{toks[i]} {toks[i+1]}" for i in range(n - 1)]
        want_bg = Counter(bg).most_common(1)[0][1] / (n - 1) if bg else 0.0
        assert grow.top_bigram_ratio == pytest.approx(want_bg)
    # the gate must actually split the corpus
    assert 0 < got.rep_keep.sum() < len(got)
    # degenerate docs: 1 token and fully-repeated text
    edge = spark.createDataFrame(
        [(1, "solo"), (2, "spam spam spam spam")], "doc_id INT, text STRING")
    e = repetition_profile(edge).orderBy("doc_id").toPandas()
    assert e.top_bigram_ratio.tolist() == pytest.approx([0.0, 1.0])
    assert not e.rep_keep.any()


def test_pii_scrub(spark):
    from stark_spark.operators.text import (pii_email_count,
                                            pii_phone_count, pii_scrub)
    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@ex-ample.org or x@y.io, call 555-123-4567"),
         (2, "no pii here, 12-34 is not a phone")],
        "id INT, text STRING")
    got = (df.select("id", pii_scrub(F.col("text")).alias("t"),
                     pii_email_count(F.col("text")).alias("ne"),
                     pii_phone_count(F.col("text")).alias("np"))
             .orderBy("id").collect())
    assert got[0].t == "mail me at <EMAIL> or <EMAIL>, call <PHONE>"
    assert (got[0].ne, got[0].np) == (2, 1)
    assert got[1].t == df.collect()[1].text and got[1].ne == 0


def test_connected_components_both_paths(spark):
    from stark_spark.operators.graph import connected_components
    # chain 0-1-2, pair 3-4, isolated 5 (via nodes=)
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "a long, b long")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "n long")
    want = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
    for thr in (5_000_000, 0):        # driver union-find / hash-min prop
        got = {r.node: r.comp
               for r in connected_components(
                   edges, nodes=nodes, driver_threshold=thr).collect()}
        assert got == want, f"threshold={thr}"


def test_dedup_clusters(spark, docs):
    from stark_spark.operators.dedup import dedup_clusters
    # explicit pair graph: {1,2,3} and {10,11} clusters over doc ids
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "a long, b long")
    got = dedup_clusters(docs, "doc_id", pairs=pairs).toPandas()
    assert len(got) == docs.count()
    by_id = got.set_index("doc_id")
    assert by_id.loc[[1, 2, 3]].rep.tolist() == [1, 1, 1]
    assert by_id.loc[[10, 11]].rep.tolist() == [10, 10]
    assert bool(by_id.loc[1].keep) and not by_id.loc[[2, 3, 11]].keep.any()
    # everyone else is their own singleton rep
    rest = got[~got.doc_id.isin([1, 2, 3, 10, 11])]
    assert (rest.rep == rest.doc_id).all() and rest.keep.all()


def test_exact_dups(spark, docs):
    # duplicate some docs
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    got = exact_dups(both, "doc_id").toPandas()
    assert len(got) == 5
    assert (got.n_dups == 2).all()
    assert (got.keep_doc_id < 100000).all()


def test_minhash_lsh_finds_near_dups(spark, docs):
    # append a lightly-edited copy of doc 0 → must be an LSH candidate
    base = docs.where(F.col("doc_id") == 0).first()
    edited = base.text + " extra token"
    extra = spark.createDataFrame(
        [(99999, edited, base.lang, base.source, len(edited))],
        docs.schema)
    both = docs.unionByName(extra)
    cand = lsh_candidate_pairs(both, "doc_id", n_seeds=8, rows_per_band=2)
    pairs = {(r.a, r.b) for r in cand.collect()}
    assert (0, 99999) in pairs
    # verified jaccard pairs: the edited pair scores high
    ver = ngram_jaccard_pairs(both, "doc_id", threshold=0.5,
                              candidates=cand).toPandas()
    row = ver[(ver.a == 0) & (ver.b == 99999)]
    assert len(row) == 1 and row.jaccard.iloc[0] > 0.8


def test_minhash_signature_matches_python(docs):
    got = minhash_signature_long(docs.limit(3), "doc_id", n_seeds=4).toPandas()
    pdf = docs.limit(3).select("doc_id", "text").toPandas()
    import hashlib
    for _, r in pdf.iterrows():
        k = 8
        shs = [r.text[i:i + k] for i in range(max(len(r.text) - k + 1, 1))]
        for seed in range(4):
            want = min(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
                       for s in shs)
            sub = got[(got.doc_id == r.doc_id) & (got.seed == seed)]
            assert sub.minhash.iloc[0] == want


def test_simhash_fingerprints_match_column_spec(docs):
    """The Arrow fingerprint kernel must be bit-identical to the
    fold-Column spec (`simhash_bits`) at 64 and 16 bits, and at 12
    bits, where the kernel unpacks two digest bytes and keeps the
    first three nibbles' bits."""
    from stark_spark.operators.dedup import simhash_fingerprints
    from tests.reference import simhash_bits
    sample = docs.limit(40)
    for n_bits in (64, 16, 12):
        spec = {r.doc_id: r.fp for r in sample.select(
            "doc_id",
            simhash_bits(F.col("text"), 4, n_bits).alias("fp")).collect()}
        fast = {r.doc_id: r.fp for r in
                simhash_fingerprints(sample, "doc_id",
                                     n_bits=n_bits).collect()}
        assert fast == spec, n_bits


def test_simhash_near_pairs(spark, docs):
    base = docs.where(F.col("doc_id") == 1).first()
    extra = spark.createDataFrame(
        [(99998, base.text + " x", base.lang, base.source, len(base.text) + 2)],
        docs.schema)
    both = docs.unionByName(extra)
    got = simhash_near_pairs(both, "doc_id", max_hamming=6)
    pairs = {(r.a, r.b) for r in got.collect()}
    assert (1, 99998) in pairs


def test_hamming_bucket_skew_guard(spark):
    """r11 scale-honesty note → engine code: a deliberately
    homogeneous corpus (every fingerprint identical — the template-
    heavy-crawl limit) concentrates a whole band in ONE bucket, which
    the band self-join would turn into a one-task n² straggler. The
    guard must raise with rescale guidance once a bucket holds more
    than HAMMING_BUCKET_CAP rows, and below the cap return exactly the
    brute-force hamming pairs."""
    import random

    import pytest

    from stark_spark.operators.dedup import (HAMMING_BUCKET_CAP,
                                             hamming_near_pairs)
    n = HAMMING_BUCKET_CAP + 1
    same = spark.range(n).select(
        F.col("id").alias("k"), F.lit(0x0F0F0F0F).cast("long").alias("fp"))
    with pytest.raises(ValueError, match=f"band-bucket holds {n} rows"):
        hamming_near_pairs(same, "k", max_hamming=3)
    # below the cap: random 64-bit fingerprints plus planted near
    # copies (1–4 flipped bits) against an all-pairs Python check
    rng = random.Random(7)
    fps = [rng.getrandbits(64) for _ in range(30)]
    fps += [fps[i] ^ sum(1 << b for b in rng.sample(range(64), i % 4 + 1))
            for i in range(12)]
    signed = [f - (1 << 64) if f >= 1 << 63 else f for f in fps]
    df = spark.createDataFrame(list(enumerate(signed)), "k long, fp long")
    want = {(a, b, bin(fps[a] ^ fps[b]).count("1"))
            for a in range(len(fps)) for b in range(a + 1, len(fps))
            if bin(fps[a] ^ fps[b]).count("1") <= 3}
    got = {tuple(r) for r in hamming_near_pairs(df, "k", max_hamming=3)
           .collect()}
    assert got == want and len(want) >= 9


def test_hamming_near_join_matches_brute_force(spark):
    """hamming_near_join (incremental-ingest cross-frame banding)
    must equal brute-force hamming over batch × index on random
    64-bit fingerprints — every pair within the threshold found
    (pigeonhole completeness), none beyond it."""
    import numpy as np

    from stark_spark.operators.dedup import hamming_near_join
    rng = np.random.default_rng(42)
    idx_fp = rng.integers(-2**63, 2**63, size=60, dtype=np.int64)
    # batch: 10 perturbed index entries (1-4 bit flips) + 10 random
    new_fp = list(idx_fp[:10])
    for i in range(10):
        flips = rng.choice(64, size=1 + i % 4, replace=False)
        for f in flips:
            new_fp[i] = np.int64(new_fp[i]) ^ np.int64(1) << np.int64(f)
    new_fp += list(rng.integers(-2**63, 2**63, size=10, dtype=np.int64))
    index = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(idx_fp)], "k long, fp long")
    batch = spark.createDataFrame(
        [(1000 + i, int(v)) for i, v in enumerate(new_fp)],
        "k long, fp long")
    got = {(r.new_key, r.index_key, r.hamming) for r in
           hamming_near_join(batch, index, "k", max_hamming=3)
           .collect()}
    want = set()
    for bi, bv in enumerate(new_fp):
        for ii, iv in enumerate(idx_fp):
            h = bin((int(bv) ^ int(iv)) & (2**64 - 1)).count("1")
            if h <= 3:
                want.add((1000 + bi, ii, h))
    assert got == want and len(want) >= 8


def test_fp_index_store_pruned_probe(spark, tmp_path):
    """save_fp_index / hamming_near_join_indexed (r12 verdict #7):
    the persisted banded layout must (a) reproduce the in-memory
    hamming_near_join rows exactly, (b) carry a PartitionFilter in
    the probe plan and actually read FEWER files than the store holds
    (directory-level prune), and (c) refuse a threshold mismatch —
    pigeonhole bands are not reusable across max_hamming values."""
    import re

    import numpy as np
    import pytest

    from stark_spark.operators.dedup import (_banded_fp,
                                             hamming_near_join,
                                             hamming_near_join_indexed,
                                             save_fp_index)
    rng = np.random.default_rng(7)
    idx_fp = rng.integers(-2**63, 2**63, size=400, dtype=np.int64)
    index = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(idx_fp)], "k long, fp long")
    # small batch: 6 one-bit perturbations of index entries
    batch = spark.createDataFrame(
        [(1000 + i, int(np.int64(idx_fp[i]) ^ np.int64(2)))
         for i in range(6)], "k long, fp long")
    path = str(tmp_path / "fpidx")
    save_fp_index(index, path, key="k", fp_col="fp", max_hamming=3)
    got = hamming_near_join_indexed(batch, path, key="k", fp_col="fp",
                                    max_hamming=3)
    want = hamming_near_join(batch, index, "k", fp_col="fp",
                             max_hamming=3)
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[\(\(band#\d+ \* 64\) \+ bshard#\d+\)"
        r" IN(SET)? ", plan), plan[:2000]
    # the probe must touch only the shards the batch bands into
    a = (_banded_fp(batch, "k", "fp", 4)
         .withColumn("bshard", F.pmod(F.col("bucket"), F.lit(64))))
    present = [r.band * 64 + r.bshard
               for r in a.select("band", "bshard").distinct().collect()]
    read_files = (spark.read.parquet(path)
                  .where((F.col("band") * 64 + F.col("bshard"))
                         .isin(present))
                  .select(F.input_file_name()).distinct().count())
    total_files = len(list((tmp_path / "fpidx")
                           .glob("band=*/bshard=*/*.parquet")))
    assert 0 < read_files < total_files, (read_files, total_files)
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_near_join_indexed(batch, path, key="k", fp_col="fp",
                                  max_hamming=2)


def test_duplicated_spans_hand_corpus(spark):
    """Closed-form span semantics: overlapping duplicated n-grams
    merge into ONE maximal span; adjacency (gap == n) merges;
    gap > n splits; docs with no duplicated n-gram emit nothing;
    sub-n docs emit nothing."""
    from stark_spark.operators.dedup import duplicated_spans
    shared = "p q r s"                       # 4 tokens, n=3 -> 2 grams
    docs = [
        (1, f"{shared} u1 u2 u3 {shared}"),  # two islands, gap > 3
        (2, f"v1 {shared} v2"),
        (3, "all unique tokens in here"),
        (4, "p q"),                          # shorter than n
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(map(tuple,
                     duplicated_spans(df, "doc_id", n=3).collect()))
    # doc1 tokens: p q r s u1 u2 u3 p q r s -> dup starts 0,1 and 7,8
    assert got == [(1, 0, 4, 4), (1, 7, 11, 4), (2, 1, 5, 4)], got


def test_contaminated_spans_excision_offsets(spark):
    """Span-level decontamination: a leaked eval passage inside a
    train doc reports the exact excisable token window; clean docs
    report nothing; a train doc SHORTER than n never matches."""
    from stark_spark.operators.dedup import contaminated_spans
    leak = "the quick brown fox"
    train = spark.createDataFrame(
        [(1, f"intro words {leak} closing remarks here"),
         (2, "completely clean document with original prose"),
         (3, "tiny doc")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, f"benchmark question about {leak} indeed")],
        "doc_id long, text string")
    got = sorted(map(tuple, contaminated_spans(
        train, ev, "doc_id", n=4).collect()))
    # leak tokens occupy train doc1 positions 2..5 -> span [2, 6)
    assert got == [(1, 2, 6, 4)], got


# ------------------------------------------------------------ similarity

@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return D.load(spark, sf_dir, "embeddings").cache()


def test_ann_knn_join_single_bucket_is_exact(spark, emb):
    """With one centroid every vector lands in one bucket, so the IVF
    knn-join must equal exact brute force (self excluded)."""
    from stark_spark.operators.similarity import ann_knn_join
    sub = emb.where(F.col("vec_id") < 40)
    cent = sub.limit(1).select(F.col("vec_id").alias("c_id"),
                               F.col("embedding").alias("c_embedding"))
    got = ann_knn_join(sub, cent, 3, n_probe=1).toPandas()
    pdf = sub.select("vec_id", "embedding").toPandas()
    M = np.vstack(pdf.embedding.to_numpy()).astype(float)
    norms = np.linalg.norm(M, axis=1)
    ids = pdf.vec_id.to_numpy()
    for q_id, grp in got.groupby("q_id"):
        qi = np.where(ids == q_id)[0][0]
        cos = (M @ M[qi]) / (norms * norms[qi])
        order = sorted(zip(-cos, ids))
        want = [int(v) for c, v in order if v != q_id][:3]
        assert list(grp.sort_values("rank").vec_id) == want, q_id
        assert q_id not in set(grp.vec_id)


def test_ann_knn_join_gemm_matches_fold(spark, emb):
    """The production (per-bucket BLAS) scorer must rank identically
    to the oracle-exact fold scorer; cos agrees to fp noise."""
    from stark_spark.operators.similarity import ann_knn_join
    cent = (emb.where(F.col("vec_id") < 8)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    fold = ann_knn_join(emb, cent, 3, n_probe=2, score="fold").toPandas()
    gemm = ann_knn_join(emb, cent, 3, n_probe=2, score="gemm").toPandas()
    key = ["q_id", "vec_id", "rank"]
    f = fold.sort_values(key).reset_index(drop=True)
    g = gemm.sort_values(key).reset_index(drop=True)
    assert f[key].equals(g[key])
    assert np.allclose(f.cos, g.cos, atol=1e-12)


def _np_cosine_topk(vec_pdf, q, k):
    M = np.vstack(vec_pdf.embedding.to_numpy())
    qv = np.asarray(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-cos, vec_pdf.vec_id))[:k]
    return [int(v) for _, v in order]


def test_brute_force_topk(spark, emb):
    qrows = emb.limit(2).select(F.col("vec_id").alias("q_id"),
                                F.col("embedding").alias("q_embedding"))
    got = brute_force_topk(emb, qrows, 5).toPandas()
    pdf = emb.select("vec_id", "embedding").toPandas()
    for q in qrows.collect():
        want = _np_cosine_topk(pdf, q.q_embedding, 5)
        sub = got[got.q_id == q.q_id].sort_values("rank")
        assert list(sub.vec_id) == want
        assert sub.cos.iloc[0] == pytest.approx(1.0)  # self-match first


def test_ivf_recall(spark, emb):
    cents = emb.limit(8).select(F.col("vec_id").alias("c_id"),
                                F.col("embedding").alias("c_embedding"))
    qrows = emb.limit(3).select(F.col("vec_id").alias("q_id"),
                                F.col("embedding").alias("q_embedding"))
    exact = brute_force_topk(emb, qrows, 10).toPandas()
    approx = ivf_topk(emb, qrows, cents, 10, n_probe=3).toPandas()
    # recall@10 ≥ 0.5 with 3/8 buckets probed (sanity, not tightness)
    rec = []
    for qid in exact.q_id.unique():
        e = set(exact[exact.q_id == qid].vec_id)
        a = set(approx[approx.q_id == qid].vec_id)
        rec.append(len(e & a) / len(e))
    assert np.mean(rec) >= 0.5


def test_kmeans_centroids_recover_clusters(spark):
    """Lloyd's k-means on three well-separated synthetic clusters:
    assignments must align with the true clusters, and the trained
    centroids must beat the naive first-C init on inertia."""
    import numpy as np
    from stark_spark.operators.similarity import (cosine, ivf_assign,
                                                  kmeans_centroids)
    rng = np.random.RandomState(3)
    bases = np.eye(3)           # three orthogonal unit directions
    rows = []
    for i in range(240):
        c = i % 3
        v = bases[c] + rng.normal(0, 0.05, 3)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cent = kmeans_centroids(vecs, 3, n_iter=4)
    assert cent.count() == 3
    assigned = ivf_assign(vecs, cent).select("vec_id", "bucket").collect()
    # every true cluster maps to exactly one bucket (pure clustering)
    by_true = {}
    for r in assigned:
        by_true.setdefault(r.vec_id % 3, set()).add(r.bucket)
    assert all(len(b) == 1 for b in by_true.values())
    assert len({next(iter(b)) for b in by_true.values()}) == 3

    # trained centroids ≈ cluster means (cosine to base > 0.99)
    got = {r.c_id: np.array(r.c_embedding) for r in cent.collect()}
    best = [max(float(np.dot(v, b) / (np.linalg.norm(v) * np.linalg.norm(b)))
                for v in got.values()) for b in bases]
    assert min(best) > 0.99


def test_contamination_cross_corpus(spark, docs):
    """Exact contamination finds exactly the verbatim-copied eval rows;
    LSH banding additionally pairs each suffix-perturbed eval row with
    its train source (what exact hashing structurally misses)."""
    from stark_spark.operators.dedup import (cross_exact_dups,
                                             cross_lsh_pairs)
    ev = (docs.where(F.col("doc_id") % 10 == 0)
              .select("doc_id",
                      F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                       .otherwise(F.concat(F.col("text"), F.lit(" tail")))
                       .alias("text")))
    exact = cross_exact_dups(docs, ev, "doc_id").toPandas()
    copied = {r.doc_id for r in
              docs.where(F.col("doc_id") % 20 == 0)
                  .select("doc_id").collect()}
    assert set(exact.doc_id) == copied

    pairs = {(r.a, r.b) for r in
             cross_lsh_pairs(docs, ev, "doc_id", n_seeds=4,
                             rows_per_band=1, shingle_k=8).collect()}
    perturbed = {r.doc_id for r in
                 ev.where(F.col("doc_id") % 20 != 0)
                   .select("doc_id").collect()}
    caught = {b for a, b in pairs if a == b}
    assert perturbed <= caught


def test_contamination_ngrams(spark):
    """Token-13-gram decontamination semantics on a hand-built
    corpus: a train doc sharing exactly one 13-token window with eval
    is flagged with n_hit_shingles=1; a repeated window in one doc
    counts ONCE (per-doc distinct); sub-13-token docs never match;
    every window of a verbatim copy is a hit; and the plan keeps the
    shingle expansion native (no Python UDF) with the eval side
    broadcast."""
    from stark_spark.operators.dedup import cross_ngram_contamination
    w = [f"t{i}" for i in range(30)]
    ev_text = " ".join(w[:13])                       # one 13-window
    train = spark.createDataFrame(
        [(1, " ".join(w[:20])),                      # windows 1..8 incl hit
         (2, " ".join(w[:13]) + " " + " ".join(w[:13])),  # hit twice
         (3, " ".join(w[:12])),                      # too short
         (4, " ".join(w[10:30])),                    # no shared window
         (5, ev_text)],                              # verbatim copy
        "doc_id long, text string")
    ev = spark.createDataFrame([(100, ev_text)], "doc_id long, text string")
    out = cross_ngram_contamination(train, ev, "doc_id", n=13)
    got = {r.doc_id: r.n_hit_shingles for r in out.collect()}
    assert got == {1: 1, 2: 1, 5: 1}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # a train doc sharing MANY windows reports the distinct count
    ev2 = spark.createDataFrame([(100, " ".join(w[:15]))],
                                "doc_id long, text string")
    out2 = {r.doc_id: r.n_hit_shingles
            for r in cross_ngram_contamination(
                train, ev2, "doc_id", n=13).collect()}
    assert out2[1] == 3                              # windows at 1,2,3


def test_boilerplate_ngrams(spark):
    """Window-granular self-dedup: a 13-token span shared verbatim by
    three docs is boilerplate; a window repeated WITHIN one doc counts
    once; unique docs produce no boilerplate; ratios are the exact
    quantized fraction of a doc's distinct windows."""
    from stark_spark.operators.dedup import doc_boilerplate_ratio
    w = [f"t{i}" for i in range(40)]
    span = " ".join(w[:13])                  # the shared footer
    train = spark.createDataFrame(
        [(1, " ".join(w[20:40]) + " " + span),   # 8+13... windows
         (2, span + " " + " ".join(w[25:40])),
         (3, span + " " + span),                 # footer twice: once
         (4, " ".join(w[14:27]))],               # unique 13 tokens
        "doc_id long, text string")
    r = {x.doc_id: (x.n_windows, x.n_boiler, x.ratio_q) for x in
         doc_boilerplate_ratio(train, "doc_id", n=13,
                               min_docs=2).collect()}
    assert 4 not in r                        # no boilerplate window
    # doc 3 is the footer twice: 13 distinct windows (the repeat
    # counts once), and only the footer itself is boilerplate
    assert r[3][:2] == (13, 1)
    # doc 2: 16 distinct windows (28 tokens); how many are boiler
    # depends on overlaps — pin exact invariants instead:
    for d, (nw, nb, rq) in r.items():
        assert 1 <= nb <= nw
        assert rq == int(1000000.0 * nb / nw)


def test_contamination_bloom(spark, docs):
    """Bloom-prefiltered contamination returns EXACTLY the exact-join
    result (no false negatives by construction; false positives die in
    the closing equi-join), the prefilter actually prunes the train
    scan, and the probe is whole-stage codegen — no Python eval, no
    shuffle before the bitmap test."""
    from stark_spark.operators.dedup import (bloom_build,
                                             bloom_might_contain,
                                             cross_bloom_dups,
                                             cross_exact_dups)
    ev = (docs.where(F.col("doc_id") % 10 == 0)
              .select("doc_id",
                      F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                       .otherwise(F.concat(F.col("text"), F.lit(" tail")))
                       .alias("text")))
    got = cross_bloom_dups(docs, ev, "doc_id")
    want = cross_exact_dups(docs, ev, "doc_id").toPandas()
    gp = got.toPandas()
    key = lambda p: sorted(map(tuple, p[["content_hash", "doc_id",
                                         "n_train"]].values.tolist()))
    assert key(gp) == key(want)

    # the prefilter prunes: survivors << train, and every eval hash
    # passes its own bloom (zero false negatives)
    hashes = [r.h for r in
              ev.select(F.md5("text").alias("h")).distinct().collect()]
    words, m, k = bloom_build(hashes, fpp=1e-3)
    train_h = docs.select(F.md5("text").alias("content_hash"))
    n_total = train_h.count()
    n_surv = train_h.where(
        bloom_might_contain("content_hash", words, m, k)).count()
    assert n_surv < n_total * 0.2
    assert ev.select(F.md5("text").alias("content_hash")).where(
        ~bloom_might_contain("content_hash", words, m, k)
    ).count() == 0

    plan = train_h.where(
        bloom_might_contain("content_hash", words, m, k)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan
    assert "*(1) Filter" in plan  # '*' = whole-stage codegen stage


def test_contamination_bloom_jvm(spark, docs):
    """The distributed (impl="jvm") Bloom build returns EXACTLY the
    literal build's rows (both equal exact contamination), with no
    multi-MB plan literal: the filter words come from an explode →
    bit_or tree-aggregate DataFrame (no driver collect of hashes) and
    the probe reads the dense word array from ONE single-row
    broadcast (r14 `_bloom_probe_array`; previously k broadcast hash
    joins on word index). The 100 TB decontamination path for
    benchmark suites beyond ~1M rows, where the literal-array plan
    would blow up."""
    from stark_spark.operators.dedup import (bloom_build, bloom_words_df,
                                             cross_bloom_dups,
                                             cross_exact_dups)
    from tests.reference import bloom_member
    ev = (docs.where(F.col("doc_id") % 10 == 0)
              .select("doc_id",
                      F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                       .otherwise(F.concat(F.col("text"), F.lit(" tail")))
                       .alias("text")))
    want = cross_exact_dups(docs, ev, "doc_id")
    got = cross_bloom_dups(docs, ev, "doc_id", impl="jvm")
    key = lambda df: sorted((r.content_hash, r.doc_id, r.n_train)
                            for r in df.collect())
    assert key(got) == key(want)

    # no plan literal: the literal impl embeds the word array as a
    # plan-side literal; the jvm impl's probes must read the array
    # from the BROADCAST column (_warr, one nested-loop broadcast of
    # a single row) — no array(...) literal of words anywhere in the
    # plan, getbit probes present
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_warr" in plan and "getbit" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "cast(array(" not in plan.lower()  # no word-array literal

    # the distributed build produces bit-identical words to the
    # driver-side build (same double-hash arithmetic)
    hashes = [r.h for r in
              ev.select(F.md5("text").alias("h")).distinct().collect()]
    words, m, k = bloom_build(hashes, fpp=1e-3)
    dist = {r.w_idx: r.word for r in bloom_words_df(
        ev.select(F.md5("text").alias("h")).distinct(), m, k).collect()}
    lit_words = {i: w for i, w in enumerate(words) if w}
    assert dist == lit_words
    # spot-check the shared arithmetic end-to-end
    assert all(bloom_member(h, words, m, k) for h in hashes[:16])

    import pytest as _pt
    with _pt.raises(ValueError):
        cross_bloom_dups(docs, ev, "doc_id", impl="nope")


def test_bloom_literal_path_rejects_large_eval(spark, monkeypatch):
    """The literal Bloom path collects every distinct eval hash to the
    driver and embeds the filter in the plan: past
    BLOOM_LITERAL_MAX_HASHES both callers (batch and streaming) must
    raise and point to impl="jvm"; at the limit the batch path runs."""
    from stark_spark.operators import dedup
    from stark_spark.streaming.stream import stream_contamination
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(3)],
                                 "doc_id long, text string")
    monkeypatch.setattr(dedup, "BLOOM_LITERAL_MAX_HASHES", 2)
    with pytest.raises(ValueError, match='impl="jvm"'):
        dedup.cross_bloom_dups(docs, docs, "doc_id")
    with pytest.raises(ValueError, match='impl="jvm"'):
        stream_contamination(docs, docs)
    monkeypatch.setattr(dedup, "BLOOM_LITERAL_MAX_HASHES", 3)
    assert dedup.cross_bloom_dups(docs, docs, "doc_id").count() == 3


def test_skyline_maximize_directions(spark):
    """maximize= flips dominance per dimension (the reference's custom
    `dominates` use case) — verified against a pandas recompute."""
    rows = [(i, float((i * 37) % 101), float((i * 61) % 97))
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    pdf = df.toPandas()

    def sky(p, fx, fy):
        keep = []
        for _, r in p.iterrows():
            dom = ((fx(p.x) <= fx(r.x)) & (fy(p.y) <= fy(r.y)) &
                   ((fx(p.x) < fx(r.x)) | (fy(p.y) < fy(r.y)))).any()
            if not dom:
                keep.append(r.id)
        return set(keep)

    got_max = set(skyline(df, maximize=("x", "y")).toPandas().id)
    assert got_max == sky(pdf, lambda v: -v, lambda v: -v)
    got_mix = set(skyline(df, maximize=("y",)).toPandas().id)
    assert got_mix == sky(pdf, lambda v: v, lambda v: -v)
    # values come back un-negated
    out = skyline(df, maximize=("x", "y")).toPandas()
    src = pdf.set_index("id")
    assert all(src.loc[r.id].x == r.x and src.loc[r.id].y == r.y
               for _, r in out.iterrows())


def test_ann_gemm_variants_match_fold(spark, emb):
    """brute/ivf/dup-pairs gemm scorers must agree with their fold
    twins on the discrete output (ranks / pair membership)."""
    from stark_spark.operators.similarity import (brute_force_topk,
                                                  cosine_dup_pairs,
                                                  ivf_topk)
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    key = ["q_id", "vec_id", "rank"]
    for fn in (lambda s: brute_force_topk(emb, q, 10, score=s),
               lambda s: ivf_topk(emb, q, cent, 5, n_probe=2, score=s)):
        f = fn("fold").toPandas().sort_values(key).reset_index(drop=True)
        g = fn("gemm").toPandas().sort_values(key).reset_index(drop=True)
        assert f[key].equals(g[key])
        assert np.allclose(f.cos, g.cos, atol=1e-12)
    pf = cosine_dup_pairs(emb, 0.4, centroids=cent, score="fold").toPandas()
    pg = cosine_dup_pairs(emb, 0.4, centroids=cent, score="gemm").toPandas()
    assert ({(a, b) for a, b in zip(pf.a, pf.b)} ==
            {(a, b) for a, b in zip(pg.a, pg.b)})


def test_ann_quantized_recall(spark, emb):
    """int8 quantization keeps high top-k agreement with the float
    ranking (exactness of the integer path is oracle-gated; this
    checks retrieval quality doesn't collapse)."""
    from stark_spark.operators.similarity import (ann_quantized_topk,
                                                  brute_force_topk)
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    fl = brute_force_topk(emb, q, 10).toPandas()
    qz = ann_quantized_topk(emb, q, 10).toPandas()
    for q_id, grp in fl.groupby("q_id"):
        want = set(grp.vec_id)
        got = set(qz[qz.q_id == q_id].vec_id)
        assert len(want & got) >= 8, q_id   # ≥80% overlap per query


def test_dedup_keep_best(spark, docs):
    from stark_spark.operators.dedup import dedup_keep_best
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "a long, b long")
    got = dedup_keep_best(docs, "doc_id", "n_chars",
                          pairs=pairs).toPandas()
    assert len(got) == docs.count()
    by_id = got.set_index("doc_id")
    # rep is still min-key; keep marks the n_chars argmax of each cluster
    assert by_id.loc[[1, 2, 3]].rep.tolist() == [1, 1, 1]
    nc = {r.doc_id: r.n_chars
          for r in docs.where(F.col("doc_id").isin([1, 2, 3, 10, 11]))
                       .collect()}
    best123 = sorted([1, 2, 3], key=lambda i: (-nc[i], i))[0]
    best1011 = sorted([10, 11], key=lambda i: (-nc[i], i))[0]
    kept = set(got[got.keep].doc_id)
    assert best123 in kept and not ({1, 2, 3} - {best123}) & kept
    assert best1011 in kept and not ({10, 11} - {best1011}) & kept
    rest = got[~got.doc_id.isin([1, 2, 3, 10, 11])]
    assert (rest.rep == rest.doc_id).all() and rest.keep.all()


def test_distance_histogram(spark):
    from stark_spark.operators.dbscan import distance_histogram
    from stark_spark.partitioner.grid import GridSpec
    # two cells of a 2×1 grid over [0,20)×[0,10): left cell has points
    # spaced 1 apart, right cell 2 apart — NN distances 1.0 and 2.0
    rows = ([(i, float(i), 5.0) for i in range(5)]            # x=0..4
            + [(100 + i, 10.0 + 2.0 * i, 5.0) for i in range(4)])
    df = spark.createDataFrame(rows, "id long, xmin double, ymin double")
    grid = GridSpec(0.0, 0.0, 20.0, 10.0, nx=2, ny=1)
    got = (distance_histogram(df, 4.0, 8, grid=grid, key="id")
           .orderBy("bucket").toPandas())
    assert len(got) == 8
    assert got.num.sum() == 9
    # width 0.5: d=1.0 → bucket 2 (5 pts), d=2.0 → bucket 4 (4 pts)
    assert got.set_index("bucket").num.to_dict() == {
        0: 0, 1: 0, 2: 5, 3: 0, 4: 4, 5: 0, 6: 0, 7: 0}
    assert got.lb.tolist() == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5]
    # sampling cap: with n_samples=2 only 2 points per cell survive
    capped = (distance_histogram(df, 4.0, 8, grid=grid, key="id",
                                 n_samples=2)
              .agg(F.sum("num")).first()[0])
    assert capped == 4


def test_neighborhood_histogram(spark):
    """The distributed |N_eps(p)| histogram (self included, capped at
    ``max_count``) must equal brute-force numpy counts on a seeded
    point set — uniform points over a 4×2 grid (cell-halo replication
    across every interior edge) plus a tight clump whose counts
    exceed the cap."""
    from stark_spark.operators.dbscan import neighborhood_histogram
    from stark_spark.partitioner.grid import GridSpec
    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.uniform(0, 20, 300),
                         rng.uniform(9.7, 10.3, 12)])
    ys = np.concatenate([rng.uniform(0, 10, 300),
                         rng.uniform(4.7, 5.3, 12)])
    eps, cap = 1.5, 8
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)],
        "xmin double, ymin double")
    grid = GridSpec(0.0, 0.0, 20.0, 10.0, nx=4, ny=2)
    got = {r.n_neighbors: r.n_points for r in
           neighborhood_histogram(df, eps, grid=grid,
                                  max_count=cap).collect()}
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    n = np.minimum((d2 <= eps * eps).sum(axis=1), cap)
    want = dict(zip(*(v.tolist() for v in np.unique(n, return_counts=True))))
    assert got == want
    assert got[cap] >= 12      # the clump hits the cap


def test_ivf_assign_gemm_is_shuffle_free(spark, emb):
    """The gemm assign path must plan as scan → mapInPandas with NO
    Exchange (the fold path needs crossJoin + window = two shuffles);
    and both engines agree on the assignment for well-separated
    centroids."""
    from stark_spark.operators.similarity import ivf_assign
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    g = ivf_assign(emb, cent, score="gemm")
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    f = ivf_assign(emb, cent, score="fold")
    gp = g.select("vec_id", "bucket").toPandas().set_index("vec_id").bucket
    fp = f.select("vec_id", "bucket").toPandas().set_index("vec_id").bucket
    agree = (gp.sort_index() == fp.sort_index()).mean()
    assert agree > 0.99      # ulp near-ties may flip a rare row


def test_ivf_bucketed_store_prunes_files(spark, emb, tmp_path):
    """save_ivf_bucketed → ivf_topk_pruned: the probe scan must carry
    a bucket PartitionFilter (file-level prune, not a post-scan
    filter), and results must equal the in-memory ivf_topk on the
    same centroids/engine."""
    from stark_spark.operators.similarity import (ivf_topk,
                                                  ivf_topk_pruned,
                                                  save_ivf_bucketed)
    cent = (emb.where(F.col("vec_id") < 4)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_embedding")))
    path = str(tmp_path / "ivf_store")
    save_ivf_bucketed(emb, cent, path)
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    got = ivf_topk_pruned(spark, path, q, 5, n_probe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re
    after = plan.split("PartitionFilters", 1)[1][:160]
    assert re.search(r"bucket#\d+ IN \(", after), after
    want = ivf_topk(emb, q, cent, 5, n_probe=2, score="fold").toPandas()
    gp = got.toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    wp = want.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert gp[["q_id", "vec_id", "rank"]].equals(
        wp[["q_id", "vec_id", "rank"]])


def test_ann_recall_floors(spark, emb):
    """Regression gate on retrieval quality: recall@10 vs the brute
    oracle for the pruned tiers at their harness parameters. The
    synthetic embeddings are near-uniform (weak neighborhood
    structure), so the floors are calibrated to measured levels minus
    margin rather than an absolute 0.9 — the gate's job is to catch
    SILENT DECAY: e.g. a hyperplane-generator regression drops LSH to
    the random-candidate baseline (= probed fraction, 1/16 ≈ 0.06),
    a probe-selection bug drops IVF toward its probed fraction.
    Measured on this data (2026-08): lsh p1 0.245, p4 0.515;
    ivf kmeans-8 probe-4 0.84."""
    from stark_spark.operators.similarity import (ann_lsh_topk,
                                                  brute_force_topk,
                                                  ivf_topk,
                                                  kmeans_centroids)
    k = 10
    q = (emb.where(F.col("vec_id") < 20)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    truth = brute_force_topk(emb, q, k, score="gemm").toPandas()
    tw = {qid: set(g.vec_id) for qid, g in truth.groupby("q_id")}

    def recall(res):
        hits = sum(len(set(g.vec_id) & tw[qid])
                   for qid, g in res.groupby("q_id"))
        return hits / (len(tw) * k)

    r1 = recall(ann_lsh_topk(emb, q, k, dim=64, n_bits=4,
                             n_probe=1).toPandas())
    r4 = recall(ann_lsh_topk(emb, q, k, dim=64, n_bits=4,
                             n_probe=4).toPandas())
    assert r1 >= 0.15, f"lsh n_probe=1 recall {r1} — random baseline?"
    assert r4 >= 0.45, f"lsh n_probe=4 recall {r4}"
    assert r4 >= r1          # multi-probe must not lose recall
    # Hamming>1 probe masks reach past the single-flip cap of
    # n_bits+1 buckets: at 3 bits, 6 probes must beat 4-probe
    r34 = recall(ann_lsh_topk(emb, q, k, dim=64, n_bits=3,
                              n_probe=4).toPandas())
    r36 = recall(ann_lsh_topk(emb, q, k, dim=64, n_bits=3,
                              n_probe=6).toPandas())
    assert r34 >= 0.65, f"lsh 3-bit n_probe=4 recall {r34}"
    assert r36 > r34, "extra probes beyond n_bits+1 gained nothing"

    km = kmeans_centroids(emb, 8, n_iter=5)
    riv4 = recall(ivf_topk(emb, q, km, k, n_probe=4,
                           score="gemm").toPandas())
    riv6 = recall(ivf_topk(emb, q, km, k, n_probe=6,
                           score="gemm").toPandas())
    assert riv4 >= 0.70, f"ivf kmeans-8 n_probe=4 recall {riv4}"
    # quality-level floor at the tuned harness params (measured 0.94
    # sf0.001 / 0.975 sf0.01)
    assert riv6 >= 0.90, f"ivf kmeans-8 n_probe=6 recall {riv6}"


def test_ann_recall_planted_clusters(spark):
    """Recall@10 >= 0.9 on data WITH neighborhood structure. The
    testdata embeddings are near-uniform, so their recall ceiling at a
    given probed fraction measures the data, not the algorithm; here
    vectors are planted in tight clusters (40 clusters x 12 members,
    ~9 degrees intra-cluster angle), so every true top-10 lies inside
    the query's cluster and an LSH or IVF implementation regression —
    a broken hyperplane generator, a wrong probe ordering, a
    centroid-assignment bug — collapses recall far below the 0.9
    floor instead of hiding inside a loose sanity bound."""
    import numpy as np
    from stark_spark.operators.similarity import (ann_lsh_topk,
                                                  brute_force_topk,
                                                  ivf_topk,
                                                  kmeans_centroids)
    rng = np.random.default_rng(7)
    dim, n_clusters, per = 64, 40, 12
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = (np.repeat(centers, per, axis=0)
            + rng.normal(scale=0.02, size=(n_clusters * per, dim)))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    k = 10
    q = (emb.where(F.col("vec_id") % per == 0)   # one query per cluster
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    truth = brute_force_topk(emb, q, k, score="gemm").toPandas()
    tw = {qid: set(g.vec_id) for qid, g in truth.groupby("q_id")}

    def recall(res):
        hits = sum(len(set(g.vec_id) & tw[qid])
                   for qid, g in res.groupby("q_id"))
        return hits / (len(tw) * k)

    rl = recall(ann_lsh_topk(emb, q, k, dim=dim, n_bits=4,
                             n_probe=4).toPandas())
    assert rl >= 0.90, f"planted-cluster LSH recall {rl}"

    km = kmeans_centroids(emb, 8, n_iter=5)
    riv = recall(ivf_topk(emb, q, km, k, n_probe=2,
                          score="gemm").toPandas())
    assert riv >= 0.90, f"planted-cluster IVF recall {riv}"

    # PQ/ADC: 8x8 codebooks = a 48-bit sketch of a 64-dim vector —
    # unlike LSH/IVF (exact rerank over a candidate list) PQ ranks by
    # QUANTIZED distance, so some true top-10 tail members land
    # outside even on tight clusters. Floor calibrated to the
    # measured level (0.84 on this fixture, 2026-08) minus margin:
    # the gate catches implementation regressions (a codebook-slice
    # or code-assignment bug collapses recall to ~0.1), not the
    # method's inherent distortion.
    from stark_spark.operators.similarity import pq_topk, pq_train
    cb = pq_train(emb, dim=dim, m_sub=8, n_codes=8, n_iter=2)
    rpq = recall(pq_topk(emb, q, cb, k).toPandas())
    assert rpq >= 0.78, f"planted-cluster PQ recall {rpq}"


def test_ann_pq_adc_exact_and_shape(spark, emb):
    """PQ correctness pins: (1) every adc_q equals the NumPy/pure-
    Python reference ADC (identical floor(d2*1e6) tables and code
    assignment) — integer equality, no tolerance; (2) codes are
    m_sub ints in [0, n_codes); (3) the scoring plan never joins or
    shuffles before the top-k window (literal tables + one explode)."""
    import math

    import numpy as np
    from stark_spark.operators.similarity import (_pq_codes, pq_topk,
                                                  pq_train)
    k = 10
    q = (emb.where(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    cb = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2)
    assert len(cb) == 8 and all(len(s) == 8 for s in cb)
    enc = _pq_codes(emb, cb, key="vec_id", vec_col="embedding").toPandas()
    assert all(len(c) == 8 and all(0 <= x < 8 for x in c)
               for c in enc.codes)
    codes = dict(zip(enc.vec_id, enc.codes))
    V = {r.vec_id: [float(x) for x in r.embedding]
         for r in emb.collect()}
    out = pq_topk(emb, q, cb, k)
    pdf = out.toPandas()
    assert set(pdf.q_id) == set(range(5))
    for _, r in pdf.iterrows():
        qv = V[r.q_id]
        want = 0
        for s in range(8):
            dq = []
            for cw in cb[s]:
                d2 = 0.0
                for i in range(8):
                    t = qv[s * 8 + i] - cw[i]
                    d2 = d2 + t * t
                dq.append(math.floor(d2 * 1e6))
            want += dq[codes[r.vec_id][s]]
        assert want == r.adc_q, (r.q_id, r.vec_id)
    out.count()     # let AQE finalize before reading the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # the window
    # the top-k is pushed below the shuffle (per-partition heaps)
    assert "WindowGroupLimit" in plan


def test_trainer_fastpaths_short_input(spark):
    """Fewer rows than codewords/centroids: both paths degrade the
    same way (shorter codebook/centroid table via the ordered-init
    limit), bit-equal — the fast path must not crash where the
    distributed path degrades gracefully."""
    from stark_spark.operators.similarity import (kmeans_centroids,
                                                  pq_train)

    rows = [(i, [float((i * 7 + j) % 5) for j in range(64)])
            for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fast = pq_train(df, dim=64, m_sub=8, n_codes=8, n_iter=2)
    dist = pq_train(df, dim=64, m_sub=8, n_codes=8, n_iter=2,
                    local_max=0)
    assert fast == dist and len(fast[0]) == 3
    kf = kmeans_centroids(df, 4, n_iter=2, exact=True)
    kd = kmeans_centroids(df, 4, n_iter=2, exact=True, local_max=0)
    f = {r.c_id: list(r.c_embedding) for r in kf.collect()}
    d = {r.c_id: [float(x) for x in r.c_embedding]
         for r in kd.collect()}
    assert f == d and len(f) == 3


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_trainer_fastpaths_bit_equal_random(spark, seed):
    """Fast-path/distributed bit-equality on ADVERSARIAL random data:
    float32-quantized values (what a real embedding column holds),
    plus duplicated rows (forces exact distance ties through the
    first-min/smallest-code tie-break on BOTH paths)."""
    import numpy as np
    from stark_spark.operators.similarity import (kmeans_centroids,
                                                  pq_train)

    rng = np.random.default_rng(seed)
    V = rng.normal(size=(120, 64)).astype(np.float32)
    V[60:] = V[:60]                       # exact duplicates → ties
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    fast = pq_train(df, dim=64, m_sub=8, n_codes=8, n_iter=2)
    dist = pq_train(df, dim=64, m_sub=8, n_codes=8, n_iter=2,
                    local_max=0)
    assert fast == dist

    kf = kmeans_centroids(df, 4, n_iter=2, exact=True)
    kd = kmeans_centroids(df, 4, n_iter=2, exact=True, local_max=0)
    f = {r.c_id: list(r.c_embedding) for r in kf.collect()}
    d = {r.c_id: [float(x) for x in r.c_embedding]
         for r in kd.collect()}
    assert f == d


def test_kmeans_local_fastpath_bit_equal(spark, emb):
    """`kmeans_centroids(exact=True)`'s driver-side
    small-input fast path must equal the distributed path (forced via
    local_max=0) bit for bit — same cosine folds, same (-cos, c_id)
    tie-break, same integer means. Exact == on every float."""
    from stark_spark.operators.similarity import kmeans_centroids

    fast = kmeans_centroids(emb, 4, n_iter=2, exact=True)
    dist = kmeans_centroids(emb, 4, n_iter=2, exact=True,
                            local_max=0)
    f = {r.c_id: list(r.c_embedding) for r in fast.collect()}
    d = {r.c_id: [float(x) for x in r.c_embedding]
         for r in dist.collect()}
    assert f == d


def test_pq_train_local_fastpath_bit_equal(spark, emb):
    """The driver-side small-input Lloyd's (`_pq_train_local`, taken
    when rows ≤ local_max) must return a codebook BIT-IDENTICAL to
    the distributed path (local_max=0 forces it): same left-
    associated d2 chains, same first-min tie-break, same
    floor(v·1e6+0.5) integer means. Floats compared with ==, not
    approx — the contract is exact IEEE equality."""
    from stark_spark.operators.similarity import pq_train

    fast = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2)
    dist = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2,
                    local_max=0)
    assert fast == dist


def test_ann_pq_batch_kernel_equals_literal(spark, emb):
    """r10 (verdict ask #4): the batch-query ADC kernel
    (`score="batch"` — tables ship once per Arrow batch, vectorized
    int64 gathers, per-batch partial top-k) must equal the literal-
    expression path ROW FOR ROW — same (q_id, vec_id) ranks AND the
    same exact adc_q BIGINTs — at gate size and at a 100-query
    production batch. The batch plan must stay CONSTANT in |queries|:
    no per-query expressions, one mapInPandas + the top-k window."""
    from stark_spark.operators.similarity import pq_topk, pq_train

    cb = pq_train(emb, dim=64, m_sub=8, n_codes=8, n_iter=2)

    def q_of(n):
        return (emb.where(F.col("vec_id") < n)
                   .select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").alias("q_embedding")))

    for nq in (5, 100):
        # astype: the literal path types q_id from F.lit (int32);
        # the batch path keeps the input column type (int64)
        lit = (pq_topk(emb, q_of(nq), cb, 10).toPandas()
               .astype("int64")
               .sort_values(["q_id", "adc_q", "vec_id"])
               .reset_index(drop=True))
        bat = (pq_topk(emb, q_of(nq), cb, 10, score="batch").toPandas()
               .astype("int64")
               .sort_values(["q_id", "adc_q", "vec_id"])
               .reset_index(drop=True))
        assert lit.equals(bat), f"batch != literal at {nq} queries"
    # constant plan: the 100-query batch plan string must not grow
    # with |Q| (the literal path embeds 64 table arrays per query)
    p100 = pq_topk(emb, q_of(100), cb, 10, score="batch") \
        ._jdf.queryExecution().executedPlan().toString()
    p5 = pq_topk(emb, q_of(5), cb, 10, score="batch") \
        ._jdf.queryExecution().executedPlan().toString()
    assert abs(len(p100) - len(p5)) < 200
    assert "Join" not in p100


def test_ann_lsh_multiprobe_recall(spark, emb):
    """Multi-probe LSH must never lose recall vs single-probe, and both
    must only return true same-or-probed-bucket candidates ranked by
    exact cosine (checked against brute force on the candidate set)."""
    from stark_spark.operators.similarity import (ann_lsh_topk,
                                                  brute_force_topk)
    q = (emb.where(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_embedding")))
    truth = brute_force_topk(emb, q, 6).toPandas()
    p1 = ann_lsh_topk(emb, q, 5, dim=64, n_bits=4, n_probe=1,
                      exclude_self=True).toPandas()
    p2 = ann_lsh_topk(emb, q, 5, dim=64, n_bits=4, n_probe=2,
                      exclude_self=True).toPandas()

    def recall(res):
        hits = 0
        for q_id, grp in truth.groupby("q_id"):
            # exclude self from truth (lsh excludes it)
            want = [v for v in grp.sort_values("rank").vec_id
                    if v != q_id][:5]
            got = set(res[res.q_id == q_id].vec_id)
            hits += len(got & set(want))
        return hits

    assert recall(p2) >= recall(p1)
    # multi-probe candidates are a superset per query
    for q_id in p1.q_id.unique():
        a = set(p1[p1.q_id == q_id].vec_id)
        b = set(p2[p2.q_id == q_id].vec_id)
        # p2 re-ranks over a superset candidate pool: its top-5 must be
        # at least as similar as p1's at every rank
        c1 = p1[p1.q_id == q_id].sort_values("rank").cos.tolist()
        c2 = p2[p2.q_id == q_id].sort_values("rank").cos.tolist()
        for i in range(min(len(c1), len(c2))):
            assert c2[i] >= c1[i] - 1e-12
        assert len(b) >= len(a)


def test_vocab_top_k(spark):
    """Exact counts, deterministic tie order, empty tokens dropped,
    min_count cutoff, and a TakeOrderedAndProject (no global sort)
    plan."""
    from stark_spark.operators.text import vocab_top_k
    df = spark.createDataFrame(
        [(1, "a b b  c"), (2, "b c d"), (3, "a  b")],
        "doc_id long, text string")
    got = [(r.token, r.n) for r in vocab_top_k(df, 3).collect()]
    assert got == [("b", 4), ("a", 2), ("c", 2)]    # ties: token ASC
    cut = {r.token for r in
           vocab_top_k(df, 10, min_count=2).collect()}
    assert cut == {"a", "b", "c"}
    plan = vocab_top_k(df, 3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_doc_logprob(spark):
    """Quantized unigram logprob: exact integer sums reproduce the
    hand-computed per-token terms; frequent-token docs score higher
    (less negative) than rare-token docs of equal length."""
    import math
    from stark_spark.operators.text import doc_logprob
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b z")],
        "doc_id long, text string")
    # corpus counts: a=6, b=1, z=1, total=8
    got = {r.doc_id: (r.n_tokens, r.logprob_q)
           for r in doc_logprob(df, "doc_id").collect()}
    t = lambda c: math.floor(math.log(c / 8.0) * 1e6)
    assert got[1] == (4, 4 * t(6))
    assert got[2] == (4, 2 * t(6) + t(1) + t(1))
    assert got[1][1] > got[2][1]


def test_bm25_topk(spark):
    """BM25 quantized scoring matches a hand-computed reference on a
    tiny corpus; rarer terms outrank common ones; the top-k plans as
    TakeOrderedAndProject; empty corpus yields an empty frame."""
    import math
    from stark_spark.operators.text import bm25_topk
    df = spark.createDataFrame(
        [(1, "data spark data engine"), (2, "spark engine"),
         (3, "cats dogs"), (4, "data data data data data data")],
        "doc_id long, text string")
    out = bm25_topk(df, "doc_id", ["data", "spark"], 4)
    rows = {r.doc_id: (r.n_tokens, r.score_q) for r in out.collect()}
    idf = math.floor(math.log(2.0) * 1e6)     # both terms: nd=2, N=4

    def sat(tf, dl):
        return tf / (tf + 1.2 * (0.25 + 0.75 * dl / 3.5))

    want1 = (math.floor(idf * sat(2, 4) * 1e3)
             + math.floor(idf * sat(1, 4) * 1e3))
    assert rows[1] == (4, want1)
    assert 3 not in rows                      # no query term
    assert rows[1][1] > rows[4][1] > 0        # tf saturation works
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    empty = bm25_topk(df.where("doc_id > 99"), "doc_id", ["data"], 3)
    assert empty.count() == 0


def test_bm25_multi_topk(spark):
    """Many-query BM25: each query's ranking equals the single-query
    operator's on the same corpus (same quantization, same top-k
    order); duplicate terms within a query count once; the query/
    vocab/idf sides are broadcast (no sort-merge join anywhere);
    empty corpus yields an empty frame with the output schema."""
    from stark_spark.operators.text import bm25_multi_topk, bm25_topk
    df = spark.createDataFrame(
        [(1, "data spark data engine"), (2, "spark engine"),
         (3, "cats dogs"), (4, "data data data data data data"),
         (5, "dogs chase cats fast")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [("a", ["data", "spark"]), ("b", ["cats", "dogs", "dogs"]),
         ("c", ["nothing_matches"])],
        "query_id string, terms array<string>")
    out = bm25_multi_topk(df, "doc_id", qs, 3)
    got = {(r.query_id, r.doc_id): (r.n_tokens, r.score_q)
           for r in out.collect()}
    for qid, terms in (("a", ["data", "spark"]), ("b", ["cats", "dogs"])):
        single = {r.doc_id: (r.n_tokens, r.score_q)
                  for r in bm25_topk(df, "doc_id", terms, 3).collect()}
        multi = {d: v for (q, d), v in got.items() if q == qid}
        assert multi == single, (qid, multi, single)
    assert not any(q == "c" for q, _ in got)  # zero-hit query: no rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2
    empty = bm25_multi_topk(df.where("doc_id > 99"), "doc_id", qs, 3)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "doc_id", "n_tokens", "score_q"]


def test_rrf_fuse(spark):
    """RRF fusion: hand-computed integer contributions; a doc present
    in only one list gets 0 from the missing side; output is top-k by
    (rrf_q DESC, key)."""
    from stark_spark.operators.similarity import rrf_fuse
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)],
                              "doc_id long, rank int")
    b = spark.createDataFrame([(11, 1), (13, 2)],
                              "doc_id long, rank int")
    out = rrf_fuse(a, b, 10, key="doc_id")
    rows = {r.doc_id: r for r in out.collect()}

    def c(rank):
        import math
        return math.floor(1e9 / (60 + rank))

    assert rows[11].rrf_q == c(2) + c(1)      # both lists
    assert rows[10].rrf_q == c(1)             # sparse only
    assert rows[10].rank_dense is None
    assert rows[13].rrf_q == c(2)             # dense only
    order = [r.doc_id for r in out.collect()]
    assert order[0] == 11                     # highest fused score
    assert sorted(order) == [10, 11, 12, 13]


def test_quality_filter_gopher(spark):
    """Each Gopher rule flips on its own boundary: a good doc passes
    all four; a too-short doc fails flag_len only; a no-stopword doc
    fails flag_stop; a digit-heavy doc fails flag_alpha; long-word
    spam fails flag_word_len."""
    from stark_spark.operators.text import quality_filter_gopher
    good = "the cat sat of the mat and dogs ran to the park in fine " \
           "form is what we say here today"           # 20 tokens
    short = "the of brief"
    nostop = "cats dogs run fast here there every day " * 3
    digits = "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0 the of"
    longwords = ("pneumonoultramicroscopic volcanoconiosis " * 10
                 + "the of")
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop), (4, digits),
         (5, longwords)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           quality_filter_gopher(df, "doc_id").collect()}
    assert out[1].keep and all([out[1].flag_len, out[1].flag_word_len,
                                out[1].flag_alpha, out[1].flag_stop])
    assert not out[2].flag_len and not out[2].keep
    assert not out[3].flag_stop and not out[3].keep
    assert not out[4].flag_alpha and not out[4].keep
    assert not out[5].flag_word_len and not out[5].keep


def test_perplexity_buckets(spark):
    """cost_q is the exact integer (−logprob_q·1000) div n_tokens;
    buckets split each language into tiers with the repetitive
    (low-cost) doc in bucket 1 and the rare-token doc in the top."""
    from stark_spark.operators.text import doc_logprob, perplexity_buckets
    rows = [(1, "a a a a a a", "en"), (2, "a a a b b c", "en"),
            (3, "x y z q w v", "en"), (4, "k k k k", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in
           perplexity_buckets(df, "doc_id").collect()}
    lp = {r.doc_id: r for r in doc_logprob(df, "doc_id").collect()}
    for d in (1, 2, 3, 4):
        assert out[d].cost_q == (-lp[d].logprob_q) * 1000 // lp[d].n_tokens
    assert out[1].bucket == 1                 # most predictable en doc
    assert out[3].bucket == 3                 # rarest tokens
    assert out[4].bucket == 1                 # own language partition


def test_vocab_freq_spectrum(spark):
    """Hand-computed count-of-counts: hapax row first."""
    from stark_spark.operators.text import vocab_freq_spectrum
    df = spark.createDataFrame(
        [(1, "a b b c c c"), (2, "c d")], "doc_id long, text string")
    # counts: a=1 b=2 c=4 d=1  -> spectrum: 1→2 types, 2→1, 4→1
    out = [(r.n_occurrences, r.n_types)
           for r in vocab_freq_spectrum(df).collect()]
    assert out == [(1, 2), (2, 1), (4, 1)]


def test_containment_pairs(spark):
    """A short doc quoted inside a long one scores containment 1.0
    (direction src=short) while the reverse direction fails the
    threshold; candidate-driven path returns the same facts."""
    from stark_spark.operators.dedup import containment_pairs
    short = "the quick brown fox jumps over the lazy dog"
    long_ = short + " and then some entirely different tail content " \
                    "about completely other things follows here"
    other = "unrelated text with no shared substring material at all"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)],
        "doc_id long, text string")
    out = containment_pairs(df, "doc_id", shingle_k=8, threshold_pct=90)
    rows = [(r.src, r.sup, r.containment) for r in out.collect()]
    assert len(rows) == 1 and rows[0][0] == 1 and rows[0][1] == 2
    assert rows[0][2] == 1.0                  # every shingle contained
    cand = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out2 = containment_pairs(df, "doc_id", shingle_k=8,
                             threshold_pct=90, candidates=cand)
    assert [(r.src, r.sup, r.containment) for r in out2.collect()] == rows


def test_pmi_collocations(spark):
    """A bigram that always co-occurs gets the max PMI; support floor
    prunes rare pairs; hand-check the quantized value."""
    import math
    from stark_spark.operators.text import pmi_collocations
    rows = [(i, "strong coffee here now") for i in range(5)] \
        + [(100 + i, "weak tea strong will") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in
           pmi_collocations(df, 50, min_count=5).collect()}
    # 'strong coffee' occurs 5x; strong=10, coffee=5; N1=40, N2=30
    want = math.floor(math.log((5 * 40.0 * 40.0)
                               / (10.0 * 5.0 * 30.0)) * 1e6)
    assert out[("strong", "coffee")].pmi_q == want
    assert ("weak", "tea") in out            # 5 occurrences passes floor
    assert ("coffee", "here") in out
    # every pair with support < 5 pruned
    assert all(r.n_pair >= 5 for r in out.values())


def test_tfidf_top_terms(spark):
    """The doc-specific term outranks corpus-wide terms; score is the
    exact integer tf*idf_q; ≤ k terms per doc."""
    import math
    from stark_spark.operators.text import tfidf_top_terms
    df = spark.createDataFrame(
        [(1, "shared shared unique unique unique"),
         (2, "shared shared shared other"),
         (3, "shared filler words here")],
        "doc_id long, text string")
    out = tfidf_top_terms(df, "doc_id", k_per_doc=2)
    rows = [(r.doc_id, r.token, r.tf, r.score_q, r.rank)
            for r in out.collect()]
    by_doc = {}
    for d, tok, tf, s, rk in rows:
        by_doc.setdefault(d, []).append((rk, tok, tf, s))
    assert by_doc[1][0][1] == "unique"        # rank-1 for doc 1
    idf_unique = math.floor(math.log(3.0 / 1.0) * 1e6)
    assert by_doc[1][0][3] == 3 * idf_unique
    assert all(len(v) <= 2 for v in by_doc.values())
    # 'shared' appears in all 3 docs -> idf_q = floor(ln(1)*1e6) = 0
    assert all(s == 0 for d, tok, tf, s, rk in rows if tok == "shared")


def test_distinct_kmv(spark):
    """Below k the sketch is exact; above k the estimate lands within
    a loose relative band of the truth (deterministic, so the band is
    a fixed fact of the fixture, not a flake)."""
    from stark_spark.operators.sketch import distinct_kmv
    small = spark.createDataFrame([(i % 10,) for i in range(100)],
                                  "v long")
    r = distinct_kmv(small, "v", 64).first()
    assert (r.k_used, r.estimate) == (10, 10)
    big = spark.createDataFrame([(i % 3000,) for i in range(6000)],
                                "v long")
    r2 = distinct_kmv(big, "v", 64).first()
    assert r2.k_used == 64
    assert 1500 <= r2.estimate <= 6000       # ~1/sqrt(64) rel. error
    # mergeability: union of two halves == sketch of the whole
    h1 = spark.createDataFrame([(i,) for i in range(0, 1500)], "v long")
    h2 = spark.createDataFrame([(i,) for i in range(1500, 3000)], "v long")
    ru = distinct_kmv(h1.unionByName(h2), "v", 64).first()
    rw = distinct_kmv(
        spark.createDataFrame([(i,) for i in range(3000)], "v long"),
        "v", 64).first()
    assert (ru.kth_min, ru.estimate) == (rw.kth_min, rw.estimate)


def test_distinct_hll(spark):
    """HLL estimate lands within the m=256 error band on a 20k-distinct
    fixture (deterministic fixture → fixed fact, not a flake); the
    small-cardinality path takes linear counting and is near-exact;
    register-wise merge of two halves equals the sketch of the whole
    bit-for-bit (registers AND estimate)."""
    from stark_spark.operators.sketch import (hll_estimate, hll_merge,
                                              hll_registers)
    big = spark.createDataFrame([(i % 20000,) for i in range(40000)],
                                "v long")
    r = hll_estimate(hll_registers(big, "v")).first()
    # ~6.5% std error at m=256; allow 4 sigma
    assert abs(r.estimate - 20000) <= 20000 * 0.26
    assert r.v_zero == 0 and r.n_registers == 256
    small = spark.createDataFrame([(i % 100,) for i in range(500)],
                                  "v long")
    rs = hll_estimate(hll_registers(small, "v")).first()
    assert rs.v_zero > 0                      # linear-counting regime
    assert abs(rs.estimate - 100) <= 15
    # mergeability: max-merge of half-sketches == sketch of union
    h1 = spark.createDataFrame([(i,) for i in range(0, 10000)], "v long")
    h2 = spark.createDataFrame([(i,) for i in range(5000, 20000)], "v long")
    merged = hll_merge(hll_registers(h1, "v"), hll_registers(h2, "v"))
    whole = hll_registers(h1.unionByName(h2), "v")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))
    assert (hll_estimate(merged).first().estimate
            == hll_estimate(whole).first().estimate)


def test_bitmap_overlap(spark):
    """Bitmap popcounts equal exact distinct counts, including the
    sign-bit word (element % 64 == 63 packs into the BIGINT sign bit);
    overlap matrix matches hand-computed intersections and keeps
    empty-intersection pairs."""
    from stark_spark.operators.bitmap import (bitmap_build,
                                              bitmap_cardinality,
                                              bitmap_overlap)
    from pyspark.sql import functions as F
    rows = ([("a", i) for i in range(0, 100)]          # a: 0..99
            + [("b", i) for i in range(50, 150)]       # b: 50..149
            + [("c", i) for i in range(200, 210)]      # c: disjoint
            + [("a", 63), ("b", 127)])                 # dup + sign bits
    df = spark.createDataFrame(rows, "seg string, el long")
    bm = bitmap_build(df, ["seg"], F.col("el"))
    card = {r.seg: r.cardinality
            for r in bitmap_cardinality(bm, ["seg"]).collect()}
    assert card == {"a": 100, "b": 100, "c": 10}
    ov = {(r.seg_a, r.seg_b): (r.n_common, r.n_union, r.jaccard_bp)
          for r in bitmap_overlap(bm, "seg").collect()}
    assert ov[("a", "b")] == (50, 150, 50 * 10000 // 150)
    assert ov[("a", "c")] == (0, 110, 0)
    assert ov[("b", "c")] == (0, 110, 0)


def test_pagerank_integer(spark):
    """Hand-computed integer PageRank on a 3-node cycle + dangling
    node; mass conservation within truncation dust; higher in-degree
    => higher rank on a star graph."""
    from stark_spark.operators.graph import pagerank
    S = 1_000_000_000_000
    # cycle 1->2->3->1 plus 4->1 (no dangling nodes: share = 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long")
    out = {r.node: r.rank_q for r in pagerank(edges, n_iter=1).collect()}
    n = 4
    r0 = S // n
    base = (S * 15 // 100) // n
    assert out[1] == base + (r0 + r0) * 85 // 100   # in from 3 and 4
    assert out[2] == base + r0 * 85 // 100
    assert out[3] == out[2]
    assert out[4] == base                           # no in-edges
    # dangling redistribution: 1->2->3, 3 has no out-edges
    d_edges = spark.createDataFrame([(1, 2), (2, 3)],
                                    "src long, dst long")
    d_out = {r.node: r.rank_q
             for r in pagerank(d_edges, n_iter=1).collect()}
    dn = 3
    d_r0 = S // dn
    d_base = (S * 15 // 100) // dn
    d_share = d_r0 // dn                            # node 3's mass / N
    assert d_out[1] == d_base + d_share * 85 // 100
    assert d_out[2] == d_base + (d_r0 + d_share) * 85 // 100
    # mass conservation up to integer-division dust
    assert S - 400 <= sum(out.values()) <= S
    # star: everyone points at 9 -> 9 dominates after 3 rounds
    star = spark.createDataFrame([(i, 9) for i in range(1, 9)]
                                 + [(9, 1)], "src long, dst long")
    ranks = {r.node: r.rank_q for r in pagerank(star, n_iter=3).collect()}
    assert ranks[9] == max(ranks.values())
    assert ranks[9] > 5 * ranks[2]


def test_salted_join(spark):
    """Salted join equals the plain join row-for-row (inner and
    left); the physical join keys include the salt; a hot key's rows
    actually spread across salts."""
    from pyspark.sql import functions as F

    from stark_spark.operators.skew import salted_join
    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        "id long, k string, v double")
    dim = spark.createDataFrame([("hot", 1), ("cold", 2), ("warm", 3)],
                                "k string, w int")
    plain = fact.join(dim, "k").select("id", "k", "v", "w")
    salted = salted_join(fact, dim, ["k"], n_salts=8) \
        .select("id", "k", "v", "w")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    # left join keeps unmatched fact rows exactly once
    fact2 = fact.unionByName(spark.createDataFrame(
        [(9999, "ghost", 0.0)], "id long, k string, v double"))
    left = salted_join(fact2, dim, ["k"], n_salts=8, how="left")
    assert left.where("k = 'ghost'").count() == 1
    assert left.count() == fact2.count()
    # the hot key's rows really do carry >1 distinct salt
    from stark_spark.operators.skew import _SALT
    f = fact.withColumn(_SALT, F.pmod(
        F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8)))
    n_salts_used = (f.where("k = 'hot'")
                     .select(_SALT).distinct().count())
    assert n_salts_used >= 6
    import pytest
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], how="full")


def test_robust_outliers(spark):
    """Hand-built group: median/MAD on the cents grid; the planted
    spike is flagged, the bulk is not; ties break deterministically."""
    from stark_spark.operators.anomaly import robust_outliers
    rows = [(i, "a", 10.0 + (i % 5) / 100.0) for i in range(20)]
    rows.append((100, "a", 99.0))            # spike: |9900-1002| >> 3*MAD
    rows += [(200 + i, "b", 50.0) for i in range(5)]  # MAD=0 group
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = robust_outliers(df, "event_type", "value", "event_id", k=3)
    got = {(r.event_id, r.event_type): r for r in out.collect()}
    assert (100, "a") in got
    spike = got[(100, "a")]
    assert spike.value_c == 9900
    assert spike.med_c == 1002               # lower median of 21 values
    assert spike.mad_c == 1                  # devs: 0,1,2 pattern
    # constant group b: MAD 0, no deviations -> nothing flagged
    assert not any(t == "b" for _, t in got)
    assert len(got) == 1


def test_table_profile(spark):
    """One-pass profile: nulls counted, NULL excluded from distinct,
    one aggregate in the plan (single scan)."""
    from stark_spark.operators.profile import table_profile
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")],
        "x long, s string")
    out = {r.column_name: r for r in table_profile(df).collect()}
    assert out["x"].n == 4 and out["x"].n_null == 1
    assert out["x"].n_distinct == 3
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    plan = table_profile(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Scan ") <= 1          # one pass over the data


def test_trainers_empty_input_graceful(spark):
    """r10 advisor: the small-input fast paths must NOT admit 0-row
    frames (driver-local Lloyd's crashes on empty arrays) — empty
    input falls through to the distributed paths' graceful empty
    centroid table / empty codebooks."""
    from stark_spark.operators.similarity import (kmeans_centroids,
                                                  pq_train)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    assert kmeans_centroids(empty, 3, n_iter=2).count() == 0
    cb = pq_train(empty, dim=8, m_sub=2, n_codes=4, n_iter=1)
    assert all(len(sub) == 0 for sub in cb)


def test_cosine_dup_pairs_exact_guard(spark):
    """r10 verdict ask #3: the exact (no-centroids) path is O(n²) —
    it must refuse frames above exact_max with a message pointing at
    the IVF path, probe at most exact_max+1 rows, and stay available
    when explicitly disabled (exact_max=0)."""
    import pytest

    from stark_spark.operators.similarity import cosine_dup_pairs
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="centroids"):
        cosine_dup_pairs(vecs, 0.9, exact_max=5)
    # under the cap and with the guard disabled the path still runs
    assert cosine_dup_pairs(vecs, 0.999, exact_max=10).count() >= 0
    assert cosine_dup_pairs(vecs, 0.999, exact_max=0).count() >= 0


def test_ann_knn_join_planted_ranks_equal_brute(spark):
    """r10 verdict ask #4 reference point: on the planted corpus the
    gate's IVF path (gemm assignment/probes + fold scoring, n_probe=1)
    must agree rank-for-rank with exact brute force over the WHOLE
    corpus — i.e. the planted truth really is the global truth."""
    import __spark_entry__ as E
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stark_spark.operators.similarity import brute_force_topk

    sf = "/root/testdata/sf0.001"
    got = {(r.q_id, r.rank): r.vec_id
           for r in E._pq_ann_knn_join_planted(spark, sf).collect()}
    emb = E._planted_knn_corpus(spark, sf)
    q = emb.select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_embedding"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    truth = (brute_force_topk(emb, q, 4, score="fold")
             .where(F.col("vec_id") != F.col("q_id"))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= 3))
    want = {(r.q_id, r.rank): r.vec_id for r in truth.collect()}
    assert got == want and len(got) > 0


def test_ann_knn_join_gemm_assign_empty_centroids(spark):
    """Review r11: an empty centroid table through the gemm
    assignment/probe path must return empty like the fold path, not
    raise in np.vstack."""
    from stark_spark.operators.similarity import ann_knn_join
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    empty = spark.createDataFrame(
        [], "c_id long, c_embedding array<double>")
    for assign in ("fold", "gemm"):
        out = ann_knn_join(vecs, empty, 2, n_probe=1, score="fold",
                           assign_score=assign)
        assert out.count() == 0, assign


def test_semantic_dedup_centroid_assignment(spark):
    """End-to-end with a real centroid table (no planted labels):
    exact copies must dedup to one survivor, distinct directions all
    survive."""
    from stark_spark.operators.similarity import semantic_dedup
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]),        # dup pair
         (2, [0.0, 1.0]), (3, [0.0, 1.0]),        # dup pair
         (4, [0.70710678, 0.70710678])],          # lone diagonal
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "c_id long, c_embedding array<double>")
    keep = {r.vec_id: r.keep
            for r in semantic_dedup(vecs, 0.999,
                                    centroids=cents).collect()}
    assert keep == {0: True, 1: False, 2: True, 3: False, 4: True}


def test_semantic_contamination_flags_only_leaked(spark):
    """An eval vector near-identical to a train vector is flagged
    with the right witness count; an eval vector far from all train
    members of its cluster is absent from the output."""
    from stark_spark.operators.similarity import (
        semantic_contamination)
    train = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 0), (1, [0.999, 0.01, 0.0], 0),
         (2, [0.0, 1.0, 0.0], 1)],
        "vec_id long, embedding array<double>, cl int")
    ev = spark.createDataFrame(
        [(10, [1.0, 0.001, 0.0], 0),   # leaked: near both 0 and 1
         (11, [0.0, 0.0, 1.0], 1)],    # same cluster as 2, orthogonal
        "vec_id long, embedding array<double>, cl int")
    out = {r.vec_id: (r.n_dups, r.max_cos)
           for r in semantic_contamination(train, ev, 0.99,
                                           assign_col="cl").collect()}
    assert set(out) == {10}
    assert out[10][0] == 2 and out[10][1] > 0.999


def test_token_budget_sample_matches_naive_window(spark, sf_dir):
    """The two-phase prefix sum must reproduce the naive global
    per-source window bit-for-bit (same keep set, same cum_weight),
    and budgets must bind: every source's kept weight ≤ its cap and
    the first dropped row would have crossed it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stark_spark.operators.sampling import (hash_bucket,
                                                token_budget_sample)
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "source",
                         F.col("n_chars").cast("long").alias("w")))
    budgets = {"src0": 2500, "src1": 4000, "src2": 1500}
    out = token_budget_sample(docs, "doc_id", "w", budgets,
                              source_col="source",
                              default_budget=1200)
    got = {r.doc_id: r.cum_weight for r in out.collect()}

    cap = F.when(F.col("source") == "src0", 2500) \
           .when(F.col("source") == "src1", 4000) \
           .when(F.col("source") == "src2", 1500).otherwise(1200)
    w = (Window.partitionBy("source")
               .orderBy(hash_bucket(F.col("doc_id"), salt="budget"),
                        "doc_id")
               .rowsBetween(Window.unboundedPreceding,
                            Window.currentRow))
    naive = (docs.withColumn("cum", F.sum("w").over(w))
                 .where(F.col("cum") <= cap))
    want = {r.doc_id: r.cum for r in naive.collect()}
    assert got == want and len(got) > 0

    # caps bind
    per_src = (out.groupBy("source").agg(F.max("cum_weight").alias("m"))
                  .collect())
    bmap = {**budgets}
    for r in per_src:
        assert r.m <= bmap.get(r.source, 1200)


def test_token_budget_sample_int_budget_and_zero_default(spark):
    """Scalar budget applies per source; default_budget=0 excludes
    sources missing from a dict budget entirely."""
    from stark_spark.operators.sampling import token_budget_sample
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", 10) for i in range(10)],
        "k long, src string, w long")
    flat = token_budget_sample(df, "k", "w", 30, source_col="src")
    from collections import Counter
    c = Counter(r.src for r in flat.collect())
    assert c == {"a": 3, "b": 3}
    only_a = token_budget_sample(df, "k", "w", {"a": 30},
                                 source_col="src")
    assert {r.src for r in only_a.collect()} == {"a"}


def test_curation_pipeline_stage_effects(spark):
    """Each pipeline stage provably does its one job: quality drops
    the short doc, dedup collapses the re-keyed copy to the lower
    key, decontamination drops the eval-matching doc, and the budget
    keeps everything under a generous cap."""
    from stark_spark.api import DocFrame
    good = ("the cat and the dog walk to the park and they see "
            "many birds in the tall trees near the old gate today")
    other = ("a small boat sails out of the bay and the crew look "
             "for fish in the deep cold water under a grey sky")
    leak = ("the quiz asks what is the capital of France and the "
            "answer is Paris which every student in the class knows")
    docs = spark.createDataFrame(
        [(1, good, "web", len(good)),
         (2, "too short", "web", 9),          # fails quality
         (50, other, "web", len(other)),
         (99, other, "web", len(other)),      # exact dup of 50
         (7, leak, "web", len(leak))],        # contaminated
        "doc_id long, text string, source string, n_chars long")
    ev = spark.createDataFrame([(1000, leak)],
                               "doc_id long, text string")
    out = (DocFrame(docs).quality_filter()
                         .dedup_exact()
                         .decontaminate(ev)
                         .budget(10_000, weight_col="n_chars",
                                 source_col="source"))
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 50]


def test_token_budget_sample_null_source_group(spark):
    """NULL sources form one group (SQL PARTITION BY semantics) under
    default_budget — they must not silently drop at the offset
    join."""
    from stark_spark.operators.sampling import token_budget_sample
    df = spark.createDataFrame(
        [(1, None, 10), (2, None, 10), (3, "a", 10)],
        "k long, src string, w long")
    out = token_budget_sample(df, "k", "w", {"a": 10},
                              source_col="src", default_budget=15)
    got = {(r.k): r.cum_weight for r in out.collect()}
    # one null row fits in 15, the second (cum 20) does not; 'a' fits
    assert 3 in got and len(got) == 2 and set(got) <= {1, 2, 3}


def test_token_budget_sample_int_source_dict_keys(spark):
    """ADVICE r11: an int source column with a dict budget used to
    build a map<int,int> probed with a string key — analysis error
    or silent default_budget fallback. Keys are stringified now, so
    int sources budget correctly under int OR str dict keys, and the
    NULL group is addressable via the \\x00null sentinel."""
    from stark_spark.operators.sampling import token_budget_sample
    df = spark.createDataFrame(
        [(1, 7, 10), (2, 7, 10), (3, 8, 10), (4, None, 10)],
        "k long, src long, w long")
    for keys in ({7: 10, 8: 25}, {"7": 10, "8": 25}):
        out = token_budget_sample(df, "k", "w", keys,
                                  source_col="src")
        got = sorted(r.k for r in out.collect())
        assert got == [1, 3] or got == [2, 3], got
    nulled = token_budget_sample(df, "k", "w", {"\x00null": 10},
                                 source_col="src")
    assert [r.k for r in nulled.collect()] == [4]


def test_r12_ops_plan_shapes(spark, sf_dir):
    """Plan locks for the r12 operators: duplicated_spans'
    island-merge windows are all partitioned on the doc key (never a
    global single-partition window) and the pair machinery is
    equi-join-only (no cartesian / nested loop); hamming_near_join
    plans a broadcast hash join when the batch side is small (the
    incremental-ingest fast path: one map-side pass over the index);
    gini_ppm's value-order exchange is a RANGE partitioning (the
    sampled prefix-sum rewrite), not a single partition."""
    import re

    from pyspark.sql import functions as F

    from stark_spark.operators.dedup import (duplicated_spans,
                                             hamming_near_join)
    from stark_spark.operators.histogram import gini_ppm

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "text"))
    sp = duplicated_spans(docs, "doc_id", n=13)
    oplan = sp._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in oplan
    assert "BroadcastNestedLoop" not in oplan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", oplan)
    assert specs
    for s in specs:
        assert "doc_id" in s, s

    idx = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 7919).alias("fp"))
    new = spark.range(40).select(
        (F.col("id") + 100000).alias("k"),
        (F.col("id") * 7919 + 1).alias("fp"))
    jp = (hamming_near_join(new, idx, "k", max_hamming=3)
          ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in jp, jp[:2000]

    cents = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                  .select(F.expr("CAST(round(l_extendedprice * 100) "
                                 "AS BIGINT)").alias("c")))
    gout = gini_ppm(cents, "c", partitions=8)
    gp = gout._jdf.queryExecution().optimizedPlan().toString()
    # the phase-2 prefix window partitions on the range-derived _bk —
    # never an unpartitioned (global) window
    gspecs = re.findall(r"windowspecdefinition\(([^)]*)\)", gp)
    assert gspecs
    for s in gspecs:
        assert "_bk" in s, s


def test_new_ops_plan_shapes(spark, sf_dir):
    """Plan locks for the session's new operators: semantic_dedup's
    pair generation is a bucket EQUI-join (no cartesian / nested
    loop), and token_budget_sample's running sum never plans a
    global single-partition window (every Window partitions on the
    bucket keys)."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from stark_spark.operators.sampling import token_budget_sample
    from stark_spark.operators.similarity import semantic_dedup

    emb = (E._planted_knn_corpus(spark, "/root/testdata/sf0.001")
            .withColumn("cl", F.expr("vec_id div 12")))
    plan = (semantic_dedup(emb, 0.992, assign_col="cl")
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Join" in plan  # the bucket equi-join is really there

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                 .select("doc_id", "source",
                         F.col("n_chars").cast("long").alias("w")))
    out = token_budget_sample(docs, "doc_id", "w", 1000,
                              source_col="source")
    oplan = out._jdf.queryExecution().optimizedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", oplan)
    assert specs, "expected the running-sum window in the plan"
    for spec in specs:
        assert "_src" in spec and "_bucket" in spec, spec


def test_curation_neardup_stage_effects(spark):
    """The near-dup stage collapses a suffix-variant pair to the
    higher-scored copy (keep-the-longest policy) while leaving
    unrelated docs alone; exact dedup alone would keep both."""
    from stark_spark.api import DocFrame
    base = ("the cat and the dog walk to the park and they see "
            "many birds in the tall trees near the old gate today")
    near = base + " zz"
    other = ("a small boat sails out of the bay and the crew look "
             "for fish in the deep cold water under a grey sky")
    docs = spark.createDataFrame(
        [(1, base, "web", len(base)),
         (2, near, "web", len(near)),
         (3, other, "web", len(other))],
        "doc_id long, text string, source string, n_chars long")
    out = (DocFrame(docs).quality_filter()
                         .dedup_exact()
                         .dedup_near("n_chars"))
    kept = sorted(r.doc_id for r in out.df.collect())
    assert kept == [2, 3]  # longer near-copy wins; other untouched


def test_materialize_skips_pinned_frames(spark, tmp_path):
    """`materialize` copies a frame only when it is not pinned yet: a
    cache()d frame and a checkpointed one come back as the same
    object (no second copy); a parquet scan and a frame built from a
    Python RDD (a LogicalRDD root that is NOT checkpointed) are
    materialised into a checkpointed LogicalRDD with the same rows."""
    from stark_spark.materialize import materialize
    path = str(tmp_path / "docs")
    spark.range(4).write.parquet(path)
    scan = spark.read.parquet(path)
    cached = scan.cache()
    try:
        cached.count()
        assert materialize(cached) is cached
    finally:
        cached.unpersist()
    ck = scan.localCheckpoint()
    assert materialize(ck) is ck
    from_rdd = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2), (3, 4)]), "a long, b long")
    for df in (scan, from_rdd):
        out = materialize(df)
        assert out is not df
        root = out._jdf.queryExecution().analyzed()
        assert root.getClass().getSimpleName() == "LogicalRDD"
        assert root.rdd().isCheckpointed()
        assert sorted(out.collect()) == sorted(df.collect())


def test_passage_dedup_rewrites_and_identity(spark):
    """Repeated-passage removal: a 10-token passage shared by two
    docs is stripped from both (reconstruction preserves the rest in
    order); a unique doc passes through identically; an empty doc
    takes the identity path."""
    from stark_spark.operators.dedup import passage_dedup
    bp = "one two three four five six seven eight nine ten"
    tail_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tail_b = "red orange yellow green blue indigo violet black white gray"
    uniq = "lone words that appear nowhere else in this tiny corpus x"
    docs = spark.createDataFrame(
        [(1, bp + " " + tail_a), (2, bp + " " + tail_b),
         (3, uniq), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_chunks, r.n_removed, r.clean_text)
           for r in passage_dedup(docs, "doc_id").collect()}
    assert out[1] == (2, 1, tail_a)
    assert out[2] == (2, 1, tail_b)
    assert out[3] == (2, 0, uniq)  # 11 tokens -> 2 aligned chunks
    assert out[4] == (0, 0, "")


def test_k_core_hand_graph(spark):
    """Textbook peel semantics on a hand graph: triangle {1,2,3} +
    pendant chain 3-4-5. The 2-core is the triangle alone (5 peels
    first, THEN 4 — a genuine 2-round cascade); k=3 on the same
    graph peels everything (no node ends with degree >= 3)."""
    from stark_spark.operators.graph import k_core
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)],
        "src long, dst long")
    core2 = {r.node: r.deg for r in k_core(edges, 2).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}
    assert k_core(edges, 3).count() == 0


def test_k_core_nonconvergence_raises(spark):
    """ADVICE r11: exhausting max_rounds must RAISE, not return
    nodes whose degree is still < k. A 12-node path at k=2 peels one
    endpoint pair per round (~n/2 rounds); max_rounds=2 cannot reach
    the (empty) fixpoint. The same call with enough rounds converges
    to empty."""
    import pytest

    from stark_spark.operators.graph import k_core
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long")
    with pytest.raises(ValueError, match="no fixpoint"):
        k_core(path, 2, max_rounds=2)
    assert k_core(path, 2, max_rounds=10).count() == 0


def test_assortativity_known_graphs(spark):
    """Closed-form references: a star is perfectly disassortative
    (r = -1 exactly); a degree-regular ring has zero degree variance
    (guard path -> 0); mutual input pairs must not double-count the
    undirected edge."""
    from stark_spark.operators.graph import assortativity
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "src long, dst long")
    assert assortativity(star).collect()[0].asDict() == {
        "n_edges": 5, "r_ppm": -1000000}
    ring = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                                 "src long, dst long")
    assert assortativity(ring).collect()[0].asDict() == {
        "n_edges": 6, "r_ppm": 0}
    both_dirs = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2)], "src long, dst long")
    assert assortativity(both_dirs).collect()[0].n_edges == 2


def test_assortativity_hub_overflow(spark):
    """ADVICE r11: the covariance products used to form n·Σx² in
    BIGINT — a 1e5-leaf star gives n·Σx² ≈ 2e20 > int64, which ANSI
    errors on and non-ANSI silently wraps to a wrong r_ppm. The
    DECIMAL(38,0) moments must return the exact closed form
    (a star is perfectly disassortative: r = -1)."""
    from pyspark.sql import functions as F

    from stark_spark.operators.graph import assortativity
    star = (spark.range(1, 100_001)
                 .select(F.lit(0).alias("src"), F.col("id").alias("dst")))
    assert assortativity(star).collect()[0].asDict() == {
        "n_edges": 100_000, "r_ppm": -1000000}


def test_rich_club_closed_forms(spark):
    """K4 with two pendants on node 0: every k<=2 club is the K4
    (phi = 1.0 exactly, all-integer); singleton clubs report 0."""
    from stark_spark.operators.graph import rich_club
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4),
         (0, 5)], "src long, dst long")
    got = {r.k: (r.n_nodes, r.n_edges, r.phi_ppm)
           for r in rich_club(edges, [1, 2, 3]).collect()}
    assert got[1] == (4, 6, 1_000_000)
    assert got[2] == (4, 6, 1_000_000)
    assert got[3] == (1, 0, 0)


def test_gini_closed_forms(spark):
    """Closed forms: perfectly equal -> 0; one holder of everything
    among n=5 -> (n-1)/n = 0.8 ppm-exact; negative input raises;
    empty input -> (0, 0); the two-phase prefix sum must agree with
    the naive rank formula on a ties-heavy multiset."""
    import pytest

    from stark_spark.operators.histogram import gini_ppm
    eq = spark.createDataFrame([(7,)] * 5, "x long")
    assert gini_ppm(eq, "x").collect()[0].asDict() == {
        "n": 5, "gini_ppm": 0}
    one = spark.createDataFrame([(0,), (0,), (0,), (0,), (100,)],
                                "x long")
    assert gini_ppm(one, "x").collect()[0].asDict() == {
        "n": 5, "gini_ppm": 800000}
    empty = spark.createDataFrame([], "x long")
    assert gini_ppm(empty, "x").collect()[0].asDict() == {
        "n": 0, "gini_ppm": 0}
    neg = spark.createDataFrame([(-1,)], "x long")
    with pytest.raises(Exception, match="negative"):
        gini_ppm(neg, "x").collect()
    # ties-heavy multiset vs the naive python rank formula
    vals = [3, 3, 3, 7, 7, 10, 100, 100, 250, 250, 250, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = gini_ppm(df, "x").collect()[0]
    srt = sorted(vals)
    n, s = len(srt), sum(srt)
    t = sum((i + 1) * x for i, x in enumerate(srt))
    import math
    want = math.floor((2 * t - (n + 1) * s) * 1_000_000 / (n * s))
    assert (got.n, got.gini_ppm) == (n, want)


def test_gini_huge_domain_and_nulls(spark):
    """The r11 weak mark: `v div 65536` bucketing made the driver
    offsets collect scale with the VALUE DOMAIN (one row per occupied
    64Ki stripe — unbounded for hash-valued columns). The sampled
    range-partition rewrite must (a) compute the exact Gini on
    1e15-scale scattered values with a collect bounded by the
    shuffle-partition count, and (b) exclude NULLs like a SQL
    aggregate instead of silently corrupting the prefix sum
    (ADVICE r11: NULLs sorted first, inflating every offset, then
    dropped at the bucket equi-join)."""
    import math

    from stark_spark.operators.histogram import gini_ppm

    # hash-like domain: 4k distinct values scattered over [0, 1e15)
    # — the old bucketing would collect ~4k stripe rows and at real
    # corpus size one per row; the range path collects <= nparts.
    vals = [(i * i * 2_654_435_761) % 1_000_000_000_000_003
            for i in range(4096)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = gini_ppm(df, "x", partitions=8).collect()[0]
    srt = sorted(vals)
    n, s = len(srt), sum(srt)
    t = sum((i + 1) * x for i, x in enumerate(srt))
    want = math.floor((2 * t - (n + 1) * s) * 1_000_000 / (n * s))
    assert (got.n, got.gini_ppm) == (n, want)

    # NULLs excluded: same statistic as the non-null subset
    with_nulls = spark.createDataFrame(
        [(None,), (3,), (None,), (7,), (10,), (None,)], "x long")
    base = spark.createDataFrame([(3,), (7,), (10,)], "x long")
    assert (gini_ppm(with_nulls, "x").collect()
            == gini_ppm(base, "x").collect())


def test_kn_discounts_closed_form(spark):
    """KN statistics closed form: corpus 'a b a b c' + 'a b d' has
    bigram counts {(a,b):3,(b,a):1,(b,c):1,(b,d):1} -> n1=3, n2=0,
    D = 3/3 = 1.0 exactly; context 'a' (total 3, 1 continuation) ->
    lambda = 1/3; context 'b' (total 3, 3 continuations) -> 1.0.
    A one-token doc contributes no bigram."""
    from stark_spark.operators.text import kn_discounts
    df = spark.createDataFrame(
        [("a b a b c",), ("a b d",), ("solo",)], "text string")
    got = {r.w1: (r.total, r.n_distinct, r.d_ppm, r.lambda_ppm)
           for r in kn_discounts(df).collect()}
    assert got == {"a": (3, 1, 1_000_000, 333_333),
                   "b": (3, 3, 1_000_000, 1_000_000)}, got


def test_kn_discounts_mod_and_doc_logprob_kn_closed_form(spark):
    """Modified-KN (Chen & Goodman) discounts and the interpolated
    scorer, verified against a from-scratch integer recomputation on
    a hand corpus rich enough to populate every count class (c = 1,
    2, 3+ all present)."""
    import math

    from stark_spark.operators.text import (doc_logprob_kn,
                                            kn_discounts_mod)
    docs = [(0, "a b a b a b c d"), (1, "a b c d c d e"),
            (2, "e a x y")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # ground truth from scratch
    bg: dict = {}
    for _, t in docs:
        ts = t.split()
        for u, v in zip(ts, ts[1:]):
            bg[(u, v)] = bg.get((u, v), 0) + 1
    n = [sum(1 for c in bg.values() if c == k) for k in (1, 2, 3, 4)]
    n1, n2, n3, n4 = n
    d1 = max(10**6 - (2 * 10**6 * n2) // (n1 + 2 * n2), 0)
    d2 = (max(2 * 10**6 - (3 * 10**6 * n1 * n3)
              // ((n1 + 2 * n2) * n2), 0) if n2 else 0)
    d3 = (max(3 * 10**6 - (4 * 10**6 * n1 * n4)
              // ((n1 + 2 * n2) * n3), 0) if n3 else 0)
    ctx: dict = {}
    for (u, v), c in bg.items():
        tot, k1, k2, k3 = ctx.get(u, (0, 0, 0, 0))
        ctx[u] = (tot + c, k1 + (c == 1), k2 + (c == 2),
                  k3 + (c >= 3))
    got = {r.w1: (r.total, r.n1w, r.n2w, r.n3pw, r.d1_ppm, r.d2_ppm,
                  r.d3_ppm, r.lambda_ppm)
           for r in kn_discounts_mod(df).collect()}
    for w1, (tot, k1, k2, k3) in ctx.items():
        lam = (d1 * k1 + d2 * k2 + d3 * k3) // tot
        assert got[w1] == (tot, k1, k2, k3, d1, d2, d3, lam), w1

    # interpolated scorer: same integer num/den per pair, floor-ln
    cont: dict = {}
    for (u, v) in bg:
        cont[v] = cont.get(v, 0) + 1
    t_types = len(bg)
    want: dict = {}
    for did, t in docs:
        ts = t.split()
        s, npairs = 0, 0
        for u, v in zip(ts, ts[1:]):
            c = bg[(u, v)]
            dc = d1 if c == 1 else d2 if c == 2 else d3
            tot, k1, k2, k3 = ctx[u]
            num = ((c * 10**6 - dc) * t_types
                   + (d1 * k1 + d2 * k2 + d3 * k3) * cont[v])
            den = 10**6 * tot * t_types
            s += math.floor(math.log(num / den) * 10**6)
            npairs += 1
        want[did] = (npairs, s)
    out = {r.doc_id: (r.n_bigrams, r.logprob_kn_q)
           for r in doc_logprob_kn(df, "doc_id").collect()}
    assert out == want, (out, want)
    # a proper probability model: every per-doc logprob is negative
    assert all(s < 0 for _, s in out.values())


def test_doc_logprob_kn3_closed_form(spark):
    """Trigram modified-KN with continuation-count backoff: full
    from-scratch recomputation (integer stats; the double assembly
    reproduced with the identical operand order) on a corpus that
    populates trigram count classes 1/2/3+ and continuation classes.
    A two-token doc contributes no trigram."""
    import math

    from stark_spark.operators.text import doc_logprob_kn3
    docs = [(0, "a b c a b c a b c d"), (1, "a b c d e a b"),
            (2, "x y c d q"), (3, "no tri")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    tri: dict = {}
    for _, t in docs:
        ts = t.split()
        for u, v, w in zip(ts, ts[1:], ts[2:]):
            tri[(u, v, w)] = tri.get((u, v, w), 0) + 1

    def discounts(counts):
        n = [sum(1 for c in counts if c == k) for k in (1, 2, 3, 4)]
        n1, n2, n3, n4 = n
        d1 = (max(10**6 - (2 * 10**6 * n2) // (n1 + 2 * n2), 0)
              if n1 + 2 * n2 else 0)
        d2 = (max(2 * 10**6 - (3 * 10**6 * n1 * n3)
                  // ((n1 + 2 * n2) * n2), 0)
              if n2 and n1 + 2 * n2 else 0)
        d3 = (max(3 * 10**6 - (4 * 10**6 * n1 * n4)
                  // ((n1 + 2 * n2) * n3), 0)
              if n3 and n1 + 2 * n2 else 0)
        return d1, d2, d3

    e1, e2, e3 = discounts(list(tri.values()))
    ctx3: dict = {}
    for (u, v, w), c in tri.items():
        tot, k1, k2, k3 = ctx3.get((u, v), (0, 0, 0, 0))
        ctx3[(u, v)] = (tot + c, k1 + (c == 1), k2 + (c == 2),
                        k3 + (c >= 3))
    bc: dict = {}
    for (u, v, w) in tri:
        bc[(v, w)] = bc.get((v, w), 0) + 1
    d1, d2, d3 = discounts(list(bc.values()))
    ctx2: dict = {}
    for (v, w), n in bc.items():
        tot, j1, j2, j3 = ctx2.get(v, (0, 0, 0, 0))
        ctx2[v] = (tot + n, j1 + (n == 1), j2 + (n == 2),
                   j3 + (n >= 3))
    uc: dict = {}
    for (v, w) in bc:
        uc[w] = uc.get(w, 0) + 1
    t2 = len(bc)

    want: dict = {}
    for did, t in docs:
        ts = t.split()
        if len(ts) < 3:
            continue
        s, n = 0, 0
        for u, v, w in zip(ts, ts[1:], ts[2:]):
            c = tri[(u, v, w)]
            dc = e1 if c == 1 else e2 if c == 2 else e3
            tot3, k1, k2, k3 = ctx3[(u, v)]
            m3 = e1 * k1 + e2 * k2 + e3 * k3
            b = bc[(v, w)]
            dbc = d1 if b == 1 else d2 if b == 2 else d3
            tot2, j1, j2, j3 = ctx2[v]
            m2 = d1 * j1 + d2 * j2 + d3 * j3
            # identical operand order to the SQL expression
            p = ((float(c * 10**6 - dc)
                  + float(m3)
                  * ((float(b * 10**6 - dbc)
                      + float(m2) * (float(uc[w]) / float(t2)))
                     / (1000000.0 * float(tot2))))
                 / (1000000.0 * float(tot3)))
            s += math.floor(math.log(p) * 10**6)
            n += 1
        want[did] = (n, s)
    out = {r.doc_id: (r.n_trigrams, r.logprob_kn3_q)
           for r in doc_logprob_kn3(df, "doc_id").collect()}
    assert out == want, (out, want)
    assert 3 not in out and all(s < 0 for _, s in out.values())


def _pagerank_reference(edges, n_iter, scale=1_000_000_000_000):
    """Pure-Python `pagerank` (same integer arithmetic)."""
    e = set(edges)
    nodes = {v for ed in e for v in ed}
    n = len(nodes)
    deg = {}
    for a, _ in e:
        deg[a] = deg.get(a, 0) + 1
    r = {v: scale // n for v in nodes}
    base_q = (scale * 15 // 100) // n
    for _ in range(n_iter):
        m = {}
        for a, b in e:
            m[b] = m.get(b, 0) + r[a] // deg[a]
        dang = sum(r[v] for v in nodes if v not in deg)
        r = {v: base_q + (m.get(v, 0) + dang // n) * 85 // 100
             for v in nodes}
    return r


def test_pagerank_prepartition_smj_regime(spark, monkeypatch):
    """The r14 SMJ-regime edge pre-partitioning: when the rank frame
    exceeds the broadcast threshold, or auto-broadcast is disabled
    (-1), the degree-annotated edge list is materialized
    hash-partitioned on src with the partitioning PRESERVED through
    the checkpoint, so (a) ranks are IDENTICAL to the
    broadcast-regime run, (b) a loop-shaped join against the
    pre-partitioned frame plans no Exchange above the edge-side scan
    (only the rank side shuffles — the per-round 100 TB term), and
    (c) pagerank never changes a setting of the caller's session
    (the partitioning is kept on a clone of it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from stark_spark.materialize import materialize
    from stark_spark.operators import graph
    from stark_spark.operators.graph import pagerank

    keys = []

    def counting_materialize(df, **kw):
        if kw.get("key") is not None:
            keys.append(kw["key"])
        return materialize(df, **kw)

    monkeypatch.setattr(graph, "materialize", counting_materialize)
    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append((self, key))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)

    def run():
        n = len(sets)
        got = {r.node: r.rank_q
               for r in pagerank(edges, n_iter=3).collect()}
        assert [k for c, k in sets[n:] if c is spark.conf] == []
        return got

    edges = spark.createDataFrame(
        [(i % 37, (i * 7) % 37) for i in range(400)
         if i % 37 != (i * 7) % 37], "src long, dst long")
    base = run()
    assert keys == []          # 37 nodes broadcast: no pre-partition
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the SMJ regime: nothing broadcasts, the gate trips
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        smj = run()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert keys == ["src"]
    assert smj == base

    # plan property, isolated: a join keyed on the preserved column
    # leaves the pre-partitioned side in place
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ed = materialize(e.join(deg, "src"), key="src")
    r = e.select(F.col("src").alias("node")).distinct() \
         .select("node", F.lit(1).cast("long").alias("r"))
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = ed.join(r.select(F.col("node").alias("src"), "r"), "src")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # exactly one Exchange (the rank side); the edge side scans the
    # checkpointed blocks in place
    n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_ex == 1, plan
    assert "Scan ExistingRDD" in plan


@pytest.mark.parametrize("policy", ["local", "reliable"])
def test_materialize_policies_one_answer(spark, monkeypatch, tmp_path,
                                         policy):
    """One expected answer, many physical plans (the reference's
    `SpatialRDDTestCase` idea): every operator that materialises
    returns the same rows under local checkpoints and under reliable
    ones (Spark has a checkpoint dir), and the reliable cell really
    writes its checkpoints there."""
    from stark_spark.operators import skyline as S
    from stark_spark.operators.curation import curate
    from stark_spark.operators.graph import connected_components, pagerank

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ck_dir = tmp_path / "ck"
    if policy == "reliable":
        sc.setCheckpointDir(str(ck_dir))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # connected components, hash-min loop forced
        cc_edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4), (5, 4)],
                                         "a long, b long")
        got = {r.node: r.comp for r in connected_components(
            cc_edges, driver_threshold=0).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}

        # pagerank, SMJ regime (edge list pre-partitioned on src)
        pr_edges = [(i % 23, (i * 5) % 23) for i in range(200)
                    if i % 23 != (i * 5) % 23]
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = {r.node: r.rank_q for r in pagerank(
            spark.createDataFrame(pr_edges, "src long, dst long"),
            n_iter=3).collect()}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert got == _pagerank_reference(pr_edges, 3)

        # dbscan on a grid
        rng = np.random.RandomState(7)
        pts = np.vstack([rng.normal(loc, 1.0, size=(40, 2))
                         for loc in ((8, 8), (25, 25))]
                        + [rng.uniform(0, 32, size=(15, 2))])
        df = spark.createDataFrame(
            [(i, float(p[0]), float(p[1])) for i, p in enumerate(pts)],
            "id long, xmin double, ymin double")
        got = dbscan(df, 1.5, 4, key="id",
                     grid=GridSpec(0, 0, 32.000001, 32.000001, 4, 4)) \
            .toPandas()
        assert (_cluster_signature(got.id, got.cluster)
                == _cluster_signature(range(len(pts)),
                                      _naive_dbscan(pts[:, 0], pts[:, 1],
                                                    1.5, 4)))

        # skyline, distributed merge (front over the limit)
        monkeypatch.setattr(S, "GLOBAL_MERGE_LIMIT", 50)
        rows = [(i, float(i), float(300 - i)) for i in range(300)]
        rows += [(1000 + i, x + 0.5, y + 0.5) for i, x, y in rows]
        sky = spark.createDataFrame(rows, "id long, x double, y double") \
                   .repartition(8)
        assert set(S.skyline(sky).select("id").toPandas().id) \
            == set(range(300))

        # curation: near-dup keep-best, then a token budget
        base = ("the cat and the dog walk to the park and they see "
                "many birds in the tall trees near the old gate today")
        other = ("a small boat sails out of the bay and the crew look "
                 "for fish in the deep cold water under a grey sky")
        docs = spark.createDataFrame(
            [(1, base, "web", len(base)),
             (2, base + " zz", "web", len(base) + 3),
             (3, other, "web", len(other))],
            "doc_id long, text string, source string, n_chars long")
        out = curate(docs, "doc_id", near_dup="simhash",
                     score_col="n_chars", budgets={"web": 10_000},
                     weight_col="n_chars", source_col="source")
        assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    written = [f for f in ck_dir.rglob("part-*")] if ck_dir.exists() else []
    assert bool(written) == (policy == "reliable")


def test_broadcast_bytes_reads_unit_suffixes(spark):
    """The SMJ-regime gate reads the threshold Spark itself parsed,
    so unit-suffixed settings such as "64MB" size correctly."""
    from stark_spark.operators.graph import _broadcast_bytes

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        assert _broadcast_bytes(spark) == 64 << 20
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == old


def test_pq_codes_arrow_equals_fold(spark):
    """The r14 Arrow PQ encoder must be BIT-IDENTICAL to the
    relational fold (broadcast-join assignment `_pq_assign_codes` +
    in-order per-key collect) on every row — same left-associated d2
    accumulation, same first-min/smallest-code tie-break — over a
    corpus engineered for exact d2 ties (duplicated codeword-equal
    vectors) and irregular values."""
    import numpy as np

    from pyspark.sql import functions as F

    from stark_spark.operators.similarity import (_pq_assign_codes,
                                                  _pq_cb_frame, _pq_codes,
                                                  _pq_subvectors, pq_train)
    rng = np.random.default_rng(7)
    dim, m_sub, n_codes = 16, 4, 4
    rows = []
    for i in range(200):
        if i % 7 == 0 and i >= n_codes:
            v = rows[i % n_codes][1]      # exact copy of an init row
        else:
            v = [float(np.float32(x)) for x in rng.normal(size=dim)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_train(emb, dim=dim, m_sub=m_sub, n_codes=n_codes, n_iter=2)
    a = {r.vec_id: list(r.codes)
         for r in _pq_codes(emb, cb, key="vec_id",
                            vec_col="embedding").collect()}
    subv = _pq_subvectors(emb, key="vec_id", vec_col="embedding",
                          m_sub=m_sub, dsub=dim // m_sub)
    fold = (_pq_assign_codes(subv, _pq_cb_frame(spark, cb), key="vec_id")
            .groupBy("vec_id")
            .agg(F.transform(F.sort_array(F.collect_list(
                     F.struct("sub_id", "code"))),
                 lambda x: x["code"]).alias("codes")))
    f = {r.vec_id: list(r.codes) for r in fold.collect()}
    assert a == f
    assert len(a) == 200
