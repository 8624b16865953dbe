"""Similarity search over embedding columns (array<float>).

Net-new beyond the reference. Tiers:

* **brute-force cosine top-k** — exact baseline: broadcast the query
  vectors, one narrow pass computing dot products with native
  higher-order functions (`zip_with`+`aggregate`, a left-to-right
  double fold — bit-identical to the oracle's `list_reduce` fold),
  then per-query window top-k.
* **IVF (inverted-file) bucketed search** — the scale path: assign
  every vector to its nearest of C centroids, search only the query's
  ``n_probe`` closest centroid buckets. Centroids here are taken
  deterministically from the data (first C vectors by id) so results
  stay oracle-reproducible; a production deployment would plug
  k-means centroids in unchanged. Persisted form: `save_ivf_bucketed`
  / `ivf_topk_pruned` (file-level pruning).
* **sign-LSH bucketed search** (`ann_lsh_topk`) — the centroid-free
  alternative: deterministic hyperplane signatures, same-bucket
  candidates, exact rerank.
* **int8 quantized retrieval** (`quantize_embeddings` +
  `ann_quantized_topk`) and **PQ/ADC** (`pq_train` + `pq_topk`) —
  compressed vectors, integer scores, exactly reproducible ranking.

Query-time scoring (brute-force, IVF, ANN joins, cosine pairs) has a
BLAS engine (``score="gemm"``) next to the bit-exact fold expression;
the cluster-local passes (semantic dedup/contamination, k-means
assignment, the persisted IVF store) score with the fold only.
Embedding-cosine near-dup pairs ride the same IVF bucketing.

Every scorer whose query side is small by contract — brute-force and
IVF ``score="gemm"``, `ann_quantized_topk`, `pq_topk(score="batch")`
— runs on one kernel, `_batch_topk`: the queries ride the task
closure, one `mapInPandas` pass keeps a bounded top-k per Arrow batch,
and one window merges the batches. The all-corpus `ann_knn_join` has
no small side and scores per bucket (`_gemm_cogroup_topk`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

from stark_spark.operators.dedup import _sql_array_lit
from stark_spark.materialize import materialize


def dot_fold(a: Column, b: Column) -> Column:
    """Left-to-right double fold of the elementwise product — the
    deterministic dot product (same fold order as DuckDB
    `list_reduce`)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0),
                       lambda acc, v: acc + v)


def _dot_fold_sql(vec_name: str, w) -> str:
    """`dot_fold(col, lit(w))` as a SQL fragment — the identical
    zip_with/aggregate fold (same CASTs, same left fold, `D`-suffixed
    shortest-repr double literals parse to the same IEEE bits), built
    as a string so a whole literal-plane expression costs ONE py4j
    call + one JVM parse instead of per-element/per-lambda
    round-trips (r14). Caller guarantees finite weights. Backticks
    in the name are doubled, so any column name parses as one
    identifier."""
    arr = ("CAST(array(" + ",".join(f"{float(x)!r}D" for x in w)
           + ") AS ARRAY<DOUBLE>)")
    q = "`" + vec_name.replace("`", "``") + "`"
    return (f"aggregate(zip_with({q}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v)")


def norm(a: Column) -> Column:
    return F.sqrt(dot_fold(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_fold(a, b) / (norm(a) * norm(b))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the two norms taken from PRECOMPUTED columns —
    bit-identical (the norm column is the same `norm` fold over the
    same array, and x/(na·nb) sees the same operands), but the fold
    paths attach each side's norm ONCE per row before the join/cross
    instead of re-folding both norms per PAIR: 3 interpreted
    CodegenFallback folds per pair become 1 (guide §4 — cut per-task
    work; r14). Callers must pass na/nb in (a-side, b-side) order."""
    return dot_fold(a, b) / (na * nb)


def _local_topk(cos_row, mids, k: int, exclude=None):
    """Indices of the top-k entries of one query's cosine row with the
    deterministic (-cos, member id) tie-break; ``exclude`` drops one id
    (self-match)."""
    import numpy as np
    order_ids = np.argsort(mids, kind="stable")
    if exclude is not None:
        order_ids = order_ids[mids[order_ids] != exclude]
    return order_ids[np.argsort(-cos_row[order_ids], kind="stable")[:k]]


def _matrix(col):
    """A pandas column of equal-length arrays as a float64 matrix;
    (0, 0) when the column is empty, where np.vstack raises."""
    import numpy as np
    if not len(col):
        return np.zeros((0, 0))
    return np.vstack(col.to_numpy()).astype(np.float64)


def _unit_rows(col):
    """`_matrix` with every row scaled to unit length."""
    import numpy as np
    M = _matrix(col)
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def _rank_topk(scored: DataFrame, k: int, qkey: str, key: str,
               col: str) -> DataFrame:
    """The global merge: per ``qkey``, the k rows with the highest
    ``col``, ties by ``key``, numbered 1..k in ``rank``."""
    w = Window.partitionBy(qkey).orderBy(F.desc(col), F.col(key))
    return (scored.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= k)
                  .select(qkey, key, col, F.col("_rn").alias("rank")))


def _batch_topk(frame: DataFrame, qfield: StructField, qids, k: int,
                scores, *, key: str, col: str,
                col_type: DataType) -> DataFrame:
    """Bounded top-k shared by the closure scorers (brute-force and
    int8 GEMM, IVF, PQ/ADC): the small query side rides the task
    closure and ONE `mapInPandas` over ``frame`` scores it.
    ``scores(pdf)`` turns an Arrow batch into ``(ids, S, mask)`` — the
    member ids it scored, their |Q|×|ids| score matrix (rows in
    ``qids`` order) and a same-shape candidate mask, or None when every
    member is a candidate. Each batch emits at most |Q|·k rows picked
    by the `_local_topk` (-score, id) tie-break, so the one ``qkey``
    window that merges them reads at most batches·|Q|·k rows whatever
    the corpus size. Higher scores rank first (PQ passes negated
    distances). No queries: no rows, and no job.

    Output: (qkey, key, col, rank)."""
    import numpy as np
    import pandas as pd
    qkey = qfield.name
    schema = StructType([qfield, frame.schema[key],
                         StructField(col, col_type)])
    if not len(qids):
        return _rank_topk(frame.sparkSession.createDataFrame([], schema),
                          k, qkey, key, col)

    def topk_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, S, mask = scores(pdf)
            tops = []
            for qi in range(len(qids)):
                cand = (np.arange(len(ids)) if mask is None
                        else np.nonzero(mask[qi])[0])
                tops.append(cand[_local_topk(S[qi, cand], ids[cand], k)])
            n = [len(t) for t in tops]
            top = np.concatenate(tops)
            yield pd.DataFrame({qkey: np.repeat(qids, n), key: ids[top],
                                col: S[np.repeat(np.arange(len(qids)), n),
                                       top]})

    return _rank_topk(frame.mapInPandas(topk_batches, schema),
                      k, qkey, key, col)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int, *,
                     key: str = "vec_id", qkey: str = "q_id",
                     vec_col: str = "embedding",
                     qvec_col: str = "q_embedding",
                     score: str = "fold") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is expected to be small (broadcast): (q_id, q_embedding).
    Output: (q_id, vec_id, cos, rank) with deterministic tie-break on
    key.

    ``score="gemm"`` is the production scorer: `_batch_topk` with the
    unit query matrix in the task closure and ONE BLAS matmul per Arrow
    batch of vectors. ``"fold"`` (default) is the bit-identical-to-DuckDB
    oracle twin (`zip_with`+`aggregate` left fold).
    """
    if score == "gemm":
        q_pdf = queries.select(qkey, qvec_col).toPandas()
        Qn = _unit_rows(q_pdf[qvec_col])
        return _batch_topk(
            vectors.select(key, vec_col), queries.schema[qkey],
            q_pdf[qkey].to_numpy(), k,
            lambda pdf: (pdf[key].to_numpy(),
                         Qn @ _unit_rows(pdf[vec_col]).T, None),
            key=key, col="cos", col_type=DoubleType())
    v = vectors.withColumn("_nv", norm(F.col(vec_col)))
    qn = queries.withColumn("_nq", norm(F.col(qvec_col)))
    j = v.crossJoin(F.broadcast(qn))
    j = j.withColumn("cos", _cos_pre(F.col(vec_col), F.col(qvec_col),
                                     F.col("_nv"), F.col("_nq")))
    return _rank_topk(j, k, qkey, key, "cos")


def _gemm_centroid_matrix(centroids: DataFrame, ckey: str,
                          cvec_col: str):
    """Driver-side centroid prep shared by every gemm branch: one
    toPandas collect, unit-normalize, stable-sort by c_id so
    np.argmax/stable argsort first-wins == the fold window's
    (-cos, c_id) tie-break. Returns (Cn, cids); (None, None) when
    the table is empty (callers return their empty shape — matching
    the fold path's empty crossJoin — instead of np.vstack raising)."""
    import numpy as np
    c_pdf = centroids.select(ckey, cvec_col).toPandas()
    if c_pdf.empty:
        return None, None
    Cn = _unit_rows(c_pdf[cvec_col])
    order = np.argsort(c_pdf[ckey].to_numpy(), kind="stable")
    return Cn[order], c_pdf[ckey].to_numpy()[order]


def _probe_top(Qn, Cn, n_probe: int):
    """Row-wise indices into the c_id-sorted ``Cn`` of the ``n_probe``
    nearest centroids, in (-cos, c_id) order: the stable argsort keeps
    ascending c_id among exact ties, as the fold probe window does."""
    import numpy as np
    return np.argsort(-(Qn @ Cn.T), axis=1, kind="stable")[:, :n_probe]


def ivf_assign(vectors: DataFrame, centroids: DataFrame, *,
               key: str = "vec_id", vec_col: str = "embedding",
               ckey: str = "c_id", cvec_col: str = "c_embedding",
               score: str = "fold") -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (broadcast
    the centroid table; one narrow pass + per-key window).

    NOTE: an alternative that collects the (dimension-sized) centroid
    table into literal arrays and folds the argmax natively — zero
    shuffles — was A/B-measured far SLOWER (35s vs 3s on the dup-pairs
    query at sf0.1): the C×dim literal expression tree wrecks codegen
    compile time and the per-row struct fold doesn't vectorize. The
    broadcast crossJoin + window keeps the JVM hash-join fast path.

    ``score="gemm"``: centroid matrix in the task closure, one BLAS
    matmul + argmax per Arrow batch, NO crossJoin / window / shuffle at
    all — the scale path when C is large (C ≈ √N means the fold does
    N·√N interpreted evals). Assignment ties break on (-cos, c_id) in
    both engines, but the two float paths can disagree in the last ulp
    on near-ties — oracle-gated queries keep the fold default.
    """
    if score == "gemm":
        import numpy as np
        Cn, cids = _gemm_centroid_matrix(centroids, ckey, cvec_col)
        # fresh StructType — .add() would mutate the frame's cached schema
        out_schema = StructType(
            list(vectors.schema.fields)
            + [StructField("bucket", centroids.schema[ckey].dataType)])
        if Cn is None:
            # empty centroid table: the fold path's crossJoin is
            # empty -> nothing assigned; mirror that, don't crash
            return vectors.sparkSession.createDataFrame([], out_schema)

        def assign_batches(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                Mn = _unit_rows(pdf[vec_col])
                pdf = pdf.copy()
                pdf["bucket"] = cids[np.argmax(Mn @ Cn.T, axis=1)]
                yield pdf

        return vectors.mapInPandas(assign_batches, out_schema)
    v = vectors.withColumn("_nv", norm(F.col(vec_col)))
    c = centroids.withColumn("_nc", norm(F.col(cvec_col)))
    j = v.crossJoin(F.broadcast(c))
    j = j.withColumn("_cos", _cos_pre(F.col(vec_col), F.col(cvec_col),
                                      F.col("_nv"), F.col("_nc")))
    w = Window.partitionBy(key).orderBy(F.desc("_cos"), F.col(ckey))
    return (j.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1)
             .select(vectors["*"], F.col(ckey).alias("bucket")))


def _gemm_cogroup_topk(assigned: DataFrame, probes: DataFrame, k: int, *,
                       key: str, vec_col: str) -> DataFrame:
    """Per-bucket BLAS scoring of `ann_knn_join(score="gemm")`, its
    only caller: cogrouped `applyInPandas` on ``bucket`` — each
    bucket's members and probing vectors cross Arrow ONCE, one matmul
    scores every (probe × member) pair, local top-k per probe with the
    self-match dropped. ``probes`` must have columns (q_id,
    q_embedding, bucket) with q_id in the ``key`` id space. Returns
    (q_id, key, cos); the caller window-merges across the n_probe
    buckets."""
    import numpy as np
    import pandas as pd

    def bucket_topk(members: pd.DataFrame,
                    bucket_probes: pd.DataFrame) -> pd.DataFrame:
        if members.empty or bucket_probes.empty:
            return pd.DataFrame({"q_id": [], key: [], "cos": []})
        M = _matrix(members[vec_col])
        Q = _matrix(bucket_probes["q_embedding"])
        mids = members[key].to_numpy()
        qids = bucket_probes["q_id"].to_numpy()
        cos = (Q @ M.T) / np.outer(np.linalg.norm(Q, axis=1),
                                   np.linalg.norm(M, axis=1))
        out_q, out_v, out_c = [], [], []
        for qi in range(len(qids)):
            top = _local_topk(cos[qi], mids, k, exclude=qids[qi])
            out_q.extend([qids[qi]] * len(top))
            out_v.extend(mids[top])
            out_c.extend(cos[qi][top])
        return pd.DataFrame({"q_id": out_q, key: out_v, "cos": out_c})

    key_type = dict(assigned.dtypes)[key]
    return (assigned.groupBy("bucket")
            .cogroup(probes.groupBy("bucket"))
            .applyInPandas(bucket_topk,
                           f"q_id {key_type}, {key} {key_type}, "
                           f"cos double"))


def ivf_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int, *, n_probe: int = 2, key: str = "vec_id",
             qkey: str = "q_id", vec_col: str = "embedding",
             qvec_col: str = "q_embedding",
             score: str = "fold") -> DataFrame:
    """IVF approximate top-k: probe the n_probe nearest centroid buckets.

    At scale the win is pruning: each query scans |data|·n_probe/C
    instead of |data|. Bucketed vectors can be written
    `partitionBy(bucket)` so the probe prunes at the file level.

    ``score="gemm"`` (production): the query side rides the task
    closure, as in `brute_force_topk(score="gemm")` — queries are small
    by contract. The driver collects the queries and the centroids and
    picks each query's ``n_probe`` buckets (`_probe_top`); one
    `_batch_topk` pass over the vectors then assigns every member of an
    Arrow batch to its nearest centroid with one matmul, scores only
    members of probed buckets, and masks each query to its own buckets.
    No crossJoin, assign stage or cogroup: one narrow pass plus the
    merge window. ``"fold"`` (default) stays bit-identical to the
    DuckDB oracle.

    Output: (q_id, vec_id, cos, rank), ties by key.
    """
    if score == "gemm":
        import numpy as np
        Cn, _ = _gemm_centroid_matrix(centroids, "c_id", "c_embedding")
        q_pdf = queries.select(qkey, qvec_col).toPandas()
        if Cn is None:      # no centroids, no probes: no rows, as the fold
            q_pdf, Cn = q_pdf.iloc[:0], np.zeros((0, 0))
        qids, Qn = q_pdf[qkey].to_numpy(), _unit_rows(q_pdf[qvec_col])
        probed = np.zeros((len(qids), len(Cn)), dtype=bool)
        if len(qids):
            np.put_along_axis(probed, _probe_top(Qn, Cn, n_probe), True,
                              axis=1)
        hot = probed.any(axis=0)

        def scores(pdf):
            Mn = _unit_rows(pdf[vec_col])
            b = np.argmax(Mn @ Cn.T, axis=1)
            sel = hot[b]
            return (pdf[key].to_numpy()[sel], Qn @ Mn[sel].T,
                    probed[:, b[sel]])

        return _batch_topk(vectors.select(key, vec_col),
                           queries.schema[qkey], qids, k, scores,
                           key=key, col="cos", col_type=DoubleType())
    assigned = ivf_assign(vectors, centroids, key=key, vec_col=vec_col)
    qc = queries.crossJoin(F.broadcast(centroids))
    qc = qc.withColumn("_cos", cosine(F.col(qvec_col), F.col("c_embedding")))
    wq = Window.partitionBy(qkey).orderBy(F.desc("_cos"), F.col("c_id"))
    probes = (qc.withColumn("_rn", F.row_number().over(wq))
                .where(F.col("_rn") <= n_probe)
                .select(qkey, qvec_col, F.col("c_id").alias("bucket")))
    scored = (assigned.withColumn("_nv", norm(F.col(vec_col)))
              .join(probes.withColumn("_nq", norm(F.col(qvec_col))),
                    "bucket")
              .withColumn("cos",
                          _cos_pre(F.col(vec_col), F.col(qvec_col),
                                   F.col("_nv"), F.col("_nq"))))
    return _rank_topk(scored, k, qkey, key, "cos")


def _gemm_probe_buckets(vectors: DataFrame, centroids: DataFrame,
                        n_probe: int, *, key: str,
                        vec_col: str) -> DataFrame:
    """BLAS probe selection for `ann_knn_join(assign_score="gemm")`:
    centroid matrix in the task closure, one matmul + `_probe_top` per
    Arrow batch — top-``n_probe`` buckets per query with the same
    (-cos, c_id) tie order as the fold window. No crossJoin, no
    window, no shuffle. Returns (q_id, q_embedding, bucket) — the
    `probes` shape `_gemm_cogroup_topk` takes."""
    import numpy as np
    import pandas as pd

    out_schema = StructType([
        StructField("q_id", vectors.schema[key].dataType),
        StructField("q_embedding", vectors.schema[vec_col].dataType),
        StructField("bucket", centroids.schema["c_id"].dataType)])
    Cn, cids = _gemm_centroid_matrix(centroids, "c_id", "c_embedding")
    if Cn is None:
        # no centroids -> no probes (matches the fold crossJoin)
        return vectors.sparkSession.createDataFrame([], out_schema)

    def probe_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            top = _probe_top(_unit_rows(pdf[vec_col]), Cn, n_probe)
            qi = np.repeat(np.arange(len(pdf)), top.shape[1])
            yield pd.DataFrame(
                {"q_id": pdf[key].to_numpy()[qi],
                 "q_embedding": pdf[vec_col].to_numpy()[qi],
                 "bucket": cids[top.ravel()]})

    return (vectors.select(key, vec_col)
                   .mapInPandas(probe_batches, out_schema))


def ann_knn_join(vectors: DataFrame, centroids: DataFrame, k: int, *,
                 n_probe: int = 2, key: str = "vec_id",
                 vec_col: str = "embedding",
                 score: str = "gemm",
                 assign_score: str | None = None) -> DataFrame:
    """ANN k-NN **join**: top-k most-similar OTHER vectors for EVERY
    vector (not a small query set) — the all-corpus neighbor graph
    behind embedding dedup, clustering, and retrieval-index builds.

    Scale shape: IVF-bucketed, never all-pairs. Every vector is
    assigned to its nearest centroid (broadcast pass); as a query it
    probes its ``n_probe`` nearest buckets; candidates come from one
    shuffle join on ``bucket``. With C centroids the candidate volume
    is N·n_probe·(N/C) — choose C ≈ √N (or k-means centroids from
    `kmeans_centroids`) and the join is N^1.5 instead of N²; hot
    buckets are AQE-skew-join territory, and bucketed storage
    (`partitionBy(bucket)`) makes the probe prune at file level.

    ``score`` picks the candidate-scoring engine:

    * ``"gemm"`` (default, the production path): cogrouped
      `applyInPandas` per bucket — each bucket's vectors cross Arrow
      ONCE, one BLAS matmul scores every (probe × member) pair, local
      top-k per query, then a tiny global window merges across the
      n_probe buckets. 1M interpreted-fold evaluations become a few
      matrix multiplies (A/B at sf0.1: 18.2s → see bench).
    * ``"fold"``: native `zip_with`+`aggregate` per candidate pair —
      slow (higher-order fns are CodegenFallback) but bit-identical to
      the DuckDB `list_reduce` oracle; the correctness twin.
      `test_analytics.py` asserts gemm == fold on ranks.

    ``assign_score`` picks the ASSIGNMENT/PROBE engine independently
    (default: "fold" — the historical behavior; oracle-gated queries
    keep it). ``"gemm"`` does both the member assignment and the
    probe selection as per-batch BLAS matmuls with NO crossJoin or
    window — at C centroids the fold side is 2·N·C interpreted fold
    evals plus an N-key window sort, the dominant cost when C grows
    with the corpus (C ≈ √N). The two engines can disagree in the
    last ulp on assignment near-ties, so mix them only when the
    corpus has real cluster structure (margins ≫ 1 ulp — e.g. the
    planted gate) or when candidate scoring is gemm anyway.

    Output: (q_id, key, cos, rank), self-matches excluded,
    deterministic tie-break on key.
    """
    assign_score = assign_score or "fold"
    assigned = ivf_assign(vectors, centroids, key=key, vec_col=vec_col,
                          score=assign_score)
    if assign_score == "gemm":
        probes = _gemm_probe_buckets(vectors, centroids, n_probe,
                                     key=key, vec_col=vec_col)
    else:
        qc = (vectors.select(F.col(key).alias("q_id"),
                             F.col(vec_col).alias("q_embedding"))
                     .withColumn("_nq", norm(F.col("q_embedding")))
                     .crossJoin(F.broadcast(
                         centroids.withColumn("_nc",
                                              norm(F.col("c_embedding")))))
                     .withColumn("_cos",
                                 _cos_pre(F.col("q_embedding"),
                                          F.col("c_embedding"),
                                          F.col("_nq"), F.col("_nc"))))
        wq = Window.partitionBy("q_id").orderBy(F.desc("_cos"),
                                                F.col("c_id"))
        probes = (qc.withColumn("_rn", F.row_number().over(wq))
                    .where(F.col("_rn") <= n_probe)
                    .select("q_id", "q_embedding",
                            F.col("c_id").alias("bucket")))

    if score == "fold":
        j = (assigned.withColumn("_nv", norm(F.col(vec_col)))
                     .join(probes.withColumn("_nq",
                                             norm(F.col("q_embedding"))),
                           "bucket")
                     .where(F.col(key) != F.col("q_id"))
                     .withColumn("cos",
                                 _cos_pre(F.col(vec_col),
                                          F.col("q_embedding"),
                                          F.col("_nv"), F.col("_nq"))))
        scored = j.select("q_id", key, "cos")
    else:
        scored = _gemm_cogroup_topk(
            assigned.select("bucket", key, vec_col), probes, k,
            key=key, vec_col=vec_col)
    return _rank_topk(scored, k, "q_id", key, "cos")


def cosine_dup_pairs(vectors: DataFrame, threshold: float, *,
                     key: str = "vec_id", vec_col: str = "embedding",
                     centroids: DataFrame | None = None,
                     score: str = "fold",
                     exact_max: int = 100_000) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    With ``centroids``: pairs are only searched within IVF buckets
    (approximate but scalable — near-dups almost always share a
    bucket). Without: exact self-join (small data / verification).

    ``score="gemm"`` (bucketed path only): one `applyInPandas` per
    bucket — members sorted by id, a row-blocked matmul against the
    bucket matrix (1024-row blocks cap the cos-block memory at
    1024×|bucket| doubles), upper-triangle mask gives a<b for free.
    Replaces |bucket|² interpreted fold evals per bucket; giant buckets
    are the same AQE-skew territory as the fold join.
    """
    if centroids is not None:
        v = ivf_assign(vectors, centroids, key=key, vec_col=vec_col,
                       score=score)
        if score == "gemm":
            import numpy as np
            import pandas as pd
            key_type = dict(vectors.dtypes)[key]

            def bucket_pairs(members: pd.DataFrame) -> pd.DataFrame:
                if len(members) < 2:
                    return pd.DataFrame({"a": [], "b": [], "cos": []})
                members = members.sort_values(key, kind="stable")
                Mn = _unit_rows(members[vec_col])
                ids = members[key].to_numpy()
                n = len(ids)
                out_a, out_b, out_c = [], [], []
                for i0 in range(0, n, 1024):
                    i1 = min(i0 + 1024, n)
                    cos = Mn[i0:i1] @ Mn.T
                    ii, jj = np.nonzero(cos >= threshold)
                    up = (ii + i0) < jj  # a<b on sorted ids
                    ii, jj = ii[up], jj[up]
                    out_a.extend(ids[ii + i0])
                    out_b.extend(ids[jj])
                    out_c.extend(cos[ii, jj])
                return pd.DataFrame({"a": out_a, "b": out_b,
                                     "cos": out_c})

            return (v.select("bucket", key, vec_col)
                     .groupBy("bucket")
                     .applyInPandas(bucket_pairs,
                                    f"a {key_type}, b {key_type}, "
                                    f"cos double"))
        v = v.withColumn("_n", norm(F.col(vec_col)))
        a = v.select(F.col(key).alias("a"), F.col(vec_col).alias("va"),
                     F.col("_n").alias("_na"), "bucket")
        b = v.select(F.col(key).alias("b"), F.col(vec_col).alias("vb"),
                     F.col("_n").alias("_nb"), "bucket")
        j = a.join(b, "bucket").where(F.col("a") < F.col("b"))
    else:
        # size guard (r10 verdict ask #3): the exact path is O(n²) by
        # design — refuse silently quadratic work on big frames. The
        # probe is bounded (reads at most exact_max+1 rows, never a
        # full count); exact_max=0 disables the guard explicitly.
        if exact_max and (vectors.limit(exact_max + 1).count()
                          > exact_max):
            raise ValueError(
                f"cosine_dup_pairs without centroids is an exact "
                f"O(n²) self-join and the input exceeds exact_max="
                f"{exact_max} rows; pass IVF centroids (e.g. from "
                f"kmeans_centroids) for the bucketed scale path, or "
                f"raise exact_max explicitly")
        vn = vectors.withColumn("_n", norm(F.col(vec_col)))
        a = vn.select(F.col(key).alias("a"), F.col(vec_col).alias("va"),
                      F.col("_n").alias("_na"))
        b = vn.select(F.col(key).alias("b"), F.col(vec_col).alias("vb"),
                      F.col("_n").alias("_nb"))
        j = a.crossJoin(b).where(F.col("a") < F.col("b"))
    j = j.withColumn("cos", _cos_pre(F.col("va"), F.col("vb"),
                                     F.col("_na"), F.col("_nb")))
    return j.where(F.col("cos") >= threshold).select("a", "b", "cos")


def _cluster_assigned(vectors: DataFrame, *, key: str, vec_col: str,
                      centroids: DataFrame | None,
                      assign_col: str | None) -> DataFrame:
    """(key, vec, bucket) with the cluster taken from ``assign_col``
    when the caller already knows it (planted data, precomputed
    k-means labels, a partition column) — skipping the assignment
    pass entirely — else from `ivf_assign` against ``centroids``."""
    if assign_col is not None:
        return vectors.select(F.col(key), F.col(vec_col),
                              F.col(assign_col).alias("bucket"))
    if centroids is None:
        raise ValueError("pass centroids (e.g. kmeans_centroids(...)) "
                         "or assign_col")
    return ivf_assign(vectors, centroids, key=key,
                      vec_col=vec_col).select(key, vec_col, "bucket")


def semantic_dedup(vectors: DataFrame, tau: float, *,
                   key: str = "vec_id", vec_col: str = "embedding",
                   centroids: DataFrame | None = None,
                   assign_col: str | None = None) -> DataFrame:
    """SemDeDup-style embedding-level dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then inside each cluster
    drop every vector that is a near-duplicate (cosine ≥ ``tau``) of
    an EARLIER-keyed member. Output: one row per input —
    ``(key, cluster, keep)``.

    Keep rule (deterministic, order-free): ``keep(v) ⇔ ¬∃ u :
    cluster(u)=cluster(v) ∧ u<v ∧ cos(u,v) ≥ tau``. Earlier members
    suppress later ones whether or not they are themselves kept — a
    relational EXISTS, so the rule is oracle-mirrorable and
    independent of visit order (the sequential "skip already-dropped
    witnesses" variant is not expressible without recursion and
    keeps MORE near-dup text; for pretraining dedup the stricter set
    is the useful one).

    Scale shape: pairwise work is confined to clusters — the
    SemDeDup cost model (k ≈ √N clusters ⇒ O(N·√N) total, one
    shuffle on cluster id). One fold-cosine equi-join on the cluster
    id keeps cos bit-identical to the DuckDB oracle. Measured at 100×
    (49,980 members, 12 per cluster) it ran 0.10 s warm against 1.31 s
    for a per-cluster BLAS `applyInPandas` with identical keep sets.
    """
    v = _cluster_assigned(vectors, key=key, vec_col=vec_col,
                          centroids=centroids, assign_col=assign_col)
    vn = v.withColumn("_n", norm(F.col(vec_col)))
    a = vn.select("bucket", F.col(key).alias("_a"),
                  F.col(vec_col).alias("_va"), F.col("_n").alias("_na"))
    b = vn.select("bucket", F.col(key).alias("_b"),
                  F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb"))
    dup = (a.join(b, "bucket")
            .where(F.col("_a") < F.col("_b"))
            .where(_cos_pre(F.col("_va"), F.col("_vb"),
                            F.col("_na"), F.col("_nb")) >= tau)
            .select(F.col("_b").alias(key)).distinct()
            .withColumn("_dup", F.lit(True)))
    return (v.join(dup, key, "left")
             .select(F.col(key), F.col("bucket").alias("cluster"),
                     F.col("_dup").isNull().alias("keep")))


def semantic_contamination(train: DataFrame, eval_df: DataFrame,
                           tau: float, *,
                           key: str = "vec_id",
                           vec_col: str = "embedding",
                           centroids: DataFrame | None = None,
                           assign_col: str | None = None) -> DataFrame:
    """Embedding-level decontamination: eval rows whose vector is
    near-duplicate (cosine ≥ ``tau``) of ANY training vector in the
    same cluster — the semantic sibling of the `cross_*` text
    contamination family (exact / Bloom / LSH / n-gram in dedup.py),
    catching paraphrase-level leakage those miss. Output: one row
    per CONTAMINATED eval vector — ``(key, n_dups, max_cos)``.

    Both sides go through the same clustering (``centroids`` or a
    shared ``assign_col``), so candidates are cluster-local: the
    train×eval product never materializes, one shuffle each side on
    cluster id. A true cross-cluster near-dup is missed exactly when
    IVF would miss it (boundary split) — the standard recall trade;
    raise the cluster count quality via `kmeans_centroids` as usual.
    """
    t = _cluster_assigned(train, key=key, vec_col=vec_col,
                          centroids=centroids, assign_col=assign_col)
    q = _cluster_assigned(eval_df, key=key, vec_col=vec_col,
                          centroids=centroids, assign_col=assign_col)
    # NOTE (r14 negative result): the _cos_pre norm-precompute form
    # measured ~15% SLOWER here in a 6-rep interleaved A/B at sf0.1
    # (min 0.52 -> 0.60 s, slower in every paired rep): at this
    # operator's pair density (few eval rows per bucket) the extra
    # interpreted-fold Project over EVERY train row (a codegen break
    # + row-copy of the embedding array) costs more than the saved
    # per-pair norm folds. Keep the per-pair cosine; don't re-try
    # without a higher measured pairs/row ratio.
    j = (q.select("bucket", F.col(key).alias("_q"),
                  F.col(vec_col).alias("_vq"))
          .join(t.select("bucket", F.col(key).alias("_t"),
                         F.col(vec_col).alias("_vt")), "bucket")
          .withColumn("cos", cosine(F.col("_vq"), F.col("_vt")))
          .where(F.col("cos") >= tau))
    return (j.groupBy("_q")
             .agg(F.count("*").alias("n_dups"),
                  F.max("cos").alias("max_cos"))
             .select(F.col("_q").alias(key), "n_dups", "max_cos"))


def _kmeans_local(vecs: list, n_centroids: int, n_iter: int) -> list:
    """Driver-side replica of `kmeans_centroids(exact=True)` — the
    same IEEE operation sequence as the cluster path, so the centroid
    table is bit-identical (pytest-pinned):

    * cosine = left-fold dot / (sqrt(left-fold ‖a‖²) · sqrt(left-fold
      ‖b‖²)), accumulated elementwise over positions = the zip_with/
      aggregate chains term for term;
    * assignment: np.argmax first-wins over centroids in c_id order =
      the (-cos, c_id) row_number tie-break;
    * update: floor(v·1e6 + 0.5) int64 sums / (1e6 · n), one float64
      division — `exact=True`'s order-independent integer means;
    * empty buckets keep their previous centroid.
    """
    import numpy as np

    V = np.asarray(vecs, dtype=np.float64)
    n, dim = V.shape
    # fewer rows than centroids: mirror the distributed init's
    # orderBy.limit degradation (shorter centroid table, no crash)
    n_centroids = min(n_centroids, n)
    cb = [list(map(float, V[i])) for i in range(n_centroids)]
    vna = np.zeros(n)
    for i in range(dim):
        vna = vna + V[:, i] * V[:, i]
    vna = np.sqrt(vna)
    for _ in range(n_iter):
        C = np.asarray(cb, dtype=np.float64)
        cnb = np.zeros(n_centroids)
        for i in range(dim):
            cnb = cnb + C[:, i] * C[:, i]
        cnb = np.sqrt(cnb)
        dots = np.zeros((n, n_centroids))
        for i in range(dim):
            dots = dots + V[:, i][:, None] * C[:, i][None, :]
        cos = dots / (vna[:, None] * cnb[None, :])
        buckets = np.argmax(cos, axis=1)
        vq = np.floor(V * 1000000.0 + 0.5).astype(np.int64)
        new = [list(cw) for cw in cb]
        for c in range(n_centroids):
            m = buckets == c
            cnt = int(m.sum())
            if cnt == 0:
                continue
            sums = vq[m].sum(axis=0)
            new[c] = [float(sums[i]) / (1000000.0 * cnt)
                      for i in range(dim)]
        cb = new
    return cb


def kmeans_centroids(vectors: DataFrame, n_centroids: int, *,
                     n_iter: int = 5, key: str = "vec_id",
                     vec_col: str = "embedding",
                     exact: bool = False,
                     local_max: int = 65536) -> DataFrame:
    """Distributed Lloyd's k-means → (c_id, c_embedding) centroid table
    for the IVF tier (replaces the deterministic data-sample
    placeholder when retrieval quality matters).

    Plan per iteration: one broadcast assign pass (no shuffle of the
    vectors beyond the posexplode agg), one (bucket, pos) groupBy —
    shuffle carries C×dim partial sums, map-side combined. The tiny
    C-row centroid frame is checkpointed per round so lineage stays
    flat (round-1 lesson: iterative DataFrame loops otherwise stack
    plans). Deterministic given the deterministic init (smallest keys)
    up to float-summation order in the mean; ``exact=True`` removes
    even that: per-dimension means become
    ``sum(floor(v·1e6 + 0.5)::bigint) / (1e6 · n)`` — exact integer
    sums (order-independent at any parallelism) with one final IEEE
    division, making the whole iteration bit-reproducible and
    hash-oracle-checkable, at the cost of 1e-6 quantization of the
    inputs to each mean.

    Empty buckets keep their previous centroid (left join + coalesce).

    Assignment scores with the fold cosine (bit-exact argmax).

    Small-input fast path (``exact=True`` + at most
    ``local_max`` rows): the identical Lloyd's runs driver-side in one
    ordered collect — bit-equal by construction (same left-associated
    cosine folds, same (-cos, c_id) tie-break, same integer means;
    pytest-pinned against the distributed path). Training inputs are
    bounded by design (train on a sample, assign the corpus), so at
    100 TB this path still holds for the trainer while `ivf_assign`
    does the cluster-scale work. ``local_max=0`` forces distributed.
    """
    if exact and local_max:
        # bounded probe; require >= 1 row — an EMPTY frame must fall
        # through to the distributed path's graceful empty centroid
        # table (_kmeans_local asserts a 2-D shape and would crash)
        cnt = vectors.limit(local_max + 1).count()
        if 1 <= cnt <= local_max:
            rows = (vectors.orderBy(key).select(vec_col).collect())
            cb = _kmeans_local([r[0] for r in rows], n_centroids,
                               n_iter)
            return vectors.sparkSession.createDataFrame(
                [(i, cw) for i, cw in enumerate(cb)],
                "c_id int, c_embedding array<double>")

    w = Window.orderBy(key)
    cent = (vectors.orderBy(key).limit(n_centroids)
            .withColumn("c_id", F.row_number().over(w) - 1)
            .select("c_id", F.col(vec_col).alias("c_embedding")))
    cent = materialize(cent)

    if exact:
        vq = F.floor(F.col("v").cast("double") * 1000000.0 + F.lit(0.5)) \
              .cast("bigint")
        mean_expr = (F.sum(vq).cast("double") /
                     (F.lit(1000000.0) * F.count(F.lit(1))))
    else:
        mean_expr = F.avg(F.col("v").cast("double"))

    for _ in range(n_iter):
        assigned = ivf_assign(vectors, cent, key=key, vec_col=vec_col)
        means = (assigned
                 .select("bucket", F.posexplode(F.col(vec_col))
                          .alias("pos", "v"))
                 .groupBy("bucket", "pos")
                 .agg(mean_expr.alias("m"))
                 .groupBy("bucket")
                 .agg(F.transform(
                      F.array_sort(F.collect_list(F.struct("pos", "m"))),
                      lambda s: s["m"]).alias("new_embedding")))
        cent = (cent.join(means, cent.c_id == means.bucket, "left")
                    .select("c_id",
                            F.coalesce("new_embedding", "c_embedding")
                             .alias("c_embedding")))
        cent = materialize(cent)
    return cent


def quantize_embeddings(vectors: DataFrame, *, vec_col: str = "embedding",
                        out_col: str = "qvec") -> DataFrame:
    """Symmetric int8 quantization of unit-normalized embeddings:
    ``q_i = floor(127 * v_i / ||v|| + 0.5)``.

    The training-pipeline storage lever: 4× smaller than float32 on
    disk and over the shuffle wire, and the integer dot product makes
    downstream ranking EXACTLY reproducible — no float-summation-order
    sensitivity at all, so quantized ANN is hash-oracle-checkable
    including its scores. floor(x+0.5) instead of round(): round()
    half-breaking conventions differ across engines (numpy half-even,
    Spark HALF_UP, DuckDB half-away); floor of an identical double is
    bit-deterministic everywhere.

    Native HOF expression (codegen): quantize ONCE at ingest, store
    `array<int>`; the scoring passes then never touch floats.
    """
    v = F.col(vec_col)
    nrm = F.sqrt(dot_fold(v, v))
    q = F.transform(v, lambda x: F.floor(
        F.lit(127.0) * x.cast("double") / nrm + F.lit(0.5)).cast("long"))
    return vectors.withColumn(out_col, q)


def ann_quantized_topk(vectors: DataFrame, queries: DataFrame, k: int, *,
                       key: str = "vec_id", qkey: str = "q_id",
                       vec_col: str = "embedding",
                       qvec_col: str = "q_embedding") -> DataFrame:
    """Exact top-k by int8-quantized dot product for each query vector.

    Same `_batch_topk` pass as `brute_force_topk(score="gemm")` — query
    matrix in the task closure, one matmul per Arrow batch — but the
    scores are INTEGERS: |q_i| ≤ 127 so a d-dim dot is ≤ 127²·d ≪ 2⁵³,
    float64 BLAS on integer-valued operands is exact, and the emitted
    `dot_q` column hash-matches the SQL fold bit-for-bit (unlike the
    float cos paths, which gate rank-only).

    Output: (q_id, vec_id, dot_q, rank), tie-break on key.
    """
    import numpy as np

    q_pdf = (quantize_embeddings(queries, vec_col=qvec_col, out_col="_q")
             .select(qkey, "_q").toPandas())
    Qm = _matrix(q_pdf["_q"])
    quant = quantize_embeddings(vectors, vec_col=vec_col, out_col="_q") \
        .select(key, "_q")
    return _batch_topk(
        quant, queries.schema[qkey], q_pdf[qkey].to_numpy(), k,
        lambda pdf: (pdf[key].to_numpy(),
                     (Qm @ _matrix(pdf["_q"]).T).astype(np.int64), None),
        key=key, col="dot_q", col_type=LongType())


def save_ivf_bucketed(vectors: DataFrame, centroids: DataFrame,
                      path: str, *, key: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """Persist the corpus IVF-bucketed: `partitionBy(bucket)` parquet
    plus the centroid table alongside. This is what turns the IVF
    probe from a filter into a FILE-LEVEL prune — a query touching
    n_probe of C buckets reads n_probe/C of the files, before any row
    is deserialized. At 100 TB that's the difference between an index
    probe and a corpus scan. Assignment scores with the fold cosine."""
    assigned = ivf_assign(vectors, centroids, key=key, vec_col=vec_col)
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)
    centroids.write.mode("overwrite").parquet(path + "/_centroids")


def ivf_topk_pruned(spark, path: str, queries: DataFrame, k: int, *,
                    n_probe: int = 2, key: str = "vec_id",
                    qkey: str = "q_id", vec_col: str = "embedding",
                    qvec_col: str = "q_embedding") -> DataFrame:
    """IVF top-k against a `save_ivf_bucketed` store: probe buckets are
    resolved against the (tiny) persisted centroid table, then the scan
    carries `bucket IN (…)` — Catalyst partition-prunes the directories
    (assert `PartitionFilters` in the plan), so I/O ∝ probed buckets.
    Candidates are scored with the fold cosine, as `ivf_topk(score=
    "fold")` does."""
    centroids = spark.read.parquet(path + "/_centroids")
    qc = queries.crossJoin(F.broadcast(centroids))
    qc = qc.withColumn("_cos", cosine(F.col(qvec_col), F.col("c_embedding")))
    wq = Window.partitionBy(qkey).orderBy(F.desc("_cos"), F.col("c_id"))
    probes = (qc.withColumn("_rn", F.row_number().over(wq))
                .where(F.col("_rn") <= n_probe)
                .select(qkey, qvec_col, F.col("c_id").alias("bucket")))
    # the probed bucket set is ≤ |Q|·n_probe ids — driver-side tiny
    bucket_ids = [r.bucket for r in probes.select("bucket")
                                          .distinct().collect()]
    assigned = (spark.read.parquet(path)
                .where(F.col("bucket").isin(bucket_ids)))
    scored = (assigned.withColumn("_nv", norm(F.col(vec_col)))
              .join(probes.withColumn("_nq", norm(F.col(qvec_col))),
                    "bucket")
              .withColumn("cos",
                          _cos_pre(F.col(vec_col), F.col(qvec_col),
                                   F.col("_nv"), F.col("_nq"))))
    return _rank_topk(scored, k, qkey, key, "cos")


def lsh_hyperplanes(dim: int, n_bits: int):
    """Deterministic random-hyperplane set for sign-LSH: a
    splitmix64-style finalizer hashed over the flat index, mapped to
    [-1, 1] — reproducible across engines (the SQL oracle embeds the
    identical literals), no RNG state. A plain LCG here produced
    strongly correlated adjacent planes (short mod-cycle); the 64-bit
    avalanche mix gives per-index values indistinguishable from
    independent uniforms, so signature bits stay independent and
    bucket sizes balanced as n_bits/dim grow."""
    import numpy as np
    with np.errstate(over="ignore"):
        z = (np.arange(n_bits * dim, dtype=np.uint64)
             + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    # 53 high bits → exact float64 in [0, 1) → [-1, 1)
    vals = (z >> np.uint64(11)).astype(np.float64) / float(1 << 53) * 2 - 1
    return vals.reshape(n_bits, dim)


def lsh_signature(vec: str, dim: int, n_bits: int) -> Column:
    """Sign-LSH bucket id (SimHash over the embedding column ``vec``):
    bit i is the sign of ⟨v, w_i⟩. Fold twin — bit-exact with the SQL
    oracle; the production signature path is one `signs(V @ W.T)`
    matmul inside any of the gemm kernels (ulp near-zero dots could
    flip a bucket between float paths, so oracle-gated queries use
    the fold).

    ONE SQL expression string for the whole signature (r14): the
    Column form paid ~15-20 py4j round-trips per plane for the
    zip_with/aggregate lambdas (~140-210 ms of driver time per
    signature at dim=64/n_bits=4). `lsh_hyperplanes` values are
    finite, as `_dot_fold_sql` requires."""
    terms = [f"(CASE WHEN {_dot_fold_sql(vec, w)} >= 0 "
             f"THEN {1 << i} ELSE 0 END)"
             for i, w in enumerate(lsh_hyperplanes(dim, n_bits))]
    return F.expr("(" + " + ".join(terms) + ")")


def _lsh_probe_masks(n_bits: int, max_structs: int = 4096):
    """Candidate flip masks for multi-probe ordering: every non-empty
    bit subset up to Hamming weight 3 (single-bit flips alone cap the
    reachable buckets at n_bits+1, silently clamping the recall
    knob), generated full-weight-level at a time and capped at
    ``max_structs`` so the plan stays bounded at large n_bits (the
    cap drops whole levels, never part of one, so the margin ordering
    among generated masks stays exact)."""
    from itertools import combinations
    out: list[tuple[int, ...]] = []
    for hw in (1, 2, 3):
        level = list(combinations(range(n_bits), hw))
        if len(out) + len(level) > max_structs and hw > 1:
            break
        out.extend(level)
    return out


def _lsh_probe_sigs(margins_col: Column, sig_col: Column,
                    n_bits: int, n_probe: int) -> Column:
    """Multi-probe signature array: the query's own signature plus the
    ``n_probe - 1`` buckets reachable by flipping the bit SETS with
    the smallest total |⟨v, w_i⟩| margin — the standard multi-probe
    LSH ordering (flip the bits most likely to sit on the wrong side
    of their hyperplane first).

    Takes the PRE-PROJECTED margins array column (|⟨v, w_i⟩| per bit)
    rather than raw dot expressions: each margin subtree is evaluated
    once in the projection and every scored struct references it as a
    cheap array element — without this, each of the ~n_bits³/6 masks
    would embed 1-3 full dim-length fold expressions and the plan
    would blow up at high n_bits."""
    scored = []
    for bits in _lsh_probe_masks(n_bits):
        mask = sum(1 << b for b in bits)
        cost = margins_col[bits[0]]
        for b in bits[1:]:
            cost = cost + margins_col[b]
        scored.append(F.struct(cost.alias("m"), F.lit(mask).alias("k")))
    flips = F.slice(F.transform(F.array_sort(F.array(*scored)),
                                lambda s: s["k"]),
                    1, n_probe - 1)
    flipped = F.transform(flips, lambda mk: sig_col.bitwiseXOR(mk))
    return F.array_union(F.array(sig_col), flipped)


def ann_lsh_topk(vectors: DataFrame, queries: DataFrame, k: int, *,
                 dim: int, n_bits: int = 4, n_probe: int = 1,
                 key: str = "vec_id", qkey: str = "q_id",
                 vec_col: str = "embedding",
                 qvec_col: str = "q_embedding",
                 exclude_self: bool = False) -> DataFrame:
    """LSH-bucketed ANN top-k: the hash-bucket alternative to IVF —
    no centroid table at all; candidates are the query's sign-LSH
    bucket (cosine-similar vectors collide with probability
    1 - θ/π per bit). Same scale shape as the IVF probe: one equi-join
    on a small-int bucket key, candidate volume N·n_probe·N/2^b,
    bucketed storage → file-level pruning.

    ``exclude_self`` drops candidates whose ``key`` equals the query's
    ``qkey`` — only meaningful when queries are drawn from the vector
    set itself (shared id space, e.g. a neighbor graph over the
    corpus). It is OFF by default: with independent id spaces an
    accidental id collision must not drop a valid neighbor (matching
    ``brute_force_topk``/``ivf_topk`` semantics).

    ``n_probe > 1`` is the recall knob: each query also probes the
    buckets reached by flipping its lowest-|margin| signature bits
    (the classic multi-probe trick — recovers near-boundary misses
    without growing 2^b). A window dedups candidates that appear via
    several probes before ranking.
    """
    v = vectors.withColumn("_sig", lsh_signature(vec_col, dim, n_bits))
    if n_probe <= 1:
        q = queries.withColumn("_sig", lsh_signature(qvec_col, dim, n_bits))
    else:
        # project dots once (margins + signature), THEN score probe
        # masks off the bound array column — keeps each dim-length
        # fold out of the ~n_bits^3/6 scored structs
        planes = lsh_hyperplanes(dim, n_bits)
        # one-parse SQL folds (same expression as dot_fold — see
        # _dot_fold_sql; saves the per-plane lambda round-trips)
        dots = [F.expr(_dot_fold_sql(qvec_col, w)) for w in planes]
        sig = None
        for i, d in enumerate(dots):
            bit = F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        q = (queries
             .withColumn("_margins", F.array(*[F.abs(d) for d in dots]))
             .withColumn("_sig0", sig)
             .withColumn("_sig", F.explode(
                 _lsh_probe_sigs(F.col("_margins"), F.col("_sig0"),
                                 n_bits, n_probe)))
             .drop("_margins", "_sig0"))
    j = v.join(q, "_sig")
    if exclude_self:
        j = j.where(F.col(key) != F.col(qkey))
    j = j.withColumn("cos", cosine(F.col(vec_col), F.col(qvec_col)))
    if n_probe > 1:
        # a candidate reached via several probed buckets ranks once
        wd = Window.partitionBy(qkey, key).orderBy(F.col("cos"))
        j = j.withColumn("_dup", F.row_number().over(wd)) \
             .where(F.col("_dup") == 1)
    return _rank_topk(j, k, qkey, key, "cos")


# ------------------------------------------------------------------ PQ (ADC)

def _pq_cb_frame(spark, codebook):
    """The codebook as a (sub_id, code, cw) frame — m_sub·n_codes
    rows, broadcast everywhere it joins."""
    rows = [(s, c, [float(x) for x in cw])
            for s, sub in enumerate(codebook)
            for c, cw in enumerate(sub)]
    return spark.createDataFrame(
        rows, "sub_id int, code int, cw array<double>")


def _pq_subvectors(vectors: DataFrame, *, key: str, vec_col: str,
                   m_sub: int, dsub: int) -> DataFrame:
    """(key, sub_id, sv): each vector split into its m_sub slices —
    one explode, no per-codeword expressions."""
    vec = F.col(vec_col)
    return (vectors.select(
        F.col(key),
        F.explode(F.array(*[
            F.struct(F.lit(s).cast("int").alias("sub_id"),
                     F.slice(vec, s * dsub + 1, dsub).alias("sv"))
            for s in range(m_sub)])).alias("x"))
        .select(key, "x.sub_id", "x.sv"))


def _pq_assign_codes(subv: DataFrame, cb_df: DataFrame, *,
                     key: str) -> DataFrame:
    """(key, sub_id, code): argmin codeword per subspace via a
    BROADCAST join against the codebook frame + one min(struct)
    aggregate — the scalable encode. The d2 fold (zip_with → left
    fold from 0.0) reproduces the left-associated term chain
    bit-for-bit (0.0 + t² is exact — squares are non-negative), and
    min(struct(d2, code)) is the first-min / smallest-code tie-break,
    so assignments match the SQL oracle's row_number form exactly.

    This replaced a literal-codebook expression encode: embedding
    m_sub·n_codes·dsub distance terms per row blew past Catalyst's
    codegen budget — janino compile attempts dominated wall time and
    the scan fell back to interpreted eval (~25 s vs ~2 s for the
    whole PQ gate at sf0.1). Small-side joins beat giant expressions
    at every scale."""
    d2 = F.aggregate(
        F.zip_with("sv", "cw",
                   lambda a, b: (a.cast("double") - b)
                   * (a.cast("double") - b)),
        F.lit(0.0), lambda acc, v: acc + v)
    return (subv.join(F.broadcast(cb_df), "sub_id")
                .select(key, "sub_id", "code", d2.alias("d2"))
                .groupBy(key, "sub_id")
                .agg(F.min(F.struct("d2", "code")).getField("code")
                      .alias("code")))


def _pq_train_local(vecs: list, dim: int, m_sub: int, n_codes: int,
                    n_iter: int) -> list:
    """Driver-side replica of the distributed exact-integer PQ Lloyd's
    — the SAME IEEE operation sequence, so the codebook is
    bit-identical to the cluster path (pinned by pytest equality on
    both paths):

    * assignment d2: elementwise ``acc = acc + t*t`` looped over the
      dsub positions = the zip_with/aggregate fold's left-associated
      chain from 0.0, term for term;
    * tie-break: np.argmin takes the FIRST minimum = min(struct(d2,
      code))'s smallest-code rule (codes are in index order);
    * update: floor(v·1e6 + 0.5) int64 sums (exact at any order)
      / (1e6 · n) with one final float64 division — the identical
      scalar arithmetic;
    * empty codes keep their previous codeword.
    """
    import numpy as np

    dsub = dim // m_sub
    V = np.asarray(vecs, dtype=np.float64)
    # fewer rows than codewords: the distributed init (orderBy.limit)
    # yields a shorter codebook — mirror it, don't crash
    n_codes = min(n_codes, len(V))
    cb = [[[float(V[c, s * dsub + i]) for i in range(dsub)]
           for c in range(n_codes)] for s in range(m_sub)]
    for _ in range(n_iter):
        new = [[list(cw) for cw in sub] for sub in cb]
        for s in range(m_sub):
            Vs = V[:, s * dsub:(s + 1) * dsub]
            C = np.asarray(cb[s], dtype=np.float64)
            acc = np.zeros((V.shape[0], n_codes))
            for i in range(dsub):
                t = Vs[:, i][:, None] - C[:, i][None, :]
                acc = acc + t * t
            codes = np.argmin(acc, axis=1)
            vq = np.floor(Vs * 1000000.0 + 0.5).astype(np.int64)
            for c in range(n_codes):
                m = codes == c
                cnt = int(m.sum())
                if cnt == 0:
                    continue
                sums = vq[m].sum(axis=0)
                new[s][c] = [float(sums[i]) / (1000000.0 * cnt)
                             for i in range(dsub)]
        cb = new
    return cb


def pq_train(vectors: DataFrame, *, dim: int = 64, m_sub: int = 8,
             n_codes: int = 8, n_iter: int = 2, key: str = "vec_id",
             vec_col: str = "embedding", local_max: int = 65536) -> list:
    """Product-quantization codebooks: split the d-dim space into
    ``m_sub`` subspaces and run exact-integer Lloyd's k-means in each
    — the memory-compression lever for 100 TB ANN (a 64-dim float32
    vector becomes m_sub=8 BYTES; the scoring pass never touches the
    original vectors).

    Determinism contract (hash-oracle-checkable like `kmeans_exact`):
    init = the first ``n_codes`` vectors by key, sliced; assignment =
    squared L2 with a left-associated term chain and first-min
    tie-break; update = floor(v·1e6 + 0.5) BIGINT sums / (1e6·n) —
    exact under any aggregation order; empty codes keep their previous
    codeword.

    Plan per iteration: assignment is a broadcast join of the split
    sub-vectors against the m_sub·n_codes codebook frame (see
    `_pq_assign_codes` — the literal-expression form it replaced blew
    the codegen budget), then one (sub, code, pos) exact-integer mean
    aggregate (map-side combined, ≤ m_sub·n_codes·dsub groups). The
    sub-vector frame is materialized once and reused across
    iterations. Returns the plain-Python codebook
    ``[m_sub][n_codes][dsub]`` — pass it to `pq_topk`.

    Training inputs are bounded by design (train on a sample; encode
    the corpus — the FAISS contract), so when the frame is at most
    ``local_max`` rows the identical Lloyd's runs driver-side in one
    collect (`_pq_train_local` — bit-equal by construction, pytest-
    pinned against this path). ``local_max=0`` forces the distributed
    path; the 100 TB shape trains on a ≤64k sample either way and
    spends its cluster on encoding + ADC scans."""
    dsub = dim // m_sub
    spark = vectors.sparkSession
    # bounded gate probe: reads at most local_max+1 rows (a full
    # count() would scan the whole corpus just to reject the path);
    # >= 1 required — empty frames take the distributed path's
    # graceful empty-codebook return (_pq_train_local slices V[:, …]
    # and would raise on a 0-row array)
    if local_max:
        cnt = vectors.limit(local_max + 1).count()
        if 1 <= cnt <= local_max:
            rows = vectors.orderBy(key).select(vec_col).collect()
            return _pq_train_local([r[0] for r in rows], dim, m_sub,
                                   n_codes, n_iter)
    init = (vectors.orderBy(key).limit(n_codes)
            .select(vec_col).collect())
    cb = [[[float(r[0][s * dsub + i]) for i in range(dsub)]
           for r in init] for s in range(m_sub)]
    subv = materialize(_pq_subvectors(vectors, key=key, vec_col=vec_col,
                                      m_sub=m_sub, dsub=dsub))
    for _ in range(n_iter):
        a = _pq_assign_codes(subv, _pq_cb_frame(spark, cb), key=key)
        rows = (a.join(subv, [key, "sub_id"])
                .select("sub_id", "code",
                        F.posexplode("sv").alias("pos", "v"))
                .groupBy("sub_id", "code", "pos")
                .agg((F.sum(F.floor(F.col("v").cast("double")
                                    * 1000000.0 + F.lit(0.5))
                            .cast("bigint")).cast("double")
                      / (F.lit(1000000.0) * F.count(F.lit(1))))
                     .alias("m"))
                .collect())
        new = [[list(cw) for cw in sub] for sub in cb]
        for r in rows:
            new[r.sub_id][r.code][r.pos] = r.m
        cb = new
    return cb


def _pq_codes(vectors: DataFrame, codebook: list, *, key: str,
              vec_col: str, out_col: str = "codes") -> DataFrame:
    """(key, codes) frame — one PQ code array per input row, codes in
    sub-space order.

    One `mapInPandas` pass (r14): per Arrow batch, per subspace, the
    squared distances to all codewords accumulate as ``acc = acc +
    t·t`` looped over the dsub POSITIONS (numpy-broadcast across rows
    × codes), then a first-min argmin. This is the `_pq_train_local`
    determinism scheme verbatim: the per-pair accumulation order is
    the `_pq_assign_codes` fold's left-associated chain from 0.0 term
    for term (float32→float64 widening is exact in both engines), and
    np.argmin's first minimum equals min(struct(d2, code))'s
    smallest-code tie-break — so the codes are bit-identical to the
    relational fold (property-pinned in pytest). Replaces an
    explode(m_sub) + broadcast join(n_codes) + interpreted
    CodegenFallback fold over rows·m_sub·n_codes pairs + a groupBy
    shuffle with ZERO shuffles and BLAS-speed arithmetic (measured
    0.86 s → see plans/r14; the encode pass dominates `pq_topk`).
    Rows with a NULL vector get NULL codes."""
    import numpy as np
    import pandas as pd

    m_sub = len(codebook)
    dsub = len(codebook[0][0])
    out_schema = StructType([
        StructField(key, vectors.schema[key].dataType),
        StructField(out_col, ArrayType(IntegerType()))])
    C = [np.asarray(codebook[s], dtype=np.float64)
         for s in range(m_sub)]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vals = pdf[vec_col]
            mask = vals.isna().to_numpy()
            out = pd.Series([None] * len(pdf), dtype=object)
            if (~mask).any():
                V = np.vstack(vals[~mask].to_numpy()) \
                      .astype(np.float64)
                codes = np.empty((V.shape[0], m_sub),
                                 dtype=np.int32)
                for s in range(m_sub):
                    Vs = V[:, s * dsub:(s + 1) * dsub]
                    Cs = C[s]
                    acc = np.zeros((V.shape[0], Cs.shape[0]))
                    for i in range(dsub):
                        t = Vs[:, i][:, None] - Cs[:, i][None, :]
                        acc = acc + t * t
                    codes[:, s] = np.argmin(acc, axis=1)
                out[np.nonzero(~mask)[0]] = list(codes)
            yield pd.DataFrame({key: pdf[key].to_numpy(),
                                out_col: out})

    return vectors.select(key, vec_col).mapInPandas(encode,
                                                    out_schema)


def _pq_adc_tables(qrows: list, codebook: list):
    """Integer ADC lookup tables T[q][sub][code] = floor(d2·1e6), with
    the squared-distance accumulation LEFT-ASSOCIATED in plain Python
    floats — the exact arithmetic `pq_topk`'s literal expressions use,
    so both scoring paths produce bit-identical BIGINT scores."""
    import math

    import numpy as np

    m_sub = len(codebook)
    dsub = len(codebook[0][0])
    T = np.empty((len(qrows), m_sub, len(codebook[0])), dtype=np.int64)
    for qi, qr in enumerate(qrows):
        qv = [float(x) for x in qr[1]]
        for s in range(m_sub):
            for ci, cw in enumerate(codebook[s]):
                d2 = 0.0
                for i in range(dsub):
                    t = qv[s * dsub + i] - cw[i]
                    d2 = d2 + t * t
                T[qi, s, ci] = math.floor(d2 * 1000000.0)
    return T


def _pq_topk_batch(enc: DataFrame, qrows: list, codebook: list, k: int,
                   *, key: str, qfield: StructField) -> DataFrame:
    """Batch-query ADC scorer on `_batch_topk`: the integer lookup
    tables for ALL queries ship once in the task closure, each Arrow
    batch of the codes frame is scored with vectorized int64 gathers
    (S[q, row] = Σ_s T[q, s, codes[row, s]]) — plan size is CONSTANT
    in |queries| (the literal-expression path grows
    O(|Q|·m_sub·n_codes)). The kernel ranks the NEGATED sums, so the
    smallest distance wins and ties go to the smaller key; the scores
    are the same exact BIGINTs as the literal path's, so ranks and
    adc_q match it bit-for-bit. Output: (q_id, key, adc_q, rank) with
    adc_q negated — the caller negates it back."""
    import numpy as np

    T = _pq_adc_tables(qrows, codebook)

    def neg_adc(pdf):
        C = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
        S = np.zeros((len(qrows), len(C)), dtype=np.int64)
        for s in range(len(codebook)):
            S -= T[:, s, :][:, C[:, s]]
        return pdf[key].to_numpy(), S, None

    return _batch_topk(enc, qfield, np.array([qr[0] for qr in qrows]), k,
                       neg_adc, key=key, col="adc_q", col_type=LongType())


def pq_topk(vectors: DataFrame, queries: DataFrame, codebook: list,
            k: int, *, key: str = "vec_id", vec_col: str = "embedding",
            q_key: str = "q_id", q_vec: str = "q_embedding",
            score: str = "lit") -> DataFrame:
    """PQ top-k by ASYMMETRIC DISTANCE (ADC): per query, per subspace,
    the distances to the n_codes codewords collapse to a lookup table
    quantized to floor(d2·1e6) BIGINTs (driver-computed — queries are
    dim-sized BY CONTRACT like every ANN query side); each corpus
    vector's score is the SUM OF m_sub INTEGER table entries selected
    by its codes — exact under any order, so scores hash-gate like the
    int8 path. The scan never reads the original vectors' floats at
    scoring time (codes only): the 100 TB shape is encode once,
    then ADC over the 8-byte codes.

    ``score="lit"`` (default) embeds one literal table expression per
    query — bit-exact, codegen, right for gate-sized query sets, but
    the PLAN grows O(|Q|·m_sub·n_codes). ``score="batch"`` ships the
    tables once per Arrow batch through `_pq_topk_batch` — identical
    integer scores (rank- and adc-equality pinned in pytest), constant
    plan size: the production path for 100+-query batches.

    Output: (q_id, <key>, adc_q), k rows per query, ties by key."""
    import math

    m_sub = len(codebook)
    dsub = len(codebook[0][0])
    qrows = queries.select(q_key, q_vec).collect()
    # materialize the compressed index once (the PQ contract: encode
    # once, store the 8-byte codes, score against codes only). Build
    # the (key, codes) frame DIRECTLY from the assignment aggregate:
    # joining the codes back onto the vector frame would only be
    # dropped again, and Catalyst cannot eliminate that join
    # (row-multiplicity reasoning).
    enc = materialize(_pq_codes(vectors, codebook, key=key,
                                vec_col=vec_col))
    if score == "batch":
        return (_pq_topk_batch(enc, qrows, codebook, k, key=key,
                               qfield=queries.schema[q_key])
                .select(q_key, key, (-F.col("adc_q")).alias("adc_q")))

    def score_expr(qv):
        score = F.lit(0).cast("long")
        for s in range(m_sub):
            dq = []
            for cw in codebook[s]:
                d2 = 0.0
                for i in range(dsub):
                    t = qv[s * dsub + i] - cw[i]
                    d2 = d2 + t * t
                dq.append(math.floor(d2 * 1000000.0))
            tbl = _sql_array_lit(dq, "bigint")
            score = score + F.element_at(
                tbl, F.element_at("codes", s + 1) + 1)
        return score

    # one plan: codes are computed once per row, then a per-query
    # struct array explodes into (q_id, adc) — no N-way union that
    # would re-embed the literal-codebook code expressions per query
    qs = F.explode(F.array(*[
        F.struct(F.lit(qr[0]).alias(q_key),
                 score_expr([float(x) for x in qr[1]]).alias("adc_q"))
        for qr in qrows])).alias("qs")
    out = enc.select(F.col(key), qs).select("qs.*", key)
    w = Window.partitionBy(q_key).orderBy(F.asc("adc_q"), F.asc(key))
    return (out.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") <= k)
               .select(q_key, key, "adc_q"))


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, k: int, *,
             key: str = "doc_id", rank_col: str = "rank",
             k_rrf: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists — the
    standard hybrid-retrieval combiner (Cormack et al. 2009): fuse a
    sparse (BM25) and a dense (embedding-cosine) ranking without
    score calibration, since only RANKS enter the formula.

    Cross-engine exactness: each list contributes
    ``floor(1e9 / (k_rrf + rank))`` — an exact BIGINT for every
    integer rank — so the fused score is a sum of integers, identical
    under any join/aggregation order. A document absent from one list
    contributes 0 from that side (the textbook convention).

    Scale shape: both inputs are top-N lists (bounded by contract —
    N·|queries| rows, nothing corpus-sized), so the fusion is a
    full-outer equi-join of two tiny frames + one TakeOrderedAndProject.
    At 100 TB the expensive part is PRODUCING the lists (BM25's
    pruned inverted pass, ANN's GEMM scan); fusing them is free.
    Output: (key, rank_sparse, rank_dense, rrf_q) top-k by
    (rrf_q DESC, key)."""
    contrib = (lambda c: F.when(c.isNotNull(),
                                F.floor(F.lit(1e9) /
                                        (F.lit(k_rrf) + c).cast("double"))
                                 .cast("long"))
               .otherwise(F.lit(0).cast("long")))
    a = ranked_a.select(F.col(key), F.col(rank_col).alias("rank_sparse"))
    b = ranked_b.select(F.col(key), F.col(rank_col).alias("rank_dense"))
    fused = (a.join(b, on=key, how="full_outer")
              .select(F.col(key), "rank_sparse", "rank_dense",
                      (contrib(F.col("rank_sparse"))
                       + contrib(F.col("rank_dense"))).alias("rrf_q")))
    return fused.orderBy(F.desc("rrf_q"), F.col(key).asc()).limit(k)


def rank_eval(retrieved: DataFrame, truth: DataFrame, *, k: int,
              query_col: str = "q_id", item_col: str = "vec_id",
              rank_col: str = "rank") -> DataFrame:
    """IR evaluation: recall@k and MRR-of-the-true-top-1 for a
    retrieval run against exact ground truth — the measurement
    operator that closes the ANN loop (retrieval without a recall
    number is a guess). All-integer outputs on the q6 grid.

    Per query: n_hits = |retrieved ∩ true top-k|; recall_q6 =
    10⁶·n_hits div k; mrr_q6 = 10⁶ div (position of the true #1 item
    in the retrieved ranking), 0 when absent. Shape: two equi-joins
    keyed on (query, item) / item + one combined per-query aggregate
    — works on evaluation frames of any size (both sides are top-k
    projections, k·|queries| rows, never the corpus).

    Output: (query_col, n_hits, recall_q6, mrr_q6).
    """
    q, it, rk = query_col, item_col, rank_col
    # NOTE (r13 opt, measured — do NOT "fix" the multi-reference):
    # retrieved is read 2x (hits + top-1 position) and truth 3x
    # (top-k set, top-1 set, query base), but lazily
    # materializing the two projections to "dedup the subtrees"
    # made EVERY recall gate SLOWER in a 4-rep interleaved A/B at
    # sf0.1 (ann_recall_planted 2.17 -> 2.84 s med, ann_recall_eval
    # 1.21 -> 1.64, ann_recall_lsh 1.44 -> 1.89, lsh_mp 1.63 -> 2.08,
    # pq 3.07 -> 3.63): within the one action ReusedExchange already
    # deduplicates the identical retrieval subtrees, so the
    # checkpoints only added materialization jobs and stripped the
    # stats that kept the tiny joins broadcast.
    tk = truth.where(F.col(rk) <= k).select(q, it)
    ret = retrieved.select(q, it, rk)
    hits = (ret.join(tk, [q, it])
               .groupBy(q).agg(F.count("*").alias("n_hits")))
    top1 = truth.where(F.col(rk) == 1).select(q, it)
    pos = (ret.join(top1, [q, it])
              .groupBy(q).agg(F.min(rk).alias("_pos")))
    base = truth.select(q).distinct()
    return (base.join(hits, q, "left").join(pos, q, "left")
                .select(F.col(q),
                        F.coalesce("n_hits", F.lit(0)).cast("long")
                         .alias("n_hits"),
                        F.expr(f"1000000 * coalesce(n_hits, 0L) div {k}")
                         .cast("long").alias("recall_q6"),
                        F.expr("CASE WHEN _pos IS NULL THEN 0L "
                               "ELSE 1000000 div _pos END")
                         .cast("long").alias("mrr_q6")))
