"""Distributed connected components — the graph primitive shared by
DBSCAN's label merge and near-dup cluster resolution.

Semantics: component id = MIN node id in the component (total order on
the node type), which is deterministic and therefore oracle-checkable
(DuckDB recursive-CTE min-reachability computes the same labels).

Physical strategy, chosen by edge count (an eager but tiny 1-column
count — the graph here is always orders of magnitude smaller than the
data that produced it):

* under ``driver_threshold`` edges: collect + union-find on the
  driver. One small transfer; the reference collects the same label
  graph (`DBScan.scala:164-168`, its own `FIXME: Bad!`) but without
  the size guard.
* above it: hash-min label propagation (each node takes the min label
  of its neighborhood per round, O(diameter) rounds) with a
  `materialize` per round so iterative lineage can't grow —
  the standard large-graph CC on Spark without GraphX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stark_spark.materialize import materialize


def _broadcast_bytes(spark) -> int:
    """autoBroadcastJoinThreshold in bytes as Spark itself parsed it
    (unit suffixes such as "64MB" included); -1 when auto-broadcast is
    disabled."""
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def connected_components(edges: DataFrame, *, src: str = "a",
                         dst: str = "b",
                         nodes: DataFrame | None = None,
                         driver_threshold: int = 5_000_000) -> DataFrame:
    """``(node, comp)`` for every node, ``comp`` = min node id in its
    component. ``nodes`` (single-column frame) adds isolated nodes
    (edges alone can't mention them); defaults to edge endpoints only.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = materialize(e.unionByName(e.select(F.col("b").alias("a"),
                                             F.col("a").alias("b"))))
    if nodes is None:
        node_df = sym.select(F.col("a").alias("node")).distinct()
    else:
        node_df = nodes.toDF("node").distinct()
    spark = edges.sparkSession

    # ONE bounded Arrow collect decides the regime AND delivers the
    # edges (r14): limit(threshold+1).toPandas() is a single job —
    # the old count()-then-toPandas paid two extra scheduler round
    # trips per CC call (A/B: 3 jobs → 1), and every caller in the
    # dedup/curation/dbscan tier invokes CC once per query. Memory
    # bound unchanged: at most threshold+1 rows land on the driver,
    # numpy-backed. Above the bound the collected prefix is discarded
    # and the hash-min loop runs as before.
    sym_pd = sym.limit(driver_threshold + 1).toPandas()
    if len(sym_pd) <= driver_threshold:
        # Arrow collects (numpy/pandas-backed), not .collect() Row
        # objects — at the 5M-edge bound Rows would be ~1 GB of
        # driver python objects (the r11 common_neighbors lesson)
        if nodes is None:
            # sym is symmetric, so its `a` column enumerates every
            # endpoint — the node set derives from the one Arrow
            # collect instead of a second distinct+toPandas job
            # (node ids follow edge count ≤ driver_threshold)
            labs = sym_pd["a"].drop_duplicates().tolist()
        else:
            labs = node_df.toPandas()["node"].tolist()
        parent = {n: n for n in labs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ra_, rb_ in zip(sym_pd["a"].tolist(), sym_pd["b"].tolist()):
            if ra_ not in parent or rb_ not in parent:
                continue          # edge endpoint outside `nodes`
            ra, rb = find(ra_), find(rb_)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        schema = node_df.schema
        schema = f"node {schema['node'].dataType.simpleString()}, " \
                 f"comp {schema['node'].dataType.simpleString()}"
        return spark.createDataFrame([(n, find(n)) for n in labs], schema)

    comp = materialize(node_df.withColumn("comp", F.col("node")))
    while True:
        neigh = (sym.join(comp.select(F.col("node").alias("b"),
                                      F.col("comp").alias("comp_b")), "b")
                    .groupBy("a").agg(F.min("comp_b").alias("comp_n")))
        nxt = materialize(
            comp.join(neigh.withColumnRenamed("a", "node"),
                      "node", "left")
                .select("node", "comp",
                        F.least(F.col("comp"),
                                F.col("comp_n")).alias("comp_new")))
        changed = nxt.where(F.col("comp_new") != F.col("comp")).count()
        comp = nxt.select("node", F.col("comp_new").alias("comp"))
        if changed == 0:
            break
    return comp


def triangle_count(edges: DataFrame, *, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle census of the undirected simple graph induced
    by ``edges``: one row ``(n_nodes, n_edges, n_wedges, n_triangles,
    clustering_ppm)`` — all exact integers (clustering_ppm =
    3·triangles·10⁶ div wedges, the global clustering coefficient on
    the ppm grid).

    Physical strategy — the degree-ordered node-iterator (the
    standard distributed triangle count, e.g. Suri & Vassilvitskii's
    MR algorithm): orient every undirected edge from the endpoint
    with the SMALLER (degree, node) key to the larger. Each triangle
    then has exactly one source-of-two-out-edges vertex, and every
    out-neighborhood is O(√m), which bounds the wedge join's fan-out
    no matter how skewed raw degrees are (a celebrity node of degree
    d would otherwise fan out d² wedge rows). Two self-joins on the
    oriented edge frame — both plain equi-joins Catalyst can plan —
    and one scalar aggregate. Orientation changes the join cost, not
    the count, so the oracle can use the simpler id-ordering."""
    e = materialize(edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
                         .where(F.col("x") != F.col("y"))
                         .select(F.least("x", "y").alias("a"),
                                 F.greatest("x", "y").alias("b"))
                         .distinct())
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("deg")) \
             .select(F.col("a").alias("node"), "deg")
    # orient by (deg, node): u -> v iff key(u) < key(v)
    keyed = materialize(
        sym.join(deg.withColumnRenamed("node", "a")
                    .withColumnRenamed("deg", "dega"), "a")
           .join(deg.select(F.col("node").alias("b"),
                            F.col("deg").alias("degb")), "b")
           .where((F.col("dega") < F.col("degb"))
                  | ((F.col("dega") == F.col("degb"))
                     & (F.col("a") < F.col("b"))))
           .select(F.col("a").alias("u"), F.col("b").alias("v"),
                   F.col("degb").alias("kv_deg")))
    # wedges u->v, u->w with key(v) < key(w); close with v->w
    lo = keyed.select(F.col("u").alias("wu"), F.col("v").alias("wv"),
                      F.col("kv_deg").alias("wv_deg"))
    hi = keyed.select(F.col("u").alias("wu"), F.col("v").alias("ww"),
                      F.col("kv_deg").alias("ww_deg"))
    wedges = (lo.join(hi, "wu")
                .where((F.col("wv_deg") < F.col("ww_deg"))
                       | ((F.col("wv_deg") == F.col("ww_deg"))
                          & (F.col("wv") < F.col("ww")))))
    closing = keyed.select(F.col("u").alias("wv"),
                           F.col("v").alias("ww"))
    tri = wedges.join(closing, ["wv", "ww"]).agg(
        F.count("*").alias("n_triangles"))
    stats = (deg.agg(F.count("*").alias("n_nodes"),
                     F.expr("sum(deg) div 2").cast("long")
                      .alias("n_edges"),
                     F.sum(F.expr("deg * (deg - 1) div 2"))
                      .alias("n_wedges")))
    return (stats.crossJoin(tri)
                 .select("n_nodes", "n_edges", "n_wedges",
                         F.col("n_triangles").cast("long")
                          .alias("n_triangles"),
                         F.when(F.col("n_wedges") > 0,
                                F.expr("n_triangles * 3 * 1000000 "
                                       "div n_wedges"))
                          .otherwise(F.lit(0)).cast("long")
                          .alias("clustering_ppm")))


def _common_neighbors_local(spark, sym_rows, e_rows, k: int,
                            key_type: str) -> DataFrame:
    """Driver-side Gram-matrix replica of the wedge join for small
    node sets: with M[u, x] = 1 iff x is in u's kept adjacency,
    C = MᵀM gives C[v, w] = |{u : v, w ∈ kept[u]}| — the exact
    integer wedge count (float64 sums of 0/1 over ≤ n ≪ 2⁵³ terms
    are exact at any accumulation order, so BLAS blocking cannot
    move a count). Already-linked pairs are masked with the FULL
    edge set, then the same (-n_common, a, b) top-k. Output rows are
    identical to the distributed path (pytest-pinned)."""
    import numpy as np

    ids = sorted({r[0] for r in sym_rows} | {r[1] for r in sym_rows})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    for a, b in sym_rows:                    # row u, column x: kept[u]
        M[idx[a], idx[b]] = 1.0
    C = M.T @ M
    iu = np.triu_indices(n, 1)
    cnt = C[iu]
    linked = np.zeros((n, n), dtype=bool)
    for a, b in e_rows:
        linked[idx[a], idx[b]] = True
        linked[idx[b], idx[a]] = True
    keep = (cnt > 0) & ~linked[iu]
    va, vw, vc = iu[0][keep], iu[1][keep], cnt[keep].astype(np.int64)
    order = np.lexsort((vw, va, -vc))[:k]
    arr = np.asarray(ids)
    rows = [(arr[va[o]].item(), arr[vw[o]].item(), int(vc[o]))
            for o in order]
    return spark.createDataFrame(
        rows or [], f"a {key_type}, b {key_type}, n_common long")


def common_neighbors(edges: DataFrame, *, k: int = 20,
                     src: str = "src", dst: str = "dst",
                     max_degree: int | None = None,
                     local_max: int = 2048) -> DataFrame:
    """Link prediction by common-neighbor count (the strongest simple
    predictor — Liben-Nowell & Kleinberg 2003): for node pairs NOT
    already linked, how many neighbors they share; top-k candidates.

    Shape: canonical undirected edges → symmetric adjacency → wedge
    join on the shared endpoint (pairs (v, w), v < w, per common
    neighbor u — codegen'd sort-merge/hash join; an array-combination
    explode over per-node adjacency lists was tried and measured
    SLOWER, 13 s vs 7.5 s at sf0.1: nested higher-order functions
    drop out of whole-stage codegen, which costs more than the 2×
    row-count the join wastes on the v > w half), count per pair
    (map-side combined), LEFT ANTI against the existing edge set,
    TakeOrdered top-k with a full deterministic order. O(Σ deg²) is
    inherent to exact common-neighbor counting — on a power-law graph
    one celebrity node fans deg² wedge rows through a single shuffle
    key, so ``max_degree`` bounds it: each node keeps only its
    ``max_degree`` SMALLEST-ID neighbors for wedge formation (a
    deterministic, engine-reproducible selection — an oracle mirrors
    it with the same row_number window). The approximation contract:
    pair counts become "common neighbors among each endpoint's kept
    adjacency" (a lower bound on the true count); the anti-join still
    uses the FULL edge set, so already-linked pairs never surface.
    Cost drops from O(Σ deg²) to O(n · max_degree²). Output: (a, b,
    n_common).

    Small-node-set fast path (UNCAPPED only, ≤ ``local_max`` distinct
    nodes and a bounded edge collect): the identical counts come from
    one driver-side Gram matrix MᵀM (`_common_neighbors_local` —
    bit-equal by construction, pytest-pinned; the O(Σ deg²) wedge
    shuffle is pure overhead when the whole pair matrix fits in one
    BLAS call — 3.5 s vs 4.9 s warm at sf0.1). With ``max_degree``
    the distributed join is already O(n·cap²) and wins (0.7 s vs
    2.0 s), so the cap keeps it. The default 2048 bounds the three
    dense driver matrices to ~35 MB each. ``local_max=0`` forces the
    distributed join; node sets past the threshold (the 100 TB
    regime — users are the nodes) take it automatically."""
    e = materialize(edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
                         .where(F.col("x") != F.col("y"))
                         .select(F.least("x", "y").alias("a"),
                                 F.greatest("x", "y").alias("b"))
                         .distinct())
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    if max_degree is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("a").orderBy("b")
        sym = (sym.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= int(max_degree)).drop("_rn"))
    # fast path only when the wedge volume is unbounded: with a
    # degree cap the distributed join is already O(n·cap²) and beats
    # the collect (A/B-measured 0.7 s vs 2.0 s at sf0.1). Gate
    # probes are bounded: node count reads at most local_max+1
    # distinct endpoints, and |sym| = 2|e| exactly (e is canonical
    # a<b distinct, so e and its swap are disjoint)
    if local_max and max_degree is None:
        # r14: ONE bounded Arrow collect replaces the four separate
        # driver jobs (node-count probe, edge count, sym collect,
        # edge collect). The canonical edge frame is collected with a
        # hard row cap (2.5M ⇒ |sym| = 2|e| ≤ 5M, the same bound the
        # old e.count() test enforced); the node count and the
        # symmetric rows derive from it locally. Above either bound
        # the prefix is discarded and the distributed join runs.
        import pandas as pd
        e_pd = e.limit(2_500_001).toPandas()
        if len(e_pd) <= 2_500_000:
            n_nodes = pd.concat([e_pd["a"], e_pd["b"]]).nunique()
            if n_nodes <= local_max:
                e_rows = list(zip(e_pd["a"], e_pd["b"]))
                sym_rows = e_rows + list(zip(e_pd["b"], e_pd["a"]))
                return _common_neighbors_local(
                    edges.sparkSession, sym_rows, e_rows, k,
                    dict(e.dtypes)["a"])
    lo = sym.select(F.col("a").alias("u"), F.col("b").alias("v"))
    hi = sym.select(F.col("a").alias("u"), F.col("b").alias("w"))
    cand = (lo.join(hi, "u")
              .where(F.col("v") < F.col("w"))
              .groupBy(F.col("v").alias("a"), F.col("w").alias("b"))
              .agg(F.count("*").alias("n_common")))
    return (cand.join(e, ["a", "b"], "left_anti")
                .orderBy(F.desc("n_common"), "a", "b")
                .limit(k))


def pagerank(edges: DataFrame, *, n_iter: int = 3,
             src: str = "src", dst: str = "dst",
             scale: int = 1_000_000_000_000) -> DataFrame:
    """Distributed PageRank with PURE-INTEGER mass — the iterative-
    algorithm tier's flagship, built so the result is bit-exact in
    any engine (no float mass anywhere):

    * ranks live on a ``scale`` integer grid (BIGINT micro-mass);
    * each edge carries ``r div out_deg`` (integer floor division —
      the truncation dust is deterministically lost, documented);
    * damping is the integer form ``(x·85) div 100``;
    * dangling mass (nodes with no out-edges) is redistributed as
      ``(Σ dangling r) div N`` inside the damped term.

    Scale shape: per iteration ONE shuffle — join ranks onto the
    degree-annotated edge list by src, then a map-side-combined sum
    by dst; the dangling total is a scalar aggregate over the rank
    frame itself; `materialize` per round caps lineage (same
    discipline as `connected_components`). O(n_iter) rounds,
    O(|E|) rows moved per round — the standard Spark PageRank shape
    without GraphX. Output: (node, rank_q).

    r13 round-structure rewrite: out-degrees are joined onto the
    edge list ONCE at setup (``ed`` checkpoint) instead of
    re-aggregating the edges every round, and each node's
    has-out-edges flag rides the rank frame, so the dangling total
    is a plain filtered sum over node-scale rows instead of a
    per-round anti-join that re-derived the degree aggregate. Two
    edge-scale passes per round (join + contribution sum) is the
    algorithm's floor; everything else is now node-scale."""
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .distinct())
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
         .unionByName(e.select(F.col("dst").alias("node")))
         .distinct()
         .join(deg.select(F.col("src").alias("node"),
                          F.lit(True).alias("_out")),
               "node", "left")
         .select("node",
                 F.coalesce("_out", F.lit(False)).alias("_out")))
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_q"))
    spark = edges.sparkSession
    # r14 (the 100 TB term): when the rank frame is too big to
    # broadcast (~32 B/row vs the threshold), every round's
    # contribution join goes sort-merge and would shuffle the EDGE
    # side per round. Pre-partition the degree-annotated edge list on
    # src ONCE with the partitioning preserved (`materialize(key=)`), so
    # rounds shuffle only the node-scale rank frame. In the broadcast
    # regime the plan is already edge-stationary (rank side
    # broadcasts; plan-verified), so the setup shuffle is skipped.
    bt = _broadcast_bytes(spark)
    edj = e.join(deg, "src")
    ed = materialize(edj, key="src" if bt < 0 or n * 32 > bt else None)
    base_q = (scale * 15 // 100) // n       # exact python ints
    r = nodes.select("node", "_out",
                     F.lit(scale // n).cast("long").alias("r"))
    for _ in range(n_iter):
        contrib = (ed.join(r.select(F.col("node").alias("src"), "r"),
                           "src")
                     .select(F.col("dst").alias("node"),
                             F.expr("r div deg").alias("c"))
                     .groupBy("node").agg(F.sum("c").alias("m")))
        # dangling mass as a broadcast 1-row aggregate (the drift.py
        # crossJoin idiom) instead of a driver .first(), a job of its
        # own: a round runs only the stages AQE submits while the
        # pinned plan is built, and the next read writes the copy
        dang = (r.where(~F.col("_out"))
                 .agg(F.coalesce(F.sum("r"), F.lit(0).cast("long"))
                       .alias("_dang")))
        r = materialize(
            nodes.join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("node", "_out",
                         (F.lit(base_q)
                          + F.expr(f"(coalesce(m, 0L) + _dang div {n}L)"
                                   f" * 85 div 100")).cast("long")
                         .alias("r")))
    return r.select("node", F.col("r").alias("rank_q"))


def bfs_hops(edges: DataFrame, sources: DataFrame, *,
             n_rounds: int = 4, src: str = "src",
             dst: str = "dst", node: str = "node") -> DataFrame:
    """Multi-source BFS: minimum hop distance from the source set,
    expanded ``n_rounds`` levels (k-hop neighborhood / blast-radius
    queries). Output: (node, hop) — every node within n_rounds, hop =
    its first-discovery level (sources at 0).

    Frontier form — the shape that survives large graphs: each round
    joins only the NEWLY discovered frontier against the edge list
    (one equi-join shuffle on the node key), anti-joins the visited
    set, and materializes so iterative lineage can't grow.
    Work per round is O(frontier·avg_deg), not O(visited·deg); total
    rows moved ≈ edges within the k-hop ball, the BFS lower bound.
    The early-exit count() per round is a driver scalar, not a
    collect. Set semantics throughout (distinct frontiers), so the
    result is deterministic at any parallelism.
    """
    e = materialize(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
             .where(F.col("_s") != F.col("_d"))
             .distinct())
    dist = materialize(
        sources.select(F.col(node).alias("node"))
               .distinct()
               .select("node", F.lit(0).cast("long").alias("hop")))
    frontier = dist.select("node")
    for level in range(1, n_rounds + 1):
        nxt = (frontier.join(e, frontier["node"] == e["_s"])
                       .select(F.col("_d").alias("node")).distinct())
        new = materialize(
            nxt.join(dist, "node", "left_anti")
               .select("node", F.lit(level).cast("long").alias("hop")))
        if new.isEmpty():
            break
        # r14: no per-round checkpoint of the visited set — dist is a
        # union TREE over ≤ n_rounds already-checkpointed level
        # frames (union is plan-only: no shuffle, no job), so the
        # per-round materialization job bought nothing. Lineage stays
        # bounded: each leaf is a checkpointed RDD scan and the tree
        # is n_rounds wide (jobs 26 → 24 at n_rounds=4, sf0.1).
        dist = dist.unionByName(new)
        frontier = new.select("node")
    return dist


def sssp_bounded(edges: DataFrame, sources: DataFrame, *,
                 n_rounds: int = 4, src: str = "src", dst: str = "dst",
                 weight: str = "w", node: str = "node") -> DataFrame:
    """Multi-source shortest path over non-negative integer weights,
    bounded to paths of ≤ ``n_rounds`` edges — distributed
    Bellman-Ford, the relaxation twin of `bfs_hops`.

    Each round is one equi-join of the current distance frame onto
    the edge list (shuffle on the node key) followed by a
    map-side-combined min per destination; distances stay exact
    BIGINTs, so the k-round result is deterministic in any engine.
    `materialize` per round caps iterative lineage;
    convergence short-circuits on two scalar aggregates (row count +
    Σdist unchanged ⇒ no relaxation succeeded — sound because a
    successful relaxation strictly lowers some node's distance or
    adds a node, which moves one of the two).

    Output: (node, dist) for every node reachable within n_rounds
    edges; dist = min total weight over such paths.
    """
    e = materialize(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"),
                     F.col(weight).cast("long").alias("_w")))
    dist = materialize(
        sources.select(F.col(node).alias("node")).distinct()
               .select("node", F.lit(0).cast("long").alias("dist")))
    sig = dist.agg(F.count("*"), F.sum("dist")).first()
    for _ in range(n_rounds):
        cand = (dist.join(e, dist["node"] == e["_s"])
                    .select(F.col("_d").alias("node"),
                            (F.col("dist") + F.col("_w")).alias("dist")))
        dist = materialize(
            dist.unionByName(cand)
                .groupBy("node").agg(F.min("dist").alias("dist")))
        new_sig = dist.agg(F.count("*"), F.sum("dist")).first()
        if new_sig == sig:
            break
        sig = new_sig
    return dist


def personalized_pagerank(edges: DataFrame, sources: DataFrame, *,
                          n_iter: int = 3, src: str = "src",
                          dst: str = "dst", node: str = "node",
                          scale: int = 1_000_000_000_000) -> DataFrame:
    """Personalized PageRank: teleportation restricted to a SOURCE
    set (Haveliwala 2002) — proximity-to-the-seed scoring, the graph
    primitive behind who-to-follow / related-item ranking. Same
    pure-BIGINT mass discipline as `pagerank` (bit-exact vs an
    unrolled CTE chain): initial and teleport mass split ``scale div
    |S|`` over the sources; the damped term and the dangling-mass
    redistribution also return to the sources only.

    Per iteration: ONE rank⋈edges shuffle + a map-side-combined sum
    by dst + one scalar dangling aggregate — identical cost to global
    PageRank; the source frame is node-keyed and joins broadcast.
    Output: (node, rank_q) over all graph nodes (0 = unreachable
    from the seed under n_iter damped hops).

    Same r13 round-structure rewrite as `pagerank`: degrees joined
    onto the edge list once (``ed``), the has-out-edges AND
    is-source flags ride the node/rank frames, so each round is the
    edge join + contribution sum plus node-scale work only (no
    per-round degree aggregate, no anti-join, no per-round
    is_src re-join)."""
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .distinct())
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    s_dist = sources.select(F.col(node).alias("node")).distinct()
    nodes = materialize(
        e.select(F.col("src").alias("node"))
         .unionByName(e.select(F.col("dst").alias("node")))
         .distinct()
         .join(deg.select(F.col("src").alias("node"),
                          F.lit(True).alias("_out")),
               "node", "left")
         .join(F.broadcast(s_dist.select("node",
                                         F.lit(True).alias("_s"))),
               "node", "left")
         .select("node",
                 F.coalesce("_out", F.lit(False)).alias("_out"),
                 F.coalesce("_s", F.lit(False)).alias("_s")))
    # one scalar job for both counts (|S| for the mass split, |V| for
    # the SMJ-regime gate below) over the checkpointed node frame
    n_all, ns = (nodes.agg(F.count("*"),
                           F.sum(F.col("_s").cast("long"))).first())
    ns = int(ns or 0)
    if ns == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank_q"))
    # same SMJ-regime edge pre-partitioning as `pagerank` (r14): the
    # rank frame spans ALL graph nodes, so the broadcast-vs-SMJ gate
    # reads the full node count, not |sources|
    spark = edges.sparkSession
    bt = _broadcast_bytes(spark)
    edj = e.join(deg, "src")
    ed = materialize(edj,
                     key="src" if bt < 0 or n_all * 32 > bt else None)
    base_q = (scale * 15 // 100) // ns
    r = nodes.select("node", "_out", "_s",
                     F.when(F.col("_s"), F.lit(scale // ns))
                      .otherwise(F.lit(0)).cast("long").alias("r"))
    for _ in range(n_iter):
        contrib = (ed.join(r.select(F.col("node").alias("src"), "r"),
                           "src")
                     .select(F.col("dst").alias("node"),
                             F.expr("r div deg").alias("c"))
                     .groupBy("node").agg(F.sum("c").alias("m")))
        # same broadcast-fold as global pagerank: no driver .first(),
        # and the pin below runs no job of its own
        dang = (r.where(~F.col("_out"))
                 .agg(F.coalesce(F.sum("r"), F.lit(0).cast("long"))
                       .alias("_dang")))
        r = materialize(nodes.join(contrib, "node", "left")
                             .crossJoin(F.broadcast(dang))
                             .select(
                                 "node", "_out", "_s",
                                 (F.when(F.col("_s"), F.lit(base_q))
                                   .otherwise(F.lit(0))
                                  + F.expr(
                                      f"(coalesce(m, 0L) + IF(_s,"
                                      f" _dang div {ns}L, 0L)) * 85 div 100"))
                                 .cast("long").alias("r")))
    return r.select("node", F.col("r").alias("rank_q"))


def k_core(edges: DataFrame, k: int, *, src: str = "src",
           dst: str = "dst", max_rounds: int = 100) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node
    keeps degree ≥ k — by synchronous iterative peeling: each round
    drops EVERY node whose current degree is < k simultaneously
    (the textbook fixpoint; order-free, so it is deterministic and
    mirrorable as an unrolled CTE chain, the `pagerank` precedent).
    Graph cleaning / spam-farm and cohesion analysis primitive.

    Scale shape — DEGREE-DELTA peeling (the r11 verdict stretch #8
    rewrite): the symmetric edge list is materialized ONCE; per round
    only the DEGREES move. Removing node set B changes a survivor's
    degree by exactly its edge count into B, so each round is (1) one
    scan of the fixed edge list joined against the (usually tiny)
    newly-removed frame — broadcast when it fits, so typically
    map-only with a node-scale partial aggregate — and (2) a
    node-scale degree update, materialized (NODE-scale — the
    old full-recount loop re-aggregated and re-CHECKPOINTED the
    entire shrinking EDGE list every round, O(|E|) shuffle + write ×
    peel depth; measured A/B on a deep-peel fixture in PARITY.md).
    Edges to previously-removed nodes contribute no delta because
    removed nodes leave the degree frame and deltas only count edges
    INTO the current round's removals. Rounds ≤ the peeling depth
    (``max_rounds`` is the runaway backstop — exhausting it raises,
    never returns a non-core). The input is canonicalized to a
    simple undirected graph (self-loops dropped, parallel edges
    collapsed, both directions present). Output: (node, deg) —
    degree WITHIN the k-core (the accumulated decrements leave
    exactly the within-core degree at fixpoint).
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
              .where(F.col("a") != F.col("b")).distinct())
    sym = materialize(e.unionByName(e.select(F.col("b").alias("a"),
                                             F.col("a").alias("b")))
                       .distinct())
    deg = materialize(sym.groupBy("a").agg(F.count("*").alias("_d")))
    for _ in range(max_rounds):
        # bad is a plain filter over the pinned deg — re-deriving it
        # per use (count / broadcast side / anti-join) is a cheap
        # node-scale scan of local blocks, so it is not pinned itself
        bad = deg.where(F.col("_d") < k).select("a")
        n_bad = bad.count()
        if n_bad == 0:
            break
        bad_b = bad.select(F.col("a").alias("b"))
        if n_bad <= 1_000_000:      # node-id frame: ~8 MB broadcast
            bad_b = F.broadcast(bad_b)
        delta = (sym.join(bad_b, "b")
                    .groupBy("a").agg(F.count("*").alias("_dec")))
        deg = materialize(deg.join(bad, "a", "left_anti")
                             .join(delta, "a", "left")
                             .select("a", (F.col("_d") - F.coalesce("_dec",
                                                                    F.lit(0)))
                                     .alias("_d")))
    else:
        # ADVICE r11: returning here would hand back nodes whose
        # degree is still < k — not a k-core. Deep-peeling graphs
        # (a 2n-node path at k=2 peels ~n rounds) must raise, not
        # silently lie.
        raise ValueError(
            f"k_core: no fixpoint after max_rounds={max_rounds} peel "
            f"rounds — deep-peeling graph (long chains?); raise "
            f"max_rounds")
    return deg.select(F.col("a").alias("node"),
                      F.col("_d").cast("long").alias("deg"))


def assortativity(edges: DataFrame, *, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the simple
    undirected graph: the Pearson correlation of endpoint degrees
    over the symmetric edge list — positive = hubs link to hubs
    (social nets), negative = hub-and-spoke (the web, spam farms).
    One row: (n_edges, r_ppm) with r quantized to the ppm grid.

    Exactness: all five moments (Σx, Σy, Σx², Σy², Σxy over the 2m
    directed endpoint pairs) and the covariance products n·Σxy−ΣxΣy
    etc. run in DECIMAL(38,0) — 128-bit-exact, order-independent,
    mirroring DuckDB's HUGEINT (the gini_ppm posture: int64 moments
    overflow already on a 1e5-leaf star, where n·Σx² ≈ 2e20; ANSI
    mode refused, non-ANSI silently wrapped — ADVICE r11) — and
    r_ppm applies ONE double sqrt + division at the end (the
    lineitem_corr / clustering_ppm posture). Beyond 38 digits
    (≳1e12-edge graphs with ≳3e9-degree hubs) ANSI errors rather
    than wraps. Scale shape: a degree aggregate + two equi-joins to
    attach endpoint degrees + one scalar aggregate; nothing beyond
    O(|E|) rows moved."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
              .where(F.col("a") != F.col("b")).distinct())
    # distinct AFTER symmetrizing: mutual input pairs (u→v AND v→u)
    # must not double-count the undirected edge
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
            .distinct())
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    pairs = (sym.join(deg.withColumnRenamed("d", "dx"), "a")
                .join(deg.select(F.col("a").alias("b"),
                                 F.col("d").alias("dy")), "b"))
    dec = "DECIMAL(38, 0)"
    m = (pairs.agg(
        F.count("*").alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum(F.expr(f"CAST(dx AS {dec}) * dx")).alias("sxx"),
        F.sum(F.expr(f"CAST(dy AS {dec}) * dy")).alias("syy"),
        F.sum(F.expr(f"CAST(dx AS {dec}) * dy")).alias("sxy")))
    # covariance exact in DECIMAL(38,0), then ONE double expression —
    # the ×1e6 happens in DOUBLE, same IEEE sequence as the mirror
    cov = m.select(
        "n",
        F.expr(f"CAST(n AS {dec}) * sxy - sx * sy").alias("cxy"),
        F.expr(f"CAST(n AS {dec}) * sxx - sx * sx").alias("vx"),
        F.expr(f"CAST(n AS {dec}) * syy - sy * sy").alias("vy"))
    r = F.expr("CAST(floor(CAST(cxy AS DOUBLE) "
               "* CAST(1000000 AS DOUBLE) / "
               "sqrt(CAST(vx AS DOUBLE) "
               "* CAST(vy AS DOUBLE))) AS BIGINT)")
    return cov.select(F.expr("n div 2").cast("long").alias("n_edges"),
                      F.when((F.col("vx") == 0) | (F.col("vy") == 0),
                             F.lit(0).cast("bigint"))
                       .otherwise(r).alias("r_ppm"))


def rich_club(edges: DataFrame, ks: list[int], *, src: str = "src",
              dst: str = "dst") -> DataFrame:
    """Rich-club coefficient φ(k) (Zhou & Mondragón 2004) for each
    degree threshold in ``ks``: among nodes of degree > k, the
    fraction of possible edges actually present — do the hubs form
    a club? Output: (k, n_nodes, n_edges, phi_ppm), one row per k,
    ALL exact integers (φ on the ppm grid via BIGINT div — no
    doubles anywhere, so the hash is arithmetic-free).

    Scale shape: degree aggregate once; the per-k membership test is
    a broadcast of the (tiny, literal) k list crossed against the
    degree-annotated edge list — one pass over E computes every k
    simultaneously; nothing quadratic (the φ denominator is a
    formula, not a pair join)."""
    e = (edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
              .where(F.col("x") != F.col("y"))
              .select(F.least("x", "y").alias("a"),
                      F.greatest("x", "y").alias("b"))
              .distinct())
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    spark = edges.sparkSession
    kdf = spark.createDataFrame([(int(k),) for k in sorted(set(ks))],
                                "k long")
    nk = (deg.crossJoin(F.broadcast(kdf)).where(F.col("d") > F.col("k"))
             .groupBy("k").agg(F.count("*").alias("n_nodes")))
    ek = (e.join(deg.withColumnRenamed("d", "da"), "a")
           .join(deg.select(F.col("a").alias("b"),
                            F.col("d").alias("db")), "b")
           .crossJoin(F.broadcast(kdf))
           .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
           .groupBy("k").agg(F.count("*").alias("n_edges")))
    return (kdf.join(nk, "k", "left").join(ek, "k", "left")
               .select("k",
                       F.coalesce("n_nodes", F.lit(0)).cast("long")
                        .alias("n_nodes"),
                       F.coalesce("n_edges", F.lit(0)).cast("long")
                        .alias("n_edges"),
                       F.expr("CASE WHEN coalesce(n_nodes, 0) > 1 "
                              "THEN (2 * coalesce(n_edges, 0L) "
                              "* 1000000) div "
                              "(n_nodes * (n_nodes - 1)) "
                              "ELSE 0 END").cast("long")
                        .alias("phi_ppm")))
