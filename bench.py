"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"layers": {name: {"cold": {...}, "warm": {...}}, ...},
   "queries": {name: sec, ...}, "queries_warm": {name: sec, ...},
   "metric": "...", "sf": <sf>, "probe_s": <sec>,
   "value_warm": <total sec>, "value": <total sec>, ...}

Queries come from ``__spark_entry__.queries()`` — the same DataFrames
the correctness gate checks — each run cold, then warm, with the plan
``Dataset.count()`` runs (full pipeline, no driver transfer). Every run
also records its layers through ``perfbench/probes.py`` (see
``measure``).

Usage: ``python bench.py [QUERY ...]``. Naming queries (live or
retired) runs only those: the JSON is printed, but no ``BENCH_LOCAL_*``
record is written. Env: SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import Jvm, _nodes, plan_metrics  # noqa: E402

# the headline subset: every engine tier, nothing quadratic-in-corpus.
# PINNED as of round 3 (38 queries): keep this list verbatim so
# cross-round BENCH_r{N}.json comparisons are a column diff — new
# gates get appended, never substituted.
BENCH_QUERIES = [
    "st_filter_rect_timed",      # native-only ST filter
    "st_filter_polygon_timed",   # convex polygon → native half-planes
    "st_filter_coveredby_poly",  # covers family, same native path
    "st_filter_z_range",         # 3-D points, native z columns
    "st_join_grid_points",       # grid cell equi-join
    "st_join_poly_contains",     # explode + refine UDF join
    "within_distance_join",      # widened-cell distance join
    "knn_events",                # TakeOrderedAndProject top-k
    "knn_hausdorff_st",          # combined ST Hausdorff ordering
    "knn_join",                  # window top-k per key + fallback
    "knn_join_sparse",           # zero-candidate fallback path
    "interval_join",             # time-bin equi-join
    "interval_join_open",        # NULL-end intervals, in-plan cap
    "as_of_join",                # union + window sweep
    "skyline",                   # two-stage pareto front
    "dbscan",                    # cell+halo clustering + CC
    "grid_cell_histogram",       # partitioner histogram
    "raster_count_value",        # SMA-skippable pixel scan
    "raster_join_vector_clip",   # tile ⋈ geometry + pixel clip
    "agg_pricing_summary",       # columnar agg (lineitem)
    "agg_revenue_by_segment",    # broadcast dim join + agg
    "events_daily",              # temporal rollup
    "text_profile",              # native text analysis pass
    "text_repetition",           # Gopher-style repetition gates
    "dedup_minhash_sigs",        # explode + map-side-combine min
    "dedup_clusters",            # simhash pairs -> CC keep-list
    "pack_shards",               # two-phase distributed prefix sum
    "sample_stratified",         # row-local deterministic sampling
    "dedup_simhash",             # 64 native bit-votes
    "ann_brute_topk_gemm",       # batch-GEMM exact baseline
    "ann_ivf_topk_gemm",         # bucketed ANN, one-pass batch GEMM
    "ann_knn_join_gemm",         # all-corpus neighbor graph, bucket GEMM
    "ann_dup_pairs_ivf_gemm",    # bucketed near-dup pairs, blocked GEMM
    "ann_quantized_topk",        # int8 dots, exact integer ranking
    "ann_lsh_topk",              # sign-LSH bucket + exact rerank
    "distance_histogram",        # per-cell sampled NN-distance histogram
    "events_rollup",             # GROUPING SETS multi-grain, one scan
    "token_counts",              # ws + BPE-ish regexp counters
    # appended round 4 (list is append-only; the 38 above = r3 verbatim)
    "partition_bsp",             # histogram agg + driver equal-cost split
    "kmeans_exact",              # 2 Lloyd rounds, exact integer-micros means
    "contamination_bloom",       # codegen bloom prefilter, eval-sized shuffle
    "events_gapfill",            # per-key bucket lattice + LOCF window
    "chunk_documents",           # native explode/slice chunking, no shuffle
    "sample_weighted",           # A-ES keys + TakeOrderedAndProject
    # appended round 5
    "contamination_bloom_jvm",   # distributed bloom build + broadcast probes
    "sql_st_buffer",             # buffer -> measures SQL chain (batched UDFs)
    "vocab_top_k",               # explode + combine + TakeOrdered vocab
    "doc_logprob",               # unigram LM scoring, broadcast vocab join
    "sample_group_split",        # group-hash split, row-local
    "multimodal_phash_pairs",    # decode + phash + hamming-band join
    "multimodal_audio_pairs",    # PCM decode + energy-delta fp + bands
    "multimodal_video_pairs",    # frame phash + pair-evidence agg
    "stream_contamination",      # stateless bloom filter on a stream
    "bm25_topk",                 # sparse retrieval, quantized scores
    "knn_haversine",             # geodesic distFunc, quantized rank
    "trajectory_stats",          # per-entity ordered-window hops
    "od_matrix",                 # first/last-cell flows per day
    "stay_points",               # gaps-and-islands dwell detection
    # appended round 6
    "stream_contamination_jvm",  # distributed-bloom stream decontamination
    "bm25_multi_topk",           # many-query sparse retrieval, one pass
    "contamination_ngrams",      # 13-gram exact decontamination
    "stream_contamination_ngrams",  # stateless 13-gram ingest filter
    "ann_pq_topk",               # PQ/ADC: 32x-compressed integer scoring
    "boilerplate_ratio",         # window-granular self-dedup signal
    "colocation_pairs",          # rendezvous detection, binned equi-join
    "rrf_fusion_topk",           # BM25 + dense cosine hybrid fusion
    "quality_filter_gopher",     # integer-crossed rule gate, map-only
    "perplexity_buckets",        # LM cost div + per-lang ntile tiers
    "vocab_freq_spectrum",       # cascaded count-of-counts aggregates
    "tfidf_top_terms",           # keyword extraction, broadcast idf
    "pmi_collocations",          # phrase mining, two explode+agg passes
    "distinct_kmv",              # bottom-k sketch, TakeOrdered bottom-k
    "pagerank_handoff",          # integer PageRank, 1 shuffle per round
    "tpch_q3",                   # fact-fact-dim shuffle join benchmark
    "tpch_q18",                  # group-then-join HAVING survivors
    "salted_join_events",        # 16-way salted hot-key equi-join
    "events_outliers",           # median/MAD windows on cents grid
    "jsonl_roundtrip",           # JSONL sink+source, FAILFAST schema
    "orc_roundtrip",             # ORC sink+source, native vectorized
    "events_table_profile",      # one-pass multi-distinct profile
    # round-6 session-3 additions (append-only)
    "funnel_steps",              # one-shuffle array-fold funnel
    "cohort_retention",          # cohort assign + co-partitioned join
    "event_transitions",         # Markov matrix, one window shuffle
    "ohlc_hourly",               # OHLC resample, map-side combinable
    "triangle_count",            # degree-ordered wedge join census
    "fk_orphans",                # 4x anti/semi-join integrity audit
    "fuzzy_name_pairs",          # blocked levenshtein ER self-join
    "tpch_q5",                   # 6-table star join, co-nation conjunct
    "funnel_latency",            # fold + order-stat percentile ranks
    "cusum_alerts",              # closed-form CUSUM, 2 stacked windows
    "rolling_24h",               # RANGE-frame trailing aggregate
    "stream_ohlc",               # streaming replay == batch resample
    "time_weighted_avg",         # lead-window step integral
    "attribution_last_touch",    # ignore-nulls carry-forward window
    "key_skew_report",           # pre-join skew + entropy profile
    "fuzzy_canonical_names",     # ER closure + canonical election
    "stream_outliers",           # batch-fit thresholds scored at ingest
    "date_partitioned_read",     # hive-layout directory pruning
    "merge_upsert",              # latest-wins CDC apply
    "common_neighbors",          # wedge-join link prediction
    "keyness_by_source",         # log-odds distinctive vocabulary
    "seasonal_outliers",         # hour-of-day median/MAD baseline
    # round-6 session-4 additions (append-only)
    "distinct_hll",              # HLL registers, 256-key groupBy
    "bitmap_overlap",            # packed-word audience intersection
    "tpch_q21",                  # semi+anti self-join sandwich
    # round-7 promotions (r6-staged gates, appended at rotation)
    "price_quantiles_hdr",
    "parts_overlap_kmv",
    "scd2_user_state",
    "attribution_linear",
    "zorder_events",
    "user_retention_km",
    "event_sequences_3",
    "lineitem_corr",
    "drift_psi_value",
    "chi2_type_dow",
    "postings_index",
    "order_price_bins",
    "ab_ztest_purchase",
    "hourly_acf",
    "forecast_snaive",
    "rfm_segments",
    "data_expectations",
    "cube_users_hll",
    "scd2_pit_enrich",
    "table_diff_orders",
    "basket_lift_pairs",
    "value_percent_rank",
    "ols_price_qty",
    "cms_user_counts",
    "jaccard_prefix_pairs",
    "bpe_merge_pairs",
    "bfs_reach",
    "stream_cms_counts",
    "sssp_latency",
    "golden_record",
    "latency_cube_hdr",
    "doc_logprob_bigram",
    "pivot_type_dow",
    "min_cost_supplier",
    "cumulative_reach",
    "stream_hll_users",
    "ppr_handoff",
    "schema_evolution_read",
    "funnel_steps_24h",
    "agg_delta_apply",
    "ann_recall_eval",
    # r8-promoted gates (staged in r7)
    "common_neighbors_capped",
    "ann_recall_pq",
    "ann_recall_lsh",
    "sql_st_union",
    "dissolve_zones",
    # r9-promoted gates (staged in r8)
    "sql_st_difference_annulus",
    "ann_recall_lsh_mp",
    "sql_st_buffer_erode",
    "dissolve_adjacent_tiles",
    "sql_st_buffer_erode_split",
    "ann_recall_planted",
    "sql_st_degenerate_contact",
    # r12-promoted gates (staged in r11): planted ANN/semantic family,
    # curation pipelines, graph-metrics trio, exact gini/percentiles,
    # stream contamination riding the stream tier
    "ann_knn_join_planted",
    "dissolve_zones_hier",
    "funnel_latency_fine",
    "price_percentiles_exact",
    "semantic_dedup_planted",
    "semantic_contamination_planted",
    "sample_token_budget",
    "curation_pipeline",
    "curation_pipeline_neardup",
    "passage_dedup_planted",
    "k_core_handoff",
    "graph_assortativity",
    "rich_club_handoff",
    "gini_prices",
    "stream_semantic_contamination",
]


# SQL metrics of Spark's Python-worker operators (MapInPandasExec and
# the other Arrow/pandas execs) -> the layer field each one adds to
PYTHON_METRICS = {"pythonTotalTime": "python_ms",
                  "pythonBootTime": "python_boot_ms",
                  "pythonInitTime": "python_init_ms",
                  "pythonDataSent": "python_bytes",
                  "pythonDataReceived": "python_bytes"}


def python_metrics(cdf) -> dict[str, int]:
    """The Python-worker layer of the plan an action ran: its
    ``PYTHON_METRICS`` summed over every operator that has them (0 when
    no Python worker ran). Times are milliseconds summed over tasks.
    A reused worker (Spark's default) starts its clock when its
    previous task ends: it reports no boot time, and its idle gap
    counts as init time."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0)
    for _, node in _nodes(cdf._jdf.queryExecution().executedPlan()):
        m = node.metrics()
        for key, name in PYTHON_METRICS.items():
            if m.contains(key):
                out[name] += m.apply(key).value()
    return out


def measure(spark, fn, sf: str, group: str) -> tuple[int, float, dict]:
    """Run one query as ``fn(spark, sf).count()`` would and return
    (rows, wall seconds, layers). Only building the frame and the count
    action are timed; every probe is read before the timer starts or
    after it stops.

    Layers: ``build_ms`` is ``fn`` building the frame, including the
    jobs its driver actions run and, of a ``materialize()``, only the
    shuffle stages AQE runs while planning the pin (a local copy is
    written by the first action that reads it, a reliable one by its
    own job); ``exec_ms`` is the count action; ``plan_ms`` is
    Catalyst analysis, optimisation and planning of the count plan;
    ``jit_ms`` and ``gc_ms`` are the driver JVM's (in local mode,
    every executor thread's) compile and GC time over the timed span;
    ``jobs``/``stages``/``tasks`` ran under ``group``, build included
    (a streaming query's micro-batches run under the stream's own job
    group and are not counted); ``build_jobs`` is the part of ``jobs``
    the build ran, under its own group ``{group}:build``;
    ``shuffle_bytes``, ``files_read`` and ``rows_scanned`` are SQL
    metrics of the executed count plan, and so are the Python-worker
    fields of `python_metrics` (``python_ms``, ``python_boot_ms``,
    ``python_init_ms``, ``python_bytes``): a Python pass that a build
    runs for its own driver action is not in them."""
    sc = spark.sparkContext
    jvm = Jvm(spark)
    sc.setJobGroup(f"{group}:build", group)
    jit0, gc0 = jvm.counters()
    t0 = time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    sc.setJobGroup(group, group)
    # the plan Dataset.count() runs, kept so its metrics can be read
    cdf = df.groupBy().count()
    rows = cdf.collect()[0][0]
    t2 = time.perf_counter()
    jit1, gc1 = jvm.counters()
    sc.setLocalProperty("spark.jobGroup.id", None)

    build_jobs, build_stages, build_tasks = jvm.job_counts(f"{group}:build")
    jobs, stages, tasks = jvm.job_counts(group)
    metrics = plan_metrics(cdf)
    phases = cdf._jdf.queryExecution().tracker().phases().iterator()
    plan_ms = 0
    while phases.hasNext():
        plan_ms += phases.next()._2().durationMs()
    layer = {"build_ms": round((t1 - t0) * 1e3, 1),
             "exec_ms": round((t2 - t1) * 1e3, 1), "plan_ms": plan_ms,
             "jit_ms": jit1 - jit0, "gc_ms": gc1 - gc0,
             "jobs": build_jobs + jobs, "build_jobs": build_jobs,
             "stages": build_stages + stages,
             "tasks": build_tasks + tasks,
             "shuffle_bytes": metrics["shuffle_bytes"],
             "files_read": metrics["files_read"],
             "rows_scanned": metrics["rows_scanned"],
             **python_metrics(cdf)}
    return rows, t2 - t0, layer


def record_path(cpus: str, subset: bool) -> str | None:
    """Where the full record is written: BENCH_LOCAL_r{N}.json next to
    this file, N = newest archived round + 1 (the driver's bench runs
    before round N's artifacts land, so this stamps the in-flight round
    both for the driver's end-of-round run and for mid-round local
    runs). A non-default core count gets a ``_c{cpus}`` suffix so it
    never clobbers the 32-core record the cross-round compare gate
    pairs on. A subset run gets None: a partial record must never be
    paired."""
    if subset:
        return None
    import glob
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    # only the two driver-written artifact families stamp the round —
    # an unrelated *_rN.json must not shift it
    rounds = [int(m.group(2)) for p in
              glob.glob(os.path.join(root, "*_r*.json"))
              if (m := re.fullmatch(r"(BENCH|CORRECTNESS)_r(\d+)\.json",
                                    os.path.basename(p)))]
    n = max(rounds, default=0) + 1
    suffix = "" if cpus == "32" else f"_c{cpus}"
    return os.path.join(root, f"BENCH_LOCAL_r{n:02d}{suffix}.json")


def main() -> None:
    names = sys.argv[1:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry
    from stark_spark import get_session

    # the pinned list is append-only across rounds, so names retired
    # from the live registry (events_daily, token_counts @ r12) keep
    # benching via their kept functions — cross-round columns stay
    # comparable
    qs = dict(entry.retired_queries())
    qs.update(entry.queries())
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"not a live or retired query: {unknown}")

    spark = get_session("bench", master=f"local[{cpus}]",
                        shuffle_partitions=int(cpus))

    # steady-state warmup: JVM JIT, python-worker pool, parquet footers
    from pyspark.sql import functions as _F
    from stark_spark import datasets as D
    from stark_spark.functions.constructors import st_point
    for t in ("events", "lineitem", "customer", "supplier", "part"):
        D.load(spark, sf_dir, t).count()
    (spark.range(1000)
     .select(st_point(_F.col("id").cast("double"),
                      _F.col("id").cast("double")).alias("g")).count())
    from stark_spark.functions.constructors import st_frame
    st_frame(spark.range(256).select(
        _F.concat(_F.lit("POINT ("), _F.col("id").cast("string"),
                  _F.lit(" 1)")).alias("w")), wkt="w").count()
    # applyInPandas + window machinery (python grouped-worker pool,
    # Arrow group serialization, window exec JIT)
    (spark.range(256).groupBy((_F.col("id") % 8).alias("g"))
     .applyInPandas(lambda pdf: pdf, "id long").count())
    from pyspark.sql import Window as _W
    (spark.range(256).withColumn("g", _F.col("id") % 8)
     .withColumn("rn", _F.row_number().over(
         _W.partitionBy("g").orderBy("id")))
     .where(_F.col("rn") <= 2).count())

    times: dict[str, float] = {}
    warm: dict[str, float] = {}
    layers: dict[str, dict] = {}
    probe_s = 0.0
    for name in names:
        layers[name] = {}
        # second run = steady state (per-query codegen/JIT/python-worker
        # startup amortized — the regime that matters at real scale,
        # where compile time is noise against data time)
        for tier, walls in (("cold", times), ("warm", warm)):
            t0 = time.perf_counter()
            n, wall, layers[name][tier] = measure(
                spark, qs[name], sf_dir, f"bench:{name}:{tier}")
            probe_s += time.perf_counter() - t0 - wall
            walls[name] = round(wall, 3)
        cold_l, warm_l = layers[name]["cold"], layers[name]["warm"]
        print(f"# {name}: {times[name]}s ({n} rows; warm {warm[name]}s; "
              f"build/exec ms cold {cold_l['build_ms']}/"
              f"{cold_l['exec_ms']}, warm {warm_l['build_ms']}/"
              f"{warm_l['exec_ms']}; warm jobs {warm_l['jobs']}, "
              f"{warm_l['build_jobs']} in build)",
              file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # KEY ORDER MATTERS: the driver archives only a ~2000-char TAIL of
    # stdout, so the big per-query dicts go FIRST and the scalar
    # summary LAST — cross-round totals stay diffable from the
    # truncated artifact alone (r6 verdict ask #2).
    out = {
        "layers": layers,
        "queries": times,
        "queries_warm": warm,
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(times),
        # untimed probe reads summed over every run: the profiler's cost
        "probe_s": round(probe_s, 3),
        "value_warm": round(sum(warm.values()), 3),
        # first-run wall — methodology unchanged across rounds
        "value": round(sum(times.values()), 3),
    }
    print(json.dumps(out))
    dst = record_path(cpus, subset=bool(sys.argv[1:]))
    if dst is not None:
        try:
            with open(dst, "w") as f:
                json.dump(out, f, indent=1)
            print(f"# full results -> {dst}", file=sys.stderr)
        except OSError as exc:  # read-only checkout: stdout still has it
            print(f"# BENCH_LOCAL write skipped: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
