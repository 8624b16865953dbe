"""Spatially partitioned parquet storage with bounds-manifest pruning.

Reference (SURVEY.md §2.1, §3.3): ``saveAsStarkTextFile`` writes a
``partition_info`` sidecar (WKT bounds; tstart; tend; filename per
line, `PlainSpatialRDDFunctions.scala:34-68`); ``STSparkContext.
textFile(path, qry)`` parses it and loads only files whose bounds
intersect the query (`STSparkContext.scala:50-61, 658-713`);
``loadPartitioned`` reattaches the grid partitioner
(`STSparkContext.scala:254-305`); ``jointextFiles`` builds the join's
partition pairs from the two metadata files alone
(`STSparkContext.scala:382-457`); the kNN loader pushdown runs a
two-phase home-cell → widened-box search (`STSparkContext.scala:124-184`).

Our mapping is Hive-style partitioning, which makes every prune a
CATALYST prune (free, file-level, no custom scan):

* data:      ``path/cell=<id>[/t_bucket=<b>]/*.parquet`` — one file per
  leaf directory, written by ``spark.sql.shuffle.partitions`` tasks
  (each leaf hashes to one task);
* manifest:  ``path/_stark_manifest.json`` — one JSON document, the
  written frame's schema plus one row per leaf: grid ``range`` bounds,
  true ``extent`` of contained geometries (reference `Cell.scala:9-26`
  range-vs-extent distinction), time min/max, row count.

The manifest is the store's catalog and, like ``partition_info``, a
sidecar the driver writes and parses itself through the session's
Hadoop ``FileSystem`` (so any Hadoop store works); the leading ``_``
keeps it out of partition discovery. ``read_pruned``, ``knn_pruned``
and ``join_pruned`` intersect the query with the manifest on the driver
(a few KB — same driver↔storage boundary as the reference) and open
only the leaf directories of the kept rows with the recorded schema,
with ``cell.isin(...)`` still in the plan as a partition filter. No
Spark job runs to open the catalog, cells the manifest prunes are never
listed, and read cost grows with the kept cells, not with the store.
``load_partitioned`` is the whole-store read.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from stark_spark.core import geometry as G
from stark_spark.functions.predicates import _as_geom, st_predicate
from stark_spark.partitioner.grid import GridSpec

MANIFEST = "_stark_manifest.json"


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def save_partitioned(df: DataFrame, path: str, grid: GridSpec, *,
                     t_buckets: int | None = None,
                     t_range: tuple[int, int] | None = None,
                     zorder: bool = False) -> None:
    """Write an ST frame as cell-partitioned parquet + bounds manifest.

    ``t_buckets``/``t_range`` add a second-level temporal partition
    (reference `SpatioTempPartitioner.scala:11-169`: spatial cells,
    then per-cell time ranges).

    ``zorder=True`` sorts rows within each cell file by the Morton key
    of (xmin, ymin) instead of x-major — row-group min/max stats stay
    tight in BOTH dimensions, so sub-cell queries skip row groups no
    matter which axis is selective (matters once cell files hold many
    row groups, i.e. at real scale).

    The write replaces whatever store was at ``path``.
    """
    out = df.withColumn("cell", grid.cell_expr(F.col("xmin"), F.col("ymin")))
    part_cols = ["cell"]
    if t_buckets:
        if t_range is None:
            r = out.agg(F.min("t_start"), F.max("t_start")).first()
            t_range = (int(r[0]), int(r[1]) + 1)
        width = max(1, (t_range[1] - t_range[0] + t_buckets - 1) // t_buckets)
        out = out.withColumn(
            "t_bucket",
            F.least(F.lit(t_buckets - 1), F.greatest(F.lit(0), (
                (F.col("t_start") - F.lit(t_range[0])) / F.lit(width)
            ).cast("int"))))
        part_cols.append("t_bucket")
    # what a read of the store returns: data columns, then the
    # partition columns, all nullable (as parquet discovery yields them)
    schema = StructType([
        StructField(f.name, f.dataType, True, f.metadata)
        for f in sorted(out.schema.fields, key=lambda f: f.name in part_cols)])

    # one file per cell (repartition on the dir keys) with rows sorted
    # by bbox so parquet row-group min/max stats stay tight → row-group
    # pruning inside each cell file on top of the dir-level prune
    if zorder:
        from stark_spark.partitioner.grid import morton_expr
        out = out.withColumn("_z", morton_expr(
            F.col("xmin"), F.col("ymin"), x0=grid.x0, y0=grid.y0,
            x1=grid.x1, y1=grid.y1))
        sort_cols, drop = ["_z"], ["_z"]
    else:
        sort_cols, drop = ["xmin", "ymin"], []
    # sort by (dir keys, spatial key): the dynamic-partition writer
    # requires rows ordered by the partition columns and would insert
    # its own (non-stable) sort otherwise, destroying the spatial order.
    # An explicit partition count is a by-number repartition, which AQE
    # does not coalesce: a small batch would otherwise write every cell
    # file from one task.
    spark = df.sparkSession
    n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (out.repartition(n_tasks, *[F.col(c) for c in part_cols])
        .sortWithinPartitions(*part_cols, *sort_cols).drop(*drop)
        .write.partitionBy(*part_cols).mode("overwrite").parquet(path))

    # bounds manifest: one agg scan collected to the driver (the
    # partition_info equivalent; range = grid cell bounds, extent = true
    # data bounds). The range columns are the arithmetic of
    # GridSpec.cell_bounds on the same literals, so they equal its
    # values bit for bit.
    cx = F.col("cell") % F.lit(grid.nx)
    cy = F.floor(F.col("cell") / F.lit(grid.nx))
    rows = (out.groupBy(*part_cols)
            .agg(F.min("xmin").alias("ext_xmin"), F.min("ymin").alias("ext_ymin"),
                 F.max("xmax").alias("ext_xmax"), F.max("ymax").alias("ext_ymax"),
                 F.min("t_start").alias("t_min"), F.max("t_end").alias("t_max"),
                 F.count("*").alias("n_rows"))
            .withColumns({
                "rng_xmin": F.lit(grid.x0) + cx * F.lit(grid.sx),
                "rng_ymin": F.lit(grid.y0) + cy * F.lit(grid.sy),
                "rng_xmax": F.lit(grid.x0) + (cx + 1) * F.lit(grid.sx),
                "rng_ymax": F.lit(grid.y0) + (cy + 1) * F.lit(grid.sy)})
            .collect())
    fs, mf = _manifest_file(spark, path)
    stream = fs.create(mf, True)
    try:
        stream.write(json.dumps({"schema": schema.jsonValue(),
                                 "rows": [r.asDict() for r in rows]}).encode())
    finally:
        stream.close()


# ---------------------------------------------------------------------------
# readers
# ---------------------------------------------------------------------------

def _manifest_file(spark: SparkSession, path: str):
    """The Hadoop file system holding ``path`` and the manifest's path
    on it, resolved with the session's Hadoop configuration."""
    mf = spark._jvm.org.apache.hadoop.fs.Path(path, MANIFEST)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return mf.getFileSystem(conf), mf


def load_manifest(spark: SparkSession, path: str) -> list[Row]:
    """The store's manifest rows, one per leaf directory."""
    return _catalog(spark, path)[0]


def load_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Reload the whole store with the cell column live (the
    `loadPartitioned` partitioner-reattach equivalent: placement is the
    cell column + manifest, not a Partitioner object). Lists every cell
    directory; pruned reads go through the manifest instead."""
    return spark.read.option("basePath", path).parquet(path)


def _catalog(spark: SparkSession, path: str) -> tuple[list[Row], StructType]:
    """The manifest rows and the schema the write recorded beside them,
    read on the driver. A store without a readable manifest that records
    its schema raises; nothing falls back to listing the store."""
    def refuse(why: str):
        return ValueError(f"store {path!r}: {why}; rewrite the store with "
                          "save_partitioned")

    fs, mf = _manifest_file(spark, path)
    if not fs.exists(mf):
        raise refuse(f"it has no {MANIFEST}")
    stream = fs.open(mf)
    try:
        doc = json.loads(bytes(stream.readAllBytes()))
    except (Py4JJavaError, ValueError) as e:    # checksum mismatch, cut JSON
        raise refuse(f"its {MANIFEST} does not parse") from e
    finally:
        stream.close()
    if doc.get("schema") is None:
        raise refuse("its manifest records no schema")
    return ([Row(**r) for r in doc["rows"]],
            StructType.fromJson(doc["schema"]))


def _read_cells(spark: SparkSession, path: str, schema: StructType,
                manifest_rows) -> DataFrame:
    """Read only the leaf directories the given manifest rows name
    (``cell=c`` or ``cell=c/t_bucket=b``), with the recorded schema: no
    listing of other cells and no schema inference. The ``cell.isin``
    filter keeps the partition prune visible in the plan. A directory
    the manifest names but the store lacks raises."""
    if not manifest_rows:
        return spark.createDataFrame([], schema)
    leaves = sorted({
        f"{path}/cell={r.cell}" + (f"/t_bucket={r.t_bucket}"
                                   if "t_bucket" in r.__fields__ else "")
        for r in manifest_rows})
    cells = sorted({r.cell for r in manifest_rows})
    return (spark.read.schema(schema).option("basePath", path)
            .parquet(*leaves).filter(F.col("cell").isin(cells)))


def _cells_for(manifest_rows, q: G.Geometry,
               t_query: tuple[int | None, int | None] | None) -> list[int]:
    """Driver-side prune: cells whose EXTENT intersects the query
    envelope (and time window, §1.2-style both-or-neither is applied
    later row-wise — here any overlap keeps the cell)."""
    qx0, qy0, qx1, qy1 = q.bbox
    keep = []
    for r in manifest_rows:
        if r.ext_xmax < qx0 or r.ext_xmin > qx1 or \
           r.ext_ymax < qy0 or r.ext_ymin > qy1:
            continue
        if t_query and t_query != "any" and r.t_min is not None:
            ts, te = t_query
            if te is not None and r.t_min is not None and r.t_min > te:
                continue
            if ts is not None and r.t_max is not None and r.t_max < ts:
                continue
        keep.append(r.cell)
    return sorted(set(keep))


def read_pruned(spark: SparkSession, path: str, query,
                predicate: str = "intersects", *,
                t_query=None, points: bool = False) -> DataFrame:
    """Pruned scan: manifest prune (driver) → Catalyst partition prune
    (``cell.isin``, and ``t_bucket`` for spatio-temporally partitioned
    data — reference `SpatioTempPartitioner` two-level placement) →
    full row-wise ``st_predicate``."""
    q = _as_geom(query)
    mf, schema = _catalog(spark, path)
    cells = _cells_for(mf, q, t_query)
    buckets = _buckets_for(mf, cells, t_query)
    keep = set(cells)
    df = _read_cells(spark, path, schema, [
        r for r in mf if r.cell in keep
        and (buckets is None or r.t_bucket in buckets)])
    if buckets is not None:
        df = df.filter(F.col("t_bucket").isin(buckets))
    return df.filter(st_predicate(q, predicate, points=points,
                                  t_query=t_query if t_query else "any"))


def _buckets_for(manifest_rows, cells, t_query) -> list[int] | None:
    """Temporal second-level prune: t_bucket dirs whose [t_min, t_max]
    (within the surviving cells) overlap the query window. None ⇒ data
    has no temporal partitioning or the query is untimed."""
    if not manifest_rows or "t_bucket" not in manifest_rows[0].__fields__ \
            or not t_query or t_query == "any":
        return None
    ts, te = t_query
    keep = set(cells)
    return sorted({
        r.t_bucket for r in manifest_rows
        if r.cell in keep
        and not (te is not None and r.t_min is not None and r.t_min > te)
        and not (ts is not None and r.t_max is not None and r.t_max < ts)})


def knn_pruned(spark: SparkSession, path: str, query, k: int, *,
               grid: GridSpec, tie_col: str | None = None) -> DataFrame:
    """Two-phase kNN over partitioned storage (reference knn2 /
    kNN-loader pushdown, `STSparkContext.scala:124-184`):

    1. scan ONLY the query point's home cell, take its k-th distance
       (driver gets k tiny rows);
    2. re-scan only cells intersecting the radius box; exact top-k.
    Falls back to a full top-k over the manifest's cells when the
    manifest says the home cell holds < k rows — correctness never
    depends on phase 1. Cells the manifest lacks are never read.
    """
    from stark_spark.operators.knn import knn

    q = _as_geom(query)
    qx, qy = (q.bbox[0] + q.bbox[2]) / 2, (q.bbox[1] + q.bbox[3]) / 2
    home = grid.cell_of(qx, qy)
    mf, schema = _catalog(spark, path)

    def cells(keep) -> DataFrame:
        return _read_cells(spark, path, schema,
                           [r for r in mf if r.cell in keep])

    # the manifest's row count says whether phase 1 can find k rows
    if sum(r.n_rows for r in mf if r.cell == home) >= k:
        phase1 = knn(cells({home}), q, k, points=True, tie_col=tie_col)
        radius = max(r.dist for r in phase1.select("dist").collect())
        near = set(grid.cells_for_query((qx, qy, qx, qy), expand=radius))
        if near == {home}:
            return phase1
        return knn(cells(near), q, k, points=True, tie_col=tie_col)
    return knn(_read_cells(spark, path, schema, mf), q, k,
               points=True, tie_col=tie_col)


def save_bucketed(df: DataFrame, table: str, grid: GridSpec, *,
                  n_buckets: int = 16, mode: str = "overwrite") -> None:
    """Bucket a point frame by home cell into a managed table — the
    co-located join fast path (reference `zipJoin`, PSF:325-348: both
    sides identically partitioned ⇒ no shuffle). Spark bucketing makes
    the cell-key join exchange-free: at 100 TB this removes BOTH
    shuffles from every self/repeat join on the same tiling."""
    out = df.withColumn("cell", grid.cell_expr(F.col("xmin"), F.col("ymin")))
    (out.write.bucketBy(n_buckets, "cell").sortBy("cell")
        .mode(mode).format("parquet").saveAsTable(table))


def zip_join_bucketed(spark: SparkSession, left_table: str, right_table: str,
                      *, suffix: str = "_r",
                      predicate: str = "intersects") -> DataFrame:
    """Join two tables bucketed by the SAME grid: plain cell equi-join
    + point-equality refine, planned WITHOUT exchanges (assert via
    `.explain` — bucketed SMJ on the bucket column)."""
    from stark_spark.operators.join import (_points_native_pred,
                                            _suffix_right)

    left = spark.table(left_table)
    right = spark.table(right_table)
    right, _ = _suffix_right(left, right, suffix)
    right = right.withColumnRenamed("cell" + suffix, "cell") \
        if "cell" + suffix in right.columns else right
    joined = left.join(right, on=["cell"], how="inner")
    return joined.where(_points_native_pred(predicate, suffix))


def join_pruned(spark: SparkSession, left_path: str, right_path: str,
                predicate: str = "intersects", *, grid: GridSpec,
                left_points: bool = False, right_points: bool = False,
                suffix: str = "_r") -> DataFrame:
    """Metadata-driven join (reference ``jointextFiles``,
    `STSparkContext.scala:382-457`): the cell-pair graph is computed
    from the two manifests alone on the driver; only cells with a
    partner on the other side are read at all."""
    from stark_spark.operators.join import st_join

    lm, lschema = _catalog(spark, left_path)
    rm, rschema = _catalog(spark, right_path)
    lcells, rcells = set(), set()
    for a in lm:
        for b in rm:
            if a.ext_xmin <= b.ext_xmax and b.ext_xmin <= a.ext_xmax and \
               a.ext_ymin <= b.ext_ymax and b.ext_ymin <= a.ext_ymax:
                lcells.add(a.cell)
                rcells.add(b.cell)
    left = _read_cells(spark, left_path, lschema,
                       [a for a in lm if a.cell in lcells]).drop("cell")
    right = _read_cells(spark, right_path, rschema,
                        [b for b in rm if b.cell in rcells]).drop("cell")
    return st_join(left, right, predicate, grid=grid, suffix=suffix,
                   left_points=left_points, right_points=right_points)
