"""SparkSession factory with scale-oriented defaults.

The reference builds sessions via ``STARKSession.builder()``
(/root/reference/sql/STARKSession.scala:19-27) whose only jobs are to
inject a join strategy and register ``st_*`` functions. Our engine
needs neither a custom Strategy (joins are explicit plan rewrites) nor
a UDT — this module just centralizes the confs that matter at scale:
AQE (runtime re-plan, skew-join splitting, broadcast switch), Arrow
for every pandas UDF boundary, and shuffle-partition sizing.

PySpark's DataFrame-debugging origin capture is off
(``spark.python.sql.dataFrameDebugging.enabled``). With it on, every
wrapped ``F.*`` or ``DataFrame`` call inspects the Python stack and
makes extra py4j round-trips to record its call site. Errors keep
their class and message; their query context names a JVM frame
instead of the Python file and line of the failing call. PySpark
reads the setting once per
process, at the first wrapped call made while a session is active
(with none active, it reads it as off), so it is set when the session
is created: setting it later on a live session has no effect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Confs applied to every session we build. At 100 TB / 1000 executors the
# absolute numbers (shuffle partitions, maxPartitionBytes) come from the
# cluster; what must always be on is AQE + Arrow.
_SCALE_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, switch sort-merge->broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the geometry refine path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast anything under 64 MB (dim tables, query geometries, bounds
    # manifests). AQE can still upgrade larger sides at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: keep row-group pruning + column pruning effective.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Timestamps in testdata are TIMESTAMP_NTZ-ish micros; pin UTC so
    # epoch arithmetic matches the DuckDB oracle exactly.
    "spark.sql.session.timeZone": "UTC",
    # The testdata parquet carries TIMESTAMP(NANOS) (unsupported natively);
    # read as long nanos — `datasets.load` converts to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No per-call origin capture (see the module docstring); read once
    # per process, so it is set when the session is created.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def configure(builder: SparkSession.Builder, *, shuffle_partitions: int | None = None):
    """Apply engine confs onto an existing builder (composable)."""
    for k, v in _SCALE_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder


def get_session(app: str = "stark_spark", *, master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test default: ``local[$SPARK_GRAFT_CPUS]`` with shuffle
    partitions = CPU count (small data; the driver's bench overrides
    via env). On a real cluster, master comes from the environment.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = SparkSession.builder.appName(app).master(master)
    if master.startswith("local"):
        # in local mode the driver JVM IS every executor — the 1g
        # default heap OOMs under 32 concurrent tasks. Honored only at
        # JVM launch (first getOrCreate in the process).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Whole-stage codegen mints new generated classes per query;
        # a session that runs hundreds of distinct queries (the bench
        # harness, long notebooks) fills the JVM's default ~240 MB
        # reserved code cache, after which the JIT flushes/throttles
        # and hot generated loops intermittently run interpreted —
        # r14 measured a heavy query's first touch at 3-10× CPU
        # (113-192 s JVM CPU vs ~23 s JITted) late in a 173-query
        # session. 512 MB removes the ceiling; JVM-launch-time only,
        # so it composes with any user-supplied extraJavaOptions via
        # the env override. On a cluster, set the executor equivalent
        # in your deploy config.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                           "-XX:ReservedCodeCacheSize=512m"))
        # keep managed-table data (bucketed tables) out of the repo
        builder = builder.config(
            "spark.sql.warehouse.dir", "/tmp/stark_spark_warehouse")
    # Generated classes are cached per JVM, up to this many (a static
    # conf, read once at launch). At the default of 100 a plan that
    # generates more classes than that — curation_pipeline_neardup
    # compiles ~120 — evicts its own classes and recompiles ~95 of them
    # on every run; at 1 000 its second run compiles none.
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    builder = configure(builder, shuffle_partitions=shuffle_partitions)
    return builder.getOrCreate()


def clone_session(spark: SparkSession, conf: dict) -> SparkSession:
    """A copy of ``spark`` (same SparkContext; settings, temp views and
    functions as of this call) with ``conf`` set on the copy only —
    the way to run one plan under a different setting. Setting it on
    ``spark`` itself would race with every other query sharing that
    session. ``newSession()`` would drop the caller's settings."""
    clone = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    for k, v in conf.items():
        clone.conf.set(k, v)
    return clone


def bind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``: actions on the
    result plan and run under ``spark``'s settings."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jds, spark)
