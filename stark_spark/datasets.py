"""Loaders for the driver's testdata with deterministic ST columns.

The testdata (TESTDATA.md) is TPC-H-ish with no geometry, so spatial
columns are DERIVED deterministically from key columns with plain
integer arithmetic — the same formulas are expressible in the DuckDB
oracle SQL, which is what makes every spatial operator hash-checkable.

Conventions (keep in sync with `__spark_entry__.oracle_sql`):

* synthetic point for key k:  x = (k * 7919 % 1000) / 10.0,
                              y = (k * 104729 % 1000) / 10.0
  → uniform over [0, 100)².  7919 / 104729 are primes (1000th / 10000th).
* events: x = value (natural column), y = (user_id * 7919 % 1000)/10,
  time = ts as epoch seconds (Instant).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stark_spark.functions.constructors import st_frame

PX = 7919
PY = 104729

# Per-table lattice salts: x = ((k*PX + sx) % 1000)/10, y likewise.
# customer/supplier intentionally SHARE the unsalted lattice (the
# point-equality join oracles rely on coincident points); orders gets
# (5, 7), which is provably disjoint from the unsalted lattice: a
# coincidence needs m*5 ≡ 7 (mod 1000) where m = PY·PX⁻¹, and m*5 is
# always a multiple of 5 while 7 is not. That gives kNN/radius tests a
# right side with honest non-zero distances and zero-neighbor rows.
TABLE_SALT: dict[str, tuple[int, int]] = {"orders": (5, 7)}

# Timestamp columns to normalize to TimestampType (instant) regardless of
# the driver's parquet encoding: TIMESTAMP(NANOS) reads as long nanos
# (legacy conf in session.py), timestamp[us] reads as TIMESTAMP_NTZ in
# Spark 4 — both branches handled in load().
_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """The driver may hand us a session built WITHOUT our factory
    (`stark_spark.get_session`); the confs load-bearing for the
    testdata are runtime-settable, so set them defensively —
    a vanilla session otherwise throws PARQUET_TYPE_ILLEGAL on the
    TIMESTAMP(NANOS) columns and mismatches the oracle's UTC epochs."""
    for k, v in (("spark.sql.legacy.parquet.nanosAsLong", "true"),
                 ("spark.sql.session.timeZone", "UTC"),
                 ("spark.sql.execution.arrow.pyspark.enabled", "true")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark would infer for ``path`` with mergeSchema off,
    read from one parquet footer on the driver: the first data file in
    path order, names starting with ``_`` or ``.`` skipped. Listing a
    file returns the file itself, so a single file and a Spark-written
    directory take the same path."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    data = [s for s in p.getFileSystem(conf).listStatus(p)
            if not s.getPath().getName().startswith(("_", "."))]
    if not data:
        raise ValueError(f"{path!r} holds no parquet data file")
    first = min(data, key=lambda s: s.getPath().toString())
    fmt = getattr(getattr(jvm.org.apache.spark.sql.execution.datasources
                          .parquet, "ParquetFileFormat$"), "MODULE$")
    footers = fmt.readParquetFootersInParallel(
        conf, jvm.PythonUtils.toSeq([first]), False)
    schema = fmt.readSchema(footers, spark._jsparkSession).get()
    return StructType.fromJson(json.loads(schema.json()))


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One testdata table, its timestamp columns as TimestampType.

    The schema comes from the parquet footer, read on the driver on
    every call: loading runs no Spark job (schema inference would run
    one to read that same footer), and nothing is cached, so a file
    rewritten mid-session is read with its new schema."""
    _ensure_runtime_confs(spark)
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.schema(_footer_schema(spark, path)).parquet(path)
    for c in _TS_COLS.get(table, ()):
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            # integer div, not /1000: double division rounds at ~1.7e18 ns
            # (ulp 0.25 µs) and can come out 1 µs off DuckDB's exact
            # nanos→micros truncation
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # timestamp[us] parquet reads as TIMESTAMP_NTZ in Spark 4, which
            # refuses cast→BIGINT / unix_micros. Session TZ is pinned UTC
            # (_ensure_runtime_confs), so reinterpreting NTZ as an instant is
            # exact and matches DuckDB's epoch(ts) on the same file.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def synth_xy(df: DataFrame, key: str,
             salt: tuple[int, int] = (0, 0)) -> DataFrame:
    """Deterministic synthetic point columns from an integer key."""
    k = F.col(key).cast("long")
    sx, sy = salt
    return df.withColumns({"x": ((k * PX + sx) % 1000) / 10.0,
                           "y": ((k * PY + sy) % 1000) / 10.0})


def st_points(spark: SparkSession, sf_dir: str, table: str, key: str,
              keep_geom: bool = True) -> DataFrame:
    """Table → ST point frame on synthetic coords (untimed);
    per-table lattice salt from TABLE_SALT."""
    df = synth_xy(load(spark, sf_dir, table), key,
                  salt=TABLE_SALT.get(table, (0, 0)))
    return st_frame(df, x="x", y="y", keep_geom=keep_geom)


def st_events(spark: SparkSession, sf_dir: str, keep_geom: bool = True) -> DataFrame:
    """events → ST point frame: x = value, y = hash(user_id), t = ts."""
    df = load(spark, sf_dir, "events").withColumns(
        {"x": F.col("value"),
         "y": (F.col("user_id").cast("long") * PX % 1000) / 10.0})
    return st_frame(df, x="x", y="y", t_start="ts", keep_geom=keep_geom)
