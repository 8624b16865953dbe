"""The workloads: which library calls each pass makes, and the DuckDB
SQL whose rows each call must return.

An operation is one call into a `stark_spark` public function that
returns a DataFrame (`build`), followed by one action (`run`). Its
`layer` names the module entry point it measures; per-layer metrics are
keyed by it. Why each workload exists is in perfbench/RECORD.md.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E
from stark_spark import datasets as D
from stark_spark.sources import partitioned as P

# Input sizes: the sf0.1 testdata sizes for the ST tables and vectors; a
# 500-doc corpus keeps a curation run inside the time budget (RECORD.md).
SIZES = {"n_events": 100_000, "n_docs": 500, "n_vectors": 2_000}


@dataclass
class Ctx:
    """What an operation needs: the session, the input tables and the
    store this pass writes and reads."""
    spark: SparkSession | None
    data: str
    work: str
    store: str = ""


@dataclass
class Op:
    name: str
    layer: str
    build: Callable[[Ctx], DataFrame]
    oracle: str | None      # DuckDB SQL for the rows build() returns;
                            # None for a write, which the reads check
    writes: bool = False    # run() persists the frame instead of counting

    def run(self, ctx: Ctx, df: DataFrame, collect: bool = False):
        """The action: count the rows, or collect them. Returns (rows or
        None, the frame the action ran, the collected rows or None)."""
        if self.writes:
            P.save_partitioned(df, ctx.store, E.GRID)
            return None, None, None
        if collect:
            pdf = df.toPandas()
            return len(pdf), df, pdf
        cdf = df.groupBy().count()      # the plan Dataset.count() runs
        return cdf.collect()[0][0], cdf, None


def _entry_ops(*pairs: tuple[str, str]) -> list[Op]:
    """Oracle-gated queries from the repo's registry, as (name, layer)."""
    queries, oracles = E.queries(), E.oracle_sql()

    def op(name, layer):
        fn = queries[name]
        return Op(name, layer, lambda c: fn(c.spark, c.data), oracles[name])
    return [op(name, layer) for name, layer in pairs]


# --- partitioned storage ---------------------------------------------------
# One regional ingest batch per pass: events in the 8x8 GRID cells of
# [0, 25)^2 from the second half of the month, written to a fresh store.

REGION = 25.0
SPLIT_T = 1_705_363_200                     # 2024-01-16T00:00:00Z
_X, _Y, _T = E.EV_X, E.EV_Y, E.EV_T


def read_window(seed: int) -> tuple[tuple[float, ...], tuple[int, int]]:
    """A seeded 6x6 rectangle in the region and a 7-day window in the
    batch: fixed sizes, so the selectivity does not depend on the seed."""
    rng = np.random.default_rng([seed, 1])
    x0, y0 = (round(float(v), 2) for v in rng.uniform(0, REGION - 6, 2))
    t0 = SPLIT_T + int(rng.integers(0, 7 * 86_400))
    return (x0, y0, round(x0 + 6, 2), round(y0 + 6, 2)), (t0, t0 + 7 * 86_400)


def _batch(df: DataFrame) -> DataFrame:
    return df.where((F.col("x") < REGION) & (F.col("y") < REGION)
                    & (F.col("t_start") >= SPLIT_T))


def storage_views() -> dict[str, str]:
    """DuckDB view of the batch rows, same derivations as
    `stark_spark.datasets.st_events`."""
    return {"batch": f"SELECT event_id, {_X} AS x, {_Y} AS y, {_T} AS t "
                     f"FROM events WHERE {_X} < {REGION} AND {_Y} < {REGION} "
                     f"AND {_T} >= {SPLIT_T}"}


def new_store(ctx: Ctx, i: int) -> None:
    """Point the pass at a fresh store directory; drop the last one."""
    if ctx.store:
        shutil.rmtree(ctx.store, ignore_errors=True)
    ctx.store = os.path.join(ctx.work, f"store{i}")


def _storage_ops(seed: int) -> list[Op]:
    """Write the batch, then read a timed window of it back."""
    (x0, y0, x1, y1), (t0, t1) = read_window(seed)
    wkt = f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    return [
        Op("write_batch", "save_partitioned",
           lambda c: _batch(D.st_events(c.spark, c.data, keep_geom=False)),
           None, writes=True),
        Op("read_small_timed", "read_pruned",
           lambda c: P.read_pruned(c.spark, c.store, wkt, points=True,
                                   t_query=(t0, t1))
           .select("event_id", "x", "y"),
           f"SELECT event_id, x, y FROM batch WHERE x >= {x0} AND x <= {x1} "
           f"AND y >= {y0} AND y <= {y1} AND t >= {t0} AND t <= {t1}"),
    ]


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]         # loaded at set-up
    ops: list[Op]                   # one pass
    views: dict[str, str] = field(default_factory=dict)  # for the oracles
    user_rows: str | None = None    # SQL of the raw rows the writes ingest


def workload(name: str, seed: int) -> Workload:
    if name == "st":
        return Workload(
            name, ("events", "customer", "supplier"),
            _entry_ops(("st_filter_polygon_timed", "predicates"),
                       ("st_join_grid_points", "join"),
                       ("knn_events", "knn"))
            + _storage_ops(seed),
            views=storage_views(),
            user_rows="SELECT * FROM events WHERE event_id IN "
                      "(SELECT event_id FROM batch)")
    if name == "curation":
        return Workload(name, ("documents", "embeddings"), _entry_ops(
            ("text_profile", "text"),
            ("dedup_minhash_sigs", "dedup"),
            ("ann_ivf_topk_gemm", "similarity")))
    raise ValueError(f"unknown workload {name!r}")


# every layer of every workload: a traced run reports all of them, with
# 0 for the layers its workload never calls
LAYERS = ("predicates", "join", "knn", "save_partitioned", "read_pruned",
          "text", "dedup", "similarity")


def load_table(spark: SparkSession, data: str, table: str) -> DataFrame:
    """Set-up load of one input through the repo's loaders."""
    if table == "events":
        return D.st_events(spark, data, keep_geom=False)
    if table == "customer":
        return D.st_points(spark, data, "customer", "c_custkey", keep_geom=False)
    if table == "supplier":
        return D.st_points(spark, data, "supplier", "s_suppkey", keep_geom=False)
    return D.load(spark, data, table)
