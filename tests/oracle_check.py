"""Local mirror of the driver's DuckDB oracle gate.

Runs every `__spark_entry__.queries()` entry at sf0.01 next to its
`oracle_sql()` SQL in DuckDB and compares: row count, column-name set,
and an order-insensitive value hash (strict: floats compared bit-ish
via %.17g — if we pass this, any saner comparator passes too).

Usage: python tests/oracle_check.py [sf_dir] [query_name ...]

In-process callers pass their own session to `run()`; the CLI builds
one 16 partitions wide.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        s = "%.17g" % v
        # Distinguish float 2040.0 from int 2040: the driver's comparator
        # does (round 1 lesson: DuckDB sum(BIGINT) -> HUGEINT -> pandas
        # float64 hash-failed 4 queries that this mirror passed).
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> tuple[int, tuple, str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = ["\t".join(_canon_cell(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(pdf), tuple(cols), h


# --- chunked comparator (quadratic-output queries at scale) ----------------
#
# The default comparator collects both full result sets; a 10x
# interval_join materializes ~3.6 GiB and breaks maxResultSize. The
# chunked path never holds a full result anywhere: each row's
# canonical string (same _canon_cell rules) is sha256'd and the
# 64-bit truncations are summed mod 2^64 — a COMMUTATIVE, batch-
# split-independent accumulation, so
# Spark can reduce it per Arrow batch in the executors (mapInPandas
# runs this very module's canonicalization — bit-identical rules)
# and DuckDB streams record-batch chunks through the same function.

_MASK64 = (1 << 64) - 1


def _rows_digest(pdf: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """Commutative digest of a batch: VECTORIZED via
    pandas.util.hash_pandas_object (stable fixed-key siphash — the
    same values on the Spark-Arrow and DuckDB sides) after width
    normalization (int32 vs int64 etc. hash differently; the string
    comparator was immune, this one normalizes). Falls back to the
    row-at-a-time _canon_cell/sha256 path for exotic cell types
    (bytes / lists / Decimal), which hash_pandas_object cannot
    canonicalize portably."""
    pdf = pdf[cols]
    n = len(pdf)
    if n == 0:
        return 0, 0
    norm = {}
    for c in cols:
        s = pdf[c]
        k = s.dtype.kind
        if k in "iu":
            norm[c] = s.astype("int64")
        elif k == "f":
            norm[c] = s.astype("float64")
        elif k == "b":
            norm[c] = s.astype("int64")
        elif k == "M":
            norm[c] = s.astype("datetime64[ns]").astype("int64")
        elif k == "O":
            probe = s.dropna()
            v = probe.iloc[0] if len(probe) else ""
            if isinstance(v, str):
                norm[c] = s
            else:                       # bytes / list / Decimal ...
                return _rows_digest_slow(pdf, cols)
        else:
            return _rows_digest_slow(pdf, cols)
    hp = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False)
    tot = int(hp.to_numpy().astype(np.uint64).sum(dtype=np.uint64))
    return n, tot


def _rows_digest_slow(pdf: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    tot = 0
    n = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        s = "\t".join(_canon_cell(v) for v in row)
        tot = (tot + int.from_bytes(
            hashlib.sha256(s.encode()).digest()[:8], "big")) & _MASK64
        n += 1
    return n, tot


def spark_chunked_hash(df) -> tuple[int, tuple, str]:
    """Distributed commutative frame hash: executors canonicalize and
    digest their own Arrow batches; the driver sums |partitions|
    partials. No full collect at any point."""
    cols = sorted(df.columns)

    # the executor cannot import tests/oracle_check — ship this
    # module's functions by VALUE so the canonicalization rules in
    # the closure are literally these ones
    from pyspark import cloudpickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def digest(batches):
        tot = 0
        n = 0
        for pdf in batches:
            bn, bt = _rows_digest(pdf, cols)
            n += bn
            tot = (tot + bt) & _MASK64
        yield pd.DataFrame({"n": [n], "h": [f"{tot:016x}"]})

    # quadratic-output queries EXPLODE after their last shuffle; AQE
    # coalesces the digest stage from pre-explosion size estimates
    # (observed: a 1B-row interval_join squeezed into 4 tasks, one
    # straggler). Pin coalescing off for the digest run.
    spark = df.sparkSession
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        parts = df.mapInPandas(digest, "n long, h string").collect()
    finally:
        spark.conf.set(coalesce_key, prev)
    n = sum(r.n for r in parts)
    tot = sum(int(r.h, 16) for r in parts) & _MASK64
    return n, tuple(cols), f"{tot:016x}"


def duck_chunked_hash(cur) -> tuple[int, tuple, str]:
    """Streaming commutative frame hash over a DuckDB result cursor."""
    first = cur.fetch_df_chunk()
    cols = sorted(first.columns)
    n = 0
    tot = 0
    pdf = first
    while pdf is not None and len(pdf):
        bn, bt = _rows_digest(pdf, cols)
        n += bn
        tot = (tot + bt) & _MASK64
        pdf = cur.fetch_df_chunk()
    return n, tuple(cols), f"{tot:016x}"


def run(spark, sf_dir: str, only: list[str] | None = None,
        chunked: set[str] | None = None, pending: bool = False,
        retired: bool = False) -> int:
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    # pending=True checks the STAGED gates (window-slot overflow that
    # rotates into queries() next round) with the identical comparator;
    # retired=True checks the gates moved to pytest-only coverage
    if pending:
        qs, oracles = entry.pending_queries(), entry.pending_oracle_sql()
    elif retired:
        qs, oracles = entry.retired_queries(), entry.retired_oracle_sql()
    else:
        qs, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if chunked and name in chunked:
            # never collect the full result on either side
            try:
                sn, sc, sh = spark_chunked_hash(fn(spark, sf_dir))
            except Exception as e:
                print(f"FAIL {name}: spark error: {str(e)[:200]}")
                failures += 1
                continue
            try:
                dn, dc, dh = duck_chunked_hash(con.execute(oracles[name]))
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
                failures += 1
                continue
            if (sn, sc, sh) == (dn, dc, dh):
                print(f"PASS {name}: {sn} rows chunked-hash={sh[:12]}")
            else:
                print(f"FAIL {name}: chunked mismatch "
                      f"rows {sn}/{dn} cols {sc}/{dc} hash {sh[:12]}/"
                      f"{dh[:12]}")
                failures += 1
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            failures += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            failures += 1
            continue
        sn, sc, sh = frame_hash(spark_pdf)
        dn, dc, dh = frame_hash(duck_pdf)
        if sn != dn:
            print(f"FAIL {name}: rows {sn} vs {dn}")
            failures += 1
        elif sc != dc:
            print(f"FAIL {name}: cols {sc} vs {dc}")
            failures += 1
        elif sh != dh:
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            # show a tiny diff for debugging
            a = spark_pdf[sorted(spark_pdf.columns)].copy()
            b = duck_pdf[sorted(duck_pdf.columns)].copy()
            for c in a.columns:
                a[c] = a[c].map(_canon_cell)
                b[c] = b[c].map(_canon_cell)
            am = {tuple(r) for r in a.itertuples(index=False, name=None)}
            bm = {tuple(r) for r in b.itertuples(index=False, name=None)}
            print("  only-spark:", list(am - bm)[:3])
            print("  only-duck :", list(bm - am)[:3])
            failures += 1
        else:
            print(f"PASS {name}: {sn} rows hash={sh[:12]}")
    # run() neither stops nor reconfigures the caller's session: in
    # pytest it is the suite's shared fixture. The CLI path below owns
    # its session and stops it.
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    pending = "--pending" in args
    retired = "--retired" in args
    args = [a for a in args if a not in ("--pending", "--retired")]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a] or None
    from stark_spark import get_session
    spark = get_session("oracle-check", shuffle_partitions=16)
    rc = 1 if run(spark, sf, only, pending=pending, retired=retired) else 0
    spark.stop()
    sys.exit(rc)
