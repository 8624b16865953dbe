"""Closed-loop benchmark of stark_spark: one workload, one client.

    python3 perfbench/run.py --workload st --seed 1 --seconds 5 --trace 0

Run from the repository root. One process generates the seeded inputs,
computes the expected rows with DuckDB (untimed), and drives a local
Spark session with `local[<cpus>]`:

1. set-up, three times: session start and input loads; the first
   includes the JVM launch (`setup_s` is the median);
2. one cold pass over every operation in the fresh session; it collects
   each result and compares its hash with DuckDB's, untimed
   (`cold_pass_s`);
3. one untimed warm pass, and more while the JVM's compile time still
   grows, up to MAX_SETTLE;
4. timed passes for `--seconds`, at least MIN_PASSES (`warm_pass_s` is
   their median).

Every pass checks each operation's row count against DuckDB. With
`--trace 1` the timed passes alternate untraced and traced; traced
passes record spans and counters per operation, and the run prints
per-layer metrics instead of end-to-end ones. The last stdout line is
the result JSON. perfbench/RECORD.md says what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import datagen
from probes import Jvm, Tracer, plan_metrics

# workloads, stark_spark, pyspark and tests.oracle_check are imported
# inside functions: importing __spark_entry__ creates a temp dir, so
# they load only after pin_environment() has pointed TMPDIR into the run.
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
T_START = time.perf_counter()

SETUP_REPS = 3
MIN_PASSES = 3           # timed passes per kind, whatever --seconds says
MAX_SETTLE = 1           # untimed warm passes at most
SETTLE_JIT_SHARE = 0.05  # settled: a pass compiled for < 5% of its wall
LAYER_METRICS = {"build_ms": "ms", "exec_ms": "ms", "jobs": "count",
                 "stages": "count", "tasks": "count", "jit_ms": "ms",
                 "gc_ms": "ms", "shuffle_bytes": "bytes"}
STORE_METRICS = ("rows", "listing_ms", "files_read", "partitions_read",
                 "rows_scanned", "files_written", "bytes_written",
                 "cells_total")


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def pin_environment(run_dir: str, seed: int) -> dict:
    """Fix what the measurement depends on, before anything starts a
    JVM or a BLAS pool, and return it for the record."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap_mb = min(8192, ram_mb // 4)
    blas = 1                 # local[cpus] runs cpus tasks: slots x 1 = cpus
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.enabled=false "
                               "--conf spark.ui.showConsoleProgress=false "
                               "pyspark-shell",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "OMP_NUM_THREADS": str(blas),
        "OPENBLAS_NUM_THREADS": str(blas),
        "MKL_NUM_THREADS": str(blas),
    })
    tempfile.tempdir = tmp
    return {"cpus": cpus, "ram_mb": ram_mb, "driver_heap_mb": heap_mb,
            "blas_threads": blas, "task_slots": cpus, "seed": seed}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Bench:
    def __init__(self, args, run_dir: str, env: dict) -> None:
        import workloads as W

        self.args = args
        self.env = env
        self.wl = W.workload(args.workload, args.seed)
        self.data = os.path.join(run_dir, "data")
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        self.ctx = W.Ctx(None, self.data, work)
        self.tracer = Tracer()
        self.expected: dict = {}
        self.user_bytes = 0
        self.attempted = self.failed = 0
        self.spark = self.jvm = None
        self.pass_self_ms: list[float] = []
        self.op_self_ms: list[float] = []
        self.timed: list[dict] = []
        self.n_pass = 0

    # --- inputs and oracle ---------------------------------------------------

    def make_inputs(self) -> None:
        import duckdb

        import workloads as W
        from tests.oracle_check import frame_hash

        datagen.generate(self.data, self.args.seed, **W.SIZES)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {self.env['cpus']}")
            for f in sorted(os.listdir(self.data)):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{f}')")
            for name, sql in self.wl.views.items():
                con.execute(f"CREATE VIEW {name} AS {sql}")
            for op in self.wl.ops:
                if op.oracle is not None:
                    self.expected[op.name] = frame_hash(
                        con.execute(op.oracle).fetchdf())
            if self.wl.user_rows:
                path = os.path.join(self.ctx.work, "user_rows.parquet")
                con.execute(f"COPY ({self.wl.user_rows}) TO '{path}' "
                            "(FORMAT parquet)")
                self.user_bytes = os.path.getsize(path)
        finally:
            con.close()

    # --- session -------------------------------------------------------------

    def setup_once(self) -> float:
        """Session start and input loads."""
        import workloads as W
        from stark_spark import get_session

        t0 = time.perf_counter()
        self.spark = self.ctx.spark = get_session("perfbench")
        for table in self.wl.tables:
            W.load_table(self.spark, self.data, table)
        return time.perf_counter() - t0

    def setup(self) -> float:
        import pyspark

        times = []
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
            times.append(self.setup_once())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = Jvm(self.spark)
        self.env["java"] = self.spark._jvm.java.lang.System.getProperty(
            "java.version")
        self.env["pyspark"] = pyspark.__version__
        log(f"setup reps {[round(t, 3) for t in times]}")
        return statistics.median(times)

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()      # the JVM exits when stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # --- passes --------------------------------------------------------------

    def check(self, op, rows: int | None, pdf=None) -> bool:
        """Row count on every pass; the full hash when a frame is given.
        Operations without an oracle (writes) are checked by the reads."""
        exp = self.expected.get(op.name)
        if exp is None:
            return True
        if rows != exp[0]:
            log(f"{op.name}: {rows} rows, expected {exp[0]}")
            return False
        if pdf is not None:
            from tests.oracle_check import frame_hash
            got = frame_hash(pdf)
            if got != exp:
                log(f"{op.name}: hash mismatch, {got[:2]} vs {exp[:2]}")
                return False
        return True

    def run_pass(self, kind: str, traced: bool = False,
                 collect: bool = False) -> dict:
        """One pass over the operations. Returns its wall time, each
        operation's time and, when traced, each operation's counters.
        The hash comparison is not timed."""
        import workloads as W

        self.n_pass += 1
        W.new_store(self.ctx, self.n_pass)
        pid = self.tracer.open("pass", None, kind=kind) if traced else None
        recs, untimed, t_pass = [], 0.0, time.perf_counter()
        for op in self.wl.ops:
            self.attempted += 1
            rec = {"op": op.name, "layer": op.layer}
            t0 = time.perf_counter()
            try:
                rows, pdf = self._op(op, rec, collect, pid)
                rec["wall_s"] = time.perf_counter() - t0
                t1 = time.perf_counter()
                ok = self.check(op, rows, pdf)
                untimed += time.perf_counter() - t1
            except Exception:
                log(f"{op.name} failed:\n{traceback.format_exc()}")
                rec["wall_s"] = time.perf_counter() - t0
                ok = False
            self.failed += not ok
            recs.append(rec)
        wall = time.perf_counter() - t_pass - untimed
        if traced:
            self.tracer.close(pid)
            self.pass_self_ms.append(self.tracer.self_ms(pid) - untimed * 1e3)
        return {"kind": kind, "wall_s": wall, "ops": recs}

    def _op(self, op, rec: dict, collect: bool, pid: int | None):
        """Build, then act. Traced (pid set): spans around both, and the
        counters each moved. Returns (rows, collected frame or None)."""
        if pid is None:
            rows, _, pdf = op.run(self.ctx, op.build(self.ctx), collect)
            return rows, pdf
        from stark_spark.sources.partitioned import load_partitioned

        tr, jvm, sc = self.tracer, self.jvm, self.spark.sparkContext
        oid = tr.open(op.name, pid, layer=op.layer)
        if op.layer == "read_pruned":
            t0 = time.perf_counter()
            load_partitioned(self.spark, self.ctx.store)
            t1 = time.perf_counter()
            tr.span("load_partitioned.listing", oid, t0, t1)
            rec["listing_ms"] = (t1 - t0) * 1e3
        group = f"{tr.run_id}-{len(tr.spans)}"
        sc.setJobGroup(group, op.name)
        jit0, gc0 = jvm.counters()
        t0 = time.perf_counter()
        df = op.build(self.ctx)
        t1 = time.perf_counter()
        rows, acted, pdf = op.run(self.ctx, df, collect)
        t2 = time.perf_counter()
        jit1, gc1 = jvm.counters()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tr.span("build", oid, t0, t1)
        tr.span("exec", oid, t1, t2)
        jobs, stages, tasks = jvm.job_counts(group)
        rec.update(build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3,
                   jobs=jobs, stages=stages, tasks=tasks,
                   jit_ms=jit1 - jit0, gc_ms=gc1 - gc0, rows=rows)
        rec.update(plan_metrics(acted) if acted is not None
                   else self._store_size())
        tr.close(oid, **{k: v for k, v in rec.items() if k != "op"})
        self.op_self_ms.append(tr.self_ms(oid))
        return rows, pdf

    def _store_size(self) -> dict:
        files = nbytes = cells = 0
        for d, subdirs, names in os.walk(self.ctx.store):
            cells += sum(s.startswith("cell=") for s in subdirs)
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
        return {"files_written": files, "bytes_written": nbytes,
                "cells_total": cells, "shuffle_bytes": 0}

    # --- the run -------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        setup_s = self.setup()
        cold = self.run_pass("cold", traced=bool(args.trace), collect=True)
        log(f"cold pass {cold['wall_s']:.3f}s")
        settle = 0
        for settle in range(1, MAX_SETTLE + 1):
            j0 = self.jvm.jit_ms()
            p = self.run_pass("settle")
            grew = self.jvm.jit_ms() - j0
            log(f"settle pass {p['wall_s']:.3f}s, jit +{grew} ms")
            if grew < SETTLE_JIT_SHARE * p["wall_s"] * 1e3:
                break
        self.pass_self_ms.clear()
        self.op_self_ms.clear()
        plain, traced = [], []
        cpu0 = cpu_times()
        t_end = time.perf_counter() + args.seconds
        while (time.perf_counter() < t_end or len(plain) < MIN_PASSES
               or (args.trace and len(traced) < MIN_PASSES)):
            want_trace = bool(args.trace) and len(traced) < len(plain)
            p = self.run_pass("warm", traced=want_trace)
            (traced if want_trace else plain).append(p)
        d = [b - a for a, b in zip(cpu0, cpu_times())]
        self.env["cpu_steal_share"] = round(_ratio(d[7], sum(d)), 4)
        log("warm passes " + " ".join(f"{p['wall_s']:.3f}" for p in plain))
        self.timed = plain + traced
        if args.trace:
            return self.layer_metrics(cold, plain, traced, settle)
        return {"setup_s": (setup_s, "s"),
                "cold_pass_s": (cold["wall_s"], "s"),
                "warm_pass_s": (statistics.median(
                    p["wall_s"] for p in plain), "s")}

    def layer_metrics(self, cold, plain, traced, settle) -> dict:
        """Per-layer metrics: the median over traced passes of each
        layer's per-pass sum; layers this workload never calls read 0."""
        import workloads as W

        per_pass = []
        for p in traced:
            acc = defaultdict(float)
            for r in p["ops"]:
                for m in (*LAYER_METRICS, *STORE_METRICS):
                    acc[(r["layer"], m)] += r.get(m) or 0
            per_pass.append(acc)

        def med(fn):
            return statistics.median(fn(a) for a in per_pass)

        cold_jit = defaultdict(float)
        for r in cold["ops"]:
            cold_jit[r["layer"]] += r.get("jit_ms", 0)
        out = {}
        for layer in W.LAYERS:
            for m, unit in LAYER_METRICS.items():
                out[f"{layer}.{m}"] = (med(lambda a: a[(layer, m)]), unit)
            out[f"{layer}.cold_jit_ms"] = (cold_jit[layer], "ms")
        rp, sp = "read_pruned", "save_partitioned"
        out.update({
            f"{rp}.listing_ms": (med(lambda a: a[(rp, "listing_ms")]), "ms"),
            f"{rp}.listing_share": (med(lambda a: _ratio(
                a[(rp, "listing_ms")], a[(rp, "build_ms")])), "ratio"),
            f"{rp}.files_read": (med(lambda a: a[(rp, "files_read")]),
                                 "count"),
            f"{rp}.cells_kept_share": (med(lambda a: _ratio(
                a[(rp, "partitions_read")], a[(sp, "cells_total")])),
                "ratio"),
            f"{rp}.rows_scanned_per_row_returned": (med(lambda a: _ratio(
                a[(rp, "rows_scanned")], a[(rp, "rows")])), "ratio"),
            f"{sp}.files_written": (med(lambda a: a[(sp, "files_written")]),
                                    "count"),
            f"{sp}.bytes_stored_per_user_byte": (med(lambda a: _ratio(
                a[(sp, "bytes_written")], self.user_bytes)), "ratio"),
        })
        warm = statistics.median(p["wall_s"] for p in plain)
        overhead = statistics.median(p["wall_s"] for p in traced) - warm
        write = statistics.median(
            sum(r["wall_s"] for r in p["ops"] if r["layer"] == sp)
            for p in plain)
        out.update({
            "pass.write_s": (write, "s"),
            "pass.read_s": (warm - write, "s"),
            "pass.cold_jit_ms": (sum(cold_jit.values()), "ms"),
            "pass.warm_jit_ms": (med(lambda a: sum(
                a[(layer, "jit_ms")] for layer in W.LAYERS)), "ms"),
            "pass.settle_passes": (settle, "count"),
            "bench.self_ms": (statistics.median(self.pass_self_ms)
                              + sum(self.op_self_ms) / len(traced), "ms"),
            "trace.overhead_s": (overhead, "s"),
            "trace.overhead_share": (_ratio(overhead, warm), "ratio"),
        })
        return out

    def report_ops(self) -> None:
        """One stdout line per operation: its median wall time."""
        by_op = defaultdict(list)
        for p in self.timed:
            for r in p["ops"]:
                by_op[(r["layer"], r["op"])].append(r["wall_s"])
        for (layer, op), v in by_op.items():
            print(f"{self.args.workload}.{op} layer={layer} "
                  f"median_s={statistics.median(v):.4f} n={len(v)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "stark_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log("run from the repository root: stark_spark/ and "
            "__spark_entry__.py are not in the working directory")
        return 2
    run_dir = os.path.join(HERE, ".run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    bench = None
    try:
        env = pin_environment(run_dir, args.seed)
        sys.path.insert(1, ROOT)
        bench = Bench(args, run_dir, env)
        bench.make_inputs()
        log("inputs ready")
        metrics = bench.run()
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")
    env.update(workload=args.workload, run_id=bench.tracer.run_id)
    print("env " + json.dumps(env, sort_keys=True))
    if args.trace:
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}-"
                                 f"{bench.tracer.run_id}.jsonl")
        bench.tracer.write(path, env)
        print(f"spans {os.path.relpath(path, ROOT)}")
    bench.report_ops()
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
