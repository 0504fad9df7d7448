"""Benchmark of the package's LLM-data-pipeline and training-data-prep
layers. Run from the repository root:

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 4 --trace 0

One run is one fresh driver process on ``local[<cores>]``. It generates the
seed's inputs under ``.perfbench/`` (untimed), sets up (session, one-time
program work, one untimed warm-up pass that also collects every op's
output), then times closed-loop passes over the workload's queries for at
least ``--seconds`` seconds. Outside timing it checks each collected output
against the query's registered DuckDB oracle. The last line of standard
output is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics from a traced run with ``--trace 1``. Any failed op or oracle
mismatch makes the run exit 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import inputs
from procmem import PeakRss, descendants
from tracer import Tracer, per_layer_names
from workloads import EXCLUDED_MODELS_IMPORT, PACKAGE, WORKLOADS, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one driver JVM holds the driver and every executor thread. 1g is ample for
# these inputs; a heap this size fills in every run, so peak memory varies
# less with when the collector chose to grow it
DRIVER_MEM = "1g"
# timed passes per run at least; a traced run alternates untraced and traced
MIN_PASSES = 4
# A run times 20-28 ops. p75 leaves 5-7 samples beyond it, so it does not
# rest on the slowest query's few samples; ten beyond would need p50 here.
TAIL_PCT = 75


def percentile(values: list[float], pct: int) -> float:
    """Linearly interpolated percentile (numpy's default)."""
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def pin_environment(work: str) -> int:
    """Keep every file Spark, Python workers and DuckDB write under ``work``
    and make workers import the package from this checkout whatever the
    caller's working directory. Returns the core count used."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_IO_DIR=os.path.join(work, "io"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the launcher JVM spark-submit starts first; without this flag
        # every JVM writes /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    return cores


class Ops:
    """Runs a workload's ops. A query that fails once is never called
    again in this process: a retry could succeed only because the failed
    attempt left a half-imported module behind."""

    def __init__(self, spark, w: Workload, sf_dir: str, out_dir: str, tracer: Tracer | None):
        from dask_recommender_system_spark import sources
        from dask_recommender_system_spark.registry import REGISTRY

        self.spark, self.w, self.sf_dir, self.out_dir = spark, w, sf_dir, out_dir
        self.tracer = tracer
        self.write_parquet = sources.write_parquet
        self.fns = {q: REGISTRY[q].fn for q in w.queries}
        self.layers = {q: fn.__module__.removeprefix(PACKAGE + ".") for q, fn in self.fns.items()}
        self.failed: dict[str, str] = {}
        self.attempted = 0

    def _sink(self, df, q: str) -> None:
        if self.w.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            self.write_parquet(df, os.path.join(self.out_dir, q))

    def _fail(self, q: str, e: Exception) -> None:
        self.failed[q] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
        log(f"op {q} failed: {self.failed[q]}")

    def collect_pass(self) -> dict:
        """The untimed warm-up pass: every op's full output as pandas."""
        frames, took = {}, {}
        for q in self.w.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                frames[q] = self.fns[q](self.spark, self.sf_dir).toPandas()
            except Exception as e:  # an op failure is a result, not a crash
                self._fail(q, e)
            took[q] = round(time.perf_counter() - t0, 3)
        log(f"warm-up op seconds {took}")
        return frames

    def timed_pass(self, label: str, traced: bool) -> tuple[float, list[float]]:
        """One pass; returns its wall time and each op's wall time."""
        op_s = []
        p0 = time.perf_counter()
        for q in self.w.queries:
            if q in self.failed:
                continue
            self.attempted += 1
            try:
                if traced:
                    op_s.append(self._traced_op(q, f"{label}.{q}"))
                else:
                    t0 = time.perf_counter()
                    self._sink(self.fns[q](self.spark, self.sf_dir), q)
                    op_s.append(time.perf_counter() - t0)
            except Exception as e:
                self._fail(q, e)
        return time.perf_counter() - p0, op_s

    def _traced_op(self, q: str, op_id: str) -> float:
        with self.tracer.group(op_id):
            t0 = time.time()
            df = self.fns[q](self.spark, self.sf_dir)
            t1 = time.time()
            self._sink(df, q)
            t2 = time.time()
        self.tracer.record_op(self.layers[q], q, op_id, t0, t1, t2, self.w.sink == "parquet")
        return t2 - t0


def check_outputs(w: Workload, frames: dict, sf_dir: str, tables: list[str], work: str) -> dict:
    """Compare each collected output with its query's DuckDB oracle."""
    import duckdb
    from oracle_util import compare

    from dask_recommender_system_spark.data import RATINGS_SQL
    from dask_recommender_system_spark.registry import REGISTRY

    problems: dict[str, list[str]] = {}
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory='{work}/duckdb'")
        con.sql("SET memory_limit='2GB'")
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        if w.ratings_view:
            # the oracles inline the ratings derivation (an md5 per row);
            # evaluate that same SQL once and let each oracle read the result
            con.sql(f"CREATE TABLE perfbench_ratings AS {RATINGS_SQL}")
        for q, pdf in frames.items():
            sql = REGISTRY[q].oracle
            if sql is None:
                problems[q] = [f"{q}: no oracle registered"]
                continue
            if w.ratings_view:
                sql = sql.replace(RATINGS_SQL, "SELECT * FROM perfbench_ratings")
            found = compare(pdf, con.sql(sql).df(), q)
            if found:
                problems[q] = found
    finally:
        con.close()
    return problems


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for it and every
    process it started (the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def environment(spark, cores: int) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "master": spark.sparkContext.master,
        "cores": cores,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def run(w: Workload, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, bool]:
    cores = pin_environment(work)
    sf_dir = os.path.join(work, "data")
    rows = inputs.generate(sf_dir, seed, w.sizes)
    tables = list(rows)
    rows["ratings"] = rows["lineitem"]  # one rating per line item
    rows_per_pass = sum(rows[t] for _, reads in w.ops for t in reads)
    log(
        f"workload {w.name}: {len(w.ops)} ops/pass, sink {w.sink}, input rows {rows}, "
        f"near-duplicate rate {w.sizes.near_dup_rate:.2f}, rows per pass {rows_per_pass}"
    )

    # set-up: everything from here until the first timed pass can begin
    setup0 = time.perf_counter()
    from pyspark import SparkContext

    from dask_recommender_system_spark import data
    from dask_recommender_system_spark.session import get_spark

    for m in w.modules:
        importlib.import_module(f"{PACKAGE}.{m}")
    g0 = time.time()
    spark = get_spark("perfbench")
    g1 = time.time()
    rss = PeakRss(SparkContext._gateway.proc.pid)
    tracer = Tracer(spark, cores) if trace else None
    try:
        env = environment(spark, cores)
        log(f"env {json.dumps(env)}")
        ingest_s = ingest_mb = 0.0
        if w.ratings_view:
            r0 = time.time()
            if tracer:
                with tracer.group("setup.data.ratings_cached"):
                    data.ratings_cached(spark, sf_dir)
                r1 = time.time()
                span = tracer.add("data.ratings_cached", "setup", r0, r1)
                ingest_mb = tracer.job_totals("setup.data.ratings_cached", [span]).output_mb
            else:
                data.ratings_cached(spark, sf_dir)
                r1 = time.time()
            ingest_s = r1 - r0
        ops = Ops(spark, w, sf_dir, os.path.join(work, "out"), tracer)
        w0 = time.perf_counter()
        frames = ops.collect_pass()
        warmup_s = time.perf_counter() - w0
        setup_s = time.perf_counter() - setup0
        log(
            f"set-up {setup_s:.3f} s: session {g1 - g0:.3f} s, ratings view {ingest_s:.3f} s, "
            f"warm-up pass {warmup_s:.3f} s"
        )

        passes: dict[bool, list[float]] = {False: [], True: []}
        op_times: list[float] = []
        clear_cache_calls = 0
        t0 = time.perf_counter()
        while (
            len(passes[False]) + len(passes[True]) < MIN_PASSES
            or time.perf_counter() - t0 < seconds
        ):
            if passes[False] or passes[True]:
                spark.catalog.clearCache()  # between passes only
                clear_cache_calls += 1
            n = len(passes[False]) + len(passes[True])
            traced = trace and n % 2 == 1  # traced runs alternate, untraced first
            p_s, o_s = ops.timed_pass(f"pass{n}", traced)
            passes[traced].append(p_s)
            if not traced:
                op_times.extend(o_s)
            kind = "traced" if traced else "untraced"
            log(f"pass {n} {kind} {p_s:.3f} s, ops {[round(x, 3) for x in o_s]}")
        timed_s = time.perf_counter() - t0

        c0 = time.perf_counter()
        problems = check_outputs(w, frames, sf_dir, tables, work)
        models_loaded = sorted(m for m in sys.modules if m.startswith(f"{PACKAGE}.models"))
        if models_loaded:
            problems["models-import"] = [f"{PACKAGE}.models was imported: {models_loaded}"]
        failed = len(set(ops.failed) | set(problems))
        for q, found in problems.items():
            for p in found:
                log(f"CHECK FAILED {p}")
        n_checked = len(frames) - len(set(frames) & set(problems))
        log(
            f"oracle checks: {n_checked}/{len(w.queries)} outputs match "
            f"({time.perf_counter() - c0:.1f} s)"
        )
    finally:
        peak_rss_mb = rss.stop()
        s0 = time.perf_counter()
        stop_spark(spark)
        log(f"session stopped in {time.perf_counter() - s0:.1f} s")

    untraced = passes[False]
    if not op_times:
        raise RuntimeError(f"every op of {w.name} failed: {ops.failed}")
    pass_s = statistics.median(untraced)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (rows_per_pass / pass_s, "rows/s"),
        "op_s_p50": (statistics.median(op_times), "s"),
        "op_s_tail": (percentile(op_times, TAIL_PCT), "s"),
        "failed_ops_share": (failed / ops.attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    log(
        "end-to-end: "
        + ", ".join(f"{k} {v:.4f} {u}" for k, (v, u) in e2e.items())
        + f" | peak RSS: JVM {rss.root_mb:.0f} MB + Python workers {rss.below_mb:.0f} MB"
        + f" | op_s_tail is p{TAIL_PCT} of {len(op_times)} ops "
        f"({len(op_times) - math.ceil(TAIL_PCT / 100 * len(op_times))} beyond it), "
        f"{len(untraced)} untraced passes "
        f"in {timed_s:.1f} s, clearCache between passes {clear_cache_calls}x"
    )
    if trace:
        layer = tracer.layer_metrics(len(passes[True]))
        layer["session.get_spark_s"] = g1 - g0
        layer["data.ratings_ingest_s"] = ingest_s
        layer["data.ratings_ingest_mb"] = ingest_mb
        layer["trace.overhead_s"] = statistics.median(passes[True]) - pass_s
        for kind, s in sorted(tracer.self_time_summary().items()):
            log(f"self time {kind}: {s:.3f} s")
        log(
            f"tracing overhead {layer['trace.overhead_s']:.4f} s per pass "
            f"(traced {statistics.median(passes[True]):.4f} s, untraced {pass_s:.4f} s)"
        )
        path = os.path.join(ROOT, ".perfbench", f"trace-{w.name}-seed{seed}.json")
        tracer.write(path, {"workload": w.name, "seed": seed, "env": env})
        log(f"spans written to {os.path.relpath(path, ROOT)}")
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit in per_layer_names()}
    else:
        metrics = {
            k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k != "failed_ops_share"
        }
    correct = failed == 0
    return {
        "correct": correct,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": metrics,
    }, correct


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_util.py")
    ):
        print(f"perfbench: no {PACKAGE} source tree next to perfbench/", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    log(f"kept out, they import the broken models package: {sorted(EXCLUDED_MODELS_IMPORT)}")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, correct = run(w, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
