"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload driver_iterative --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The program under test is imported from
the current directory; everything the run writes (generated tables,
Spark scratch, warehouse, event logs, medallion stores) goes under
``.perfbench/`` there.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` turns on
Spark's event log and prints the per-layer metrics. Before the JSON
line, every metric is also printed as ``# name = value unit``.
``--record`` stores the run's output hashes as the expected ones.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import defaultdict

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _environment() -> None:
    """Box-fit session settings; the program reads these at build."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(WORK, "spark-local"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)
    # spark-warehouse/ and derby.log land in the working directory
    os.chdir(WORK)


def _warm_engine(spark) -> None:
    """Exercise each engine class once (hash aggregate, broadcast join,
    window, explode, parquet write/read) so JIT compilation is not
    billed to the first timed op."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.range(20_000).selectExpr("id", "id % 97 AS k", "id * 1.5D AS v")
    dim = spark.range(97).selectExpr("id AS k", "id * 2 AS d")
    w = Window.partitionBy("k").orderBy("id")
    (
        r.join(F.broadcast(dim), "k", "left")
        .withColumn("rn", F.row_number().over(w))
        .select("k", F.explode(F.array("v", "d", "rn")).alias("x"))
        .groupBy("k")
        .agg(F.sum("x"), F.countDistinct("x"))
        .collect()
    )
    path = os.path.join(WORK, "warm.parquet")
    r.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(F.max("v")).collect()


def _setup(extra_conf: dict, sf_dir: str | None):
    """Build the session SETUP_REPS times (stopping the previous one),
    each time warming table footers and the engine. Returns the last
    session and the median time of each setup part."""
    from doeecommerce_datapipeline_spark.io import TABLES, table
    from doeecommerce_datapipeline_spark.session import get_spark

    spark, parts = None, {"setup_s": [], "session.get_spark_s": [], "io.warm_s": []}
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra_conf)
        t1 = time.perf_counter()
        if sf_dir:  # resolving a parquet scan reads the file footer
            for t in TABLES:
                table(spark, sf_dir, t)
        t2 = time.perf_counter()
        _warm_engine(spark)
        t3 = time.perf_counter()
        parts["setup_s"].append(t3 - t0)
        parts["session.get_spark_s"].append(t1 - t0)
        parts["io.warm_s"].append(t2 - t1)
    return spark, {k: statistics.median(v) for k, v in parts.items()}


def _calibrate(spark) -> float:
    """A fixed pure-Spark job; its time tracks the host, not the program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 4).selectExpr("sum(hash(id) % 1000)").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class PeakRss:
    """Resident memory of the driver JVM plus this process, sampled
    every 20 ms while the workload runs. The kernel's VmHWM would also
    count the set-up before it."""

    def __init__(self, spark) -> None:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.pids = (jvm_pid, os.getpid())
        self.start_mb = self.peak_mb = self._rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _rss_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:"))
        return kb / 1024.0

    def _poll(self) -> None:
        while not self._stop.wait(0.02):
            self.peak_mb = max(self.peak_mb, self._rss_mb())

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._rss_mb())


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(res, setup: dict, rss_mb: float) -> dict[str, float]:
    wall = sum(workloads.pass_medians(res).values())
    pooled = [s.wall_s for ps in res.samples for s in ps]
    return {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "op_p50_s": _quantile(pooled, 0.5),
        "op_p90_s": _quantile(pooled, 0.9),
        "rows_per_s": res.input_rows_per_pass / wall,
        "peak_rss_mb": rss_mb,
    }


def _pass_totals(samples, stats: dict, span_wall: dict) -> dict[str, float]:
    """Layer totals over one pass's ops."""
    from spans import GroupStats

    t: dict[str, float] = defaultdict(float)
    for s in samples:
        def g(phase: str) -> GroupStats:
            return stats.get(f"{s.tag}:{phase}", GroupStats())

        if "construct" in s.phases:
            c, e = g("construct"), g("execute")
            wc, we = s.phases["construct"], s.phases["execute"]
            t["operators.construct_s"] += wc
            t["operators.construct_jobs"] += c.jobs
            t["operators.construct_stages"] += c.stages
            t["operators.construct_tasks"] += c.tasks
            t["operators.construct_driver_gap_s"] += max(wc - c.busy_s(), 0.0)
            t["operators.leaked_cached_plans"] += s.counts.get("cached_plans", 0)
            t["operators.session_cache_entries"] += s.counts.get("session_cache", 0)
            t["execute.noop_s"] += we
            t["execute.jobs"] += e.jobs
            t["execute.stages"] += e.stages
            t["execute.tasks"] += e.tasks
            t["execute.executor_run_s"] += e.executor_run_ms / 1000.0
            t["execute.driver_gap_s"] += max(we - e.busy_s(), 0.0)
            t["execute.shuffle_write_mb"] += e.shuffle_write_bytes / 2**20
            t["execute.shuffle_read_mb"] += e.shuffle_read_bytes / 2**20
            t["execute.spill_mb"] += e.spill_bytes / 2**20
            continue
        for layer, name in (("to_df", "sources.to_df"), ("bronze", "pipelines.bronze"),
                            ("silver", "pipelines.silver"), ("quality", "quality.checks"),
                            ("gold", "pipelines.gold"), ("ledger", "audit.ledger")):
            t[f"{name}_s"] += span_wall.get(f"{s.tag}:{layer}", 0.0)
            if layer not in ("to_df", "ledger"):
                t[f"{name}_jobs"] += g(layer).jobs
        t["output_bytes"] += sum(
            st.output_bytes for name, st in stats.items() if name.startswith(f"{s.tag}:")
        )
    return t


def per_layer(res, stats: dict, span_wall: dict, setup: dict, calib_s: float,
              wall_s: float) -> dict[str, float]:
    """Per-pass layer totals (median over timed passes); a layer the
    workload does not run reads 0."""
    passes = [_pass_totals(ps, stats, span_wall) for ps in res.samples]
    m = {k: statistics.median(p.get(k, 0.0) for p in passes) for k in PER_LAYER_UNITS}
    in_bytes = res.input_bytes_per_pass
    m.update({
        "session.get_spark_s": setup["session.get_spark_s"],
        "io.warm_s": setup["io.warm_s"],
        "host.calib_s": calib_s,
        "trace.wall_s": wall_s,
        "pipelines.bronze_loaded_ratio": res.extra.get("bronze_loaded_ratio", 0.0),
        "sinks.bytes_written_per_input_byte":
            statistics.median(p["output_bytes"] for p in passes) / in_bytes if in_bytes else 0.0,
        "sinks.store_bytes_per_input_byte":
            res.extra.get("store_bytes", 0) / in_bytes if in_bytes else 0.0,
        "sinks.store_files": res.extra.get("store_files", 0),
    })
    return m


PER_LAYER_UNITS = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.construct_stages": "count", "operators.construct_tasks": "count",
    "operators.construct_driver_gap_s": "s", "operators.leaked_cached_plans": "count",
    "operators.session_cache_entries": "count",
    "execute.noop_s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.executor_run_s": "s", "execute.driver_gap_s": "s",
    "execute.shuffle_write_mb": "MB", "execute.shuffle_read_mb": "MB", "execute.spill_mb": "MB",
    "sources.to_df_s": "s", "pipelines.bronze_s": "s", "pipelines.bronze_jobs": "count",
    "pipelines.bronze_loaded_ratio": "ratio", "pipelines.silver_s": "s",
    "pipelines.silver_jobs": "count", "quality.checks_s": "s", "quality.checks_jobs": "count",
    "pipelines.gold_s": "s", "pipelines.gold_jobs": "count", "audit.ledger_s": "s",
    "sinks.bytes_written_per_input_byte": "ratio", "sinks.store_bytes_per_input_byte": "ratio",
    "sinks.store_files": "count",
    "session.get_spark_s": "s", "io.warm_s": "s", "host.calib_s": "s", "trace.wall_s": "s",
}


def _become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's Python workers outlive the
    JVM that forked them) so they can be reaped before exit."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def _stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session, let its JVM exit and wait for it, then
    terminate and reap every remaining descendant, so nothing the run
    started outlives it."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception as e:  # still take the JVM down
            print(f"# spark stop failed: {e!r}", file=sys.stderr)
        gateway, proc = SparkContext._gateway, getattr(SparkContext._gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(grace_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="store output hashes as expected")
    args = ap.parse_args(argv)

    _become_subreaper()
    try:
        return _run(args)
    finally:
        _stop_processes()


def _run(args) -> int:
    wl = workloads.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    _environment()

    is_faces = isinstance(wl, workloads.FaceWorkload)
    sf_dir = datagen.ensure(os.path.join(WORK, "data"), wl.sf) if is_faces else None
    extra_conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap size, so GC never resizes it. -Xms commits the
        # heap without touching it: RSS still follows what GC touches.
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
    }
    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{args.seed}-{os.getpid()}")
    if args.trace:  # keep only the latest traced run's event log
        shutil.rmtree(os.path.dirname(log_dir), ignore_errors=True)
        extra_conf.update(spans.event_log_conf(log_dir))

    spark, setup = _setup(extra_conf, sf_dir)
    calib_s = _calibrate(spark)
    tracer = spans.Tracer(spark.sparkContext)
    expected = check.load_expected()
    with PeakRss(spark) as rss:
        if is_faces:
            res = workloads.run_faces(spark, wl, sf_dir, args.seed, args.seconds,
                                      tracer, expected, bool(args.trace))
        else:
            res = workloads.run_medallion(spark, wl, WORK, args.seed, args.seconds,
                                          tracer, expected, bool(args.trace))
    _stop_processes()  # before any output: nothing may outlive the result line

    if args.record:
        check.save_expected({**expected, **res.outputs})

    for msg in res.mismatches:
        print(f"# FAILED {msg}", file=sys.stderr)
    if not any(res.samples):
        print("# no op completed", file=sys.stderr)
        return 1
    e2e = end_to_end(res, setup, rss.peak_mb)
    if args.trace:
        span_wall: dict[str, float] = defaultdict(float)
        for s in tracer.spans:
            span_wall[s.name] += s.wall_s
        stats = spans.read_event_log(log_dir, tracer.spans)
        metrics = per_layer(res, stats, span_wall, setup, calib_s, e2e["wall_s"])
        units = PER_LAYER_UNITS
    else:
        metrics, units = e2e, END_TO_END_UNITS

    n_samples = sum(len(ps) for ps in res.samples)
    print(f"# workload={wl.name} seed={args.seed} passes={len(res.samples)} "
          f"op_samples={n_samples} cpus={os.environ['SPARK_GRAFT_CPUS']} "
          f"run_s={time.perf_counter() - T_START:.1f}")
    print(f"# rss_before_workload_mb = {rss.start_mb:.6g} MB")
    print(f"# error_rate = {res.failed / res.attempted:.4f} ratio "
          f"({res.failed} failed of {res.attempted} attempted)")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    correct = res.failed == 0 and bool(res.outputs)
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
