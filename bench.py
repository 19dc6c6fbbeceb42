"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (construct + plan + execute to a noop
sink); the reported figure is the min of 2 consecutive runs, which
strips one-shot codegen-compile cost and host noise and reports the
engine's reproducible steady-state throughput.

Every timed run starts cold (``time_cold``): the operator memo caches
and Spark's SQL cache are emptied first, so each figure measures
computation from the parquet inputs rather than a warm-pass cache hit.
``warm_engine`` and ``time_cold`` are the timing core shared with
tools/qtime.py.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from doeecommerce_datapipeline_spark.io import TABLES, table  # noqa: E402
from doeecommerce_datapipeline_spark.operators import (  # noqa: E402
    session_cache,
)
from doeecommerce_datapipeline_spark.session import get_spark  # noqa: E402


def warm_engine(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM/codegen/parquet-footer paths once so the first timed
    query doesn't absorb session startup: read every table's footer and
    exercise each execution-engine class once (hash agg, broadcast
    join, window, explode), so C2/codegen compilation of those code
    paths isn't billed to whichever query runs first — measured ~4x
    inflation on the first agg-heavy query without this."""
    for t in TABLES:
        table(spark, sf_dir, t).limit(1).collect()
    li = table(spark, sf_dir, "lineitem").limit(10_000)
    li.agg(F.sum("l_quantity"), F.countDistinct("l_orderkey")).collect()
    n = table(spark, sf_dir, "nation")
    li.join(F.broadcast(n), li.l_suppkey == n.n_nationkey, "left").count()
    li.select(
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy("l_linenumber"))
        .alias("rn")
    ).count()
    li.select(F.explode(F.array("l_quantity", "l_tax"))).count()


def time_cold(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    runs: int,
) -> float:
    """Min wall seconds over ``runs`` cold-state runs of ``fn``: construct
    plus execute to the noop sink.

    Cold state: before every run the operator memo caches
    (session_cache: LPA fixed point, lattice k-means, ANN index and
    truth, quality-classifier fit) and Spark's SQL cache are emptied.
    Otherwise a run times cache hits on an earlier run's trained state
    or on its persisted intermediates, which the CacheManager matches
    across constructions by plan semantics. The timed region includes
    construction: iterative operators materialize per-round state at
    build time, and that work must not escape the clock. The noop sink
    executes every expression distributed-side without funnelling rows
    through the py4j driver socket. Min of N: run-to-run variance on a
    noisy host is 35-50% (one-shot codegen compiles, co-tenant load);
    the min is the engine's reproducible throughput."""
    best = None
    for _ in range(runs):
        session_cache.clear_all()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return best


def newest_record(repo_dir: str, exclude: str | None = None) -> str | None:
    """Path of the newest committed round record in ``repo_dir``: the
    ``BENCH_LOCAL_r<N>.json`` with the largest N. Suffixed variants
    (``BENCH_LOCAL_r<N>_<tag>.json``) are not round records and never
    match. ``exclude`` (the file a running bench writes) is never a
    candidate. None when no record exists."""
    out_abs = os.path.abspath(exclude) if exclude else None
    cands = []
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", fn)
        path = os.path.join(repo_dir, fn)
        if m and os.path.abspath(path) != out_abs:
            cands.append((int(m.group(1)), path))
    return max(cands)[1] if cands else None


def _prior_timings(
    repo_dir: str, sf: float | None, out_file: str | None
) -> dict[str, float]:
    """Previous round's committed per-query map (``newest_record``),
    used by the outlier re-time pass. Returns {} when no prior round
    exists or the prior record was taken at a different scale factor
    (cross-SF times aren't comparable). The file THIS run writes
    (out_file) is never a candidate — a mid-round re-run must compare
    against the committed cross-round record, not its own first
    attempt (caught live in r7: the second run inherited the first
    run's contention spikes as 'priors' and skipped re-timing them)."""
    path = newest_record(repo_dir, out_file)
    if path is None:
        return {}
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {}
    if doc.get("sf") != sf:
        return {}
    return dict(doc.get("queries", {}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    warm_engine(spark, sf_dir)

    # Full untimed warm pass: JIT keeps compiling engine classes across
    # the first ~30 queries, so whichever entries run first absorb 2-4x
    # inflation. One warm execution of every query makes the timed
    # figures position-independent steady-state throughput.
    # FIXED alphabetical execution order, independent of the registry's
    # driver order: the r6 position audit measured a late-position tax
    # (median 1.22x, mean 1.86x on queries moved by >50 slots — JVM/GC
    # state accumulates over ~660 executions), so registry-order timing
    # made every reorder look like regressions.
    ordered = sorted(entrymod.queries().items())
    for name, fn in ordered:
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # the timed loop surfaces real failures

    timings: dict[str, float] = {}
    for name, fn in ordered:
        timings[name] = round(time_cold(spark, fn, sf_dir, 2), 4)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    # Outlier re-time pass (r6 verdict #3): ~12 s of the committed r6
    # table was host-contention noise (large_volume_customers 7.22 s
    # committed vs 0.70 s standalone) — numbers known to be 10x wrong
    # must not ship with a prose footnote. Any entry whose sweep time
    # exceeds 3x its previous-round BENCH_LOCAL figure (and 0.3 s
    # absolute, so sub-100ms jitter doesn't trigger) gets one
    # standalone re-time at the END of the sweep, after the in-process
    # co-tenant load has drained; the recorded figure is the min. The
    # full-map file lists which entries were re-timed and their
    # original sweep figures.
    fns = dict(ordered)
    prior = _prior_timings(
        os.path.dirname(os.path.abspath(__file__)),
        sf,
        os.environ.get("SPARK_GRAFT_BENCH_OUT"),
    )
    retimed: dict[str, float] = {}
    for name in sorted(timings):
        p = prior.get(name)
        if p is None or timings[name] <= max(3 * p, 0.3):
            continue
        best = time_cold(spark, fns[name], sf_dir, 2)
        retimed[name] = timings[name]
        timings[name] = round(min(timings[name], best), 4)
        print(
            f"# retime {name}: sweep {retimed[name]:.3f}s -> "
            f"{timings[name]:.3f}s (prior {p:.3f}s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    line = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if retimed:
        line["retimed_sweep_figures"] = retimed
    # the driver's BENCH_r{N}.json capture keeps only a ~2 KB tail of
    # stdout, and the full 331-query map is ~12 KB — printing it LAST
    # truncated its head and left five rounds of `parsed: null` in the
    # driver record. Persist the full map to a file (round closes
    # commit it as BENCH_LOCAL_r{N}.json), echo it to stderr for the
    # log, and make the LAST stdout line a short parseable summary:
    # same schema, but `queries` holds only the 10 slowest entries so
    # the line stays well under the tail window.
    out_file = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_file:
        with open(out_file, "w") as f:
            json.dump(line, f, indent=1, sort_keys=True)
    print(json.dumps(line), file=sys.stderr)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
