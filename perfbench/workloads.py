"""The three workloads and the code that times them.

Face workloads time registry faces through the public driver
contract: ``__spark_entry__.queries()[name](spark, sf_dir)`` is the
construct phase and ``df.write.format("noop").save()`` the execute
phase. Each face runs cold: operator memo caches and Spark's SQL cache
are emptied before it. Faces run in an order shuffled by the workload
seed, in whole passes. The first ``WARM_PASSES`` are untimed: they
warm the JIT for each face's code paths, and pass 0 also checks each
face's output. Timed passes follow until the run's time is used (at
least ``MIN_PASSES`` of them).

The medallion workload drives ``pipelines.runner``'s layer functions
(ingest, transform, quality, gold). Each pass starts from an empty
base directory with an untimed initial load, then times one daily
batch that merges into the existing silver tables. Batch records come
from the fixture generators, seeded from the workload seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial

import datagen
from check import row_hash
from spans import LayerShims, Tracer

MIN_PASSES = 1  # timed passes per run
# untimed face passes before the timed ones: the JIT keeps compiling
# the faces' driver-side code paths for a few passes; the first timed
# pass after a single warm-up pass ran ~20% slow and varied most from
# run to run
WARM_PASSES = 2


@dataclass(frozen=True)
class FaceWorkload:
    name: str
    sf: float
    faces: dict[str, tuple[str, ...]]  # face -> the registry tables it scans


@dataclass(frozen=True)
class MedallionWorkload:
    name: str
    n: int  # records per table in the initial load


WORKLOADS = {
    w.name: w
    for w in (
        # construct-bound: eager barriers and driver collects inside
        # operators/* (dedup, graph, retail)
        FaceWorkload(
            "driver_iterative",
            0.001,
            {
                "dedup_components_star": ("documents",),
                "community_modularity": ("lineitem",),
                "copurchase_core_collapse": ("lineitem",),
            },
        ),
        # execute-bound: scans, shuffles, joins, windows, sketches
        FaceWorkload(
            "scan_relational",
            0.03,
            {
                "pricing_summary": ("lineitem",),
                "top_supplier_revenue": ("lineitem", "supplier"),
                "cohort_ltv": ("orders",),
                "session_stats": ("events",),
                "twap_user_day": ("events",),
                "user_activity": ("customer", "orders"),
                "top_products_daily": ("lineitem",),
                "approx_aggregates": ("lineitem",),
            },
        ),
        # write side: records -> bronze -> silver upsert -> quality -> gold
        MedallionWorkload("medallion_batches", n=500),
    )
}

# medallion batch records repeat with period SEED_PERIOD in the
# workload seed, so expected outputs for every seed fit in expected.json
SEED_PERIOD = 8
MEDALLION_TABLES = ("products", "carts", "users", "orders")
# columns that carry the wall clock, left out of the output hashes:
# silver stamps last_updated=now, and gold keys each mart by kpi_date
WALL_CLOCK_COLUMNS = {"silver": ("last_updated",), "gold": ("date",)}


@dataclass
class Sample:
    op: str
    tag: str  # span name prefix "<workload>:<op>"
    wall_s: float
    phases: dict[str, float] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)


@dataclass
class Result:
    samples: list[list[Sample]]  # per pass
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    input_rows_per_pass: float = 0.0
    input_bytes_per_pass: float = 0.0
    outputs: dict = field(default_factory=dict)  # expected.json key -> output hash
    extra: dict = field(default_factory=dict)


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def run_faces(spark, wl: FaceWorkload, sf_dir: str, seed: int, seconds: float,
              tracer: Tracer, expected: dict, trace: bool) -> Result:
    import __spark_entry__ as entry
    from doeecommerce_datapipeline_spark.operators import session_cache

    fns = entry.queries()
    order = list(wl.faces)
    random.Random(seed).shuffle(order)
    rows = datagen.row_counts(wl.sf)
    res = Result(samples=[])
    res.input_rows_per_pass = float(sum(rows[t] for ts in wl.faces.values() for t in ts))
    p, t_start = 0, None
    while p < WARM_PASSES + MIN_PASSES or time.perf_counter() - t_start < seconds:
        pass_samples = []
        for face in order:
            res.attempted += 1
            session_cache.clear_all()
            spark.catalog.clearCache()
            tag = f"{wl.name}:p{p}.{face}"
            try:
                with tracer.span(f"{tag}:construct") as c:
                    df = fns[face](spark, sf_dir)
                with tracer.span(f"{tag}:execute") as e:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed op counts, the run goes on
                res.failed += 1
                res.mismatches.append(f"{face}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            s = Sample(face, tag, c.wall_s + e.wall_s, {"construct": c.wall_s, "execute": e.wall_s})
            if trace:
                s.counts["cached_plans"] = _cache_entries(spark)
                s.counts["session_cache"] = sum(len(d) for d in session_cache._REGISTERED)
            pass_samples.append(s)
            if p == 0:  # untimed output check
                key = f"{wl.name}/{face}"
                got = res.outputs[key] = row_hash(df)
                want = expected.get(key)
                if got != want:
                    res.failed += 1
                    res.mismatches.append(f"{face}: hash {got} != expected {want}")
        p += 1
        if p == WARM_PASSES:
            t_start = time.perf_counter()
        elif p > WARM_PASSES:
            res.samples.append(pass_samples)
    return res


def _silver_gold_hashes(spark, base: str) -> dict[str, str]:
    out = {}
    for layer in ("silver", "gold"):
        for t in sorted(os.listdir(os.path.join(base, layer))):
            df = spark.read.parquet(os.path.join(base, layer, t))
            out[f"{layer}/{t}"] = row_hash(df, exclude=WALL_CLOCK_COLUMNS[layer])
    out["audit/quality_results"] = row_hash(
        spark.read.parquet(os.path.join(base, "audit", "quality_results"))
    )
    return out


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


def _utc_today():
    """Today in the session time zone (UTC), the day silver stamps."""
    return datetime.now(timezone.utc).date()


def _run_batch(spark, runner, base: str, ledger, recs: dict, kpi_date, tracer: Tracer,
               tag: str):
    """One daily batch through the runner's four layer functions.
    Returns the batch span and the quality verdict."""
    tables = list(recs)
    fns = {t: partial(lambda rs: rs, recs[t]) for t in tables}
    with tracer.span(f"{tag}:batch") as s:
        with tracer.span(f"{tag}:ingest"):
            runner.run_ingestion(spark, base, ledger, tables, records_fn=fns)
        with tracer.span(f"{tag}:transform"):
            runner.run_transformation(spark, base, tables)
        with tracer.span(f"{tag}:quality"):
            verdict = runner.run_quality(spark, base)
        with tracer.span(f"{tag}:publish"):
            runner.run_gold(spark, base, kpi_date)
    return s, verdict


def run_medallion(spark, wl: MedallionWorkload, work: str, seed: int, seconds: float,
                  tracer: Tracer, expected: dict, trace: bool) -> Result:
    from doeecommerce_datapipeline_spark.audit.ledger import AuditLedger
    from doeecommerce_datapipeline_spark.pipelines import runner

    family = seed % SEED_PERIOD
    # batch b0 is the initial load: n records per table from fixed seeds.
    # It runs untimed, warming the JIT for the layer code paths. The
    # timed daily batch b1 then carries 1.2 n records per table whose
    # ids cover the initial ids plus 20% new ones, so every silver
    # upsert both replaces and adds rows.
    initial = {t: runner.FIXTURE_FN[t](n=wl.n, seed=i) for i, t in enumerate(MEDALLION_TABLES)}
    n_batch = int(wl.n * 1.2)
    batch = {
        t: runner.FIXTURE_FN[t](n=n_batch, seed=1000 * (family + 1) + 10 + i)
        for i, t in enumerate(MEDALLION_TABLES)
    }
    res = Result(samples=[])
    res.input_rows_per_pass = float(n_batch * len(MEDALLION_TABLES))
    res.input_bytes_per_pass = float(sum(
        len(json.dumps(r, default=str)) for rs in batch.values() for r in rs
    ))
    key = f"{wl.name}/s{family}"
    shims = LayerShims(runner, tracer) if trace else None
    if shims:
        shims.install()
    checked = False
    t_start = time.perf_counter()
    try:
        while (len(res.samples) < MIN_PASSES or time.perf_counter() - t_start < seconds
               or not checked):
            p = len(res.samples)
            base = os.path.join(work, "medallion", f"p{p}")
            shutil.rmtree(base, ignore_errors=True)
            ledger = AuditLedger(spark, f"{base}/audit/ingestion_log")
            if shims:
                ledger = shims.ledger(ledger)
            # gold slices the silver rows whose last_updated falls on
            # kpi_date; silver stamps them now, so gold runs on today
            kpi_date = _utc_today()
            pass_samples, verdicts = [], []
            for b, recs in enumerate([initial, batch]):
                res.attempted += 1
                tag = f"{wl.name}:p{p}.b{b}"
                if shims:
                    shims.prefix = tag
                try:
                    s, verdict = _run_batch(spark, runner, base, ledger, recs, kpi_date,
                                            tracer, tag)
                except Exception as exc:
                    res.failed += 1
                    res.mismatches.append(f"batch {b}: {type(exc).__name__}: {str(exc)[:200]}")
                    break
                verdicts.append(verdict)
                if b > 0:
                    pass_samples.append(Sample(f"b{b}", tag, s.wall_s))
            res.samples.append(pass_samples)
            # untimed output check, on the first pass that ran within
            # one day (a pass across midnight slices part of silver)
            if checked or (pass_samples and _utc_today() != kpi_date):
                continue
            checked = True
            if pass_samples:
                got = {"quality_verdicts": verdicts, **_silver_gold_hashes(spark, base)}
                res.outputs[key] = got
                want = expected.get(key)
                if got != want:
                    res.failed += 1
                    bad = sorted(k for k in got if (want or {}).get(k) != got[k])
                    res.mismatches.append(f"{key}: differs in {bad}")
                store_bytes, store_files = _dir_usage(base)
                res.extra.update(store_bytes=store_bytes, store_files=store_files)
    finally:
        if shims:
            shims.remove()
    if shims:  # bronze counts of the timed batches only
        counts = [shims.bronze[s.tag] for ps in res.samples for s in ps]
        loaded = sum(c[0] for c in counts)
        attempted = sum(c[0] + c[1] for c in counts)
        res.extra["bronze_loaded_ratio"] = loaded / attempted if attempted else 0.0
    return res


def pass_medians(res: Result) -> dict[str, float]:
    """Per-op medians over passes; ``wall_s`` of one pass is their sum."""
    by_op: dict[str, list[float]] = {}
    for ps in res.samples:
        for s in ps:
            by_op.setdefault(s.op, []).append(s.wall_s)
    return {op: statistics.median(v) for op, v in by_op.items()}
