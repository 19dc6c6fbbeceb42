"""Full-registry local oracle sweep — the end-of-round insurance gate.

Runs EVERY oracle-paired registry entry at sf0.01 (the driver's
correctness scale, not just the 50-entry window) plus the driver-style
canonicalization (pandas sort + value hash) of every rows-only entry,
and writes a JSON report. Intended to be run from a NEUTRAL cwd (e.g.
/tmp) with a bare session so cwd-relative or session-config-dependent
bugs surface the way they would in the driver's harness:

    cd /tmp && python /root/repo/tools/sweep_oracle.py

Exit code 0 only if every entry is green.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from doeecommerce_datapipeline_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, decimal_columns  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")
    out_path = os.environ.get(
        "SPARK_GRAFT_SWEEP_OUT", os.path.join("/tmp", "sweep_oracle.json")
    )
    spark = get_spark("sweep-oracle")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # resume/partition knob for long sweeps at big SFs: skip the first
    # N entries (they were covered by an earlier partial run)
    skip = int(os.environ.get("SPARK_GRAFT_SWEEP_SKIP", "0"))
    if skip:
        names_in_order = list(queries)
        queries = {k: queries[k] for k in names_in_order[skip:]}
    # targeted-verification knob (r9 optimization round): run ONLY the
    # named entries — used to oracle-verify each changed query at
    # several SFs without paying a full sweep per edit. The end-of-round
    # insurance sweep still runs the full registry.
    only = {
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_SWEEP_NAMES", "").split(",")
        if n.strip()
    }
    if only:
        unknown = only - set(queries)
        if unknown:
            raise SystemExit(f"unknown SWEEP_NAMES entries: {sorted(unknown)}")
        queries = {k: v for k, v in queries.items() if k in only}
    report: dict[str, dict] = {}
    # documented twin-skips for big-SF sweeps: entries whose DuckDB
    # twin (or the row-set comparator itself) is infeasible at the
    # target SF — e.g. part_match_blocking at sf1, whose OUTPUT under
    # the exact-clone replica model is ~100M pairs. Each skip is
    # recorded in the report as 'twin_skip', never silently dropped.
    skip_names = {
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_SWEEP_SKIP_NAMES", "").split(",")
        if n.strip()
    }
    # resume knob: entries already adjudicated green/rows_only_ok in a
    # prior report at the SAME sf_dir are carried over, not re-run
    # (robust to registry reordering, unlike the positional skip)
    base: dict[str, dict] = {}
    base_path = os.environ.get("SPARK_GRAFT_SWEEP_BASE")
    if base_path and os.path.exists(base_path):
        with open(base_path) as f:
            prior = json.load(f)
        if prior.get("summary", {}).get("sf_dir") == sf_dir:
            base = {
                k: v
                for k, v in prior.get("entries", {}).items()
                if v.get("status") in ("green", "rows_only_ok")
            }
    n_red = 0
    t_start = time.time()
    for i, (name, fn) in enumerate(queries.items(), 1):
        t0 = time.time()
        if name in skip_names:
            report[name] = {
                "status": "twin_skip",
                "detail": "documented twin-skip (SPARK_GRAFT_SWEEP_SKIP_NAMES)",
                "sec": 0.0,
            }
            print(f"[{i}/{len(queries)}] {name}: twin_skip", flush=True)
            continue
        if name in base:
            report[name] = {**base[name], "carried": True}
            print(f"[{i}/{len(queries)}] {name}: carried", flush=True)
            continue
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                problems = compare(df, oracles[name], sf_dir)
                status = "green" if not problems else "red"
                detail = "; ".join(problems)
            else:
                # rows-only: mirror the driver's canonicalization so an
                # unhashable output shape fails here, not in the window
                import pandas as pd

                pdf = df.toPandas()
                if len(pdf):
                    pdf = pdf.sort_values(
                        by=list(pdf.columns), kind="mergesort"
                    )
                pd.util.hash_pandas_object(pdf, index=False)
                status, detail = "rows_only_ok", f"{len(pdf)} rows"
                dec = decimal_columns(dict(df.dtypes))
                if dec:
                    status, detail = "red", f"DECIMAL output columns {dec}"
        except Exception as exc:  # noqa: BLE001 — report, don't die
            status, detail = "error", f"{type(exc).__name__}: {exc}"
        if status in ("red", "error"):
            n_red += 1
        report[name] = {
            "status": status,
            "detail": detail[:500],
            "sec": round(time.time() - t0, 2),
        }
        print(f"[{i}/{len(queries)}] {name}: {status}", flush=True)
        # incremental checkpoint: long big-SF sweeps must survive a
        # crash/kill mid-run — the partial report is the resume base
        with open(out_path + ".partial", "w") as f:
            json.dump(
                {
                    "summary": {"sf_dir": sf_dir, "partial_after": name},
                    "entries": report,
                },
                f,
                indent=1,
            )
    summary = {
        "sf_dir": sf_dir,
        "n_entries": len(queries),
        "n_oracle_paired": sum(1 for n in queries if n in oracles),
        "n_red": n_red,
        "total_sec": round(time.time() - t_start, 1),
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "entries": report}, f, indent=1)
    print(json.dumps(summary))
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
