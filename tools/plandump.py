"""Plan-only capture: write ``DIR/<name>_<TAG>.txt`` with the
``.explain(formatted)`` output for each named registry query, without
running the query's own action (construction + Catalyst only — safe to
run under ambient load, unlike tools/qtime.py whose numbers need an
idle box; see the NOTE below for the eager-construction exception).

Usage:
    python tools/plandump.py --plans /tmp/plans --tag before name [name...]

NOTE: queries whose construction itself runs jobs (eager
localCheckpoints, driver-side training loops, bounded collects) DO
execute those during capture; the dump is still correct — it is the
plan of the returned DataFrame.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from doeecommerce_datapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", required=True)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("plandump", cpus=cpus, shuffle_partitions=cpus)
    qs = entrymod.queries()
    os.makedirs(args.plans, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = os.path.join(args.plans, f"{name}_{args.tag}.txt")
        with open(out, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
