"""Standalone per-query timing for the optimization rounds.

Usage:
    python tools/qtime.py [--runs N] name [name...]

Times each named registry query with bench.py's timing core: the same
engine warm-up (``warm_engine``), one untimed warm run per query, then
the min over N cold-state runs (``time_cold``, default 3) of construct
+ execute to the noop sink. Reuses the bench session config so the
numbers are comparable to BENCH_LOCAL figures (same master, same AQE /
shuffle settings); absolute values still differ from the in-sweep table
by the sweep's ambient load, so compare qtime-vs-qtime for a change and
use the full sweep for the committed record. For ``.explain`` dumps
use tools/plandump.py.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import time_cold, warm_engine  # noqa: E402
from doeecommerce_datapipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("qtime", cpus=cpus, shuffle_partitions=cpus)
    warm_engine(spark, sf_dir)

    qs = entrymod.queries()
    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        # one untimed warm run (mirrors the sweep's warm pass)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"{name}: {time_cold(spark, fn, sf_dir, args.runs):.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
