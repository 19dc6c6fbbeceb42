"""Run independent Spark job chains on one thread each.

A daily batch's tables are independent inside each medallion layer
(the reference's Airflow DAG runs its sources as parallel tasks), and
each table's work is a chain of small Spark jobs whose cost is mostly
driver time: planning, py4j, scheduling, file commits. Operators have
the same shape: independent builds (two index trainings, a truth set
and its candidates) whose driver-side barriers leave the executors
idle. Running each chain on its own thread overlaps that driver time
and lets the small jobs share the executor cores. Operators pass
thunks: ``each_table(spark, operator.call, [build_a, build_b])``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")


def each_table(spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]``, with every call on its own thread.

    Results come back in item order. Every call runs to completion
    before this returns; if any raised, the first in item order is
    re-raised then, so a failing table never cuts short the others.
    Worker threads inherit the caller's Spark local properties (job
    group, scheduler pool), so their jobs are tagged as the caller's.
    """
    items = list(items)
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        # wrapped once per call: the wrapper installs the properties it
        # copied as the thread's own object, so one wrapper shared by
        # all threads would let one table's job group retag another's
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), x) for x in items
        ]
    return [f.result() for f in futures]
