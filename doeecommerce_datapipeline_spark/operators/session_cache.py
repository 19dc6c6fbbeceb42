"""Session-scoped memo caches for trained/fixed-point operator state,
and the one AQE-path materialization.

Several operators share one deterministic computation across registry
faces (the ANN eval index, the lattice k-means assignment, the LPA
fixed point, the quality-classifier fit). Each keeps a module-level
dict that `memo` keys by (applicationId, sf_dir): an applicationId is
never reused, unlike the id() of a dead SparkContext. Unbounded dicts
leak: entries for stopped sessions are dead weight, and live-session
frames pin executor storage for every dataset ever touched in a
long-lived driver. `put` is the single insertion point enforcing the
bound: entries belonging to a DIFFERENT session identity are evicted
(their frames died with their session), and per-session entries are
FIFO-capped so a driver that walks many datasets keeps only the most
recent few.

Ownership: a memo entry owns every DataFrame in its value. Dropping a
live-session entry (FIFO eviction in `put`, or `clear_all`)
unpersists them, so a memoized build may leave persisted frames behind
only inside the value it returns. Entries of a foreign session are
dropped without a JVM call.
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

# max (session, dataset) entries kept per cache for the live session —
# a session touches at most a couple of sf dirs; 4 is generous.
MAX_LIVE_ENTRIES = 4

# Every module-level memo cache registers itself here so a measurement
# harness can empty ALL of them between timed runs (r9 verdict: the
# bench's untimed warm pass populated these, so ~8 timed figures
# measured cache hits instead of computation). Operators never call
# clear_all themselves — intra-query evaluate-once reuse is the point
# of the caches; only the bench's timing loop resets them.
_REGISTERED: list[dict] = []


def register(cache: dict) -> dict:
    """Track `cache` for clear_all(). Returns it for assignment."""
    _REGISTERED.append(cache)
    return cache


def _release(value) -> None:
    """Unpersist every DataFrame in a dropped memo value."""
    for v in value if isinstance(value, (tuple, list)) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


def clear_all() -> None:
    """Empty every registered cache (bench timing hygiene: the next
    query construction recomputes trained/fixed-point state from the
    parquet inputs instead of reading a warm-pass memo), releasing
    the live session's frames."""
    sc = SparkContext._active_spark_context
    live = sc.applicationId if sc is not None else None
    for c in _REGISTERED:
        for k, v in c.items():
            if k[0] == live:
                _release(v)
        c.clear()


def put(cache: dict, key: tuple, value):
    """Insert `value` under `key` (= (session_identity, ...)) and
    enforce the cache bound. Returns `value` for call-site chaining."""
    session_identity = key[0]
    for k in [k for k in cache if k[0] != session_identity]:
        cache.pop(k, None)
    while len(cache) >= MAX_LIVE_ENTRIES:
        _release(cache.pop(next(iter(cache))))
    cache[key] = value
    return value


def memo(cache: dict, spark, sf_dir: str, build):
    """``cache``'s value for (this session, ``sf_dir``); on a miss,
    ``build()`` it and `put` the result."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = cache.get(key)
    return hit if hit is not None else put(cache, key, build())


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` and fill the cache with a noop write; returns it.

    The barrier for a frame that several consumers read. The write
    plans through AQE, where an eager ``localCheckpoint`` plans
    non-adaptively via ``Dataset.rdd``. And the cached frame's
    ``InMemoryTableScan`` advertises its partitioning and ordering to
    the consumers' joins, where a checkpoint's ``Scan ExistingRDD``
    hides it. The caller owns the cache."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df
