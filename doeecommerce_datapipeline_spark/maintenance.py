"""Table maintenance (SURVEY.md §2.11 C9 — the reference's VACUUM
ANALYZE loop, scripts/cleanup.py:137-176) for the parquet lakehouse:

- compact: rewrite a table's many small files toward a target file
  size (the OPTIMIZE analog). Small-file explosion is the #1 silent
  killer of 100 TB scan throughput — every file is a task + an open.
- table_stats: row/size/null profile per column (the ANALYZE analog —
  feeds humans here; with a real catalog it feeds the CBO).
- clean_staging: remove orphaned __staging/__old dirs a crashed
  _swap_write may leave behind.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks.parquet_sinks import _swap_write
from .sources.rest import RecordsSource

TARGET_FILE_BYTES = 128 * 1024 * 1024


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def compact(spark: SparkSession, path: str, target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Coalesce a table to ceil(size/target) files. Returns the new
    file count. Uses coalesce (no shuffle) — good enough for size
    normalization; use repartition(col) instead when re-clustering."""
    total = dir_bytes(path)
    n_files = max(1, -(-total // target_file_bytes))
    _swap_write(spark, spark.read.parquet(path).coalesce(n_files), path)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def table_stats(spark: SparkSession, path: str) -> DataFrame:
    """Single-pass stats: rows + per-column null counts + distinct
    estimates (HLL — the scalable choice)."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in df.columns:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls__{c}"))
        aggs.append(F.approx_count_distinct(c).alias(f"ndv__{c}"))
    wide = df.agg(*aggs).collect()[0]
    rows = [
        (c, int(wide["__rows"]), int(wide[f"nulls__{c}"]), int(wide[f"ndv__{c}"]))
        for c in df.columns
    ]
    return RecordsSource(
        spark, "column string, row_count long, null_count long, approx_ndv long"
    ).to_df(rows)


def clean_staging(base_dir: str) -> list[str]:
    """Remove leftover staging/backup dirs from interrupted swaps."""
    removed = []
    for p in glob.glob(os.path.join(base_dir, "**", "*__staging_*"), recursive=True) + glob.glob(
        os.path.join(base_dir, "**", "*__old_*"), recursive=True
    ):
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(p)
    return removed
