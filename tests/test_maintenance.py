"""C6/C7/C9 coverage: config substitution, compaction, stats,
staging cleanup, backfill verification."""

import os
from datetime import datetime

from doeecommerce_datapipeline_spark.config import load_config
from doeecommerce_datapipeline_spark.maintenance import (
    clean_staging,
    compact,
    table_stats,
)
from doeecommerce_datapipeline_spark.pipelines.backfill import backfill_window


def test_config_env_substitution(tmp_path, monkeypatch):
    monkeypatch.setenv("DB_HOST", "warehouse-1")
    monkeypatch.delenv("MISSING_VAR", raising=False)
    p = tmp_path / "cfg.yml"
    p.write_text(
        "database:\n  host: ${DB_HOST}\n  url: jdbc://${DB_HOST}/db\n"
        "  missing: '${MISSING_VAR}'\n  port: 5432\n"
    )
    cfg = load_config(str(p))
    assert cfg["database"]["host"] == "warehouse-1"
    assert cfg["database"]["url"] == "jdbc://warehouse-1/db"
    assert cfg["database"]["missing"] == ""
    assert cfg["database"]["port"] == 5432


def test_compact_reduces_file_count(spark, tmp_path):
    p = str(tmp_path / "frag")
    df = spark.range(10000).withColumnRenamed("id", "x")
    df.repartition(20).write.parquet(p)
    import glob

    before = len(glob.glob(f"{p}/*.parquet"))
    after = compact(spark, p)
    assert before == 20 and after < before
    assert spark.read.parquet(p).count() == 10000


def test_compact_ignores_leftover_backup_dir(spark, tmp_path):
    # a crash between the swap's renames leaves a non-empty backup dir
    # beside the table; compacting again must not trip over it
    p = str(tmp_path / "frag")
    spark.range(100).repartition(4).write.parquet(p)
    leftover = tmp_path / "frag__old_compact"
    leftover.mkdir()
    (leftover / "part-0.parquet").write_text("x")
    assert compact(spark, p) == 1
    assert spark.read.parquet(p).count() == 100


def test_table_stats(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, s string"
    ).write.parquet(p)
    stats = {r["column"]: r for r in table_stats(spark, p).collect()}
    assert stats["s"]["null_count"] == 1
    assert stats["id"]["row_count"] == 3


def test_clean_staging(tmp_path):
    d = tmp_path / "t__staging_abc"
    d.mkdir()
    (d / "junk").write_text("x")
    removed = clean_staging(str(tmp_path))
    assert removed and not os.path.exists(d)


def test_backfill_window_report(spark, tmp_path):
    p = str(tmp_path / "bf")
    spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 5)),
            (2, datetime(2024, 1, 2, 5)),
            (3, datetime(2024, 1, 3, 5)),
        ],
        "id long, ts timestamp",
    ).write.parquet(p)
    new = spark.createDataFrame(
        [(20, datetime(2024, 1, 2, 6)), (21, datetime(2024, 1, 2, 7))],
        "id long, ts timestamp",
    )
    report = backfill_window(
        spark, new, p, "ts", datetime(2024, 1, 2), datetime(2024, 1, 3)
    )
    assert report["total_rows"] == 4
    assert report["window_rows"] == 2
    assert report["null_ids"] == 0
