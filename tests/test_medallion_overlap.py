"""The medallion layers run their tables concurrently and start no job
they do not need: known-schema reads, a one-action quality suite, a
ledger that serializes its appends, and a failing table that neither
stops nor corrupts the others."""

import inspect
import pathlib
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from doeecommerce_datapipeline_spark import fixtures
from doeecommerce_datapipeline_spark.audit.ledger import AuditLedger
from doeecommerce_datapipeline_spark.pipelines.fanout import each_table
from doeecommerce_datapipeline_spark.pipelines.runner import run_ingestion
from doeecommerce_datapipeline_spark.quality.checks import TableChecks, run_checks
from doeecommerce_datapipeline_spark.sinks import parquet_sinks

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "doeecommerce_datapipeline_spark"


def test_medallion_reads_pass_their_schema():
    # a schema-less parquet read starts a one-task schema-inference job
    sources = {
        "pipelines/runner.py": (PACKAGE / "pipelines" / "runner.py").read_text(),
        "sinks/parquet_sinks.py::upsert": inspect.getsource(parquet_sinks.upsert),
    }
    offenders = [
        name for name, src in sources.items() if re.search(r"\.read\s*\.parquet\(", src)
    ]
    assert offenders == []


def _per_check_reference(df, cfg):
    """The suite as one query per check: a null-count aggregate, then a
    grouped duplicate count per key column."""
    null_cols = [cfg.pk, *cfg.not_null_cols]
    agg = df.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in null_cols]
    ).collect()[0]
    rows = [(cfg.table, "null_check", c, agg[c], agg[c] == 0) for c in null_cols]
    for c in [cfg.pk, *cfg.unique_cols]:
        dups = (
            df.where(F.col(c).isNotNull())
            .groupBy(c)
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        rows.append((cfg.table, "duplicate_check", c, dups, dups == 0))
    return rows


@pytest.mark.parametrize(
    "cfg",
    [
        TableChecks("users", "user_id", unique_cols=["email"]),
        TableChecks("users", "user_id", not_null_cols=["email", "age"], unique_cols=["age"]),
    ],
    ids=["users", "users_more_columns"],
)
def test_fused_checks_equal_per_check_queries(spark, cfg):
    users = spark.createDataFrame(
        [
            (1, "a@x.com", 30),
            (1, "b@x.com", None),  # duplicate pk
            (2, "a@x.com", 30),  # duplicate email
            (None, None, 41),  # null pk, null email
            (None, "c@x.com", 52),
            (3, None, 63),
            (4, "d@x.com", 74),
            (4, "d@x.com", 74),
            (4, "e@x.com", 85),
        ],
        "user_id long, email string, age int",
    )
    got = [tuple(r) for r in run_checks(spark, users, cfg).collect()]
    assert got == _per_check_reference(users, cfg)
    assert any(v > 0 for _, check, _, v, _ in got if check == "null_check")
    assert all(v > 0 for _, check, _, v, _ in got if check == "duplicate_check")


def test_fused_checks_on_empty_table_pass(spark):
    empty = spark.createDataFrame([], "user_id long, email string")
    cfg = TableChecks("users", "user_id", unique_cols=["email"])
    got = [tuple(r) for r in run_checks(spark, empty, cfg).collect()]
    assert got == _per_check_reference(empty, cfg)
    assert all(passed for *_, passed in got)


def test_ledger_appends_are_safe_across_threads(spark, tmp_path):
    ledger = AuditLedger(spark, str(tmp_path / "ingestion_log"))
    start = threading.Barrier(8)

    def run(i):
        start.wait(timeout=60)
        run_id = ledger.start_run("demo", f"t{i}_raw")
        ledger.end_run(run_id, "SUCCESS", fetched=i, loaded=i,
                       source_name="demo", table_name=f"t{i}_raw")

    threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert ledger.history().count() == 16
    cur = ledger.current_state().collect()
    assert len(cur) == 8
    assert {r["status"] for r in cur} == {"SUCCESS"}


def test_each_table_threads_keep_their_own_local_properties(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("medallion.test", "caller")
    overlap = threading.Barrier(4)

    def work(x):
        inherited = sc.getLocalProperty("medallion.test")
        sc.setLocalProperty("medallion.test", x)
        overlap.wait(timeout=60)
        return inherited, sc.getLocalProperty("medallion.test")

    try:
        got = each_table(spark, work, ["a", "b", "c", "d"])
    finally:
        sc.setLocalProperty("medallion.test", None)
    assert got == [("caller", x) for x in "abcd"]


def _ledger_rows(ledger):
    return {
        r["table_name"]: (r["status"], r["records_fetched"], r["records_loaded"],
                          r["records_failed"])
        for r in ledger.current_state().collect()
    }


def test_failing_table_is_reraised_after_the_others_load(spark, tmp_path):
    def boom():
        raise RuntimeError("products endpoint down")

    fns = {
        "products": boom,
        "carts": lambda: fixtures.carts_raw(60),
        "users": lambda: fixtures.users_raw(60),
        "orders": lambda: fixtures.orders_raw(60),
    }
    tables = list(fns)
    concurrent = str(tmp_path / "concurrent")
    ledger = AuditLedger(spark, f"{concurrent}/audit/ingestion_log")
    with pytest.raises(RuntimeError, match="products endpoint down"):
        run_ingestion(spark, concurrent, ledger, tables, records_fn=fns)

    serial = str(tmp_path / "serial")
    serial_ledger = AuditLedger(spark, f"{serial}/audit/ingestion_log")
    for t in tables[1:]:
        run_ingestion(spark, serial, serial_ledger, [t], records_fn=fns)

    got = _ledger_rows(ledger)
    assert got.pop("products_raw")[0] == "FAILED"
    assert got == _ledger_rows(serial_ledger)
    # every other table closed SUCCESS, or PARTIAL where rows were quarantined
    assert {t: s for t, (s, *_) in got.items()} == {
        "carts_raw": "SUCCESS",
        "users_raw": "PARTIAL",
        "orders_raw": "SUCCESS",
    }
    assert not (tmp_path / "concurrent" / "bronze" / "products_raw").exists()
    for t in tables[1:]:
        assert (
            spark.read.parquet(f"{concurrent}/bronze/{t}_raw").count()
            == spark.read.parquet(f"{serial}/bronze/{t}_raw").count()
        )
