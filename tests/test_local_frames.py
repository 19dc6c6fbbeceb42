"""Driver-held rows become Arrow local relations through one seam,
``RecordsSource.to_df``, with classic ``createDataFrame`` semantics:
same rows and schema, Decimal HALF_UP to the field scale, aware
datetimes at their UTC instant, nested values converted, bad rows
rejected. Naive datetimes are UTC wall time whatever the host's TZ."""

import datetime as dt
import pathlib
import time
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from doeecommerce_datapipeline_spark import fixtures
from doeecommerce_datapipeline_spark.audit.ledger import AuditLedger
from doeecommerce_datapipeline_spark.quality.checks import TableChecks, run_checks
from doeecommerce_datapipeline_spark.schemas import (
    CARTS_RAW,
    ORDERS_RAW,
    PRODUCTS_RAW,
    USERS_RAW,
)
from doeecommerce_datapipeline_spark.sources.rest import RecordsSource

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "doeecommerce_datapipeline_spark"

MONEY = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("amount", T.DecimalType(15, 2)),
        T.StructField(
            "lines",
            T.ArrayType(T.StructType([T.StructField("price", T.DecimalType(15, 2))])),
        ),
        T.StructField("at", T.TimestampType()),
    ]
)


def _classic(spark, schema, records):
    return spark.createDataFrame(
        [tuple(r.get(f.name) for f in schema.fields) for r in records], schema
    )


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "make, schema",
    [
        (fixtures.products_raw, PRODUCTS_RAW),
        (fixtures.carts_raw, CARTS_RAW),
        (fixtures.users_raw, USERS_RAW),
        (fixtures.orders_raw, ORDERS_RAW),
    ],
    ids=["products", "carts", "users", "orders"],
)
def test_seam_matches_classic_on_fixture_tables(spark, host_tz, make, schema):
    # classic reads naive datetimes in the local zone; pin it to UTC so
    # the comparison covers everything but that (tested below)
    host_tz("UTC")
    records = make(600)
    ours = RecordsSource(spark, schema).to_df(records)
    classic = _classic(spark, schema, records)
    assert ours.schema == classic.schema
    assert _rows(ours) == _rows(classic)


def test_decimals_round_half_up_to_field_scale(spark, host_tz):
    host_tz("UTC")
    records = [
        {"id": 1, "amount": Decimal("2.345"), "lines": [{"price": Decimal("2.345")}]},
        {"id": 2, "amount": Decimal("-2.345"), "lines": [{"price": Decimal("-2.345")}, None]},
        {"id": 3, "amount": Decimal("7"), "lines": None},
    ]
    df = RecordsSource(spark, MONEY).to_df(records)
    got = {r["id"]: r for r in df.collect()}
    assert got[1]["amount"] == Decimal("2.35")
    assert got[1]["lines"][0]["price"] == Decimal("2.35")
    assert got[2]["amount"] == Decimal("-2.35")
    assert got[2]["lines"][0]["price"] == Decimal("-2.35")
    assert got[2]["lines"][1] is None
    assert got[3]["amount"] == Decimal("7.00")
    assert _rows(df) == _rows(_classic(spark, MONEY, records))


def test_aware_datetime_lands_on_its_utc_instant(spark, host_tz):
    host_tz("UTC")
    plus5 = dt.timezone(dt.timedelta(hours=5))
    records = [{"id": 1, "at": dt.datetime(2024, 1, 15, 12, 30, tzinfo=plus5)}]
    df = RecordsSource(spark, MONEY).to_df(records)
    assert df.collect()[0]["at"] == dt.datetime(2024, 1, 15, 7, 30)
    assert _rows(df) == _rows(_classic(spark, MONEY, records))


@pytest.mark.parametrize(
    "record",
    [{"id": None, "amount": Decimal("1.00")}, {"id": "7", "amount": Decimal("1.00")}],
    ids=["null_in_non_nullable", "str_in_long"],
)
def test_bad_rows_raise_like_classic(spark, record):
    with pytest.raises((TypeError, ValueError)):
        RecordsSource(spark, MONEY).to_df([record])
    with pytest.raises((TypeError, ValueError)):
        _classic(spark, MONEY, [record])


def test_naive_datetime_is_session_utc_wall_time_under_any_host_tz(spark, host_tz, tmp_path):
    """Classic ``createDataFrame`` ran naive values through
    ``time.mktime``, so under a New York host they landed 5 h late.
    Values are read back as session-UTC strings and epoch seconds:
    ``collect`` itself renders timestamps in the host's zone."""
    host_tz("America/New_York")
    record = {**fixtures.orders_raw(10)[0], "_ingestion_timestamp": dt.datetime(2024, 1, 15, 10, 30)}

    def wall(df):
        return df.selectExpr("CAST(_ingestion_timestamp AS STRING)").first()[0]

    assert wall(RecordsSource(spark, ORDERS_RAW).to_df([record])) == "2024-01-15 10:30:00"
    assert wall(_classic(spark, ORDERS_RAW, [record])) == "2024-01-15 15:30:00"

    ledger = AuditLedger(spark, str(tmp_path / "ledger"))
    before = time.time()
    ledger.start_run("demo", "orders_raw")
    after = time.time()
    (event_s,) = ledger.history().selectExpr("CAST(event_time AS DOUBLE)").first()
    assert before - 1 <= event_s <= after + 1


def test_driver_row_frames_plan_as_local_table_scans(spark, tmp_path):
    frames = {
        "to_df": RecordsSource(spark, USERS_RAW).to_df(fixtures.users_raw(20)),
        "ledger": AuditLedger(spark, str(tmp_path / "ledger"))._rows.to_df(
            [{"run_id": "r", "status": "IN_PROGRESS", "event_time": dt.datetime(2024, 1, 1)}]
        ),
        "checks": run_checks(
            spark,
            spark.range(10).selectExpr("id AS user_id", "CAST(id AS STRING) AS email"),
            TableChecks("users", "user_id", unique_cols=["email"]),
        ),
    }
    for name, df in frames.items():
        plan = _plan(df)
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_driver_rows_reach_spark_only_through_the_seam():
    """Outside operators/* (whose driver lists parallelize on purpose),
    only ``RecordsSource.to_df`` may call ``createDataFrame``."""
    seam = PACKAGE / "sources" / "rest.py"
    offenders = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != seam
        and "operators" not in p.relative_to(PACKAGE).parts
        and "createDataFrame(" in p.read_text()
    ]
    assert offenders == []
    assert seam.read_text().count("createDataFrame(") == 1
