"""Regression for the round-3 driver-red: the local gate must now be
type-aware.

CORRECTNESS_r03 recorded `value_mad_outliers` hash_match=false because
its oracle's `SUM(CASE ...)` came back as DuckDB HUGEINT while Spark
emitted BIGINT — numerically identical, typed-hash different — and the
old str()-based `compare` could not see it. These tests pin the fix:
an uncast integer SUM oracle FAILS locally, the cast version passes,
and the type lattice maps both engines consistently.
"""

import pyspark.sql.functions as F
import pytest

from tests.oracle import (
    canon_duck_type,
    canon_spark_type,
    compare,
    decimal_columns,
)


def _orders_count_df(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.agg(
        F.sum(F.when(F.col("o_totalprice") > 1000.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_big")
    )


def test_uncast_sum_case_fails_local_gate(spark, sf_dir):
    """The exact bug class from CORRECTNESS_r03: DuckDB types SUM(CASE)
    as HUGEINT; without CAST the local gate must now flag it."""
    df = _orders_count_df(spark, sf_dir)
    bad_sql = """
        SELECT SUM(CASE WHEN o_totalprice > 1000.0 THEN 1 ELSE 0 END)
               AS n_big
        FROM orders
    """
    problems = compare(df, bad_sql, sf_dir)
    assert problems, "uncast SUM(CASE) oracle must fail the typed gate"
    assert any("type family differs" in p and "hugeint" in p.lower() for p in problems)


def test_cast_sum_case_passes_local_gate(spark, sf_dir):
    df = _orders_count_df(spark, sf_dir)
    good_sql = """
        SELECT CAST(SUM(CASE WHEN o_totalprice > 1000.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_big
        FROM orders
    """
    assert compare(df, good_sql, sf_dir) == []


def test_int_width_mismatch_fails(spark, sf_dir):
    """Spark INT vs oracle BIGINT is also typed-hash drift."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.agg(F.count("*").cast("int").alias("n"))
    sql = "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders"
    problems = compare(df, sql, sf_dir)
    assert any("type family differs" in p for p in problems)


@pytest.mark.parametrize(
    "spark_t,duck_t,same",
    [
        ("bigint", "BIGINT", True),
        ("bigint", "HUGEINT", False),
        ("int", "INTEGER", True),
        ("int", "BIGINT", False),
        ("double", "DOUBLE", True),
        ("double", "FLOAT", False),
        ("string", "VARCHAR", True),
        ("date", "DATE", True),
        ("timestamp", "TIMESTAMP", True),
        ("boolean", "BOOLEAN", True),
        ("decimal(18,2)", "DECIMAL(18,2)", True),
        ("decimal(18,2)", "DECIMAL(28,2)", False),
        ("array<double>", "DOUBLE[]", True),
        ("array<string>", "VARCHAR[]", True),
        ("array<bigint>", "HUGEINT[]", False),
    ],
)
def test_type_lattice(spark_t, duck_t, same):
    assert (canon_spark_type(spark_t) == canon_duck_type(duck_t)) is same


def test_decimal_output_fails_local_gate(spark, sf_dir):
    """The pricing_summary class (CORRECTNESS_r10): the driver's typed
    hash disagrees on DECIMAL cells even when rows, types and values
    all match, so a DECIMAL output fails locally, named per engine."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    sql = """
        SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders
    """
    problems = compare(df, sql, sf_dir)
    for side in ("spark", "oracle"):
        assert any(
            "'rev'" in p and f"on {side}" in p and "DECIMAL" in p
            for p in problems
        ), problems


def test_decimal_columns_sees_nested_types():
    types = {
        "a": "decimal(38,6)",
        "b": "DECIMAL(18,2)[]",
        "c": "struct<decimal_places:int,v:decimal(9,2)>",
        "d": "struct<decimal_places:int>",
        "e": "double",
    }
    assert decimal_columns(types) == ["a", "b", "c"]
