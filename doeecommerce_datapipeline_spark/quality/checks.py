"""Post-load quality-check suite (SURVEY.md §2.11 C4, §2.4 A6/A7).

The reference runs pk-null and duplicate checks per silver table and
fails the DAG on violation (quality_checks.py:21-78,
doeecommerce_batch_pipeline.py:163-179). Here the suite is declarative
config → one aggregate per table → a results DataFrame, so the checks
themselves are engine queries (inspectable, auditable), not imperative
loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.rest import RecordsSource

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("violations", T.LongType()),
        T.StructField("passed", T.BooleanType()),
    ]
)


@dataclass(frozen=True)
class TableChecks:
    table: str
    pk: str
    not_null_cols: list[str] = field(default_factory=list)
    unique_cols: list[str] = field(default_factory=list)


def run_checks(
    spark: SparkSession, df: DataFrame, cfg: TableChecks
) -> DataFrame:
    """Run every configured check in 1 + (number of unique columns)
    passes: one multi-aggregate for all null checks, then one grouped
    count per unique column, the pk included (three passes for users:
    nulls, user_id, email). Returns rows (table, check, column,
    violations, passed) as a local relation: the verdict reads it on
    the driver without a job, and its append starts no Python worker.
    """
    rows: list[tuple] = []

    null_cols = [cfg.pk, *cfg.not_null_cols]
    agg = df.agg(
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(c)
            for c in null_cols
        ]
    ).collect()[0]
    for c in null_cols:
        n = agg[c]
        rows.append((cfg.table, "null_check", c, int(n), n == 0))

    for c in [cfg.pk, *cfg.unique_cols]:
        dups = (
            df.where(F.col(c).isNotNull())
            .groupBy(c)
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        rows.append((cfg.table, "duplicate_check", c, int(dups), dups == 0))

    return RecordsSource(spark, RESULTS_SCHEMA).to_df(rows)


def all_passed(results: DataFrame) -> bool:
    return results.where(~F.col("passed")).isEmpty()
