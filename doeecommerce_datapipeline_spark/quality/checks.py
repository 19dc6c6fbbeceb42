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
    """Run every configured check in one action. One grouped pass
    over grouping sets, one set per key column (the pk and each
    unique column, each keeping its own type), counts the rows of
    every key value; its null counts cover every null-checked column.
    A second aggregate over those groups yields the null counts and,
    per key column, the number of non-null values that occur more
    than once. Returns rows (table, check, column, violations,
    passed) as a local relation: the verdict reads it on the driver
    without a job, and its append starts no Python worker.
    """
    null_cols = [cfg.pk, *cfg.not_null_cols]
    dup_cols = [cfg.pk, *cfg.unique_cols]
    keys = list(dict.fromkeys(dup_cols))

    # inside an aggregate a grouping column is the input column; in
    # the output each set's other key columns are null, so a non-null
    # key marks a value group of that key's own set
    groups = df.groupingSets([[k] for k in keys], *keys).agg(
        F.grouping(keys[0]).alias("_in_other_set"),
        F.count(F.lit(1)).alias("_n"),
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null{i}")
            for i, c in enumerate(null_cols)
        ],
    )
    in_first_set = F.col("_in_other_set") == 0
    counts = groups.agg(
        *[
            F.coalesce(F.sum(F.when(in_first_set, F.col(f"_null{i}"))), F.lit(0))
            for i in range(len(null_cols))
        ],
        *[
            F.count(F.when(F.col(k).isNotNull() & (F.col("_n") > 1), 1))
            for k in keys
        ],
    ).collect()[0]
    n_dup = dict(zip(keys, counts[len(null_cols):]))

    rows = [
        (cfg.table, "null_check", c, int(n), n == 0)
        for c, n in zip(null_cols, counts)
    ] + [
        (cfg.table, "duplicate_check", c, int(n_dup[c]), n_dup[c] == 0)
        for c in dup_cols
    ]
    return RecordsSource(spark, RESULTS_SCHEMA).to_df(rows)


def all_passed(results: DataFrame) -> bool:
    return results.where(~F.col("passed")).isEmpty()
