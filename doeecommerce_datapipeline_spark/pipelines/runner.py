"""Pipeline orchestrator — CLI parity with the reference's
scripts/run_pipeline.py (EP1, SURVEY.md §3): ingest → transform →
quality → gold, per-layer selectable, audit-ledger wrapped.

    python -m doeecommerce_datapipeline_spark.pipelines.runner \
        --base-dir /tmp/warehouse --layer all [--source fakestore] \
        [--skip-quality-checks] [--kpi-date 2024-01-15]

Stage boundaries that were process boundaries in the reference
(driver↔Postgres) are shuffle boundaries inside one Spark session
here; the only external boundary left is ingestion itself.

Layer concurrency: layers run one after another, but inside a layer
the tables are independent (the reference's DAG runs its sources as
parallel tasks), so each layer runs its per-table work on one thread
per table (``fanout.each_table``): ingestion's ledger-open → records
→ bronze → ledger-close chain, the five silver upserts, the four
check suites and the three gold marts. A failing table does not stop
the others; its exception is re-raised once the layer has finished.
Every read here passes its known schema, so no read starts a
schema-inference job.
"""

from __future__ import annotations

import argparse
from datetime import date
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from .. import fixtures
from ..audit.ledger import AuditLedger
from ..quality.checks import TableChecks, all_passed, run_checks
from ..quality.validators import (
    in_range,
    isin,
    non_negative,
    not_null,
    valid_email,
)
from ..schemas import (
    CARTS_RAW,
    ORDERS_RAW,
    PRODUCTS_RAW,
    SILVER_CARTS,
    SILVER_ORDERS,
    SILVER_PRODUCTS,
    SILVER_USERS,
    USERS_RAW,
)
from ..session import get_spark
from ..sinks.parquet_sinks import upsert
from ..sources.rest import RecordsSource
from .bronze import BronzeLoad, load_to_bronze
from .fanout import each_table
from .gold import publish_all
from .silver import TRANSFORMS

RAW_SCHEMAS = {
    "products": PRODUCTS_RAW,
    "carts": CARTS_RAW,
    "users": USERS_RAW,
    "orders": ORDERS_RAW,
}

SILVER_SCHEMAS = {
    "products": SILVER_PRODUCTS,
    "carts": SILVER_CARTS,
    "users": SILVER_USERS,
    "orders": SILVER_ORDERS,
}

def bronze_cfg() -> dict[str, BronzeLoad]:
    """Built lazily — Column expressions need an active SparkContext
    in Spark 4, so rules can't be module-level constants."""
    return {
        "products": BronzeLoad(
            "products_raw",
            rules=[not_null("id"), non_negative("price")],
        ),
        "carts": BronzeLoad(
            "carts_raw",
            rules=[not_null("id"), non_negative("total")],
        ),
        "users": BronzeLoad(
            "users_raw",
            rules=[
                not_null("id"),
                valid_email("email"),
                in_range("age", 0, 150),
                isin("gender", ["male", "female"]),
            ],
        ),
        "orders": BronzeLoad(
            "orders_raw",
            rules=[not_null("id"), non_negative("total_amount")],
        ),
    }

QUALITY_CFG = [
    TableChecks("products", "product_id"),
    TableChecks("carts", "cart_id"),
    TableChecks("users", "user_id", unique_cols=["email"]),
    TableChecks("orders", "order_id"),
]

FIXTURE_FN = {
    "products": fixtures.products_raw,
    "carts": fixtures.carts_raw,
    "users": fixtures.users_raw,
    "orders": fixtures.orders_raw,
}


def run_ingestion(
    spark: SparkSession,
    base: str,
    ledger: AuditLedger,
    tables: list[str],
    records_fn: dict | None = None,
    source_name: str = "demo",
) -> None:
    """Ingestion through the RecordsSource seam. By default the demo
    fixture records; pass ``records_fn`` ({table: () -> list[dict]})
    to ingest from anywhere — tests/test_rest_live.py plugs a LIVE
    paginated HTTP fetch in here and runs the whole medallion.

    The tables ingest concurrently. If one table's fetch or load
    raises, its ledger run closes ``FAILED`` while the other tables
    still load and close; the first failure, in ``tables`` order, is
    re-raised once every table has finished."""
    cfg = bronze_cfg()
    fns = records_fn or FIXTURE_FN

    def ingest(t: str) -> None:
        run_id = ledger.start_run(source_name, f"{t}_raw")
        try:
            records = fns[t]()
            df = RecordsSource(spark, RAW_SCHEMAS[t]).to_df(records)
            loaded, failed = load_to_bronze(
                df,
                f"{base}/bronze/{t}_raw",
                cfg[t],
                source_name=source_name,
                endpoint=f"/{t}",
                quarantine_path=f"{base}/quarantine/{t}_raw",
            )
            ledger.end_run(
                run_id, "SUCCESS" if failed == 0 else "PARTIAL",
                fetched=len(records), loaded=loaded, failed=failed,
                source_name=source_name, table_name=f"{t}_raw",
            )
        except Exception as exc:
            ledger.end_run(run_id, "FAILED", error=str(exc)[:500],
                           source_name=source_name, table_name=f"{t}_raw")
            raise

    each_table(spark, ingest, tables)


def _silver(spark: SparkSession, base: str, table: str) -> DataFrame:
    return spark.read.schema(SILVER_SCHEMAS[table]).parquet(f"{base}/silver/{table}")


def run_transformation(spark: SparkSession, base: str, tables: list[str]) -> None:
    from .silver import transform_cart_items

    merges = []
    for t in tables:
        fn, pk = TRANSFORMS[t]
        raw = spark.read.schema(RAW_SCHEMAS[t]).parquet(f"{base}/bronze/{t}_raw")
        merges.append((fn(raw), f"{base}/silver/{t}", [pk]))
        if t == "carts":
            # line-item fact table (the reference's TEXT column can't);
            # keyed on cart_id so a re-ingested cart replaces its lines
            merges.append(
                (transform_cart_items(raw), f"{base}/silver/cart_items", ["cart_id"])
            )
    each_table(spark, lambda m: upsert(spark, *m), merges)


def run_quality(spark: SparkSession, base: str) -> bool:
    """Every table's check suite at once; all their result rows land
    in one ``quality_results`` append."""
    results = each_table(
        spark,
        lambda cfg: run_checks(spark, _silver(spark, base, cfg.table), cfg),
        QUALITY_CFG,
    )
    reduce(DataFrame.union, results).coalesce(1).write.mode("append").parquet(
        f"{base}/audit/quality_results"
    )
    return all(all_passed(r) for r in results)


def run_gold(spark: SparkSession, base: str, kpi_date) -> None:
    silver = {t: _silver(spark, base, t) for t in SILVER_SCHEMAS}
    publish_all(spark, silver, f"{base}/gold", kpi_date)


def run_pipeline(
    spark: SparkSession,
    base: str,
    layer: str = "all",
    sources: list[str] | None = None,
    skip_quality: bool = False,
    kpi_date=None,
    records_fn: dict | None = None,
    source_name: str = "demo",
) -> None:
    tables = sources or list(TRANSFORMS)
    ledger = AuditLedger(spark, f"{base}/audit/ingestion_log")
    if layer in ("all", "ingestion"):
        run_ingestion(spark, base, ledger, tables, records_fn, source_name)
    if layer in ("all", "transformation"):
        run_transformation(spark, base, tables)
    if layer in ("all", "quality") and not skip_quality:
        if not run_quality(spark, base):
            raise RuntimeError("quality checks failed")
    if layer in ("all", "gold"):
        # reference publishes "today's" KPIs (CURRENT_DATE,
        # publish_gold.py:56), and silver stamps last_updated=now —
        # so the default kpi_date must be today to slice anything
        run_gold(spark, base, kpi_date or date.today())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-dir", required=True)
    ap.add_argument(
        "--layer",
        default="all",
        choices=["all", "ingestion", "transformation", "quality", "gold"],
    )
    ap.add_argument("--source", action="append", dest="sources")
    ap.add_argument("--skip-quality-checks", action="store_true")
    ap.add_argument("--kpi-date", type=date.fromisoformat, default=None)
    args = ap.parse_args()
    spark = get_spark("pipeline-runner")
    run_pipeline(
        spark,
        args.base_dir,
        layer=args.layer,
        sources=args.sources,
        skip_quality=args.skip_quality_checks,
        kpi_date=args.kpi_date,
    )


if __name__ == "__main__":
    main()
