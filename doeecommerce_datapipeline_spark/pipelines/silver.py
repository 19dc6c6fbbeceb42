"""Silver-layer transforms — the reference's core pipeline stage
(database/layers/silver/transform_silver.py:24-122), rebuilt as lazy
DataFrame graphs: latest-wins dedup (W1/W2) via ranking window, typed
casts (P8), derived columns (F2 full_name, F11 guarded discount pct),
final projection (P2), then keyed upsert (S8). ``latest_wins`` leaves
one row per dedup key and every projection keeps that key, so the
projected rows are already distinct: no ``distinct()`` exchange.

Where the reference is buggy we build to its evident intent
(SURVEY.md §7.4(7)): orders' total_amount passes through even though
the reference reads a column its own bronze DDL lacks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import full_name, guarded_pct, norm_email
from ..operators.windows import latest_wins

# deterministic dedup order: recency, then a unique-ish payload hash as
# tiebreaker (pandas keep='last' ties were input-order-dependent —
# SURVEY.md §7.4(3); this makes them stable under any partitioning)


def _recency_order(df: DataFrame) -> list[Column]:
    tiebreak = F.xxhash64(*[F.col(c) for c in df.columns])
    return [F.col("_ingestion_timestamp").desc(), tiebreak.desc()]


def transform_products(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """transform_silver.py:24-34: dedup by id (latest wins), cast,
    derive is_available, project."""
    now = now if now is not None else F.current_timestamp()
    deduped = latest_wins(raw, ["id"], _recency_order(raw))
    return deduped.select(
        F.col("id").cast("long").alias("product_id"),
        F.col("title").cast("string").alias("title"),
        F.col("price").cast("decimal(15,2)").alias("price"),
        F.col("category").cast("string").alias("category"),
        (F.col("price").isNotNull() & (F.col("price") >= 0)).alias("is_available"),
        now.alias("last_updated"),
    )


def transform_carts(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """transform_silver.py:64-80: dedup by id, guarded discount pct."""
    now = now if now is not None else F.current_timestamp()
    deduped = latest_wins(raw, ["id"], _recency_order(raw))
    return deduped.select(
        F.col("id").cast("long").alias("cart_id"),
        F.col("userId").cast("long").alias("user_id"),
        F.col("total").cast("decimal(15,2)").alias("total_value"),
        guarded_pct("total", "discountedTotal")
        .cast("decimal(5,2)")
        .alias("discount_percentage"),
        now.alias("last_updated"),
    )


def transform_users(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """transform_silver.py:51-60: dedup by email (latest wins),
    normalized email, concatenated full_name."""
    now = now if now is not None else F.current_timestamp()
    normalized = raw.withColumn("email", norm_email("email"))
    deduped = latest_wins(
        normalized.where(F.col("email").isNotNull()),
        ["email"],
        _recency_order(normalized),
    )
    return deduped.select(
        F.col("id").cast("long").alias("user_id"),
        F.col("email"),
        full_name("firstname", "lastname").alias("full_name"),
        now.alias("last_updated"),
    )


def transform_orders(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """transform_silver.py:38-47 (evident intent): dedup by id, amount
    passthrough; final_amount defaults to total_amount."""
    now = now if now is not None else F.current_timestamp()
    deduped = latest_wins(raw, ["id"], _recency_order(raw))
    return deduped.select(
        F.col("id").cast("long").alias("order_id"),
        F.col("userId").cast("long").alias("user_id"),
        F.col("total_amount").cast("decimal(15,2)").alias("total_amount"),
        F.col("total_amount").cast("decimal(15,2)").alias("final_amount"),
        now.alias("last_updated"),
    )


def transform_cart_items(raw: DataFrame, now: Column | None = None) -> DataFrame:
    """The table the reference CANNOT build: per-line cart items.

    The reference serializes cart lines to TEXT at ingest
    (dummyjson_ingestor.py:541-547, db_setup.py:524), destroying them
    for analysis. With native ArrayType they explode into a proper
    line-item fact table — dedup first (latest cart wins), then fan
    out, so re-ingested carts never double their lines.
    """
    now = now if now is not None else F.current_timestamp()
    deduped = latest_wins(raw, ["id"], _recency_order(raw))
    line = F.explode(F.col("products")).alias("line")
    return deduped.select(
        F.col("id").cast("long").alias("cart_id"),
        F.col("userId").cast("long").alias("user_id"),
        line,
        now.alias("last_updated"),
    ).select(
        "cart_id",
        "user_id",
        F.col("line.productId").cast("long").alias("product_id"),
        F.col("line.quantity").cast("int").alias("quantity"),
        F.col("line.price").cast("decimal(15,2)").alias("unit_price"),
        (F.col("line.quantity") * F.col("line.price"))
        .cast("decimal(18,2)")
        .alias("line_total"),
        "last_updated",
    )


TRANSFORMS = {
    "products": (transform_products, "product_id"),
    "carts": (transform_carts, "cart_id"),
    "users": (transform_users, "user_id"),
    "orders": (transform_orders, "order_id"),
}
