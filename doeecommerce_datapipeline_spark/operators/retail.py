"""Retail/e-commerce analytics: market-basket association rules, RFM
segmentation, cohort LTV curves, and per-group OLS trend fitting.

The reference pipeline stops at engagement aggregates
(database/layers/gold/load_gold.py:21-90 computes user_activity /
daily_revenue style rollups); these are the next analytics layer an
e-commerce gold schema grows — all expressed as single-pass
DataFrame plans over the same star schema, no new infrastructure.

Determinism: counts stay BIGINT end to end; every ratio is ONE IEEE
double division of exactly-reproducible operands (bigint products
< 2^53, or exact decimal sums) so results are bit-identical across
engines and row orders; every window carries a total-order tiebreak.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import (
    basket_pairs,
    dec_sum,
    disc_rev_sum,
    dsum,
    lattice_2dp,
    lattice_split_sum,
    lattice_sum_9dp_rounded,
    money_lattice_dsum,
    money_lattice_sum,
    ols_fit,
)
from ..io import table
from ..pipelines.fanout import each_table
from .session_cache import materialize


def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over parts bought in the same order:
    (part_a, part_b, n_ab, n_a, n_b, support, confidence, lift) for
    pairs co-purchased in ≥ 2 orders, part_a < part_b.

    Pair generation is a self-join of the DISTINCT (order, part) set
    on the order key with ``a.part < b.part`` — per-order cost is
    C(items, 2) with TPC-H-bounded basket sizes (≤ 7), so candidates
    grow linearly with orders, never quadratically with the catalog.
    Both join sides share the orderkey hash partitioning (one
    shuffle), the per-part order counts are catalog-sized and
    BROADCAST back onto the pair aggregate, and the n_ab ≥ 2 cut
    runs before the stats join so singleton pairs never leave the
    aggregate. lift = (n_ab·N)/(n_a·n_b): both products are exact
    bigints < 2^53, one double division — engine-exact.

    At 100 TB the same plan holds: baskets stay small (pair fan-out
    is bounded by max basket size choose 2), and the only large
    exchange is the orderkey-partitioned self-join the fact table
    already wants for any per-order analysis.
    """
    # r9: ONE basket aggregate (groupBy(l_orderkey) over the fact —
    # the only fact-sized exchange) materialized once feeds all four
    # consumers; pairs enumerate MAP-SIDE from each order's
    # array_sort(collect_set(part)) (basket_pairs), per-part order
    # counts explode the same arrays, and the order count is the
    # basket row count. The former distinct + self-join re-exchanged
    # the checkpointed basket table by orderkey on both join sides.
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .localCheckpoint(eager=True)
    )
    pairs = baskets.select(basket_pairs("part_a", "part_b")).select(
        "p.part_a", "p.part_b"
    )
    pair_counts = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    part_counts = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_part"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pair_counts.join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_part").alias("n_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                part_counts.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_part").alias("n_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double") / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                F.col("n_ab").cast("double") / F.col("n_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer the recency (days since
    last order, against the dataset's max order date), frequency
    (order count) and monetary (exact-decimal revenue) metrics, each
    scored into quintiles — 5 is best (most recent / most frequent /
    highest spend) — plus the concatenated segment code.

    One fact shuffle (the per-customer aggregate); the three ntile
    windows run over the customers-sized result with the custkey as a
    total-order tiebreak, so bucket boundaries are engine-stable. The
    global sorts are over the DIMENSION cardinality, not the fact —
    at 100 TB scale swap ntile for bucketing against broadcast
    approx-quantile cut points to avoid the single-partition window
    (same output contract, sketch-bounded boundaries).
    """
    o = table(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_day"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            money_lattice_dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_day", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # ntile buckets number 1..5 along the sort; each ORDER BY puts the
    # WORST customers first so bucket 5 lands on the best, custkey
    # breaks every tie in a fixed direction
    w_r = Window.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.asc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.asc("monetary"), F.asc("o_custkey"))
    return per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(w_r).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"),
    ).withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curve by acquisition cohort: customers
    cohort on their first order month; each later month contributes
    revenue at ``age = months since acquisition``; the curve is the
    cumulative revenue per cohort member (cohort_month, age_months,
    n_active, revenue, cum_ltv).

    The cohort assignment and the monthly rollup share the custkey
    hash partitioning (the min-month aggregate IS the left side of
    the join — one fact shuffle covers both); the cumulative window
    runs over the cohort×age grid, thousands of rows at any scale.
    LTV divides the exact-decimal cumulative sum by the cohort size
    in one double division.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.trunc(F.to_date("o_orderdate"), "month").alias("order_month"),
        "o_totalprice",
    )
    first = o.groupBy("o_custkey").agg(
        F.min("order_month").alias("cohort_month")
    )
    cohort_sizes = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    aged = o.join(first, "o_custkey").select(
        "cohort_month",
        F.months_between("order_month", "cohort_month")
        .cast("long")
        .alias("age_months"),
        "o_custkey",
        "o_totalprice",
    )
    grid = aged.groupBy("cohort_month", "age_months").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        money_lattice_sum("o_totalprice").alias("rev"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(w))
        .join(F.broadcast(cohort_sizes), "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            "n_active",
            F.col("rev").cast("double").alias("revenue"),
            (
                F.col("cum_rev").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("cum_ltv"),
        )
    )


def revenue_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares revenue trend per order priority: fit
    ``daily_revenue ~ slope·day + intercept`` over each priority's
    daily series and report (o_orderpriority, n_days, slope,
    intercept) — the regr_slope/regr_intercept surface built from
    scratch on exact sufficient statistics.

    Two cheap exchanges: the (priority, day) rollup, then the
    per-priority reduction of the five OLS sufficient statistics
    (n, Σx, Σx², Σy, Σxy) — x is the integer day offset from
    1992-01-01, y the exact-decimal daily revenue, and Σxy multiplies
    int-decimal into a widened decimal BEFORE summing, so every
    statistic is order-free exact. The closed-form slope/intercept is
    then a fixed dag of IEEE double ops on those exact stats —
    bit-identical on any engine, no iterative fitting, one scan of
    the fact at any scale.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(money_lattice_sum("o_totalprice").alias("rev"))
    stats = (
        daily.select(
            "o_orderpriority",
            F.datediff("day", F.lit("1992-01-01").cast("date")).alias("x"),
            "rev",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("rev").alias("sy"),
            F.sum(F.col("x").cast("decimal(10,0)") * F.col("rev")).alias(
                "sxy"
            ),
        )
    )
    moments = ("n_days", "sx", "sy", "sxx", "sxy")
    slope, intercept = ols_fit(*[F.col(c).cast("double") for c in moments])
    return stats.select(
        "o_orderpriority",
        "n_days",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def new_vs_returning_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-vs-retention split: per calendar month, how many
    distinct customers ordered, how many were NEW (their first-ever
    order month) and how many were returning — the growth-accounting
    table every e-commerce dashboard leads with.

    Two counts-only exchanges over the (month, customer) distinct
    pairs: the dedup agg and the per-customer first-month reduction
    (re-aggregated from the same pairs, never a second fact scan);
    the month rollup then joins customer-first-month back on the
    customer key. All BIGINT arithmetic — nothing float anywhere.
    """
    o = table(spark, sf_dir, "orders")
    per = o.select(
        F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
        "o_custkey",
    ).distinct()
    firsts = per.groupBy("o_custkey").agg(
        F.min("month").alias("first_month")
    )
    is_new = F.when(F.col("first_month") == F.col("month"), 1).otherwise(0)
    return (
        per.join(firsts, "o_custkey")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(is_new).cast("long").alias("n_new"),
        )
        .select(
            "month",
            "n_customers",
            "n_new",
            (F.col("n_customers") - F.col("n_new")).alias("n_returning"),
        )
    )


def order_gap_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence profile: per market segment, the quartiles and
    max of the day-gap between a customer's consecutive orders — the
    re-order-cycle statistic that calibrates churn windows ("after
    how many silent days is a BUILDING-segment customer abnormal?").

    One shuffle on o_custkey for the lag() window (gaps never cross
    customers), one segment join, one 5-group agg. The gap is exact
    integer days; the quartiles are percentile() over integers —
    linear interpolation on an identical multiset is bit-identical
    cross-engine (the funnel_time_to_convert seam).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    qs = F.percentile(
        F.col("gap"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        gaps.join(c, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            qs.alias("q"),
            F.max("gap").cast("long").alias("max_days"),
        )
        .select(
            "c_mktsegment",
            "n_gaps",
            F.col("q")[0].alias("q1_days"),
            F.col("q")[1].alias("median_days"),
            F.col("q")[2].alias("q3_days"),
            "max_days",
        )
    )


def brand_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand loyalty: per part brand, how many distinct customers
    bought it at all, how many bought it in ≥ 2 separate orders, and
    the repeat rate — the retention metric merchandising teams rank
    brands by.

    Shape: the lineitem→orders orderkey join is the one fact-sized
    exchange (both sides arrive hash-partitioned on the key); the
    brand dimension BROADCASTS onto lineitem before it; then two
    counts-only reductions on (brand, customer). The rate is a single
    IEEE division of exact BIGINTs.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    per_buyer = (
        li.join(F.broadcast(p), "l_partkey")
        .join(o, "l_orderkey")
        .groupBy("p_brand", "o_custkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )
    repeat = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    return (
        per_buyer.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.sum(repeat).cast("long").alias("n_repeat_buyers"),
        )
        .select(
            "p_brand",
            "n_buyers",
            "n_repeat_buyers",
            (
                F.col("n_repeat_buyers").cast("double")
                / F.col("n_buyers").cast("double")
            ).alias("repeat_rate"),
        )
    )


def revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue concentration —
    the inequality metric behind 'whale' analyses: 0 = everyone spends
    alike, ->1 = a few customers are all the revenue.

    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over revenues x
    sorted ascending within nation (custkey tiebreak). Shape: one
    custkey agg on orders, broadcast customer->nation attach, a
    PARTITIONED rank window (per-nation, never global), and a
    nation-grain reduce. sum(i*x) stays an EXACT decimal (rank *
    decimal revenue); the closing G is a fixed IEEE dag on exact
    operands — engine-identical.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    rev = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_lattice_sum("o_totalprice").alias("rev")
    )
    tagged = rev.join(F.broadcast(c), "custkey").join(
        F.broadcast(n), "c_nationkey"
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("rev").asc(), F.col("custkey").asc()
    )
    ranked = tagged.select(
        "n_name",
        "rev",
        F.row_number().over(w).cast("long").alias("i"),
    )
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("total_rev"),
        F.sum((F.col("i") * F.col("rev")).cast("decimal(38,2)")).alias(
            "weighted"
        ),
    )
    nd = F.col("n_customers").cast("double")
    tot = F.col("total_rev").cast("double")
    wsum = F.col("weighted").cast("double")
    gini = (F.lit(2.0) * wsum - (nd + F.lit(1.0)) * tot) / (nd * tot)
    return agg.select(
        "n_name",
        "n_customers",
        F.col("total_rev").cast("double").alias("total_revenue"),
        gini.alias("gini"),
    )


def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention triangle: customers grouped by their
    FIRST order month; for each (cohort, months-since) cell, how many
    distinct cohort members ordered again and what share of the
    cohort that is — the standard lifecycle view subscription and
    repeat-purchase teams read weekly.

    Shape: one custkey-partitioned window attaches each order's
    cohort month (single fact shuffle; month index is pure integer
    arithmetic year*12+month); the cell agg is a counts-only reduce;
    cohort sizes come from the k=0 cells and BROADCAST back onto the
    (cohorts x months) matrix — tiny. Retention is one IEEE division
    of exact BIGINTs.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("ym"),
    )
    w = Window.partitionBy("o_custkey")
    tagged = o.select(
        "o_custkey", "ym", F.min("ym").over(w).alias("cohort_ym")
    )
    cells = tagged.groupBy(
        "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("months_since")
    ).agg(F.countDistinct("o_custkey").alias("n_active"))
    sizes = cells.where(F.col("months_since") == 0).select(
        "cohort_ym", F.col("n_active").alias("cohort_size")
    )
    out = cells.join(F.broadcast(sizes), "cohort_ym")
    return out.select(
        (F.col("cohort_ym") / 12).cast("int").alias("cohort_year"),
        (F.col("cohort_ym") % 12 + 1).cast("int").alias("cohort_month"),
        "months_since",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


WILSON_Z = 1.96
ONTIME_DAYS = 30


def supplier_ontime_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier on-time-shipping rate with its Wilson-score lower
    confidence bound — the ranking statistic that does NOT reward a
    2-for-2 supplier over a 480-for-500 one the way the raw rate
    does. On-time = line shipped within 30 days of the order date
    (late_ship_priority_counts' lateness predicate, inverted).

    Shape: the lineitem-orders orderkey join is the one fact-sized
    exchange; the suppkey reduce is counts-only; the supplier dim
    BROADCASTS onto the result. The Wilson bound is a fixed IEEE dag
    (z = 1.96 literal, one sqrt) on exact BIGINT counts —
    engine-identical.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    ontime = (
        F.to_date("l_shipdate")
        <= F.date_add(F.to_date("o_orderdate"), ONTIME_DAYS)
    ).cast("int")
    per_supp = (
        li.join(o, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(ontime).cast("long").alias("n_ontime"),
        )
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    nd = F.col("n_lines").cast("double")
    p = F.col("n_ontime").cast("double") / nd
    z = F.lit(WILSON_Z)
    z2 = z * z
    wilson_lo = (
        p
        + z2 / (F.lit(2.0) * nd)
        - z
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
    ) / (F.lit(1.0) + z2 / nd)
    return (
        per_supp.join(F.broadcast(s), "l_suppkey")
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "n_lines",
            "n_ontime",
            p.alias("ontime_rate"),
            wilson_lo.alias("wilson_lower"),
        )
    )


def leadtime_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation QUANTITY-WEIGHTED median of supplier ship delay
    (days from order date to line ship date) — the units-centric
    latency figure logistics reads: a 10 000-unit line should move
    the median more than a 1-unit one.

    Shape: the orderkey fact join, then a (nation, delay)-grain
    counts collapse — the weighted-median window runs over that
    BOUNDED grid (nations x distinct delays, thousands of rows),
    never the fact. Median = smallest delay whose running weight
    doubles past the total (2*cum >= tot), all exact int64 — no
    interpolation, engine-identical.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        F.round(F.col("l_quantity")).cast("long").alias("w"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    grid = (
        li.join(o, "l_orderkey")
        .join(F.broadcast(s), "l_suppkey")
        .join(F.broadcast(n), "s_nationkey")
        .groupBy(
            "n_name",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("delay_days"),
        )
        .agg(F.sum("w").alias("wsum"))
    )
    wcum = Window.partitionBy("n_name").orderBy("delay_days")
    wall = Window.partitionBy("n_name")
    ranked = grid.select(
        "n_name",
        "delay_days",
        F.sum("wsum").over(wcum).alias("cum"),
        F.sum("wsum").over(wall).alias("tot"),
    )
    return (
        ranked.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("n_name")
        .agg(
            F.min("delay_days").alias("weighted_median_delay"),
            F.max("tot").alias("total_weight"),
        )
    )


def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue at decile resolution: decile
    d holds the customers in the d-th tenth by ASCENDING revenue;
    each row reports the decile's revenue share and the cumulative
    share up to it — the curve whose area-deficit the Gini
    coefficient (revenue_gini_by_nation) summarizes to one number.

    Shape: custkey agg, one customers-grain ntile window (dimension
    cardinality, custkey tiebreak — the customer_deciles contract),
    then a 10-row rollup with a running-sum window over those 10
    rows. Shares divide exact decimal sums as doubles once each.
    """
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        money_lattice_sum("o_totalprice").alias("rev")
    )
    w = Window.orderBy(F.asc("rev"), F.asc("o_custkey"))
    deciled = per_cust.select(
        "rev", F.ntile(10).over(w).cast("int").alias("decile")
    )
    total = deciled.agg(F.sum("rev").alias("tot"))
    per_dec = (
        deciled.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("rev").alias("dr"))
        .crossJoin(F.broadcast(total))
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    share = F.col("dr").cast("double") / F.col("tot").cast("double")
    cum_share = (
        F.sum("dr").over(w_cum).cast("double") / F.col("tot").cast("double")
    )
    return per_dec.select(
        "decile",
        "n_customers",
        share.alias("revenue_share"),
        cum_share.alias("cum_revenue_share"),
    )


ITEM_SIM_TOP = 5


def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for each part, its top-5
    most-similar parts by cosine over the binary order-basket
    incidence (sim = n_ij / √(n_i·n_j)) — the "customers who bought
    X also bought Y" primitive, where market_basket_lift measures
    association strength and THIS produces the ranked neighbor lists
    a recommender actually serves.

    Shape: distinct (order, part) → co-occurrence pair counts
    (fan-out bounded by basket size, the basket-dedup trick) →
    per-part counts broadcast back → cosine as one fixed dag on
    exact integers (√n_i·√n_j mirrored exactly) → per-part top-5 via
    a bounded rank window, emitted both directions so every part has
    a neighbor list. 6-dp seam on the score keeps the rank cut
    engine-stable.
    """
    li = table(spark, sf_dir, "lineitem")
    # the distinct basket table feeds two consumers (the basket
    # enumerator + the per-part counts) — materialize the fact
    # shuffle once (the market_basket_lift pattern)
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return item_neighbors(baskets)


def item_neighbors(baskets: DataFrame, topk: int | None = None) -> DataFrame:
    """The CF neighbor kernel over a pre-deduped, pre-materialized
    (l_orderkey, l_partkey) basket table — shared by item_item_cosine
    (full data) and cf_holdout_hitrate (training split only, so the
    evaluation never sees the held-out basket)."""
    topk = ITEM_SIM_TOP if topk is None else topk
    n_i = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_i")
    )
    # r9 materialized the half-size canonical (i < j) pair table once
    # for the symmetrizing union; r10 builds it with the basket
    # enumerator (basket_pairs, guide §2.4): ONE orderkey-keyed
    # exchange + the pair-grain aggregate instead of re-exchanging both
    # self-join sides by orderkey. Identical counts: over the
    # pre-deduped baskets, n_ij remains the number of shared orders per
    # pair. Materialized so the mirror union's two branches read the
    # hot cache instead of race-computing the pair aggregate twice.
    pair = materialize(
        baskets.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select(basket_pairs("i", "j"))
        .select("p.i", "p.j")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n_ij"))
    )
    both = pair.unionByName(
        pair.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            "n_ij",
        )
    )
    ni = n_i.select(F.col("l_partkey").alias("i"), F.col("n_i").alias("c_i"))
    nj = n_i.select(F.col("l_partkey").alias("j"), F.col("n_i").alias("c_j"))
    scored = both.join(F.broadcast(ni), "i").join(F.broadcast(nj), "j")
    sim = F.round(
        F.col("n_ij").cast("double")
        / (
            F.sqrt(F.col("c_i").cast("double"))
            * F.sqrt(F.col("c_j").cast("double"))
        ),
        6,
    )
    w = Window.partitionBy("i").orderBy(
        F.desc("sim"), F.asc("j")
    )
    return (
        scored.select("i", "j", "n_ij", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= topk)
        .select(
            F.col("i").alias("part_i"),
            F.col("j").alias("part_j"),
            "n_ij",
            "sim",
            "rnk",
        )
    )


def revenue_bridge_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-over-month revenue BRIDGE: each month's change vs the
    prior month decomposed into new-customer revenue, churned-customer
    revenue, and expansion/contraction among retained customers — the
    waterfall every revenue review runs, and an exact identity:
    delta = new − churned + expansion − contraction (asserted by the
    unit test, and true by construction on exact decimal sums).

    Shape: the fact collapses to (customer, month) exact-decimal
    revenue once; the bridge is a self FULL-OUTER join of that table
    against itself shifted one month (co-partitioned on customer — no
    second fact scan), classified per customer-month map-side, then
    aggregated to ≤#months rows. Every figure is an exact decimal sum
    surfaced once as DOUBLE.
    """
    o = table(spark, sf_dir, "orders")
    cm = o.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(
        money_lattice_sum("o_totalprice").alias("rev")
    ).localCheckpoint(eager=True)  # both join sides below
    cur = cm.select("o_custkey", "m", F.col("rev").alias("rev_cur"))
    prv = cm.select(
        "o_custkey",
        F.add_months(F.col("m"), 1).alias("m"),
        F.col("rev").alias("rev_prv"),
    )
    j = cur.join(prv, ["o_custkey", "m"], "full_outer")
    zero = F.lit(0).cast("decimal(18,2)")
    c, p = F.coalesce("rev_cur", zero), F.coalesce("rev_prv", zero)
    g = j.groupBy("m").agg(
        F.sum(
            F.when(F.col("rev_prv").isNull(), c).otherwise(zero)
        ).alias("new_rev"),
        F.sum(
            F.when(F.col("rev_cur").isNull(), p).otherwise(zero)
        ).alias("churned_rev"),
        F.sum(
            F.when(
                F.col("rev_cur").isNotNull()
                & F.col("rev_prv").isNotNull()
                & (c > p),
                c - p,
            ).otherwise(zero)
        ).alias("expansion_rev"),
        F.sum(
            F.when(
                F.col("rev_cur").isNotNull()
                & F.col("rev_prv").isNotNull()
                & (c < p),
                p - c,
            ).otherwise(zero)
        ).alias("contraction_rev"),
        F.sum(c).alias("rev_total"),
    )
    return g.select(
        "m",
        F.col("rev_total").cast("double").alias("revenue"),
        F.col("new_rev").cast("double").alias("new_rev"),
        F.col("churned_rev").cast("double").alias("churned_rev"),
        F.col("expansion_rev").cast("double").alias("expansion_rev"),
        F.col("contraction_rev").cast("double").alias(
            "contraction_rev"
        ),
    )


def supplier_hhi_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Herfindahl-Hirschman supplier concentration per nation — the
    antitrust-grade concentration index (HHI = Σ share², 1/n for
    perfect competition, 1.0 for monopoly) that complements
    revenue_gini_by_nation: Gini measures inequality of the
    distribution, HHI measures how few hands hold it.

    One fact pass partial-aggregates exact decimal revenue to
    (nation, supplier); revenue products are exact at 4 decimals so
    DECIMAL(28,4) carries them losslessly while keeping the summed
    digit count under 2^53 (the TWAP decimal→double lesson); shares
    divide by a nation-window total of the same exact sums;
    per-supplier share² quantizes to DECIMAL(18,9)
    before the per-nation sum (order-free), and the >0.25
    concentrated flag is a pure comparison on that exact-decimal
    total.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                ).cast("decimal(28,4)")
            ).alias("rev")
        )
    )
    wn = Window.partitionBy("n_name")
    share = F.col("rev").cast("double") / F.sum("rev").over(wn).cast(
        "double"
    )
    term = F.round(share * share, 9).cast("decimal(18,9)")
    g = rev.select("n_name", term.alias("t")).groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("t").alias("hhi_q"),
    )
    hhi = F.col("hhi_q").cast("double")
    return g.select(
        "n_name",
        "n_suppliers",
        hhi.alias("hhi"),
        (hhi > 0.25).alias("concentrated"),
    )


def promo_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the promo effect on
    per-lineitem revenue: promo parts vs all other parts, before vs
    after the data's midpoint date — the causal-inference workhorse
    that separates "promo items earn more" from "everything earned
    more later" (DiD = Δpromo − Δcontrol).

    The period split is pure integer date arithmetic off the min/max
    order dates (broadcast one-row bounds); group means are exact
    decimal sums over the single orderkey join; the closing DiD is a
    fixed dag of four such means. One fact pass, a 4-cell grid out.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").startswith("PROMO").alias("is_promo"),
    )
    bounds = o.agg(
        F.min("od").alias("lo"), F.max("od").alias("hi")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(bounds))
    )
    cut = F.date_add(
        F.col("lo"),
        (F.datediff(F.col("hi"), F.col("lo")) / 2).cast("int"),
    )
    cell = j.select(
        "is_promo",
        (F.col("od") > cut).alias("is_post"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(28,4)").alias("rev"),
    )
    g = cell.groupBy("is_promo", "is_post").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("s"),
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    wide = g.agg(
        F.max(F.when(F.col("is_promo") & F.col("is_post"), m)).alias(
            "promo_post"
        ),
        F.max(
            F.when(F.col("is_promo") & ~F.col("is_post"), m)
        ).alias("promo_pre"),
        F.max(
            F.when(~F.col("is_promo") & F.col("is_post"), m)
        ).alias("ctrl_post"),
        F.max(
            F.when(~F.col("is_promo") & ~F.col("is_post"), m)
        ).alias("ctrl_pre"),
        F.sum("n").alias("n_lineitems"),
    )
    did = (F.col("promo_post") - F.col("promo_pre")) - (
        F.col("ctrl_post") - F.col("ctrl_pre")
    )
    return wide.select(
        "n_lineitems",
        "promo_pre",
        "promo_post",
        "ctrl_pre",
        "ctrl_post",
        did.alias("did_estimate"),
    )


INV_ORDER_UP_TO = 200
INV_REORDER_POINT = 50


def inventory_ss_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s,S) inventory policy simulation per part — the operations
    primitive behind reorder-point planning: replay each part's daily
    shipment demand against an order-up-to-S policy reviewed at every
    demand epoch (start at S=200; after demand, lost sales below
    zero, replenish to S whenever on-hand falls to s=50 or below).
    Returns per part the period count, total demand, reorder count,
    lost-sales quantity, and ending on-hand — the summary a
    replenishment planner sweeps s/S over.

    The recursion is a FOLD over the part's day-ordered demand array,
    so it runs as F.aggregate with a 4-long struct accumulator —
    fully JVM/codegen-side, no Python at all (the first formulation
    was a grouped-map: 20k one-group pandas calls cost 7.5 s at
    sf0.1; the fold runs in under a second). State is INTEGER, so
    there is no rounding seam: the DuckDB twin is a partitioned
    recursive CTE (all parts advance in lockstep rounds, ≤49 steps
    on this corpus), exactly equal by integer arithmetic. Scale: one
    (part, day) aggregate touches the fact; the collected demand
    array is bounded by the part's active days.
    """
    li = table(spark, sf_dir, "lineitem")
    dd = li.groupBy(
        F.col("l_partkey"), F.to_date("l_shipdate").alias("day")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("demand"))

    cap = F.lit(INV_ORDER_UP_TO).cast("long")
    rp = F.lit(INV_REORDER_POINT).cast("long")
    zero = F.lit(0).cast("long")

    per = dd.groupBy("l_partkey").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("demand")))
        ).alias("seq")
    )
    init = F.struct(
        cap.alias("inv"),
        zero.alias("reorders"),
        zero.alias("short"),
        zero.alias("total"),
    )

    def step(acc, x):
        net = acc["inv"] - x["demand"]
        onhand = F.greatest(net, zero)
        reorder = onhand <= rp
        return F.struct(
            F.when(reorder, cap).otherwise(onhand).alias("inv"),
            (acc["reorders"] + reorder.cast("long")).alias("reorders"),
            (acc["short"] + F.when(net < 0, -net).otherwise(zero)).alias(
                "short"
            ),
            (acc["total"] + x["demand"]).alias("total"),
        )

    fin = F.aggregate("seq", init, step)
    return per.select(
        "l_partkey",
        F.size("seq").cast("long").alias("n_periods"),
        fin["total"].alias("total_demand"),
        fin["reorders"].alias("n_reorders"),
        fin["short"].alias("total_stockout"),
        fin["inv"].alias("end_inv"),
    )


def abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory classification grid: every sold part lands in
    one of 9 cells — ABC by cumulative revenue share (A = parts up to
    80% of revenue, B to 95%, C the tail) crossed with XYZ by demand
    variability (coefficient of variation of monthly shipped quantity:
    X < 0.5 steady, Y < 1.0 variable, Z erratic). Returns one row per
    populated cell: (abc_class, xyz_class, n_parts, revenue_share) —
    the planner's matrix for cycle-count frequency and safety stock
    (AX = tight control, CZ = order-on-demand).

    Determinism: the ABC boundary test is ONE IEEE division of two
    exact decimal sums (the exclusive cumulative share
    (cum_rev - rev) / total_rev, the revenue_pareto pattern) —
    bit-identical on every engine. CV comes from exact
    decimal moment sums (n, Σq, Σq²) via one IEEE dag (sqrt is
    correctly rounded everywhere), so the X/Y/Z cut reproduces
    bit-identically. revenue_share is one ratio rounded at 6dp.

    Scale: the fact collapses to (part, month) with map-side combine
    — the only corpus-scale exchange; part-grain moments and revenue
    derive from that table. The ABC cumulative window sorts the PART
    DIMENSION (never the fact), the same dimension-sized-sort budget
    as revenue_pareto; fact_deciles_scalable documents the sort-free
    path when even the dimension outgrows a sort. Parts never sold
    are out of scope (no demand to classify).

    Reference analog: none — extension surface (retail family).
    """
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.trunc("l_shipdate", "month").alias("mon"),
    ).agg(
        money_lattice_sum("l_quantity").alias("q"),
        disc_rev_sum().alias("rev"),
    )
    per_part = pm.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_mon"),
        F.sum("q").alias("s1"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,4)")).alias("s2"),
        F.sum("rev").alias("rev"),
    )
    w = Window.orderBy(F.desc("rev"), F.asc("part"))
    tot = Window.partitionBy()
    cum = per_part.select(
        "part",
        "n_mon",
        "s1",
        "s2",
        "rev",
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_rev"
        ),
        F.sum("rev").over(tot).alias("total_rev"),
    )
    nd = F.col("n_mon").cast("double")
    var = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / F.col("s1").cast("double")
    # classify on the EXCLUSIVE cumulative share (everything ranked
    # above this part): the part that crosses a boundary still belongs
    # to the class it completes — revenue_pareto's "+1" convention, so
    # a single dominant part is A, never C
    share = (F.col("cum_rev") - F.col("rev")).cast("double") / F.col(
        "total_rev"
    ).cast("double")
    classed = cum.select(
        F.when(share < 0.80, "A")
        .when(share < 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
        "rev",
        "total_rev",
    )
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum("rev").cast("double")
                / F.max("total_rev").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )


def brand_diversity_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment-breadth segmentation: per customer, the Shannon
    entropy of their purchase distribution over brands (0 = single-
    brand loyalist, ln(25) = uniform explorer), rolled into entropy
    deciles — the merchandising counterpart of RFM (who to cross-sell
    vs who to deepen). Per decile: n_customers, mean_entropy,
    mean_brands.

    Determinism: per-brand probabilities are exact-integer item-count
    ratios; -p·ln(p) terms quantize at 9dp into DECIMAL(18,9) before
    the ≤|brands|-way sum (the entropy seam); the decile cut is
    ntile over the (entropy, custkey) total order; decile means are
    one division of a 6dp-quantized decimal sum by an exact count.

    Shape: one orderkey join attaches custkey, one partkey broadcast
    attaches brand; the (customer, brand) aggregate is the only
    fact-scale exchange; entropy and ntile run on customer-grain
    tables (the dimension-sized window budget).

    Reference analog: none — extension surface (retail family).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("o_custkey", "p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("o_custkey")
    prob = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    # r9 opt: both the -p·ln p terms (9 dp) and the per-decile entropy
    # sums (6 dp, below) ride exact long lattices — value-identical
    # (|term| ≤ 1/e, entropy ≤ ln |brands|: far inside the envelopes)
    term = -prob * F.log(prob)
    per_cust = (
        cb.select("o_custkey", "n", term.alias("t"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_brands"),
            F.round(
                lattice_sum_9dp_rounded(F.col("t")).cast("double"), 6
            ).alias("entropy"),
        )
    )
    wd = Window.orderBy(F.asc("entropy"), F.asc("o_custkey"))
    return (
        per_cust.withColumn("decile", F.ntile(10).over(wd).cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                lattice_split_sum(
                    F.floor(
                        F.col("entropy") * F.lit(1e6) + F.lit(0.5)
                    ).cast("long"),
                    6,
                    "decimal(28,6)",
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_entropy"),
            (
                F.sum("n_brands").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_brands"),
        )
        .orderBy("decile")
    )


EOQ_ORDER_COST = 100.0  # S: fixed cost per replenishment order
EOQ_HOLD_COST = 2.0  # H: holding cost per unit per horizon


def inventory_order_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand replenishment policy sheet: the EOQ lot size
    (sqrt(2DS/H) on the horizon's total demand) next to the newsvendor
    order-up-to quantity at the 0.8 critical fractile (the EXACT
    0.8-quantile of daily demand — an order statistic, not an
    approximation) — the two textbook answers to "how much do I
    order", joined so the tension between them (EOQ batches for cost,
    newsvendor covers variability) is visible per brand. Completes the
    inventory family next to inventory_ss_policy's (s,S) simulation
    and abc_xyz_inventory's classification. Columns: p_brand, n_days,
    total_qty, mean_daily, eoq, nv_q80, nv_over_mean.

    Determinism: demand sums are exact decimals; the fractile index is
    PURE INTEGER arithmetic — k = ceil(4n/5) computed as
    (4n + 4) DIV 5, because ceil(0.8·n) in doubles overshoots on
    multiples of 5 (0.8·35 = 28.000000000000004); the order statistic
    picks by a (q, day) total order; sqrt/divisions are one IEEE dag
    on exact operands.

    Shape: one (brand, day) fact aggregate; the quantile window
    partitions by brand over day-grain rows (dimension budget).

    Reference analog: none — extension surface (retail family).
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").alias("day"))
        .agg(money_lattice_sum("l_quantity").alias("q"))
        .localCheckpoint()  # day-grain, feeds stats + the rank window
    )
    stats = daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("q").alias("total_q"),
    )
    wq = Window.partitionBy("p_brand").orderBy(F.asc("q"), F.asc("day"))
    ranked = daily.withColumn("rn", F.row_number().over(wq))
    nv = (
        ranked.join(F.broadcast(stats), "p_brand")
        .where(
            F.col("rn")
            == F.floor((4 * F.col("n_days") + 4) / F.lit(5)).cast("int")
        )
        .select("p_brand", F.col("q").cast("double").alias("nv_q80"))
    )
    d_tot = F.col("total_q").cast("double")
    nd = F.col("n_days").cast("double")
    return (
        stats.join(nv, "p_brand")
        .select(
            "p_brand",
            "n_days",
            F.round(d_tot, 2).alias("total_qty"),
            F.round(d_tot / nd, 6).alias("mean_daily"),
            F.round(
                F.sqrt(
                    2.0 * d_tot * F.lit(EOQ_ORDER_COST)
                    / F.lit(EOQ_HOLD_COST)
                ),
                6,
            ).alias("eoq"),
            "nv_q80",
            F.round(F.col("nv_q80") / (d_tot / nd), 6).alias(
                "nv_over_mean"
            ),
        )
        .orderBy("p_brand")
    )


BD_ANCHOR = "1990-01-01"  # a Monday: weekday math anchors here


def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping latency in BUSINESS days per order priority, beside
    the calendar-day figure — the SLA number ops teams actually commit
    to (a Friday order shipped Monday is 3 calendar days but 1
    business day; ship_latency_quartiles and ship_sla_pchart both
    count calendar days). Per priority: n_items, avg_calendar_days,
    avg_business_days, weekend_share.

    NO calendar table and NO per-day explode: weekdays-before-date is
    the closed form f(d) = 5·floor(n/7) + least(n mod 7, 5) with n =
    days since a fixed Monday anchor, so the business-day latency is
    f(ship) − f(order) — two integer expressions per row, exact on
    any engine, and the per-priority sums stay BIGINT.

    Reference analog: none — extension surface (ops family).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )

    def f(col):
        n = F.datediff(col, F.lit(BD_ANCHOR).cast("date"))
        return (
            F.lit(5) * F.floor(n / 7).cast("long")
            + F.least(n % 7, F.lit(5)).cast("long")
        )

    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("cal"),
        (f(F.col("l_shipdate")) - f(F.col("o_orderdate"))).alias("bd"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.sum("cal").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_calendar_days"),
            (
                F.sum("bd").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_business_days"),
            F.round(
                (F.sum("cal") - F.sum("bd")).cast("double")
                / F.sum("cal").cast("double"),
                6,
            ).alias("weekend_share"),
        )
        .orderBy("o_orderpriority")
    )


CF_REC_K = 10


def _cf_recs(nb: DataFrame, profile: DataFrame) -> DataFrame:
    """Top-``CF_REC_K`` unseen recommendations per test user: score
    every (user, candidate) by the order-free 6-dp-lattice sum of
    neighbor sims to the user's training profile (exact LONG lattice
    integers floor(sim*1e6+0.5) — value-identical to the old
    DECIMAL(18,6)-quantized sum, see the inline r9 note), anti-join out
    already-seen parts, rank with the (score desc, part asc) total
    order. Returned UN-checkpointed so the plan-shape guard can assert
    the lattice score sum and rank window on the construction path;
    cf_holdout_hitrate materializes it before the hits join."""
    # r9: the order-free score sum keeps its 6-dp lattice but rides an
    # exact LONG sum instead of a per-row DECIMAL(18,6) cast + decimal
    # agg buffer (the pagerank lattice argument: sim = round(x, 6) is
    # the nearest double to m/1e6 with 0 <= m <= 1e6, so
    # floor(sim*1e6+0.5) recovers m exactly; per-(user,candidate) sums
    # stay orders of magnitude under 2^53). Only the RANKING consumes
    # the score (desc score, asc rec), and long order == decimal order
    # on the shared lattice, so the emitted recommendations — and the
    # registry face's hit-rate/MRR — are bit-identical. The neighbor
    # lists are topk-bounded per part (dimension-sized), so they
    # BROADCAST; the only fact-sized exchange left is the
    # (user, candidate) aggregate.
    cand = (
        profile.join(
            F.broadcast(
                nb.select(
                    F.col("part_i").alias("l_partkey"),
                    F.col("part_j").alias("rec"),
                    "sim",
                )
            ),
            "l_partkey",
        )
        .groupBy("o_custkey", "rec")
        .agg(
            F.sum(
                F.floor(F.col("sim") * F.lit(1e6) + F.lit(0.5))
            ).alias("score")
        )
        .join(
            profile.select(
                "o_custkey", F.col("l_partkey").alias("rec")
            ),
            ["o_custkey", "rec"],
            "left_anti",
        )
    )
    return cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy(
                F.desc("score"), F.asc("rec")
            )
        ),
    ).where(F.col("rnk") <= CF_REC_K)


def cf_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-order-out evaluation of the item-item CF
    recommender: hold out each multi-order customer's LAST order,
    rebuild the neighbor lists from the remaining orders only (no
    leakage), recommend top-10 unseen parts scored by summed
    neighbor similarity to the customer's training profile, and
    measure hit-rate@10 and MRR@10 against the held-out basket — the
    evaluation loop every production recommender ships with, and the
    difference between "has a CF operator" and "can tell you whether
    the CF operator works". Returns one row: (n_users, n_hits,
    hit_rate, mrr).

    Determinism: similarities are the item_neighbors 6-dp seam; the
    per-(user, candidate) score SUM rides the exact 6-dp lattice
    (order-free long sum, value-identical to the former DECIMAL(18,6)
    quantize — r9); ranking ties break on part key; MRR terms 1/rank
    round at 9 dp into decimals before the user-level mean.

    Shape: the train/test split is one customer-keyed window over
    ORDERS (never lineitem); the neighbor kernel reuses the
    basket-bounded co-occurrence plan; the recommendation fan-out is
    |profile|×topk per user, keyed exchanges end-to-end; the verdict
    is a single-row reduce.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # r9: barrier — ranked feeds BOTH the base join and the
    # test_orders/users branch, so the unmaterialized orders window
    # ran once per consumer (orders-grain state). NOTE (r9 ADVICE):
    # ranked and base are both pinned for the query's lifetime
    # (~2x orders-grain executor storage: the returned plan reads
    # them, and deriving users from base would miscount customers
    # whose held-out order had no lineitems)
    ranked = materialize(
        o.select(
            "o_orderkey",
            "o_custkey",
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.desc("o_orderdate"), F.desc("o_orderkey")
                )
            )
            .alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("o_custkey"))
            .alias("n_orders"),
        ).where(F.col("n_orders") >= 2)
    )
    test_orders = ranked.where(F.col("rn") == 1).select(
        "o_orderkey", "o_custkey"
    )
    # ONE lineitem scan + join serves all three derived tables (the
    # old shape joined lineitem against the split three separate times
    # — three scans, three joins, same rows); base is materialized
    # once and each derivation is a single project+distinct from it.
    base = materialize(
        li.join(
            ranked.select("o_orderkey", "o_custkey", "rn"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "o_custkey",
            (F.col("rn") > 1).alias("is_train"),
        )
    )
    # r9: the profile build is independent of the train_baskets → nb
    # chain (both read the materialized base), so the two overlap and
    # the profile job back-fills executors while the neighbor kernel's
    # sequential jobs leave them idle (guide §2.6); each job computes
    # exactly what it did
    def _profile():
        return materialize(
            base.where(F.col("is_train"))
            .select("o_custkey", "l_partkey")
            .distinct()
        )

    def _neighbors():
        # train_baskets persists LAZILY: item_neighbors' pair
        # materialization is its first (and only) computing consumer,
        # and the later n_i branch reads the then-hot cache
        train_baskets = (
            base.where(F.col("is_train"))
            .select("l_orderkey", "l_partkey")
            .distinct()
            .persist()
        )
        return materialize(item_neighbors(train_baskets))

    profile, nb = each_table(spark, operator.call, [_profile, _neighbors])
    test_parts = (
        base.where(~F.col("is_train"))
        .select("o_custkey", F.col("l_partkey").alias("t_part"))
        .distinct()
    )
    # recs is ≤ CF_REC_K rows per test user BY CONSTRUCTION (the rank
    # cap) — materialize it so the hits join sees a sized, sorted-free
    # input: joined inline, Catalyst can't size the window output and
    # falls back to sorting the full cand subtree into an SMJ
    # (measured 5.1 s vs 0.5 s for this join at sf0.1 — the same
    # window-output pathology the ANN scoreboard hit).
    # tests/test_plans.py guards the pre-checkpoint plan via _cf_recs.
    recs = materialize(_cf_recs(nb, profile))
    hits = (
        recs.join(
            test_parts,
            (recs.o_custkey == test_parts.o_custkey)
            & (recs.rec == test_parts.t_part),
        )
        .groupBy(recs.o_custkey)
        .agg(F.min("rnk").alias("first_hit"))
    )
    users = test_orders.select("o_custkey").distinct()
    per_user = users.join(hits, "o_custkey", "left").select(
        F.when(F.col("first_hit").isNotNull(), 1)
        .otherwise(0)
        .alias("hit"),
        F.coalesce(
            F.round(F.lit(1.0) / F.col("first_hit").cast("double"), 9),
            F.lit(0.0),
        )
        .cast("decimal(18,9)")
        .alias("rr"),
    )
    agg = per_user.groupBy().agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("hit").cast("long").alias("n_hits"),
        F.sum("rr").alias("srr"),
    )
    nu = F.col("n_users").cast("double")
    return agg.select(
        "n_users",
        "n_hits",
        (F.col("n_hits").cast("double") / nu).alias("hit_rate"),
        (F.col("srr").cast("double") / nu).alias("mrr"),
    )


def price_indices_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices of the sold-part
    basket, per month against the FIRST month as base — the
    national-statistics classics: Laspeyres freezes the base basket
    ("what does January's shopping cost now"), Paasche re-weights to
    the current basket, Fisher is their geometric mean (the
    substitution-bias-free compromise). Parts are matched-sample per
    month (present in both base and comparison — the standard CPI
    treatment of entry/exit). Returns per month: (month,
    n_matched_parts, laspeyres, paasche, fisher).

    Determinism: unit price = Σ extendedprice / Σ quantity per
    (part, month), a single division of exact DECIMAL sums; the four
    basket sums quantize each p·q product at 9 dp into DECIMAL(38,9)
    before the order-free sum; index ratios and the Fisher sqrt are
    a fixed double dag.

    Shape: one fact shuffle to the (part, month) grain; the base
    month is a broadcast slice of that grain; per-month rollups are
    part-bounded.
    """
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
    ).agg(
        money_lattice_sum("l_extendedprice").alias("rev"),
        money_lattice_sum("l_quantity").alias("qty"),
    ).where(F.col("qty") > 0).localCheckpoint(eager=True)
    base_month = pm.groupBy().agg(F.min("month").alias("bm"))
    up = (F.col("rev").cast("double") / F.col("qty").cast("double"))
    base = (
        pm.join(F.broadcast(base_month), pm.month == F.col("bm"))
        .select(
            "part",
            up.alias("p0"),
            F.col("qty").cast("double").alias("q0"),
        )
    )
    cur = pm.select(
        "part", "month", up.alias("pt"),
        F.col("qty").cast("double").alias("qt"),
    )
    q9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    j = cur.join(F.broadcast(base), "part")
    agg = j.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_matched_parts"),
        F.sum(q9(F.col("pt") * F.col("q0"))).alias("pt_q0"),
        F.sum(q9(F.col("p0") * F.col("q0"))).alias("p0_q0"),
        F.sum(q9(F.col("pt") * F.col("qt"))).alias("pt_qt"),
        F.sum(q9(F.col("p0") * F.col("qt"))).alias("p0_qt"),
    )
    lasp = F.col("pt_q0").cast("double") / F.col("p0_q0").cast("double")
    paas = F.col("pt_qt").cast("double") / F.col("p0_qt").cast("double")
    return agg.select(
        "month",
        "n_matched_parts",
        F.round(lasp, 9).alias("laspeyres"),
        F.round(paas, 9).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 9).alias("fisher"),
    ).orderBy("month")


CEM_PRICE_BAND = 100.0


def cem_promo_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened-exact-matching (Iacus–King–Porro) estimate of the
    promo effect on per-part average line revenue: stratify parts
    into (size, price-band) cells, keep only cells containing BOTH
    promo and non-promo parts, and average the within-cell outcome
    gaps weighted by treated count — the matching-family answer to
    the same question promo_did_estimate attacks with time: here the
    counterfactual is "a same-size, same-price-band non-promo part",
    so the estimate survives promo parts simply BEING bigger or
    pricier. Returns one row: (n_cells, n_treated_matched,
    n_control_matched, treated_total, att).

    CEM is the scale-friendly matching method BY CONSTRUCTION: no
    nearest-neighbor pair join — coarsening makes matching a GROUP
    BY, cells are bounded, and unmatched strata drop honestly (the
    estimate's support is explicit in n_treated_matched /
    treated_total).

    Determinism: per-part outcome is one division of exact decimal
    sums, quantized at 9 dp before cell aggregation; each cell's
    w·(ȳ_t − ȳ_c) term quantizes at 6 dp before the order-free sum;
    the closing division is a fixed dag.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_type").startswith("PROMO").alias("is_promo"),
        F.col("p_size").alias("size"),
        F.floor(F.col("p_retailprice") / CEM_PRICE_BAND).alias("band"),
    )
    outcome = li.groupBy("l_partkey").agg(
        (
            money_lattice_sum("l_extendedprice").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("y_raw")
    )
    parts = p.join(
        outcome, p.p_partkey == outcome.l_partkey, "inner"
    ).select(
        "is_promo",
        "size",
        "band",
        F.round(F.col("y_raw"), 9).cast("decimal(18,9)").alias("y"),
    )
    cells = parts.groupBy("size", "band").agg(
        F.sum(F.when(F.col("is_promo"), 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("is_promo"), 0).otherwise(1)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("is_promo"), F.col("y"))).alias("sy_t"),
        F.sum(F.when(~F.col("is_promo"), F.col("y"))).alias("sy_c"),
    )
    matched = cells.where((F.col("n_t") > 0) & (F.col("n_c") > 0))
    diff = (
        F.col("sy_t").cast("double") / F.col("n_t").cast("double")
        - F.col("sy_c").cast("double") / F.col("n_c").cast("double")
    )
    term = F.round(F.col("n_t").cast("double") * diff, 6).cast(
        "decimal(38,6)"
    )
    tot_t = parts.groupBy().agg(
        F.sum(F.when(F.col("is_promo"), 1).otherwise(0)).cast("long").alias(
            "treated_total"
        )
    )
    agg = matched.select("n_t", "n_c", term.alias("term")).groupBy().agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_t").cast("long").alias("n_treated_matched"),
        F.sum("n_c").cast("long").alias("n_control_matched"),
        F.sum("term").alias("sterm"),
    )
    return agg.crossJoin(F.broadcast(tot_t)).select(
        "n_cells",
        "n_treated_matched",
        "n_control_matched",
        "treated_total",
        F.round(
            F.col("sterm").cast("double")
            / F.col("n_treated_matched").cast("double"),
            9,
        ).alias("att"),
    )


SHIFT_SHARE_Y0 = 1995
SHIFT_SHARE_Y1 = 1996


def revenue_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of each nation's 1995→1996 revenue
    growth (region = customer nation, "industry" = order priority):
    Δ = NATIONAL share (what growing-with-the-market explains) +
    industry MIX (being weighted toward hot/cold segments) +
    COMPETITIVE shift (out/under-performing your own segments) — the
    regional-economics classic that turns "France grew 12%" into an
    attribution a strategy team can act on. Returns per nation:
    (nation, r0, r1, delta, national_comp, mix_comp,
    competitive_comp).

    The identity Δ = NS + IM + CS holds EXACTLY: NS and IM are
    6-dp-rounded doubles and CS is the REMAINDER Δ − NS − IM (the
    standard closure treatment, which also absorbs segments that
    exist in only one of the two years, where a per-cell growth rate
    is undefined).

    Shape: one orders⋈customer join (nation dim broadcast) to the
    (nation, priority, year) grain; national and per-priority rates
    are tiny broadcast aggregates; per-nation rollups close it.
    """
    o = table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(SHIFT_SHARE_Y0, SHIFT_SHARE_Y1)
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    grain = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            lattice_split_sum(
                F.when(
                    F.year("o_orderdate") == SHIFT_SHARE_Y0,
                    lattice_2dp("o_totalprice"),
                ).otherwise(F.lit(0).cast("long")),
                2,
                "decimal(28,2)",
                split_digits=4,
            ).alias("r0"),
            lattice_split_sum(
                F.when(
                    F.year("o_orderdate") == SHIFT_SHARE_Y1,
                    lattice_2dp("o_totalprice"),
                ).otherwise(F.lit(0).cast("long")),
                2,
                "decimal(28,2)",
                split_digits=4,
            ).alias("r1"),
        )
        .localCheckpoint(eager=True)
    )
    nat = grain.groupBy().agg(
        F.sum("r0").alias("R0"), F.sum("r1").alias("R1")
    )
    g = (
        (F.col("R1").cast("double") - F.col("R0").cast("double"))
        / F.col("R0").cast("double")
    )
    nat = nat.select(g.alias("g"))
    prio = grain.groupBy("prio").agg(
        F.sum("r0").alias("p0"), F.sum("r1").alias("p1")
    )
    gp = (
        (F.col("p1").cast("double") - F.col("p0").cast("double"))
        / F.col("p0").cast("double")
    )
    prio = prio.select("prio", gp.alias("g_p"))
    cells = grain.join(F.broadcast(prio), "prio").crossJoin(
        F.broadcast(nat)
    )
    im_term = F.round(
        F.col("r0").cast("double") * (F.col("g_p") - F.col("g")), 6
    ).cast("decimal(38,6)")
    per_nation = cells.groupBy("nation").agg(
        F.sum("r0").alias("r0"),
        F.sum("r1").alias("r1"),
        F.sum(im_term).alias("im"),
    )
    r0d = F.col("r0").cast("double")
    r1d = F.col("r1").cast("double")
    delta = r1d - r0d
    ns = F.round(r0d * F.col("gg"), 6)
    im = F.col("im").cast("double")
    return (
        per_nation.crossJoin(F.broadcast(nat.select(F.col("g").alias("gg"))))
        .select(
            "nation",
            r0d.alias("r0"),
            r1d.alias("r1"),
            delta.alias("delta"),
            ns.alias("national_comp"),
            im.alias("mix_comp"),
            (delta - ns - im).alias("competitive_comp"),
        )
        .orderBy("nation")
    )


CAPTURE_MONTH_1 = "1995-01-01"
CAPTURE_MONTH_2 = "1995-02-01"


def catalog_size_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How big is the sellable catalog, judged from TWO MONTHS of
    sales? Chapman capture-recapture (parts sold in Jan-1995 vs
    Feb-1995: N̂ = (n₁+1)(n₂+1)/(m+1) − 1) and Chao1 from the
    two-month order-frequency spectrum (N̂ = S + f₁²/(2f₂)) — the
    estimators whose whole point is the rows you DON'T have, with
    the true part count emitted alongside so the estimate is
    judgeable. (The user log is useless for this demo: all 150 users
    appear in any window — saturated captures estimate nothing.)
    Returns one row: (n_month1, n_month2, n_both, n_observed, f1,
    f2, chapman, chao1, true_catalog).

    Determinism: all inputs are exact integer set sizes / frequency
    counts; both estimators are one fixed double dag each.

    Shape: one lineitem⋈orders join filtered to the two months, a
    part-keyed aggregate, a single-row reduce, plus one count of the
    part dimension.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).where(
        F.col("month").isin(CAPTURE_MONTH_1, CAPTURE_MONTH_2)
    )
    obs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_partkey", "month", "l_orderkey")
        .distinct()
    )
    per_part = obs.groupBy("l_partkey").agg(
        F.sum(
            F.when(F.col("month") == CAPTURE_MONTH_1, 1).otherwise(0)
        ).alias("c1"),
        F.sum(
            F.when(F.col("month") == CAPTURE_MONTH_2, 1).otherwise(0)
        ).alias("c2"),
        F.count(F.lit(1)).alias("c"),
    )
    agg = per_part.groupBy().agg(
        F.sum(F.when(F.col("c1") > 0, 1).otherwise(0)).cast("long").alias("n_month1"),
        F.sum(F.when(F.col("c2") > 0, 1).otherwise(0)).cast("long").alias("n_month2"),
        F.sum(
            F.when((F.col("c1") > 0) & (F.col("c2") > 0), 1).otherwise(0)
        ).cast("long").alias("n_both"),
        F.count(F.lit(1)).alias("n_observed"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    true_n = table(spark, sf_dir, "part").groupBy().agg(
        F.count(F.lit(1)).alias("true_catalog")
    )
    n1 = F.col("n_month1").cast("double")
    n2 = F.col("n_month2").cast("double")
    m = F.col("n_both").cast("double")
    sobs = F.col("n_observed").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chapman = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    chao1 = F.when(
        F.col("f2") > 0, sobs + f1 * f1 / (2.0 * f2)
    ).otherwise(sobs + f1 * (f1 - 1.0) / 2.0)
    return agg.crossJoin(F.broadcast(true_n)).select(
        "n_month1",
        "n_month2",
        "n_both",
        "n_observed",
        "f1",
        "f2",
        F.round(chapman, 6).alias("chapman"),
        F.round(chao1, 6).alias("chao1"),
        "true_catalog",
    )


def promo_return_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of line-item RETURN for promo vs non-promo parts,
    with the Woolf 95% log-interval: OR = (a·d)/(b·c) over the 2×2
    (promo × returned) table and CI = exp(ln OR ± 1.96·√(1/a + 1/b +
    1/c + 1/d)) — the epidemiology classic pointed at merchandising
    ("do promo items come back more?"), giving the uncertainty that
    a raw return-rate comparison hides. Returns one row: (n_promo,
    n_other, returns_promo, returns_other, odds_ratio, ci_lo, ci_hi,
    significant) — significant iff the CI excludes 1.

    Determinism: the four cells are exact BIGINTs; ln/exp/√ compose
    one fixed dag (shared literals), rounded at 6 dp.

    Shape: one lineitem⋈part broadcast join into a 4-cell aggregate.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    ret = F.col("l_returnflag") == "R"
    agg = j.groupBy().agg(
        F.sum(F.when(F.col("is_promo") & ret, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("is_promo") & ~ret, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~F.col("is_promo") & ret, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~F.col("is_promo") & ~ret, 1).otherwise(0)).cast("long").alias("d"),
    )
    a = F.col("a").cast("double")
    b = F.col("b").cast("double")
    c = F.col("c").cast("double")
    d = F.col("d").cast("double")
    orr = a * d / (b * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    lo = F.exp(F.log(orr) - F.lit(1.96) * se)
    hi = F.exp(F.log(orr) + F.lit(1.96) * se)
    ok = (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (
        F.col("d") > 0
    )
    return agg.select(
        (F.col("a") + F.col("b")).alias("n_promo"),
        (F.col("c") + F.col("d")).alias("n_other"),
        F.col("a").alias("returns_promo"),
        F.col("c").alias("returns_other"),
        F.when(ok, F.round(orr, 6)).alias("odds_ratio"),
        F.when(ok, F.round(lo, 6)).alias("ci_lo"),
        F.when(ok, F.round(hi, 6)).alias("ci_hi"),
        F.coalesce(
            F.when(ok, (F.round(lo, 6) > 1.0) | (F.round(hi, 6) < 1.0)),
            F.lit(False),
        ).alias("significant"),
    )
