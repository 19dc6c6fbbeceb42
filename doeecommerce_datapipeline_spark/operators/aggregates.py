"""Aggregation operators (SURVEY.md §2.4 A1–A11) rebuilt Spark-first.

Each function takes (spark, sf_dir) and returns a lazy DataFrame whose
plan Catalyst compiles to two-phase HashAggregate with partial
(map-side) aggregation — the distributed analog of the reference's
single-node pandas/Postgres aggregates.

Scale notes: group-by keys here are low-cardinality (dates, categories,
flags) so the shuffle after partial agg moves only #groups × #partitions
rows; COUNT(DISTINCT) triggers a two-pass expand — swap to
approx_count_distinct (HLL) at 100TB where exactness isn't contractual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import (
    charge_sum,
    dec_to_double_split,
    disc_rev_sum,
    lattice_2dp,
    money_lattice_avg,
    money_lattice_dsum,
    money_lattice_sum,
)
from ..io import table


def _split_6dp(dec_sum: Column) -> Column:
    """An exact 6-dp decimal sum as DOUBLE via dec_to_double_split of
    its scaled integer (twin: dec_to_double_split_sql(...) / 1e6)."""
    return dec_to_double_split(
        (dec_sum * F.lit(1000000)).cast("decimal(38,0)")
    ) / F.lit(1000000.0)


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary over lineitem.

    Reference analog: the gold-layer KPI aggregates
    (database/layers/gold/publish_gold.py:28-34 — SUM/AVG/COUNT over a
    filtered slice), widened to the canonical multi-measure scan-agg.
    One pass over the fact table; filter pushed to the parquet scan.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # every measure rides an exact LONG lattice sum (no per-row
            # double→decimal cast on the fact scan)
            money_lattice_dsum("l_quantity").alias("sum_qty"),
            money_lattice_dsum("l_extendedprice").alias("sum_base_price"),
            # the two 6-dp product-sums have scaled integers past 2^53
            # at sf1 (sum_charge ≈ 2.8e10 × 10^6), where each engine's
            # native decimal→double conversion rounds its own way; the
            # engine-agreed limb split of the scaled integer plus one
            # IEEE division gives the same DOUBLE on both sides
            _split_6dp(disc_rev_sum()).alias("sum_disc_price"),
            _split_6dp(charge_sum()).alias("sum_charge"),
            money_lattice_avg("l_quantity").alias("avg_qty"),
            money_lattice_avg("l_extendedprice").alias("avg_price"),
            money_lattice_avg("l_discount", "decimal(18,4)").alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by-date revenue rollup — vw_daily_revenue
    (database/db_setup.py:346-357): COUNT, SUM(COALESCE), AVG,
    COUNT(DISTINCT) keyed on CAST(ts AS DATE). orders stands in for
    silver.carts (FIXTURES.md §1 mapping).
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("activity_date"))
        .agg(
            F.count("o_orderkey").alias("orders_count"),
            money_lattice_dsum(
                F.coalesce(F.col("o_totalprice"), F.lit(0))
            ).alias("total_revenue"),
            money_lattice_avg("o_totalprice").alias("avg_order_value"),
            F.countDistinct("o_custkey").alias("unique_customers"),
        )
    )


def category_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-category price profile — vw_product_catalog
    (database/db_setup.py:360-370): COUNT/MIN/MAX/AVG GROUP BY category.
    part.p_type stands in for product category."""
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("product_count"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        money_lattice_avg("p_retailprice").alias("avg_price"),
    )


def finance_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5: global filtered aggregate — the finance mart's daily KPIs
    (database/layers/gold/publish_gold.py:28-34): one-day slice →
    SUM / AVG / COUNT / COUNT(DISTINCT) as a single scalar row.
    The date predicate prunes at the scan (or partition, if
    date-partitioned at scale)."""
    o = table(spark, sf_dir, "orders")
    day = o.select(F.max(F.to_date("o_orderdate")).alias("d"))
    return (
        o.join(F.broadcast(day), F.to_date("o_orderdate") == F.col("d"))
        .agg(
            money_lattice_dsum("o_totalprice").alias("total_revenue"),
            money_lattice_avg("o_totalprice").alias("average_order_value"),
            F.count(F.lit(1)).alias("orders_count"),
            F.countDistinct("o_custkey").alias("unique_customers"),
        )
    )


def duplicate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: duplicate-detection aggregate — GROUP BY key HAVING COUNT>1
    (database/layers/quality/quality_checks.py:34-50). Applied to
    events (user_id, event_type) which genuinely repeats."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: null-count quality check
    (database/layers/quality/quality_checks.py:21-32) — one pass,
    conditional-sum per column instead of a COUNT(*) per column."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("null_orderkey"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("null_totalprice"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def value_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: frequency distribution top-k — value_counts().head(10)
    (randomuser_ingestor.py:608-625). Catalyst compiles the
    orderBy+limit to TakeOrderedAndProject (true top-k, no global
    sort). Deterministic tiebreak on the key itself."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("c_mktsegment"))
        .limit(10)
    )


def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: min/max/mean/median summary (randomuser_ingestor.py:613-619)
    over customer account balance. Median is exact here for oracle
    parity; at 100TB use percentile_approx."""
    c = table(spark, sf_dir, "customer")
    return c.agg(
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        money_lattice_avg("c_acctbal").alias("avg_bal"),
        F.median("c_acctbal").alias("median_bal"),
        F.count(F.lit(1)).alias("n"),
    )


def count_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: ingestion count-by-day report (scripts/backfill.py:269-283):
    GROUP BY DATE(ts) ORDER BY 1 DESC LIMIT 10 over events."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("day"))
        .limit(10)
    )


def returnflag_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quartiles: q1/median/q3 of l_extendedprice per
    return flag — the ordered-set-aggregate (PERCENTILE_CONT) shape.

    ``F.percentile`` is the exact sort-based aggregate (the sketch
    variant lives in approx_aggregates). Engines may spell the linear
    interpolation differently (lo + (hi-lo)*f vs lo*(1-f) + hi*f), a
    1-ulp divergence on double prices, so both sides round to 4
    decimals: prices carry 2 decimals and f ∈ {.25,.5,.75}, so the
    ideal quartile has at most 4 decimal digits — rounding is exact
    (never a half-way tie) and absorbs the ulp. Per-group state is the
    group's value list — fine for bounded groups like the 3 return
    flags; at unbounded-group scale the sketch path is the answer.
    """
    l = table(spark, sf_dir, "lineitem")
    qs = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        l.groupBy("l_returnflag")
        .agg(qs.alias("q"))
        .select(
            "l_returnflag",
            F.round(F.col("q")[0], 4).alias("q1_price"),
            F.round(F.col("q")[1], 4).alias("median_price"),
            F.round(F.col("q")[2], 4).alias("q3_price"),
        )
    )


def ship_latency_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    q1/median/q3/max of days between order date and line-item ship
    date — the fulfillment-SLA percentile query.

    The lineitem⋈orders join is on the natural key (orderkey): both
    sides hash-partition on it, AQE picks SMJ/broadcast by size — the
    canonical big-big fact join. The percentile aggregate then runs
    over 5 small priority groups; latencies are exact integer days so
    the interpolated quartiles are engine-identical doubles.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_day")
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderpriority",
        F.to_date("o_orderdate").alias("order_day"),
    )
    lat = F.datediff("ship_day", "order_day")
    qs = F.percentile(
        lat, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        l.join(o, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            qs.alias("q"),
            F.max(lat).alias("max_latency_days"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            F.col("q")[0].alias("q1_days"),
            F.col("q")[1].alias("median_days"),
            F.col("q")[2].alias("q3_days"),
            "max_latency_days",
        )
    )


def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value — the category-to-number feature transform that doesn't
    leak the row's own target ((Σ_category − own) / (n_category − 1)).

    One partial-aggregated shuffle to the |categories| stats table
    (exact decimal Σ), broadcast back over the fact; the per-row
    encoding is a fixed dag on exact operands (decimal subtraction
    keeps the numerator exact before the single double division).
    Singleton categories have no leave-one-out peers → NULL.
    """
    o = table(spark, sf_dir, "orders")
    # r9 opt: the per-row double→decimal cast (Double.toString) both in
    # the stats sum AND in the leave-one-out projection becomes pure
    # long-lattice arithmetic; the numerator (Σc − c)/100 is rebuilt as
    # an exact decimal so the closing double is the identical single
    # conversion. Σ cents per priority ≤ ~1.5e18 at 100 TB (3e10
    # orders × ≤5e7 cents) — inside int64.
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum(lattice_2dp("o_totalprice")).alias("s_cents"),
    )
    loo = F.when(
        F.col("n_cat") > 1,
        (
            (F.col("s_cents") - lattice_2dp("o_totalprice")).cast(
                "decimal(19,0)"
            )
            * F.lit(0.01).cast("decimal(2,2)")
        ).cast("double")
        / (F.col("n_cat") - F.lit(1)).cast("double"),
    )
    return o.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        loo.alias("loo_mean_price"),
    )


AGING_EDGES = (30, 60, 90)


def ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: OPEN orders bucketed by days
    outstanding at the as-of date (the data's last order date) into
    0-30 / 31-60 / 61-90 / 90+ — the finance-ops workhorse report
    (bucket, n_orders, open_value, pct_of_open).

    The as-of date is a one-row aggregate broadcast over the fact;
    age and bucket are pure integer date arithmetic; values are exact
    decimal sums and the share is computed against a window total
    over the 4-row result. One filtered fact pass, one 4-group agg.
    """
    o = table(spark, sf_dir, "orders")
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    open_o = o.where(F.col("o_orderstatus") == "O").crossJoin(
        F.broadcast(asof)
    )
    age = F.datediff("asof", F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= AGING_EDGES[0], "0-30")
        .when(age <= AGING_EDGES[1], "31-60")
        .when(age <= AGING_EDGES[2], "61-90")
        .otherwise("90+")
    )
    g = open_o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_lattice_sum("o_totalprice").alias("val_q"),
    )
    wt = Window.partitionBy()
    return g.select(
        "bucket",
        "n_orders",
        F.col("val_q").cast("double").alias("open_value"),
        (
            F.col("val_q").cast("double")
            / F.sum("val_q").over(wt).cast("double")
        ).alias("pct_of_open"),
    )


def price_power_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic, geometric, and harmonic mean of extended price per
    return flag — the power-mean family in one aggregate (GM for
    multiplicative quantities like growth ratios, HM for rate
    averaging; AM ≥ GM ≥ HM is the built-in sanity invariant).

    AM comes from the exact decimal sum; GM is exp(mean(ln x)) and HM
    is n/Σ(1/x), with the per-row ln quantized to DECIMAL(18,7) and
    the reciprocal to DECIMAL(18,9) before summation (the bm25 seam,
    scales chosen so the summed digit count stays under 2^53 — the
    TWAP lesson: a wider scale pushes some engines' decimal→double
    conversion into int128 double-rounding), then a 6-dp rounding at
    the output seam absorbs the final exp/div libm ulps.
    """
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 0
    )
    # r9: the three per-row DECIMAL casts + BigDecimal agg buffers
    # (measured 5.6 s of the operator's 6.9 s at sf0.1 — the count
    # alone is 0.9 s) become exact LONG lattice sums, with the three
    # decimal totals RECONSTRUCTED exactly on the |returnflag| output
    # rows so every closing double is the same single correctly-
    # rounded conversion the decimal sums performed, at ANY scale:
    # - cents: l_extendedprice is a 2-dp value, so the stored double
    #   is the nearest double to c/100 and floor(x·100 + 0.5)
    #   recovers c exactly (the established cent-lattice lemma);
    #   Σc ≤ rows·10⁷ stays under 2⁶³ through 100 TB (6·10¹¹ rows →
    #   6.6·10¹⁸).
    # - ln: m = floor(round(ln x, 7)·10⁷ + 0.5) recovers the 7-dp
    #   quantum exactly (|m| ≤ 1.2·10⁸ ≪ 2⁵¹ — the pagerank
    #   lattice-alignment lemma); Σm would pass 2⁶³ near 10 TB, so
    #   the sum is SPLIT (hi = m div 10⁴, lo = m mod 10⁴ — both
    #   row-bounded, each partial sum ≤ ~10¹⁶ at 100 TB) and
    #   recombined exactly in decimal on the output rows.
    # - inv: m = floor(round(1/x, 9)·10⁹ + 0.5), |m| ≤ ~10⁶ for
    #   TPC-H price floors → Σm ≤ 10¹⁸ at 100 TB.
    # The reconstruction multiplies each integer total by an exact
    # decimal quantum (10⁻², 10⁻⁷, 10⁻⁹) — exact decimal products —
    # and the final .cast("double") is the identical single rounding
    # of the identical rational the old decimal→double cast did.
    cents = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    m_ln = F.floor(
        F.round(F.log("l_extendedprice"), 7) * F.lit(1e7) + F.lit(0.5)
    ).cast("long")
    m_inv = F.floor(
        F.round(F.lit(1.0) / F.col("l_extendedprice"), 9) * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    ln_lo = F.pmod(m_ln, F.lit(10000))
    # exact floor-division for either sign: (m − pmod) is a multiple
    # of 10⁴ ≤ 1.2·10⁸, so the double division is an exact integer
    ln_hi = ((m_ln - ln_lo) / F.lit(10000)).cast("long")
    rows = li.select(
        "l_returnflag",
        cents.alias("c"),
        ln_hi.alias("ln_hi"),
        ln_lo.alias("ln_lo"),
        m_inv.alias("mi"),
    )
    g = rows.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("c_sum"),
        F.sum("ln_hi").alias("ln_hi"),
        F.sum("ln_lo").alias("ln_lo"),
        F.sum("mi").alias("mi_sum"),
    )
    # operand precisions kept narrow so every product stays <= the
    # 38-digit cap WITH its full scale (p1+p2+1 <= 38) — Spark
    # silently REDUCES the scale past the cap (the round-4 trap), so
    # e.g. decimal(30,0) * decimal(9,9) would round the total. The
    # integer totals fit the narrowed precisions with >= 8 digits of
    # headroom at 100 TB (bounds above).
    q2 = F.lit(0.01).cast("decimal(2,2)")
    q7 = F.lit(1e-7).cast("decimal(7,7)")
    q9 = F.lit(1e-9).cast("decimal(9,9)")
    s = F.col("c_sum").cast("decimal(28,0)") * q2
    sum_m_ln = (
        F.col("ln_hi").cast("decimal(24,0)")
        * F.lit(10000).cast("decimal(5,0)")
        + F.col("ln_lo").cast("decimal(24,0)")
    ).cast("decimal(30,0)")
    s_ln = sum_m_ln * q7
    s_inv = F.col("mi_sum").cast("decimal(28,0)") * q9
    nd = F.col("n").cast("double")
    return g.select(
        "l_returnflag",
        "n",
        (s.cast("double") / nd).alias("mean_arith"),
        F.round(
            F.exp(s_ln.cast("double") / nd), 6
        ).alias("mean_geom"),
        F.round(
            nd / s_inv.cast("double"), 6
        ).alias("mean_harm"),
    )


ECDF_GRID = (50_000.0, 100_000.0, 200_000.0, 300_000.0, 400_000.0, 500_000.0)


def order_value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of order value at a fixed probe grid — the
    distribution report that survives 100 TB because it never sorts:
    P(X ≤ x) is one conditional count per probe, fanned out map-side
    (×5) and aggregated in a single pass. Exact integer counts in,
    one fixed division out; the grid is literal so the comparisons
    cannot drift.
    """
    o = table(spark, sf_dir, "orders")
    probes = F.explode(
        F.array(*[F.lit(x) for x in ECDF_GRID])
    ).alias("x")
    rows = o.select("o_totalprice", probes)
    g = rows.groupBy("x").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("o_totalprice") <= F.col("x")).cast("long")
        ).alias("n_le"),
    )
    return g.select(
        "x",
        "n",
        "n_le",
        (
            F.col("n_le").cast("double") / F.col("n").cast("double")
        ).alias("cdf"),
    )
