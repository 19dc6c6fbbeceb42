"""Window operators: dedup-by-recency and ranking (SURVEY.md §2.5 W1–W4).

The reference's entire silver layer hangs on latest-record-wins dedup
(`sort_values(ts).drop_duplicates(subset=[key], keep='last')`,
database/layers/silver/transform_silver.py:28-30,40-41,53-55,66-67).
The Spark-native mapping is a ranking window: row_number() over
(PARTITION BY key ORDER BY ts DESC) == 1 — a single shuffle on the key,
no global sort, fully distributed.

Determinism: pandas keep='last' depends on input order under timestamp
ties (SURVEY §7.4 risk 3); here every window carries an explicit total
order (unique id tiebreaker), so results are stable under any
partitioning.

The time-series faces here and in analytics.py read one day series,
``daily_order_revenue`` (SURVEY A1's vw_daily_revenue grain); the
recursive smoothers run over it through one grouped-map seam,
``_recurse_daily``.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import disc_rev_sum, money_lattice_sum
from ..io import table


def latest_wins(
    df: DataFrame, keys: list[str], order: list[Column]
) -> DataFrame:
    """W1/W2: keep the most recent row per key.

    `order` must be a deterministic total order (descending recency
    first, unique tiebreaker last).
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def first_wins(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """W3: keep the earliest row per key (drop_duplicates keep='first',
    randomuser_ingestor.py:575-577) — same window, ascending order."""
    return latest_wins(df, keys, order)


def dedup_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 on the events table: one latest event per user.

    event_id is the unique tiebreaker for equal timestamps.
    """
    e = table(spark, sf_dir, "events")
    return latest_wins(
        e.select("event_id", "user_id", "event_type", "ts", "value"),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 on events: the first-ever event per (user, event_type)."""
    e = table(spark, sf_dir, "events")
    return first_wins(
        e.select("event_id", "user_id", "event_type", "ts"),
        ["user_id", "event_type"],
        [F.col("ts").asc(), F.col("event_id").asc()],
    )


def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: full-row distinct on a projection
    (transform_silver.py:34,47,60,80 trailing .drop_duplicates())."""
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


def top_products_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mart column the reference declares but never populates
    (`sales_mart.top_products`, database/db_setup.py:272; omitted at
    publish_gold.py:52-58) — implemented as its evident intent: rank
    parts per ship-month by exact revenue, keep top 3.

    Revenue is an exact decimal sum, so ranking is deterministic; ties
    broken by partkey.
    """
    l = table(spark, sf_dir, "lineitem")
    monthly = (
        l.groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
            "l_partkey",
        )
        .agg(
            disc_rev_sum().alias("revenue")
        )
    )
    w = Window.partitionBy("ship_month").orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    )
    return (
        monthly.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "ship_month",
            "l_partkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec analytics beyond the reference's surface: per-customer
    running order total + order sequence number + gap to previous order
    (lag). Exercises rows-between frames, lag, and rank in one window
    family (one shuffle on o_custkey)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.datediff(
            "o_orderdate", F.lag("o_orderdate", 1).over(w)
        ).cast("long").alias("days_since_prev"),
    )


def moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: per customer, the average
    order value over the trailing 7 calendar days at each order — the
    frame class rows-frames can't express (it widens and narrows with
    the data's timestamps, and same-day orders always share a frame).

    One shuffle on o_custkey; the frame bound is epoch-seconds
    arithmetic so the oracle's INTERVAL 6 DAY PRECEDING is exact on
    day-aligned dates. Sum-as-decimal / count keeps the average
    order-independent.
    """
    o = table(spark, sf_dir, "orders")
    # orderdate is TIMESTAMP_NTZ: no direct long cast — go via
    # timestamp (session tz is pinned UTC, so epoch == naive oracle)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("o_totalprice").over(w)
        ).alias("avg_7d"),
    )


def customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks: ntile/percent_rank/cume_dist over account
    balance with a unique tiebreaker, so every rank is total-ordered
    and engine-independent.

    A global ORDER BY window is a single-partition sort — acceptable
    for a dimension table; for a 100 TB fact column compute the same
    deciles from approx_percentile bounds + a broadcast range join.
    """
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def daily_order_revenue(orders: DataFrame, *aggs: Column) -> DataFrame:
    """The order-revenue day series: (day, rev, *aggs), one row per
    ``to_date(o_orderdate)`` of ``orders``.

    ``rev`` is the exact DECIMAL(28,2) sum of o_totalprice — the value
    and type of ``F.sum(cast(o_totalprice as decimal(18,2)))`` — summed
    on the long cent lattice. Callers filter ``orders`` first when
    they need a sub-series, add per-day measures through ``aggs``, and
    cast or rename ``rev`` themselves. The rollup is the one fact
    shuffle of every face built on it; everything after runs over the
    calendar-bounded day grain. Barriers are the caller's: the series
    is returned lazy.
    """
    return orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        money_lattice_sum("o_totalprice").alias("rev"), *aggs
    )


def daily_revenue_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling with forward fill: every day between
    the first and last urgent-order date gets a row; days with no
    orders carry the last seen revenue forward (day, revenue,
    revenue_filled, is_gap).

    The spine is ``sequence(min_day, max_day)`` exploded from a
    single-row aggregate — no driver loop, no external calendar table.
    The forward-fill window is a global ORDER BY, which is safe HERE
    because it runs over the already-aggregated day grain (#days rows,
    thousands), never the fact table; at fact scale the same fill
    partitions by month with a carried-in boundary value.
    """
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    daily = daily_order_revenue(o).select(
        "day", F.col("rev").cast("double").alias("revenue")
    )
    spine = (
        daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            "revenue",
            F.last("revenue", ignorenulls=True).over(w).alias("revenue_filled"),
            F.col("revenue").isNull().alias("is_gap"),
        )
    )


def order_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface in one window pass: rank,
    percent_rank, cume_dist and quartile (ntile 4) of every order's
    value within its priority class — the per-cohort scoring shape
    (lead scoring, percentile pricing) that exercises each SQL ranking
    primitive.

    One exchange on o_orderpriority serves all four functions (same
    window frame); the ordering carries the o_orderkey tiebreaker so
    every rank-derived number is total-ordered — without it
    percent_rank/ntile on tied prices are engine-ambiguous. At fact
    scale this is the classic "global sort per group" window: the
    partition count is the cohort count, so a skewed cohort needs the
    two-level pre-aggregate variant (top_products_daily's shape)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def daily_revenue_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling with LINEAR INTERPOLATION — the
    time-series companion to daily_revenue_gapfilled's forward fill:
    a gap day gets the straight line between its nearest real
    neighbors, prev + (next−prev)·Δ/span (day, revenue,
    revenue_interp, is_gap). Leading/trailing gaps coalesce to the
    single available neighbor.

    Two symmetric one-pass windows over the day grain: the preceding
    window carries (last real value, its day) forward, the following
    window carries the next pair backward — both ignorenulls over a
    WHEN-guarded day column, so no join against a shifted copy. All
    closing arithmetic is double over exact-decimal-derived revenues
    and integer day distances — engine-exact, no rounding needed.
    Global ORDER BY is safe at the day grain (thousands of rows; at
    fact scale partition by month with carried boundaries, the
    gapfilled note)."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    daily = daily_order_revenue(o).select(
        "day", F.col("rev").cast("double").alias("revenue")
    )
    spine = (
        daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    g = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    real_day = F.when(F.col("revenue").isNotNull(), F.col("day"))
    g = g.select(
        "day",
        "revenue",
        F.last("revenue", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(real_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("revenue", ignorenulls=True).over(w_next).alias("nv"),
        F.first(real_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    span = F.datediff("nd", "pd").cast("double")
    frac = F.datediff("day", "pd").cast("double") / span
    interp = F.when(
        F.col("pv").isNotNull() & F.col("nv").isNotNull() & (span > 0),
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
    ).otherwise(F.coalesce("pv", "nv"))
    return g.select(
        "day",
        "revenue",
        interp.alias("revenue_interp"),
        F.col("revenue").isNull().alias("is_gap"),
    )


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue
    with a 1-day half-life over a trailing 14-day horizon: (day,
    revenue, ewma) for every day present in the data.

    A recurrence like ewma[t] = α·x[t] + (1−α)·ewma[t−1] has no
    distributed window form, but a FINITE-horizon EWMA is just a
    weighted trailing sum — and built-in window frames can't weight
    by offset, so this reuses the contribute-then-aggregate fan-out
    from active_users_trailing_7d: each source day fans its revenue
    out to the 14 target days it influences with weight 2^-age, and
    one hash aggregate per target day sums contributions and weights.
    The daily table the fan-out runs over is dates-sized — at 100 TB
    the fact shuffle is the per-day rollup; everything after is
    negligible and shuffle-local (the target-day aggregate reuses
    nothing from the fact).

    Engine-exactness: the 2^-k weights scale to INTEGER weights
    2^(13−k) — the normalized ratio is unchanged, and weight·revenue
    becomes a narrow exact decimal product, DECIMAL(24,2), instead of
    a fractional-scale multiply that tops precision 38 and makes each
    engine reduce scale its own way (DuckDB additionally overflows
    rescaling scale-2 onto scale-15 in int64). The closing
    normalization (Σw·x)/(Σw) is one double division of exact
    operands. Weights renormalize over the days actually present
    (series edges and interior gaps keep a proper weighted mean
    instead of decaying toward zero).
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders"))
    wts = F.array(*[F.lit(1 << (13 - i)) for i in range(14)])
    contribs = daily.select(
        "day", "rev", F.posexplode(wts).alias("k", "wt")
    ).select(
        F.date_add("day", F.col("k")).alias("tday"),
        (
            F.col("rev").cast("decimal(18,2)")
            * F.col("wt").cast("decimal(5,0)")
        ).alias("wr"),
        "wt",
    )
    acc = contribs.groupBy("tday").agg(
        F.sum("wr").alias("swr"), F.sum("wt").alias("sw")
    )
    return daily.join(acc, daily.day == acc.tday).select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("swr").cast("double") / F.col("sw").cast("double")).alias(
            "ewma"
        ),
    )


def revenue_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue deltas: (day, revenue, prev_revenue,
    delta, pct_change) where prev is the previous PRESENT day's
    revenue (lag over the observed series — gap-fill variants live in
    daily_revenue_gapfilled/interpolated). The first day's prev/delta
    and pct rows land NULL; pct guards prev = 0.

    The lag window is a global ORDER BY over the dates-sized rollup —
    thousands of rows at any fact scale. delta subtracts the exact
    decimal sums BEFORE the double cast (order-free); pct_change is
    one double division.
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders"))
    w = Window.orderBy("day")
    d = daily.select(
        "day", "rev", F.lag("rev", 1).over(w).alias("prev")
    )
    delta = F.col("rev") - F.col("prev")
    return d.select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        F.col("prev").cast("double").alias("prev_revenue"),
        delta.cast("double").alias("delta"),
        F.when(
            F.col("prev") != 0,
            delta.cast("double") / F.col("prev").cast("double"),
        ).alias("pct_change"),
    )


BOLLINGER_WINDOW = 20
BOLLINGER_K = 2.0


def bollinger_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily revenue: the trailing-20-day rolling
    mean ± 2σ envelope, with a breach flag when the day lands outside
    it — the volatility-aware alternative to fixed-threshold revenue
    alerts (the band widens in noisy periods instead of false-firing).

    Shape: one fact shuffle to the daily rollup, then a rows-frame
    window over the date spine — the ordered window sees the
    dates-sized aggregate (~365·years rows), never the fact, so the
    single-partition sort is bounded at any fact scale. Determinism:
    windowed Σx and Σx² are exact DECIMAL sums (x² multiplies in
    DOUBLE and quantizes first — the numeric_corr_matrix seam); mean
    and the sample-variance closing arithmetic are a fixed dag of
    IEEE double ops on those exact operands. Days without a full
    20-day history emit NULL bands and never flag.
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders"))
    w = Window.orderBy("day").rowsBetween(-(BOLLINGER_WINDOW - 1), 0)
    revd = F.col("rev").cast("double")
    # squares quantize at SCALE 0 (r6): a 20-day window of ~2.6e14
    # squares sums to ≲5e15 scaled units — under 2^53, where every
    # engine's decimal→double conversion is exact (the old scale-6
    # sums sat at ~2.6e20 and double-rounded differently per engine —
    # trap #4, caught by the sf0.1 sweep). The integer rounding is
    # midpoint-free: a 2dp value's square has fraction c/10⁴ with
    # c = cents² mod 10⁴, and c = 5000 is impossible (squares mod 16
    # are {0,1,4,9}, 5000 ≡ 8).
    sq = F.round(revd * revd, 0).cast("decimal(38,0)")
    d = daily.select(
        "day",
        revd.alias("revenue"),
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("rev").over(w).alias("s"),
        F.sum(sq).over(w).alias("ss"),
    )
    n = F.col("n_win").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    mean = s / n
    var = (n * ss - s * s) / (n * (n - 1))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    full = F.col("n_win") == BOLLINGER_WINDOW
    # band surface quantizes by EXPLICIT floor(x·1e6)/1e6 (r6): both
    # engines then run the identical IEEE dag on identical doubles —
    # round(double, 6) is implemented differently per engine
    # (shortest-repr HALF_UP vs scaled-multiply) and flipped one
    # boundary-straddling band at sf0.1. The breach flag compares
    # against the quantized bands so the boolean stays deterministic.
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    upper = q6(F.when(full, mean + F.lit(BOLLINGER_K) * sd))
    lower = q6(F.when(full, mean - F.lit(BOLLINGER_K) * sd))
    return d.select(
        "day",
        "revenue",
        q6(F.when(full, mean)).alias("mean20"),
        upper.alias("upper_band"),
        lower.alias("lower_band"),
        F.coalesce(
            (F.col("revenue") > upper) | (F.col("revenue") < lower),
            F.lit(False),
        ).alias("is_breach"),
    )


EWMA_ALPHA = 0.3


def _recurse_daily(
    spark: SparkSession, sf_dir: str, kernel: Callable[..., dict], schema: str
) -> DataFrame:
    """The recursive oracle class's one grouped-map boundary: the whole
    order-revenue day series runs as ONE group, sorted by day, through
    ``kernel(day, x)`` — the day Series and the DOUBLE revenue array —
    which returns the columns that follow (day, revenue), typed by
    ``schema``. One group is sound because the series is
    calendar-bounded (thousands of rows at any fact scale, the
    bounded-group contract shared with value_drift_ks); the fact is
    touched once, by the day rollup. The kernels are module functions,
    so the package ships to the workers first."""
    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)
    daily = daily_order_revenue(table(spark, sf_dir, "orders")).select(
        "day", F.col("rev").cast("double").alias("revenue")
    )

    def fit(pdf):
        pdf = pdf.sort_values("day").reset_index(drop=True)
        out = kernel(pdf["day"], pdf["revenue"].to_numpy(float))
        return pdf[["day", "revenue"]].assign(**out)

    return daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        fit, "day date, revenue double, " + schema
    )


def _q4(v):
    """The recursions' rounding lattice floor(v·1e4 + 0.5)/1e4: explicit
    IEEE ops, the same bits as the DuckDB twins' expression."""
    return np.floor(v * 1e4 + 0.5) / 1e4


def _ewma_series(day, x):
    e = np.empty_like(x)
    prev = _q4(x[0])
    e[0] = prev
    for i in range(1, len(x)):
        prev = _q4(EWMA_ALPHA * x[i] + (1.0 - EWMA_ALPHA) * prev)
        e[i] = prev
    return {"ewma": e}


def ewma_recursive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue
    (alpha = 0.3) — the smoothing recursion behind every ops
    dashboard's trend line, and deliberately the repo's RECURSIVE
    oracle pairing: e_t = alpha*x_t + (1-alpha)*e_{t-1} cannot be
    phrased as a finite window aggregate, so Spark runs it as a
    grouped-map over the DAY-GRAIN series (thousands of rows, the
    documented bounded-group contract shared with value_drift_ks)
    while the DuckDB twin is a recursive CTE.

    Determinism across a 2400-step float recursion: each step rounds
    via floor(v*1e4 + 0.5)/1e4 — EXPLICIT IEEE ops on both engines,
    NOT each engine's round() builtin (library decimal-rounding
    semantics diverge from scaled-double arithmetic at revenue
    magnitudes; the floor form is the same bit pattern everywhere).
    The fact shuffle is the one day rollup; the recursion input is
    the aggregated series, never the fact.
    """
    return _recurse_daily(spark, sf_dir, _ewma_series, "ewma double")


def _holt_series(day, x):
    n = len(x)
    level, trend, fc = (np.full(n, np.nan) for _ in range(3))
    if n >= 2:
        lv, bv = _q4(x[0]), _q4(x[1] - x[0])
        level[0], trend[0] = lv, bv
        for i in range(1, n):
            fc[i] = lv + bv
            # literal 0.7/0.9 (not 1-alpha expressions) so the
            # constants are the same double bits as the SQL twin's
            new_l = _q4(0.3 * x[i] + 0.7 * (lv + bv))
            bv = _q4(0.1 * (new_l - lv) + 0.9 * bv)
            lv = new_l
            level[i], trend[i] = lv, bv
    return {"level": level, "trend": trend, "forecast": fc}


def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of daily revenue (a = 0.3,
    g = 0.1): coupled level/trend recursions l_t = a*x_t + (1-a)*(l+b),
    b_t = g*(l_t - l_prev) + (1-g)*b — the next step up from
    ewma_recursive_daily (which has no trend state), emitting the
    one-step-ahead forecast each day. Same recursive oracle class:
    grouped-map over the day series vs a DuckDB recursive CTE, every
    carried scalar rounded with the explicit floor(v*1e4 + 0.5)/1e4
    lattice so a 2400-step double recursion stays bit-identical.
    Seed: l_0 = x_0, b_0 = x_1 - x_0 (both lattice-rounded).
    """
    return _recurse_daily(
        spark, sf_dir, _holt_series,
        "level double, trend double, forecast double",
    )


def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-observation rolling MEDIAN of daily revenue — the
    robust counterpart of moving_avg_7d (one bad day skews a mean for
    a week; it moves a median by at most one rank).

    No engine has an exact median window aggregate with portable
    semantics, so the frame is materialized explicitly: collect the
    ≤7 trailing revenues, array_sort, index the middle (even frames
    average the two middle elements — a 2-term double op). The fact
    collapses to the day grain (exact decimal sums) BEFORE the window
    runs, so the single-partition window sees ~2.4k rows regardless
    of order volume; at a finer output grain the same frame
    partitions by key. Sorting ≤7 doubles per row is O(1).
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders")).select(
        F.col("day").alias("d"), F.col("rev").cast("double").alias("revenue")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("revenue").over(w))
    k = F.size(arr)
    med = F.when(
        k % 2 == 1,
        F.element_at(arr, ((k + 1) / 2).cast("int")),
    ).otherwise(
        (
            F.element_at(arr, (k / 2).cast("int"))
            + F.element_at(arr, (k / 2).cast("int") + 1)
        )
        / 2.0
    )
    return daily.select(
        "d",
        "revenue",
        k.cast("long").alias("n_window"),
        med.alias("median_7"),
    )


MASE_TEST_DAYS = 28


def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive (lag-7) forecaster on daily
    revenue, scored as MASE — the scale-free forecast-accuracy gate
    that tells you whether holt_linear_daily/stl_daily_revenue
    actually beat "same day last week". MASE < 1 ⇔ the seasonal
    model out-forecasts the naive-1 random walk on the holdout.

    The last 28 observed days are the holdout; both forecasts are
    LAGs over the day-grain series (no model state). Per-day
    absolute errors are differences of exact-decimal-sum doubles,
    quantized to DECIMAL(18,6) before the mean so the ≤28-way sums
    are order-free (the bm25 seam), and the closing MAE/MASE
    arithmetic is a fixed IEEE dag. The fact collapses to the day
    grain before any window runs.
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders")).select(
        F.col("day").alias("d"), F.col("rev").cast("double").alias("revenue")
    )
    w = Window.orderBy("d")
    wd = Window.orderBy(F.col("d").desc())
    lagged = daily.select(
        "d",
        "revenue",
        F.lag("revenue", 7).over(w).alias("f_s7"),
        F.lag("revenue", 1).over(w).alias("f_n1"),
        F.row_number().over(wd).alias("rn_desc"),
    )
    test = lagged.where(
        (F.col("rn_desc") <= MASE_TEST_DAYS)
        & F.col("f_s7").isNotNull()
        & F.col("f_n1").isNotNull()
    )
    q = lambda c: F.round(F.abs(c), 6).cast("decimal(18,6)")  # noqa: E731
    agg = test.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(q(F.col("revenue") - F.col("f_s7"))).alias("ae_s7"),
        F.sum(q(F.col("revenue") - F.col("f_n1"))).alias("ae_n1"),
    )
    n = F.col("n_test").cast("double")
    mae_s7 = F.col("ae_s7").cast("double") / n
    mae_n1 = F.col("ae_n1").cast("double") / n
    return agg.select(
        "n_test",
        mae_s7.alias("mae_snaive7"),
        mae_n1.alias("mae_naive1"),
        F.when(mae_n1 > 0, mae_s7 / mae_n1).alias("mase"),
    )


def revenue_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supervised-learning feature matrix for daily-revenue
    forecasting: per day — target, lag-1/7/14, trailing-7 mean,
    day-of-week, month-end flag. This is the assembly step that turns
    the analytics tables into model input; every forecasting op in
    the registry consumes features shaped exactly like these.

    All lags/rollups are one window family over the day-grain series
    (the fact aggregates first), so the matrix costs one exchange no
    matter the order volume. Lags are exact-decimal-sum doubles;
    the trailing mean divides an exact decimal window sum by the
    frame row count; calendar features are pure integer expressions.
    Rows missing a lag keep NULL (the model's mask), not a fake 0.
    """
    daily = daily_order_revenue(
        table(spark, sf_dir, "orders")
    ).withColumnRenamed("day", "d")
    w = Window.orderBy("d")
    wf = Window.orderBy("d").rowsBetween(-6, 0)
    rev = F.col("rev").cast("double")
    return daily.select(
        "d",
        rev.alias("revenue"),
        F.lag("rev", 1).over(w).cast("double").alias("lag_1"),
        F.lag("rev", 7).over(w).cast("double").alias("lag_7"),
        F.lag("rev", 14).over(w).cast("double").alias("lag_14"),
        (
            F.sum("rev").over(wf).cast("double")
            / F.count("rev").over(wf).cast("double")
        ).alias("ma_7"),
        F.weekday("d").cast("int").alias("dow"),
        (F.col("d") == F.last_day("d")).alias("is_month_end"),
    )


CONFORMAL_ALPHA_PCT = 90
CONFORMAL_H = 7


def conformal_forecast_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free conformal prediction band around a 7-day
    seasonal-naive revenue forecast — the modern uncertainty wrapper
    (split conformal: the band's half-width is an exact order
    statistic of historical |residual|s, so ~90% coverage holds with
    NO distributional assumption; forecast_backtest_mase says how
    good the point forecast is, THIS says how wide its honest error
    bars are).

    Every piece is exact: residuals are differences of decimal-sum
    doubles, the calibration quantile is the ⌈0.9·(n+1)⌉-th order
    statistic picked by a rank window over the day-grain series (no
    interpolation), and the forecast for T+1..T+7 is the last
    observed week read off a lag window. Day-grain throughout.
    """
    daily = daily_order_revenue(table(spark, sf_dir, "orders")).select(
        F.col("day").alias("d"), F.col("rev").cast("double").alias("revenue")
    ).localCheckpoint(eager=True)  # day-grain; 3 consumers below
    w = Window.orderBy("d")
    resid = daily.select(
        "d",
        F.abs(
            F.col("revenue") - F.lag("revenue", 7).over(w)
        ).alias("ar"),
    ).where(F.col("ar").isNotNull())
    wr = Window.orderBy("ar", "d")
    ranked = resid.select(
        "ar", F.row_number().over(wr).cast("long").alias("rk")
    )
    n_cal = ranked.agg(F.max("rk").alias("n_cal"))
    # ranks ascend with |residual|, so the calibration quantile (the
    # smallest qualifying rank's value) is simply MIN(ar) over ranks
    # past the 90% mark — pure integer threshold arithmetic
    q = (
        ranked.crossJoin(F.broadcast(n_cal))
        .where(
            F.col("rk") * 100
            >= (F.col("n_cal") + 1) * CONFORMAL_ALPHA_PCT
        )
        .agg(F.min("ar").alias("q_cal"))
    )
    wd = Window.orderBy(F.col("d").desc())
    last_week = (
        daily.select(
            "d",
            "revenue",
            F.row_number().over(wd).alias("rn"),
        )
        .where(F.col("rn") <= CONFORMAL_H)
        .select(
            F.date_add("d", CONFORMAL_H).alias("forecast_day"),
            F.col("revenue").alias("forecast"),
        )
    )
    return last_week.crossJoin(F.broadcast(q)).select(
        "forecast_day",
        "forecast",
        (F.col("forecast") - F.col("q_cal")).alias("lo"),
        (F.col("forecast") + F.col("q_cal")).alias("hi"),
        F.col("q_cal").alias("half_width"),
    )


TOP_MOVERS = 15


def top_movers_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biggest month-over-month REVENUE-RANK movers among parts — the
    merchandising "what's suddenly hot / collapsing" report
    (rank deltas, not revenue deltas: a 2× jump matters more for a
    mid-tail part than for the #1).

    The fact collapses to (ship month, part) exact-decimal revenue;
    ranks are month-partitioned windows over that grid (the
    top_products_daily shape — never a global sort of the fact);
    consecutive months align via an equi-join on (part, month−1),
    and the global top-15 by absolute delta is one
    TakeOrderedAndProject with full tiebreaks.
    """
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("m"),
        "l_partkey",
    ).agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(28,4)")
        ).alias("rev")
    )
    wr = Window.partitionBy("m").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    )
    ranked = monthly.select(
        "m",
        "l_partkey",
        F.col("rev").cast("double").alias("revenue"),
        F.row_number().over(wr).cast("long").alias("rnk"),
    ).localCheckpoint(eager=True)  # both sides of the MoM self-join
    prv = ranked.select(
        F.add_months("m", 1).alias("m"),
        F.col("l_partkey"),
        F.col("rnk").alias("prev_rnk"),
    )
    j = ranked.join(prv, ["m", "l_partkey"])
    delta = F.col("prev_rnk") - F.col("rnk")  # + = climbed
    return (
        j.select(
            "m",
            "l_partkey",
            "revenue",
            "rnk",
            "prev_rnk",
            delta.alias("rank_delta"),
        )
        .orderBy(
            F.abs(F.col("rank_delta")).desc(),
            F.col("m").asc(),
            F.col("l_partkey").asc(),
        )
        .limit(TOP_MOVERS)
    )


def _holt_winters_series(day, x):
    dow = day.map(lambda d: (d.weekday() + 1) % 7).to_numpy()
    n = len(x)
    level, trend, fc, seas = (np.full(n, np.nan) for _ in range(4))
    if n >= 2:
        s = [0.0] * 7
        lv, bv = _q4(x[0]), _q4(x[1] - x[0])
        level[0], trend[0], seas[0] = lv, bv, 0.0
        for i in range(1, n):
            d = int(dow[i])
            sd = s[d]
            fc[i] = lv + bv + sd
            # literal complements (0.7/0.9/0.8) — the same double
            # bits the SQL twin parses
            new_l = _q4(0.3 * (x[i] - sd) + 0.7 * (lv + bv))
            bv = _q4(0.1 * (new_l - lv) + 0.9 * bv)
            s[d] = _q4(0.2 * (x[i] - new_l) + 0.8 * sd)
            lv = new_l
            level[i], trend[i], seas[i] = lv, bv, s[d]
    return {
        "dow": dow.astype("int32"),
        "forecast": fc,
        "level": level,
        "trend": trend,
        "seasonal": seas,
    }


def holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple smoothing of daily revenue with a
    weekly season — the third member of the recursive oracle class
    (ewma_recursive_daily: level; holt_linear_daily: level+trend;
    here: level+trend+7 seasonal slots). Each day emits the one-step
    forecast l+b+s[dow] made BEFORE observing the day, then updates
    l_t = a*(x_t - s[dow]) + (1-a)*(l+b),
    b_t = g*(l_t - l) + (1-g)*b,
    s[dow] = d*(x_t - l_t) + (1-d)*s[dow].
    Seasonal state seeds at ZERO (the delta recursion learns the
    weekly shape within a few cycles) so seeding never depends on the
    first week's weekday coverage — gap days simply skip their slot.

    Determinism: every carried scalar (level, trend, each seasonal
    slot) is rounded on the explicit floor(v*1e4+0.5)/1e4 lattice at
    every step, so the ~2400-step coupled 9-state double recursion is
    bit-identical to the DuckDB recursive-CTE twin (whose per-slot
    updates are generated from the same expressions). Scale: the
    recursion runs over the DAY-grain series (thousands of rows at
    any corpus size) in one grouped-map; the fact is touched once by
    the daily rollup.
    """
    return _recurse_daily(
        spark, sf_dir, _holt_winters_series,
        "dow int, forecast double, level double, trend double,"
        " seasonal double",
    )
