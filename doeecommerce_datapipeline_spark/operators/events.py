"""Event-stream operators over the events table (batch formulations;
streaming/ has the readStream variants).

The reference is strictly batch (SURVEY.md §2.9) — these are the
extension surface its `events` fixture exists for: tumbling-window
rollups, gap-based sessionization, and the as-of join Spark lacks
natively.

Scale notes: sessionize and as-of both shuffle once on the entity key
and sort within partitions — the window never sees more than one
entity's timeline. At 100 TB the entity-key shuffle is the cost; salt
or pre-bucket by entity if one user dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import (
    lattice_2dp,
    lattice_split_sum,
    money_lattice_dsum,
    money_lattice_sum,
)
from ..io import table
from .skew import salted_aggregate

SESSION_GAP_MINUTES = 30


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate per event type: the batch analog
    of a Structured Streaming windowed agg (F.window equivalent via
    date_trunc so the oracle twin is exact)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_lattice_dsum("value", "decimal(18,6)").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1 h window, 30 min slide): the
    overlapping-window Structured Streaming shape, in batch. ``F.window``
    with a slide fans each event into exactly window/slide = 2 windows
    before the hash agg — no self-join, and the expansion happens
    map-side so only (window, event_type) groups shuffle.

    Window starts are epoch-aligned µs arithmetic, so the oracle twin
    reproduces them exactly with make_timestamp(epoch_us // slide).
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_lattice_dsum("value", "decimal(18,6)").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds 30 minutes.

    lag → gap flag → running sum = session index. One shuffle on
    user_id; both windows share the same partitioning (single sort).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_flag = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w)
        > SESSION_GAP_MINUTES * 60,
        1,
    ).otherwise(0)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.sum(gap_flag)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_idx"),
    )


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup on top of sessionize: length, duration,
    value — the session-level feature table."""
    s = sessionize(spark, sf_dir)
    e = table(spark, sf_dir, "events").select("event_id", "value")
    return (
        s.join(e, "event_id")
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_sec"
            ),
            money_lattice_dsum("value", "decimal(18,6)").alias("session_value"),
        )
    )


def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each event picks the most
    recent order of the same user at-or-before the event time.

    Spark-first formulation: union the two timelines, one window pass
    per user carries the last-seen order forward (last_value with
    ignoreNulls over rows-unbounded-preceding), keep event rows.
    This is a single shuffle on the key — no per-group pandas needed.

    Orders are pre-deduped to one per (custkey, date) — max orderkey
    wins — because as-of among equal timestamps is otherwise
    nondeterministic in any engine.
    """
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    o1 = (
        o.groupBy("o_custkey", "o_orderdate")
        .agg(F.max_by(
            F.struct("o_orderkey", "o_totalprice"), F.col("o_orderkey")
        ).alias("ord"))
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderdate").alias("t"),
            F.col("ord.o_orderkey").alias("ord_key"),
            F.col("ord.o_totalprice").alias("ord_price"),
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("string").alias("event_type"),
        )
    )
    e1 = e.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("ord_key"),
        F.lit(None).cast("double").alias("ord_price"),
        F.lit(1).alias("side"),
        "event_id",
        "event_type",
    )
    merged = o1.unionByName(e1)
    w = (
        Window.partitionBy("key")
        .orderBy(F.col("t").asc(), F.col("side").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        merged.select(
            "key",
            "t",
            "side",
            "event_id",
            "event_type",
            F.last("ord_key", ignorenulls=True).over(w).alias("last_orderkey"),
            F.last("ord_price", ignorenulls=True).over(w).alias("last_orderprice"),
        )
        .where(F.col("side") == 1)
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.col("t").alias("ts"),
            "event_type",
            "last_orderkey",
            "last_orderprice",
        )
    )


def range_join_same_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: pair each event with the count of other events of the
    same user within ±1 hour — the generic interval-join shape, realized
    as a self-join on (user, hour-bucket grid) then range filter, so the
    join is equi on (user, bucket) rather than a cross product."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("ts").cast("long").alias("sec")
    )
    # each row lands in its bucket plus the two neighbors → candidate
    # pairs always share a bucket; exact range filter afterwards
    probe = e.select(
        "event_id", "user_id", "sec", F.explode(
            F.array(
                (F.col("sec") / 3600).cast("long") - 1,
                (F.col("sec") / 3600).cast("long"),
                (F.col("sec") / 3600).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    build = e.select(
        F.col("event_id").alias("other_id"),
        F.col("user_id").alias("u2"),
        F.col("sec").alias("sec2"),
        (F.col("sec") / 3600).cast("long").alias("bucket2"),
    )
    pairs = probe.join(
        build,
        (F.col("user_id") == F.col("u2"))
        & (F.col("bucket") == F.col("bucket2"))
        & (F.col("other_id") != F.col("event_id"))
        & (F.abs(F.col("sec2") - F.col("sec")) <= 3600),
    )
    return (
        pairs.groupBy("event_id", "user_id")
        .agg(F.countDistinct("other_id").alias("neighbors_1h"))
    )


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day,
    counted at each day-offset they return — the product-analytics
    retention matrix.

    Shape: distinct (user, day) → per-user min day → join back on
    user_id → rollup. The distinct partitions on (user_id, day), so
    the per-user aggregate re-exchanges on user_id alone — and the
    tiny per-user cohort table then comes back over the activity set
    as a broadcast (AQE's call at these sizes). Rows after the first
    distinct are ≤ users × active-days, already far below the raw
    event count, so every post-distinct exchange is small.
    """
    e = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        # (user, day) is distinct, so plain COUNT is the user count
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5) — the statistical
    anomaly-detection shape.

    Determinism: mean and variance are derived from EXACT decimal sums
    (Σv, Σv², event_moments' aggregate) — per-element double squaring
    is deterministic, the decimal sums are order-independent, and the
    closing mean/variance/sqrt arithmetic is all-double on
    bit-identical operands — so z is bit-identical across engines and
    the threshold can't flip rows.

    Scale: one partial-aggregated shuffle to a tiny per-type stats
    table, broadcast back over the fact — no second fact shuffle.

    Degenerate groups are excluded up front: n <= 1 has no sample
    variance, and FP cancellation on a near-constant group can push the
    computed variance epsilon-negative, where Spark's sqrt returns NaN
    but an oracle engine may hard-error — so the variance is clamped at
    zero and zero-sigma groups (which would make z a 0/0 NaN with
    engine-dependent ordering) are dropped: a constant group has no
    outliers by definition.

    Scale-stable lattices (r6 — the sf0.1 sweep caught the old
    DECIMAL(28,10) sums double-rounding on the decimal→double seam,
    trap #4): value is a 2dp quantity, so Σv sums on DECIMAL(28,2)
    and Σv² quantizes the product to its natural 4dp lattice — both
    scaled sums stay far under 2^53, where int128→double conversion
    is exact in every engine. round-HALF_UP vs HALF_EVEN can't
    diverge because a 2dp/4dp-intended double never sits on the next
    digit's midpoint.
    """
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = event_moments(e)
    mu = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("n") * mu * mu) / (F.col("n") - 1)
    stats = (
        stats.where(F.col("n") > 1)
        .select(
            "event_type",
            mu.alias("mu"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"),
        )
        .where(F.col("sigma") > 0)
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", z.alias("zscore"))
    )


def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for each pair of event types, on how
    many (user, day) baskets both appear.

    The self-join is equi on (user_id, day) with type_a < type_b, so
    per-basket fan-out is bounded by the event-type vocabulary squared
    (a handful), never by basket size — the distinct() before the join
    is what keeps a heavy user from going quadratic.
    """
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .distinct()
    )
    a = d.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = d.select("user_id", "day", F.col("event_type").alias("type_b"))
    return (
        a.join(b, ["user_id", "day"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: of users who viewed, how many clicked after
    their first view, then purchased after that first click — the
    product-analytics sequence operator.

    One shuffle total: the three conditional-min window passes are all
    unordered over the same user_id partitioning (each stage's anchor
    timestamp feeds the next stage's condition), and the final global
    rollup is a single row. COUNT(col) counts non-null anchors, so
    stage reach falls out without explicit flags.
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "fv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    d = d.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("fc")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.max("fv").alias("fv"),
        F.max("fc").alias("fc"),
        F.max("fp").alias("fp"),
    )
    return per_user.agg(
        F.count("fv").alias("n_viewed"),
        F.count("fc").alias("n_clicked_after"),
        F.count("fp").alias("n_purchased_after"),
        (F.count("fp").cast("double") / F.count("fv")).alias(
            "view_to_purchase_rate"
        ),
    )


def active_users_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU and trailing-7-day active users (the DAU/WAU
    "stickiness" metric) — the rolling COUNT(DISTINCT) every product
    dashboard needs and no engine does naively at scale.

    A windowed count-distinct cannot merge partial states, so the
    scalable shape is contribute-then-aggregate: each distinct
    (user, day) row fans out to the 7 window anchors it belongs to
    (a bounded ×7 map-side explode of bare (user, date) pairs — tiny
    next to the raw events), then ONE hash aggregate per anchor day
    counts distinct users; DAU rides along as a conditional distinct
    over the same shuffle. Anchors past the observed range are
    dropped with a semi-join against the real day set.
    """
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    days = d.select("day").distinct().withColumnRenamed("day", "target_day")
    ex = d.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
            "target_day"
        ),
    )
    agg = ex.groupBy("target_day").agg(
        F.countDistinct("user_id").alias("t7au"),
        F.countDistinct(
            F.when(F.col("day") == F.col("target_day"), F.col("user_id"))
        ).alias("dau"),
    )
    return agg.join(days, "target_day", "semi").select(
        F.col("target_day").alias("day"),
        "dau",
        "t7au",
        (F.col("dau").cast("double") / F.col("t7au")).alias("stickiness"),
    )


def salted_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped stats over event_type computed through the SALTED
    two-phase aggregate (operators/skew.py) — event_type has ~5 values
    over the whole fact, the exact hot-key profile where one reducer
    would absorb 20% of all rows.

    Oracle-paired against a plain GROUP BY: the salting must be
    invisible in the results (associative aggregates only; sums
    re-aggregate as exact decimals), which is the entire point — the
    query proves the skew pattern is semantics-preserving, not just
    unit-tested on toys.
    """
    e = table(spark, sf_dir, "events")
    out = salted_aggregate(
        e,
        ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "total_value": ("value", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


def session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session opening paths: the ordered sequence of the first
    5 event types per session, counted across sessions — the
    path-analysis / clickstream-pattern query.

    collect_list in a groupBy is UNORDERED; the deterministic form is
    collect_list over a fully-ordered window (ts, event_id tiebreak),
    which reuses the sessionizer's (user) partitioning. Top-10 via
    TakeOrderedAndProject with a path tiebreak, so the cut is
    total-ordered and engine-identical.
    """
    s = sessionize(spark, sf_dir)
    w = Window.partitionBy("user_id", "session_idx").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = s.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    path = F.array_join(
        F.collect_list("event_type").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
        ">",
    )
    per_session = (
        seq.withColumn("path", path).where(F.col("rn") == 1)
        .select("user_id", "session_idx", "path")
    )
    return (
        per_session.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (user_id,
    n_active_days, longest_streak) — the gaps-and-islands shape on a
    date grid (scd2 does it on ordered change rows; this is the
    calendar variant).

    day − row_number is constant within a run of consecutive days, so
    the island key needs ONE window then one two-level aggregate — all
    three steps reuse the user_id hash partitioning (subset rule), a
    single shuffle end to end over the distinct (user, day) set.
    """
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    runs = d.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
    )


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration: how many customers produce 80% of
    order revenue (n_customers_80pct, total_customers, top_share).

    The cumulative-share window is a global ORDER BY — safe because it
    runs over the aggregated per-customer table (thousands of rows),
    never the orders fact; revenue comes from exact decimal sums so
    the 0.8 threshold cut is engine-stable, with custkey as the
    total-order tiebreak for equal revenues.
    """
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        money_lattice_sum("o_totalprice").alias("rev")
    )
    total = per_cust.agg(F.sum("rev").alias("tot"))
    w = Window.orderBy(F.desc("rev"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_cust.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        (
            F.sum("rev").over(w).cast("double") / F.col("tot").cast("double")
        ).alias("cum_share"),
    )
    flagged = ranked.select(
        (F.col("cum_share") < 0.8).cast("long").alias("below"),
        F.lit(1).alias("one"),
    )
    return flagged.agg(
        # first customer AT or past 0.8 still counts toward the 80%
        (F.sum("below") + F.lit(1)).cast("long").alias("n_customers_80pct"),
        F.sum("one").cast("long").alias("total_customers"),
        (
            (F.sum("below") + F.lit(1)).cast("double") / F.sum("one")
        ).alias("top_share"),
    )


def revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every order's revenue is
    credited to the most recent event TYPE of the same user at or
    before the order date (event_type, n_orders, revenue); orders with
    no prior event land in the NULL bucket. The inverse direction of
    asof_join_last_order (there events look back at orders), closed
    with the revenue rollup marketers actually read.

    Same single-shuffle union-timeline shape: events collapse to one
    deterministic representative per (user, day) — max (ts, event_id)
    wins — then both timelines union, one window per user carries the
    last-seen event type forward (events sort before same-day orders:
    a day's purchase credits that day's touch), and order rows
    aggregate. No join at all — the as-of is a window over the union,
    so the only exchanges are the user-key shuffle and the tiny final
    agg. The DuckDB twin is a native ASOF LEFT JOIN — structurally
    independent, same semantics.
    """
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    e1 = (
        e.select(
            F.col("user_id").alias("key"),
            F.to_date("ts").alias("t"),
            "ts",
            "event_id",
            "event_type",
        )
        .groupBy("key", "t")
        .agg(
            F.max_by(
                F.col("event_type"), F.struct(F.col("ts"), F.col("event_id"))
            ).alias("etype")
        )
        .select(
            "key",
            "t",
            "etype",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("double").alias("o_totalprice"),
        )
    )
    o1 = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("date").alias("t"),
        F.lit(None).cast("string").alias("etype"),
        F.lit(1).alias("side"),
        "o_orderkey",
        "o_totalprice",
    )
    w = (
        Window.partitionBy("key")
        .orderBy("t", "side", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    timeline = e1.unionByName(o1).withColumn(
        "attr_type", F.last("etype", ignorenulls=True).over(w)
    )
    return (
        timeline.where(F.col("side") == 1)
        .groupBy("attr_type")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_lattice_dsum("o_totalprice").alias("revenue"),
        )
        .select(
            F.col("attr_type").alias("event_type"), "n_orders", "revenue"
        )
    )


def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type anomaly summary via median absolute
    deviation: (event_type, n, med, mad, n_outliers) where an outlier
    is |value − med| > 3·MAD — the heavy-tail-safe companion to
    value_zscore_outliers (one planted extreme value shifts a mean/
    sigma fence but leaves a median/MAD fence intact).

    Two percentile aggregates over bounded per-type groups (exact
    F.percentile — the groups are the handful of event types; at
    unbounded cardinality swap for percentile_approx, the
    fact_deciles_scalable trade), each broadcast back onto the fact —
    the fact itself shuffles zero times beyond the partial-aggregated
    group splits. Median and MAD round to 4 dp on both engines before
    the fence comparison (the returnflag_price_quartiles interpolation
    seam), so the deviation arithmetic and the 3·MAD threshold run on
    bit-identical doubles; constant groups (MAD = 0) report zero
    outliers rather than flagging every off-median row.
    """
    e = table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("dev", F.lit(0.5)), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (F.col("dev") > F.lit(3.0) * F.col("mad")),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN ``F.session_window`` — the
    declarative face of what sessionize() does with explicit
    gaps-and-islands windows, and the construct that carries unchanged
    into Structured Streaming (state-store-backed there). Returns
    (user_id, session_start, session_end, n_events, session_value);
    session_end is the engine's close time = last event + gap.

    Boundary semantics (and the one divergence from sessionize): the
    built-in closes a session when the next event arrives AT or past
    gap expiry (gap ≥ 30 min starts a new session), while sessionize's
    explicit lag test uses strictly-greater — the oracle mirrors the
    built-in's ≥. One shuffle on (user, session) like any groupBy; the
    session assignment itself is computed inside the aggregate
    operator, no separate window pass.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_lattice_dsum("value", "decimal(18,6)").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning sweep:
    how many user sessions were simultaneously open at the day's
    busiest instant.

    Classic sweep-line, made partition-parallel: each session (from
    the built-in session_window grouping, end = last event + gap,
    half-open [start, end)) emits +1 at start and −1 at end; the
    running prefix sum IS the instantaneous concurrency. A single
    global ordered sweep would serialize the fact, so the sweep is
    two-level: (a) per-DAY running sums over that day's endpoints (the
    shuffle key every window shares), (b) a per-day carry-in — the
    sessions already open at the day's midnight, counted by exploding
    each session to the later days it covers (bounded: sessions are
    gap-closed, spans are short). peak(day) = carry + max(0, max
    running) — the max over prefix sums is invariant to ordering among
    equal (ts, delta) endpoints, so the result is deterministic with
    no unique tiebreak needed. Endpoints at exactly midnight belong to
    the closing side (end is exclusive).

    The oracle mirrors the same two-level formulation; every value is
    integer arithmetic — exact on any engine.
    """
    e = table(spark, sf_dir, "events")
    sessions = (
        e.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        # the MERGED window's bounds come from the grouping column
        # post-agg (an agg over session_window.* would see the per-row
        # pre-merge windows and truncate the session at first_event+gap)
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
        )
    )
    return peak_concurrency_by_day(sessions)


def peak_concurrency_by_day(sessions: DataFrame) -> DataFrame:
    """The partition-parallel sweep over an arbitrary interval table
    (user_id, s_start, s_end half-open) — see peak_concurrent_sessions
    for the construction; property-tested against a pure-Python brute
    force on random intervals (tests/test_properties.py)."""
    starts = sessions.select(
        F.to_date("s_start").alias("day"),
        F.col("s_start").alias("ts"),
        F.lit(1).alias("delta"),
        "user_id",
    )
    ends = sessions.select(
        F.to_date("s_end").alias("day"),
        F.col("s_end").alias("ts"),
        F.lit(-1).alias("delta"),
        "user_id",
    ).where(
        # a close at EXACTLY midnight belongs to no day's sweep: the
        # session was open only on previous days (end exclusive), and
        # the day's carry-in already excluded it — keeping the −1 here
        # would double-decrement below the carry baseline (caught by
        # the brute-force property test on a midnight-end + midnight-
        # start adjacency)
        F.col("ts") > F.col("day").cast("timestamp")
    )
    endpoints = starts.unionByName(ends)
    w = (
        Window.partitionBy("day")
        .orderBy("ts", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    day_peaks = (
        endpoints.withColumn("run", F.sum("delta").over(w))
        .groupBy("day")
        .agg(F.max("run").alias("max_run"))
    )
    # carry-in: a session open at day d's midnight contributes to every
    # day in (date(start), date(end)]; exclusive end means a session
    # ending exactly at midnight of d is NOT open during d
    carries = (
        sessions.where(F.to_date("s_end") > F.to_date("s_start"))
        .select(
            F.explode(
                F.sequence(
                    F.date_add(F.to_date("s_start"), 1), F.to_date("s_end")
                )
            ).alias("day"),
            "s_end",
        )
        .where(F.col("s_end") > F.col("day").cast("timestamp"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("carry_in"))
    )
    joined = day_peaks.join(carries, "day", "full_outer").select(
        "day",
        F.coalesce("carry_in", F.lit(0)).cast("long").alias("carry_in"),
        (
            F.coalesce("carry_in", F.lit(0))
            + F.greatest(F.coalesce("max_run", F.lit(0)), F.lit(0))
        )
        .cast("long")
        .alias("peak_concurrency"),
    )
    return joined


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from FIRST view
    to the first purchase AFTER it, then exact quartiles of that
    latency — funnel_conversion tells how many users advance; this
    tells how fast. One row: (n_converted, q1_sec, median_sec, q3_sec,
    max_sec).

    Same single-shuffle shape as funnel_conversion (two conditional-
    min windows over one user_id partitioning, no ordering needed),
    then a scalar percentile aggregate over the converted users —
    bounded by the user count, not the event count. Latencies are
    exact integer MICROSECONDS (timestamps carry sub-second parts;
    epoch-seconds would need a float division before the quantile) —
    quartile interpolation at f ∈ {¼,½,¾} over integers is exact
    rational arithmetic in double, so the quartiles are bit-identical
    on any engine (the ship_latency_quartiles seam, one level finer).
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "fv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    ).withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("fv")),
                F.col("ts"),
            )
        ).over(w),
    )
    conv = (
        d.groupBy("user_id")
        .agg(F.min("fv").alias("fv"), F.min("fp").alias("fp"))
        .where(F.col("fp").isNotNull())
        .select(
            (F.unix_micros("fp") - F.unix_micros("fv")).alias("lat_us")
        )
    )
    qs = F.percentile(
        F.col("lat_us"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        qs.alias("q"),
        F.max("lat_us").alias("max_us"),
    ).select(
        "n_converted",
        F.col("q")[0].alias("q1_us"),
        F.col("q")[1].alias("median_us"),
        F.col("q")[2].alias("q3_us"),
        "max_us",
    )


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior: for every ordered
    (current event_type → next event_type) pair across each user's
    timeline, the transition count and conditional probability
    P(next | current) — the sequence-mining primitive behind
    next-action prediction and funnel drop-off analysis.

    Shape: one shuffle on user_id for the lead() window (the same
    exchange sessionize rides), then a counts-only agg on the 5×5
    transition space; the per-state normalizer is a window SUM over
    that tiny result, not the fact. The probability is a single IEEE
    division of exact BIGINT counts — bit-identical on any engine.
    The (ts, event_id) ordering tiebreaker makes the lead sequence
    total-ordered, so the counts are deterministic.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    trans = nxt.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    per_state = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n_trans",
        (
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(per_state).cast("double")
        ).alias("p"),
    )


def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: the conditional entropy of the next
    event type given the current one, per state and overall — the
    information-theoretic readout of markov_transitions' matrix. A
    state with H ≈ 0 has a deterministic successor (funnel rail); the
    stationary-weighted overall rate is the bits/step ceiling any
    next-action model can achieve on this behavior stream. Returns per
    event_type: n_out (outgoing transitions), n_next_types, and
    cond_entropy_nats, plus weight = n_out share for composing the
    overall rate Σ weight·H externally.

    Determinism: p_ij is one IEEE division of exact BIGINT counts;
    each -p·ln(p) term rounds at 9dp and quantizes to DECIMAL(18,9)
    before the ≤|types|-way order-free sum; one 6dp rounding at the
    seam (the bm25 pattern — ln is libm).

    Shape: rides markov_transitions' single user_id exchange; the
    entropy aggregate runs on the ≤|types|² transition table.
    """
    trans = markov_transitions(spark, sf_dir)
    term = F.round(
        -F.col("p") * F.log(F.col("p")), 9
    ).cast("decimal(18,9)")
    # |types|-row table materialized once for its two consumers (the
    # output and the normalizer) — otherwise the fact-sized lead
    # window re-evaluates for the total
    per_state = trans.groupBy("event_type").agg(
        F.sum("n_trans").alias("n_out"),
        F.count(F.lit(1)).alias("n_next_types"),
        F.round(F.sum(term).cast("double"), 6).alias("cond_entropy_nats"),
    ).localCheckpoint()
    total = per_state.agg(F.sum("n_out").alias("n_total"))
    return (
        per_state.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_out",
            "n_next_types",
            "cond_entropy_nats",
            (
                F.col("n_out").cast("double")
                / F.col("n_total").cast("double")
            ).alias("weight"),
        )
        .orderBy("event_type")
    )


BURST_WINDOW_SEC = 60
BURST_FLAG_MIN = 5


def rage_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst (rage-click) detection: each user's maximum number of
    events inside any trailing 60-second window, and a flag when that
    peak reaches 5 — the frustration/abuse signal UX and fraud teams
    both watch (peak_concurrent_sessions asks this about the SYSTEM;
    this asks it about one user's cadence). Per user: n_events,
    max_burst, peak_at (timestamp where the peak window ends,
    earliest such on ties), is_bursty.

    The sliding count is a RANGE frame over event seconds (count of
    events in (t-60, t]) -- no self-join, one user-keyed exchange
    shared by both windows (subset rule). The per-user argmax is the
    (burst DESC, ts ASC, event_id ASC) total order, so peak_at is
    deterministic under ties.

    Reference analog: none -- extension surface (events family).
    """
    e = table(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        "event_id",
        "ts",
        F.unix_timestamp("ts").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(BURST_WINDOW_SEC - 1), 0)
    )
    burst = pts.withColumn("burst", F.count(F.lit(1)).over(w))
    pick = Window.partitionBy("user_id").orderBy(
        F.desc("burst"), F.asc("ts"), F.asc("event_id")
    )
    peaks = (
        burst.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("burst").alias("max_burst"),
            F.col("ts").alias("peak_at"),
            (F.col("burst") >= BURST_FLAG_MIN).alias("is_bursty"),
        )
    )
    totals = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return peaks.join(totals, "user_id").select(
        "user_id", "n_events", "max_burst", "peak_at", "is_bursty"
    )


CONVERT_WINDOW_SEC = 3600


def click_conversion_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intent-conversion heatmap: for every CLICK, did the same user
    purchase within the next hour — rolled up by the click's hour of
    day (UTC): (hour, n_clicks, n_converted, conversion_rate). The
    hour profile funnels staffing/promo timing decisions; the funnel
    family's windowFunnel counts chain DEPTH, this measures the
    clock-time conversion yield of one step.

    Shape: clicks and purchases partition on user_id; the range join's
    fan-out is bounded by per-user purchases inside one hour; a MAX
    per click_id collapses multiple qualifying purchases to ONE
    converted flag before the 24-row hour rollup. All counts exact
    BIGINTs; the rate is one IEEE division.

    Reference analog: none — extension surface (events family).
    """
    e = table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("key"),
        F.unix_timestamp("ts").alias("csec"),
        F.hour("ts").cast("long").alias("hour"),
    )
    buys = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.unix_timestamp("ts").alias("psec"),
    )
    j = clicks.join(buys, "key", "left").select(
        "click_id",
        "hour",
        F.when(
            (F.col("psec") > F.col("csec"))
            & (F.col("psec") <= F.col("csec") + CONVERT_WINDOW_SEC),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("hit"),
    )
    per_click = j.groupBy("click_id", "hour").agg(
        F.max("hit").alias("converted")
    )
    return (
        per_click.groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum("converted").alias("n_converted"),
            (
                F.sum("converted").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("conversion_rate"),
        )
        .orderBy("hour")
    )


# 24 fixed unit-circle coordinates (python-float repr literals, so the
# Spark plan and the oracle SQL carry BIT-IDENTICAL doubles — no
# engine trig on data-dependent angles)
CIRCADIAN_COS = [1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.5000000000000001, 0.25881904510252074, 6.123233995736766e-17, -0.25881904510252063, -0.4999999999999998, -0.7071067811865475, -0.8660254037844387, -0.9659258262890682, -1.0, -0.9659258262890683, -0.8660254037844388, -0.7071067811865479, -0.5000000000000004, -0.25881904510252063, -1.8369701987210297e-16, 0.2588190451025203, 0.5000000000000001, 0.7071067811865474, 0.8660254037844384, 0.9659258262890681]
CIRCADIAN_SIN = [0.0, 0.25881904510252074, 0.49999999999999994, 0.7071067811865475, 0.8660254037844386, 0.9659258262890683, 1.0, 0.9659258262890683, 0.8660254037844387, 0.7071067811865476, 0.49999999999999994, 0.258819045102521, 1.2246467991473532e-16, -0.2588190451025208, -0.4999999999999997, -0.7071067811865471, -0.8660254037844384, -0.9659258262890683, -1.0, -0.9659258262890684, -0.8660254037844386, -0.7071067811865477, -0.5000000000000004, -0.25881904510252157]
RAYLEIGH_Z_CRIT = 2.996  # ~p < 0.05 for the Rayleigh test


def circadian_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional statistics on each user's activity clock: the mean
    resultant length R of event hours mapped to the 24-hour circle,
    and the Rayleigh statistic z = n·R² — R near 0 means activity
    spread uniformly around the clock (bot/scripted traffic; humans
    sleep), R near 1 a tight daily routine. Per user: n_events, r
    (6dp), rayleigh_z, is_concentrated (z above the ~0.05 critical
    value). The bot-screen complement of rage_burst_users: bursts
    catch SPIKES, this catches the absence of a circadian rhythm.

    Determinism: hour-of-day takes only 24 values, so cos/sin come
    from 24 BAKED python-float literals shared verbatim by the plan
    and the oracle SQL — no engine trig anywhere. Per-hour count ×
    literal products quantize at 6dp into DECIMAL(18,6) before the
    ≤24-way sums; sqrt/divisions are one IEEE dag on those exact
    operands.

    Shape: one (user, hour) map-side-combined aggregate is the only
    fact exchange; the resultant reduces ≤24 rows per user.

    Reference analog: none — extension surface (events family).
    """
    e = table(spark, sf_dir, "events")
    per_hour = e.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n_h"))
    cos_c = F.element_at(
        F.array(*[F.lit(c) for c in CIRCADIAN_COS]), F.col("h") + 1
    )
    sin_c = F.element_at(
        F.array(*[F.lit(s) for s in CIRCADIAN_SIN]), F.col("h") + 1
    )
    qx = F.round(F.col("n_h").cast("double") * cos_c, 6).cast(
        "decimal(18,6)"
    )
    qy = F.round(F.col("n_h").cast("double") * sin_c, 6).cast(
        "decimal(18,6)"
    )
    agg = per_hour.groupBy("user_id").agg(
        F.sum("n_h").alias("n_events"),
        F.sum(qx).alias("sx"),
        F.sum(qy).alias("sy"),
    )
    nd = F.col("n_events").cast("double")
    r = (
        F.sqrt(
            F.col("sx").cast("double") * F.col("sx").cast("double")
            + F.col("sy").cast("double") * F.col("sy").cast("double")
        )
        / nd
    )
    return agg.select(
        "user_id",
        "n_events",
        F.round(r, 6).alias("r"),
        F.round(nd * r * r, 6).alias("rayleigh_z"),
        (F.round(nd * r * r, 6) > RAYLEIGH_Z_CRIT).alias(
            "is_concentrated"
        ),
    )


SPRT_L1 = 0.182321557  # ln(p1/p0), p1 = 1.2*p0,
# PRE-ROUNDED to the 9dp lattice: casting the full-precision double
# to DECIMAL(18,9) rounds in Spark but TRUNCATES in the oracle engine
SPRT_UPPER = 2.9444389791664403  # ln((1-beta)/alpha), alpha=beta=0.05
SPRT_LOWER = -2.9444389791664407  # ln(beta/(1-alpha))


def sprt_daily_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test over the experiment's daily
    readouts: Wald's SPRT for "is the treatment arm's purchase rate
    p0·1.2 rather than p0" — the cumulative log-likelihood ratio walks
    day by day until it crosses a decision boundary, the
    peeking-is-allowed monitoring the fixed-horizon z-test
    (ab_conversion_ztest) cannot give. Per treatment day: n_trials,
    n_successes, day_llr, cum_llr, decision
    ('accept_h1' | 'accept_h0' | 'continue' — decisions latch at the
    first crossing by construction of the cumulative walk).

    p0 is the CONTROL arm's pooled purchase share (arm = user_id % 2,
    the experiment convention); p1 = 1.2·p0. LLR_d = k·ln(p1/p0) +
    (n−k)·ln((1−p1)/(1−p0)): the first log is the baked literal
    ln(1.2); the second is one engine ln of the data-derived rate
    QUANTIZED at 9dp into a broadcast scalar, so the per-day LLR is
    exact decimal arithmetic (int counts × decimal logs) and the
    cumulative sum is order-free. Boundaries are baked literals.

    Shape: two fact aggregates (control pooled rate: 1 row; treatment
    per-day counts) and one day-grain cumulative window.

    Reference analog: none — extension surface (experimentation
    family, next to ab_conversion_ztest and cuped_adjusted_ab).
    """
    e = table(spark, sf_dir, "events")
    ctl = e.where(F.col("user_id") % 2 == 0).agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", True)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("p0")
    )
    l2 = ctl.select(
        "p0",
        F.round(
            F.log(
                (1.0 - F.lit(1.2) * F.col("p0")) / (1.0 - F.col("p0"))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("l2"),
    )
    daily = (
        e.where(F.col("user_id") % 2 == 1)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_trials"),
            F.count(
                F.when(F.col("event_type") == "purchase", True)
            ).alias("n_successes"),
        )
    )
    l1 = F.lit(SPRT_L1).cast("decimal(18,9)")
    # counts narrow to DECIMAL(9,0): bigint×decimal(18,9) exceeds
    # precision 38 in Spark and silently rounds the 9th decimal (the
    # huber x-narrowing lesson); daily counts fit 9 digits anywhere
    k = F.col("n_successes").cast("decimal(9,0)")
    nk = (F.col("n_trials") - F.col("n_successes")).cast("decimal(9,0)")
    day_llr = k * l1 + nk * F.col("l2")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    walked = (
        daily.crossJoin(F.broadcast(l2))
        .select(
            "day",
            "n_trials",
            "n_successes",
            day_llr.alias("day_llr_dec"),
        )
        .select(
            "day",
            "n_trials",
            "n_successes",
            # round the DECIMAL (half-away on both engines), THEN cast:
            # scale-9 exact values land on genuine .5 ties at digit 6,
            # where double-rounding algorithms disagree
            F.round(F.col("day_llr_dec"), 6).cast("double").alias(
                "day_llr"
            ),
            F.round(F.sum("day_llr_dec").over(w), 6)
            .cast("double")
            .alias("cum_llr"),
        )
    )
    return walked.select(
        "day",
        "n_trials",
        "n_successes",
        "day_llr",
        "cum_llr",
        F.when(F.col("cum_llr") >= F.lit(SPRT_UPPER), "accept_h1")
        .when(F.col("cum_llr") <= F.lit(SPRT_LOWER), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each view event picks the same user's next
    purchase at-or-after the view time — the mirror of
    asof_join_last_order's backward direction, and the join that
    powers time-to-convert labels for training data (label = the
    future, so the direction matters: a backward as-of here would be
    label leakage). Per view: event_id, user_id, ts, next_purchase_ts,
    next_purchase_value, gap_seconds (NULL when the user never
    purchases again).

    Same single-shuffle formulation, reversed: union both timelines,
    one per-user window ordered DESCENDING carries the earliest
    later-purchase backward (last_value ignoreNulls), keep view rows.
    Purchases pre-dedup to one per (user, ts) — max event_id wins —
    because as-of among equal timestamps is otherwise
    nondeterministic. No per-group pandas, no range self-join.
    """
    e = table(spark, sf_dir, "events")
    p1 = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by(
                F.struct("event_id", "value"), F.col("event_id")
            ).alias("p")
        )
        .select(
            F.col("user_id").alias("key"),
            F.col("ts").alias("t"),
            F.col("p.value").alias("p_value"),
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    v1 = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(None).cast("double").alias("p_value"),
        F.lit(1).alias("side"),
        "event_id",
    )
    # DESC time scan: at a view row, the last non-null purchase seen
    # so far is the EARLIEST purchase at-or-after it; side=0 sorts
    # first among ties so an exactly-simultaneous purchase is visible
    w = (
        Window.partitionBy("key")
        .orderBy(F.desc("t"), F.asc("side"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = p1.unionByName(v1).select(
        "key",
        "t",
        "side",
        "event_id",
        F.last(
            F.when(F.col("side") == 0, F.col("t")), ignorenulls=True
        ).over(w).alias("next_purchase_ts"),
        F.last(
            F.when(F.col("side") == 0, F.col("p_value")),
            ignorenulls=True,
        ).over(w).alias("next_purchase_value"),
    )
    return merged.where(F.col("side") == 1).select(
        "event_id",
        F.col("key").alias("user_id"),
        F.col("t").alias("ts"),
        "next_purchase_ts",
        "next_purchase_value",
        # gap from the EXACT microsecond difference (flooring each
        # timestamp separately before subtracting is off by one when
        # the fractional parts straddle)
        F.floor(
            (
                F.unix_micros("next_purchase_ts") - F.unix_micros("t")
            ).cast("double")
            / 1e6
        ).cast("long").alias("gap_seconds"),
    )


ATTRIBUTION_LOOKBACK_DAYS = 7


def linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch (linear) marketing attribution within the event
    stream: every PURCHASE event's value splits EQUALLY across the
    distinct non-purchase event types the same user touched in the 7
    days up to and including the purchase day —
    (event_type, n_credited_purchases, attributed_value). The
    multi-touch counterpart of revenue_attribution's last-touch model
    (which credits one winner per conversion); intra-events because
    the orders table's 1995–2001 dates never overlap the 2024 event
    window, so a cross-table 7-day lookback is empty by construction.

    Shape: touches dedup to (user, day, type) first, so the
    user-keyed range join fans out by at most 8·|event types| per
    purchase, never by raw event volume; one purchase-id window
    counts the touch set; the final rollup is event-type-sized.
    Determinism: each purchase's per-touch share is value/n rounded
    at 6dp and QUANTIZED to DECIMAL(18,6) before the order-free sum —
    the bm25 per-term seam — so the total is bit-identical on any
    engine. Purchases with no touch in the window are excluded (the
    untouched pool is last-touch's NULL bucket).
    """
    e = table(spark, sf_dir, "events")
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("key"),
            F.to_date("ts").alias("tday"),
            "event_type",
        )
        .distinct()
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.to_date("ts").alias("pday"),
        "event_id",
        "value",
    )
    cand = (
        purchases.join(touches, "key")
        .where(
            (F.col("tday") <= F.col("pday"))
            & (
                F.col("tday")
                >= F.date_sub(F.col("pday"), ATTRIBUTION_LOOKBACK_DAYS)
            )
        )
        .select("event_id", "value", "event_type")
        .distinct()
    )
    w = Window.partitionBy("event_id")
    shares = cand.select(
        "event_id",
        "event_type",
        F.round(
            F.col("value") / F.count(F.lit(1)).over(w).cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("share"),
    )
    return shares.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credited_purchases"),
        F.sum("share").cast("double").alias("attributed_value"),
    )


def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every purchase's value
    splits across the distinct (day, event_type) touches of the same
    user in the 7 days up to the purchase, weighted by recency with a
    ONE-DAY half-life — a touch d days before the purchase carries
    weight 2^(7-d). Completes the attribution family: last-touch
    (revenue_attribution), linear (linear_touch_attribution),
    time-decay (this), Markov removal, Shapley.
    Returns (event_type, n_credited_purchases, attributed_value).

    Determinism: the decay weights are exact POWERS OF TWO (integers
    1..128), so per-purchase weight totals are exact BIGINTs — no
    transcendental pow on either engine. Each touch's credit
    quantizes to exact micro-units by FLOOR division of integers
    (r6 — the old round-at-6dp of a float quotient sat on rounding
    midpoints at sf0.1): micro = floor(cents·w·10⁴ / sum_w), where
    floor(double(p/q)) equals exact integer floor whenever
    floor(p/q)·q < 2^53 (here ≤ ~7e14), so every engine produces the
    identical BIGINT and the rollup is an exact integer sum.

    Shape: identical to the linear model's — touches dedup to
    (user, day, type) first so the user-keyed range join fans out by
    at most 8 days x |event types| per purchase; one purchase-id
    window totals the weights; the rollup is event-type-sized.
    """
    e = table(spark, sf_dir, "events")
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("key"),
            F.to_date("ts").alias("tday"),
            "event_type",
        )
        .distinct()
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key"),
        F.to_date("ts").alias("pday"),
        "event_id",
        "value",
    )
    cand = (
        purchases.join(touches, "key")
        .where(
            (F.col("tday") <= F.col("pday"))
            & (
                F.col("tday")
                >= F.date_sub(F.col("pday"), ATTRIBUTION_LOOKBACK_DAYS)
            )
        )
        .select(
            "event_id",
            "value",
            "event_type",
            F.expr(
                f"CAST(shiftleft(1L, {ATTRIBUTION_LOOKBACK_DAYS}"
                " - datediff(pday, tday)) AS BIGINT)"
            ).alias("w"),
        )
        .distinct()
    )
    win = Window.partitionBy("event_id")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    num = (cents * F.col("w") * F.lit(10000)).cast("double")
    shares = cand.select(
        "event_id",
        "event_type",
        F.floor(num / F.sum("w").over(win).cast("double"))
        .cast("long")
        .alias("micro"),
    )
    return shares.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credited_purchases"),
        (F.sum("micro").cast("double") / F.lit(1000000.0)).alias(
            "attributed_value"
        ),
    )


AB_Z_CRIT = 1.96


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between a deterministic 50/50 user split
    (arm = user_id % 2 — the synthetic stand-in for an experiment
    assignment column): does purchase conversion differ between
    arms? Output is one row: per-arm user and converter counts,
    rates, the pooled z statistic, and the significance flag — the
    experimentation primitive growth teams run hourly.

    Shape: one user-grain agg (conversion = ANY purchase event),
    then a 2-row arm rollup folded to one row via conditional sums.
    The z arithmetic is a fixed IEEE dag (one sqrt) on exact BIGINT
    counts — engine-identical. On a real experiment table the arm
    expression is the assignment column; nothing else changes.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    arms = per_user.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k")
    )
    one = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("k"))).alias("k0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("k"))).alias("k1"),
    )
    n0, k0 = F.col("n0").cast("double"), F.col("k0").cast("double")
    n1, k1 = F.col("n1").cast("double"), F.col("k1").cast("double")
    p0, p1 = k0 / n0, k1 / n1
    pool = (k0 + k1) / (n0 + n1)
    se = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    z = F.when(se > 0, (p1 - p0) / se)
    return one.select(
        "n0", "k0", "n1", "k1",
        p0.alias("rate_a"),
        p1.alias("rate_b"),
        z.alias("z"),
        (F.abs(z) > F.lit(AB_Z_CRIT)).alias("significant"),
    )


WELCH_TYPE_A = "purchase"
WELCH_TYPE_B = "click"


def welch_value_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on event value between two event
    types — the two-sample mean-difference companion to
    ab_conversion_ztest (which compares proportions).

    Means and variances derive from EXACT decimal sums (Σv, Σv² —
    the value_zscore_outliers discipline), so t and the
    Welch–Satterthwaite degrees of freedom are a fixed IEEE dag over
    order-independent operands. One scan and one partial-aggregated
    shuffle to a 2-row stats table, folded to one row by conditional
    aggregates for the closing scalar arithmetic. Zero-variance or
    n<=1 arms yield NULL t (no test) rather than an engine-dependent
    0/0.
    """
    e = table(spark, sf_dir, "events")
    st = event_moments(
        e.where(F.col("event_type").isin([WELCH_TYPE_A, WELCH_TYPE_B]))
    )
    # fold the 2-row stats table to one row (ab_conversion_ztest's
    # conditional aggregates: max keeps each column's type and value);
    # a missing type leaves its columns NULL, and no row comes out
    arm = {
        f"{c}_{t}": F.max(F.when(F.col("event_type") == typ, F.col(c)))
        for t, typ in (("a", WELCH_TYPE_A), ("b", WELCH_TYPE_B))
        for c in ("n", "s1", "s2")
    }
    j = st.agg(*[c.alias(name) for name, c in arm.items()]).where(
        F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    mua = F.col("s1_a").cast("double") / na
    mub = F.col("s1_b").cast("double") / nb
    va = F.greatest(
        (F.col("s2_a").cast("double") - na * mua * mua) / (na - 1.0),
        F.lit(0.0),
    )
    vb = F.greatest(
        (F.col("s2_b").cast("double") - nb * mub * mub) / (nb - 1.0),
        F.lit(0.0),
    )
    sea = va / na
    seb = vb / nb
    se = F.sqrt(sea + seb)
    t = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se > 0),
        (mua - mub) / se,
    )
    dfw = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se > 0),
        (sea + seb) * (sea + seb)
        / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)),
    )
    return j.select(
        F.lit(WELCH_TYPE_A).alias("type_a"),
        F.lit(WELCH_TYPE_B).alias("type_b"),
        "n_a",
        "n_b",
        mua.alias("mean_a"),
        mub.alias("mean_b"),
        t.alias("t_stat"),
        dfw.alias("df_welch"),
        F.coalesce(F.abs(t) > 1.96, F.lit(False)).alias("significant"),
    )


TRIGRAM_PATH_TOP = 25


def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user journeys — markov_transitions generalized from
    edges to length-3 paths (the funnel-discovery shape: which
    view>click>purchase chains actually happen, and how often).

    One shuffle on user_id sorts each user's timeline once; two LEADs
    read the next two steps off that single sort (no self-joins — the
    naive formulation is two fact-fact joins). (ts, event_id) is a
    total order so the path table is deterministic; counts are exact
    and top-k is TakeOrderedAndProject.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        steps.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(TRIGRAM_PATH_TOP)
    )


def twap_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per (user, day) — TWAP, the
    time-series mean that doesn't let burst sampling skew the level
    (ten readings in one second shouldn't count ten times a reading
    that held for an hour).

    Each value holds from its event until the user's next event that
    day; the weight is that holding time in seconds (exact integer
    from one LEAD over the per-user sort — no self-join). Per-pair
    v·dt quantizes to DECIMAL(28,6) before the per-group sum (the
    bm25 seam) so TWAP is order-free; single-event days have no
    holding interval and report NULL. One shuffle on (user, day).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    stepped = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "value",
        (
            F.lead(F.unix_micros("ts"), 1).over(w)
            - F.unix_micros("ts")
        ).alias("dt"),
    )
    held = stepped.where(F.col("dt").isNotNull() & (F.col("dt") > 0))
    # exact integer identity: value(12,2)·dt = c·dt/100 with c·dt
    # ≤ 4.2e15 per row (value ≤ $490, dt ≤ 86400e6 µs) — int64-safe
    q_m = lattice_2dp("value") * F.col("dt")
    agg = (
        stepped.groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .join(
            held.groupBy("user_id", "day").agg(
                lattice_split_sum(q_m, 2, "decimal(38,2)").alias(
                    "s_vdt"
                ),
                F.sum("dt").alias("s_dt"),
            ),
            ["user_id", "day"],
            "left",
        )
    )
    return agg.select(
        "user_id",
        "day",
        "n_events",
        F.when(
            F.col("s_dt") > 0,
            F.col("s_vdt").cast("double")
            / F.col("s_dt").cast("double"),
        ).alias("twap"),
    )


FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000


def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style windowFunnel: per user, the deepest
    view→click→purchase chain where each step lands within 24h of the
    previous one; output is the depth histogram (depth, n_users) —
    the time-constrained variant of funnel_conversion.

    No self-joins: ONE window over each user's timeline carries the
    chain state as running conditional maxima — last view ts, then
    last *qualifying* click ts (a click whose latest preceding view
    is within the window) — and each row tests its predecessor state
    with pure integer timestamp arithmetic. Two window passes over
    the same (user, ts) sort (Spark reuses the one exchange+sort),
    then a per-user max and a ≤4-row histogram. The naive
    formulation is two fact-fact range joins; this is one shuffle.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts = F.unix_micros("ts")
    s1 = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.max(F.when(F.col("event_type") == "view", ts)).over(w).alias(
            "last_view"
        ),
    )
    click_ok = (
        (F.col("event_type") == "click")
        & F.col("last_view").isNotNull()
        & (ts - F.col("last_view") <= FUNNEL_WINDOW_US)
        & (ts - F.col("last_view") > 0)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s2 = s1.select(
        "user_id",
        "event_type",
        "ts",
        F.max(F.when(click_ok, ts)).over(w2).alias("last_good_click"),
        click_ok.alias("click_ok"),
    )
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & F.col("last_good_click").isNotNull()
        & (ts - F.col("last_good_click") <= FUNNEL_WINDOW_US)
        & (ts - F.col("last_good_click") > 0)
    )
    per_user = s2.groupBy("user_id").agg(
        F.max(
            F.when(purchase_ok, 3)
            .when(F.col("click_ok"), 2)
            .when(F.col("event_type") == "view", 1)
            .otherwise(0)
        ).alias("depth")
    )
    return per_user.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def event_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types over (user,
    day) baskets — event_type_cooccurrence's counts upgraded to the
    association SCORE (PMI > 0: the pair co-occurs more than chance;
    < 0: the types repel).

    pmi = ln(n_ab·N / (n_a·n_b)): the log's ARGUMENT is a ratio of
    exact integer counts (one distinct pass feeds basket totals,
    per-type counts, and the bounded pair self-join), so the only
    float op is a single libm ln, rounded at the 6-dp seam (the bm25
    discipline) to absorb sub-ulp libm differences across engines.
    """
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .distinct()
        .localCheckpoint(eager=True)  # feeds three consumers
    )
    n_baskets = d.select("user_id", "day").distinct().count()
    per_type = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    a = d.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = d.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    out = pairs.join(F.broadcast(ta), "type_a").join(
        F.broadcast(tb), "type_b"
    )
    arg = (
        F.col("n_ab").cast("double") * F.lit(float(n_baskets))
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return out.select(
        "type_a",
        "type_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round(F.log(arg), 6).alias("pmi"),
    )


def dow_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-of-week × hour activity grid (n_events, n_users, mean
    value) — the seasonality heatmap behind every ops dashboard.

    One partial-aggregated shuffle to a ≤168-row grid; mean value is
    the exact-decimal-sum / count double. weekday() is 0=Monday on
    both engines.
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.weekday("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        (
            money_lattice_sum("value").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_value"),
    )


def event_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion (Fano) index of daily event arrivals per type —
    variance/mean of the zero-filled daily count series. Poisson
    arrivals ⇒ ≈1; >1 flags bursty types whose capacity planning
    can't assume smooth load.

    Counts are exact integers and the day spine zero-fills per type
    (variance over only-active days understates burstiness), so
    Σc and Σc² are exact and the closing variance/mean is a fixed
    IEEE dag. The fact collapses to (type, day) before anything else,
    in its one scan. A zero-filled day adds nothing to Σc or Σc², so
    the spine is only its length: every type's series spans the
    observed day range, read off the (type, day) counts by a
    one-partition window. A day or type the spine cannot match (NULL)
    counts as a zero day, as a left join onto the spine would.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    every_day = Window.partitionBy()
    n_days = F.datediff(
        F.max("d").over(every_day), F.min("d").over(every_day)
    ) + F.lit(1)
    c = F.when(
        F.col("event_type").isNotNull() & F.col("d").isNotNull(),
        F.col("c"),
    ).otherwise(F.lit(0).cast("long"))
    g = (
        daily.withColumn("n_days", n_days.cast("long"))
        .where(F.col("n_days").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.sum(c).alias("s1"),
            F.sum(c * c).alias("s2"),
        )
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("s1").cast("double") / nd
    var = (F.col("s2").cast("double") - nd * mu * mu) / (nd - 1.0)
    return g.select(
        "event_type",
        "n_days",
        mu.alias("mean_daily"),
        F.when(
            (F.col("n_days") > 1) & (mu > 0),
            var / mu,
        ).alias("fano"),
    )


SLA_DAYS = 30


def ship_sla_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart (SPC control chart for proportions) of the monthly
    order-to-ship SLA breach rate — flags months whose breach
    proportion escapes the ±3σ binomial control band around the
    process mean, the classic manufacturing-quality operator applied
    to fulfilment.

    Breach = first ship later than 30 days after order. Monthly
    proportions and the pooled p̄ come from exact integer counts; the
    control limits are one fixed dag (p̄ ± 3·√(p̄(1−p̄)/n)) per month
    row, so out-of-control verdicts can't flip between engines. The
    orderkey join is the only fact-sized work.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship_d")
    )
    j = o.select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_d"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).join(first_ship, F.col("o_orderkey") == F.col("l_orderkey"))
    flagged = j.select(
        "m",
        (
            F.datediff("ship_d", "order_d") > SLA_DAYS
        ).cast("int").alias("breach"),
    )
    monthly = flagged.groupBy("m").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("breach").cast("long").alias("n_breach"),
    )
    # p̄ from the months' exact integer totals (a one-partition window
    # over ≤ one row per month), not a second pass over the join
    every_month = Window.partitionBy()
    out = monthly.withColumn(
        "p_bar",
        F.sum("n_breach").over(every_month).cast("double")
        / F.sum("n").over(every_month).cast("double"),
    )
    p = F.col("n_breach").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt(
        F.col("p_bar")
        * (F.lit(1.0) - F.col("p_bar"))
        / F.col("n").cast("double")
    )
    ucl = F.col("p_bar") + F.lit(3.0) * sigma
    lcl = F.greatest(F.lit(0.0), F.col("p_bar") - F.lit(3.0) * sigma)
    return out.select(
        "m",
        "n",
        "n_breach",
        p.alias("p_breach"),
        F.col("p_bar").alias("p_bar"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU(7) / MAU(28) and the DAU/WAU stickiness ratio per
    day — the growth-accounting surface. Exact distinct users, NO
    sliding countDistinct window (that shape re-counts the fact per
    day): the user-day distinct table fans out each activity day to
    the ≤28 trailing report days it covers (bounded ×28, map-side),
    then ONE distinct + count per horizon counts each (user, report
    day) once. Report days clip to the observed range so edge days
    don't dilute the trailing windows with empty history.
    """
    e = table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct().localCheckpoint(eager=True)
    bounds = ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))

    def trailing(n: int, name: str):
        cov = (
            ud.select(
                "user_id",
                F.explode(
                    F.sequence(
                        F.col("d"), F.date_add(F.col("d"), n - 1)
                    )
                ).alias("rd"),
            )
            .distinct()
            .groupBy("rd")
            .agg(F.count(F.lit(1)).alias(name))
        )
        return cov

    wau = trailing(7, "wau")
    mau = trailing(28, "mau")
    out = (
        dau.join(wau, dau.d == wau.rd)
        .drop("rd")
        .join(mau, dau.d == mau.rd)
        .drop("rd")
        .crossJoin(F.broadcast(bounds))
        .where((F.col("d") >= F.col("lo")) & (F.col("d") <= F.col("hi")))
    )
    return out.select(
        "d",
        "dau",
        "wau",
        "mau",
        (
            F.col("dau").cast("double") / F.col("wau").cast("double")
        ).alias("stickiness"),
    )


def priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month composition drift of order priorities as
    total-variation distance (TVD = ½ Σ |share_m − share_{m−1}|) —
    the "did our order MIX change, not just its volume?" monitor
    (0 = identical mix; 1 = disjoint).

    The fact collapses once to (month, priority) counts; shares are
    exact-integer ratios via a month-window total; the MoM alignment
    is a FULL OUTER join on (month, priority) over the ≤ #months×5
    grid (a priority absent on one side contributes |share − 0|,
    as TVD requires), restricted to months whose predecessor exists
    in the data (the first month has no mix to drift FROM); each
    |Δshare| quantizes to DECIMAL(18,9) before the 5-way sum so TVD
    is order-free, halved at the end in one double op.
    """
    o = table(spark, sf_dir, "orders")
    mp = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    wm = Window.partitionBy("m")
    cur = mp.select(
        "m",
        "o_orderpriority",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wm).cast("double")
        ).alias("share"),
    )
    months = mp.select("m").distinct()
    valid = months.alias("a").join(
        F.broadcast(months.alias("b")),
        F.add_months(F.col("a.m"), -1) == F.col("b.m"),
    ).select(F.col("a.m").alias("m"))
    prv = cur.select(
        F.add_months("m", 1).alias("m"),
        "o_orderpriority",
        F.col("share").alias("share_prv"),
    )
    fo = (
        cur.select("m", "o_orderpriority", "n", "share")
        .join(prv, ["m", "o_orderpriority"], "full_outer")
        .join(F.broadcast(valid), "m")
    )
    term = F.round(
        F.abs(
            F.coalesce("share", F.lit(0.0))
            - F.coalesce("share_prv", F.lit(0.0))
        ),
        9,
    ).cast("decimal(18,9)")
    g = (
        fo.select(
            "m", term.alias("t"), F.coalesce("n", F.lit(0)).alias("n")
        )
        .groupBy("m")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("t").alias("tvd_q"),
        )
    )
    return g.select(
        "m",
        "n_orders",
        (F.col("tvd_q").cast("double") / 2.0).alias("mix_shift_tvd"),
    )


def eb_shrunk_user_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates — the
    small-sample fix for every per-entity rate ranking (a 1-for-1
    user must not outrank a 95-for-100 one): each user's rate shrinks
    toward the population mean with strength set by a Beta prior
    fitted by METHOD OF MOMENTS from the rates themselves
    (k = m(1−m)/v − 1, α = m·k).

    Two passes: per-user integer counts (one shuffle), then the
    moment sums with per-user rate/rate² quantized to DECIMAL(18,9)
    (order-free) reduced to ONE prior row broadcast back over the
    user table — the shrink itself is a map-side fixed dag. A
    degenerate prior (v = 0 or k ≤ 0: rates don't overdisperse a
    point mass) falls back to the population mean, identically on
    both engines.
    """
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("x"),
    ).localCheckpoint(eager=True)  # moments + shrink both read it
    p = F.col("x").cast("double") / F.col("n").cast("double")
    q9 = lambda c: F.round(c, 9).cast("decimal(18,9)")  # noqa: E731
    mo = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(q9(p)).alias("s1"),
        F.sum(q9(p * p)).alias("s2"),
    )
    nu = F.col("n_users").cast("double")
    m = F.col("s1").cast("double") / nu
    v = (F.col("s2").cast("double") - nu * m * m) / (nu - 1.0)
    k = F.when(v > 0, m * (1.0 - m) / v - 1.0)
    prior = mo.select(
        m.alias("m"),
        v.alias("v"),
        F.when(k > 0, k).alias("k"),
    )
    j = u.crossJoin(F.broadcast(prior))
    shrunk = F.when(
        F.col("k").isNotNull(),
        (F.col("x").cast("double") + F.col("m") * F.col("k"))
        / (F.col("n").cast("double") + F.col("k")),
    ).otherwise(F.col("m"))
    return j.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("x").alias("n_purchases"),
        p.alias("raw_rate"),
        shrunk.alias("shrunk_rate"),
    )


MARKOV_ABS_ITERS = 8
# driver-side collect bound for the variant-expanded edge table
# (vocabulary contract: states²×variants ≈ 245 rows; see
# markov_removal_attribution)
MARKOV_EDGE_BOUND = 1024


def markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution — the absorbing-chain model
    behind data-driven marketing attribution (Anderl et al.'s
    framework, the industry alternative to last-touch / linear
    splits): build a first-order chain over each (user, day) journey
    with absorbing CONV (first purchase truncates the path) and NULL
    (day ends unconverted) states, compute the probability of
    absorbing into CONV from START, then re-compute it with each
    channel's node DELETED (its probability mass falls through to
    NULL — the standard no-renormalization convention). A channel's
    removal effect is the relative drop in conversion probability;
    shares normalize the effects and split the total converted value.
    Returns (channel, removal_effect, attribution_share,
    attributed_value) — one row per non-purchase event type.

    Completes the attribution family: last-touch
    (revenue_attribution), linear multi-touch
    (linear_touch_attribution), and counterfactual removal-effect —
    three models, one event stream.

    Shape: ONE (user, day)-keyed exchange builds every journey edge
    (row_number + min-purchase-rn + lag all share the partitioning by
    the subset rule); transitions aggregate to the ≤7×7 state space,
    which is VOCABULARY-bounded, not data-bounded — so the absorption
    iteration runs over a ≤150-row (variant, src, dst, p) table:
    8 fixed matrix-vector passes, each one tiny join + aggregate,
    batched across all 5 variants (full + 4 removals) in a single
    DataFrame per pass. At 100 TB the only cost that grows is the
    edge-count aggregate; the chain math is constant-size.

    Oracle-pairability (the PageRank seam): transition probabilities
    are single IEEE divisions of exact BIGINT counts; each
    matrix-vector contribution is ROUND(p·v, 14) quantized to
    DECIMAL(28,14) before the order-free exact sum; removal effects
    quantize to DECIMAL(18,12) before the share denominator — every
    float op is a fixed-order scalar expression, bit-identical to the
    DuckDB twin's identical unrolled iterations.
    """
    e = table(spark, sf_dir, "events")
    grp = Window.partitionBy("user_id", "d")
    seq = grp.orderBy("ts", "event_id")
    numbered = (
        e.select(
            "user_id",
            F.to_date("ts").alias("d"),
            "ts",
            "event_id",
            "event_type",
            "value",
        )
        .withColumn("rn", F.row_number().over(seq))
        .withColumn(
            "prn",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("rn"))
            ).over(grp),
        )
    )
    states = (
        numbered.where(
            F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
        )
        .withColumn(
            "st",
            F.when(
                F.col("event_type") == "purchase", F.lit("CONV")
            ).otherwise(F.col("event_type")),
        )
        # reused by THREE consumers (lag edges, terminal edges,
        # converted-value sum) — without the barrier the whole
        # windowed journey pipeline re-executes per consumer
        # (measured 2.5 s of the query's 6.7 s at sf0.1); at fact
        # scale this is the standard materialize-the-trimmed-journeys
        # step (executor storage), still one exchange
        .localCheckpoint()
    )
    lag_edges = states.select(
        F.coalesce(
            F.lag("st").over(grp.orderBy("rn")), F.lit("START")
        ).alias("src"),
        F.col("st").alias("dst"),
    )
    term_edges = (
        states.withColumn("mrn", F.max("rn").over(grp))
        .where(F.col("prn").isNull() & (F.col("rn") == F.col("mrn")))
        .select(F.col("st").alias("src"), F.lit("NULL").alias("dst"))
    )
    trans = (
        lag_edges.unionByName(term_edges)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = trans.select(
        "src",
        "dst",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("src")).cast("double")
        ).alias("p"),
    )

    channels = ["click", "error", "signup", "view"]
    variants = spark.createDataFrame(
        [("full", None)] + [(f"no_{c}", c) for c in channels],
        "variant string, removed string",
    )
    mv = (
        m.crossJoin(F.broadcast(variants))
        .where(
            F.col("removed").isNull()
            | (
                (F.col("src") != F.col("removed"))
                & (F.col("dst") != F.col("removed"))
            )
        )
        .select("variant", "src", "dst", "p")
        .localCheckpoint()
    )

    # --- absorption iteration + share math: DRIVER-SIDE on the
    # vocabulary-bounded (≤ states²×variants ≈ 150-row) edge table.
    # The Spark expression of these 8 matrix-vector passes was pure
    # overhead at ANY scale (8 stages of ≤40-row joins: 5 s of the
    # query's 6.7 s at sf0.1 — the chain is constant-size, the same
    # contract as the k-means probe step). Arithmetic replicates the
    # green Spark/DuckDB seam EXACTLY: Spark round(double, n) is
    # shortest-repr BigDecimal HALF_UP == Decimal(repr(x)).quantize
    # HALF_UP; decimal sums are exact; Decimal→float and BigDecimal
    # doubleValue are both correctly rounded. tests/test_parity.py +
    # the sf0.01 sweep pin it against the unchanged DuckDB twin.
    from decimal import ROUND_HALF_UP, Decimal

    q14, q12 = Decimal("1E-14"), Decimal("1E-12")

    def _rnd(x: float, q: Decimal) -> Decimal:
        return Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)

    # Explicit bound guard before the driver-side collect: the edge
    # table is vocabulary-bounded (≤ states²×variants ≈ 245 rows); a
    # contract breach (unexpected state explosion) must raise, never
    # OOM the driver. limit(N+1) keeps the scan bounded even on the
    # breaching input.
    edge_rows = mv.limit(MARKOV_EDGE_BOUND + 1).collect()
    if len(edge_rows) > MARKOV_EDGE_BOUND:
        raise ValueError(
            "markov edge table exceeds the vocabulary-bounded contract "
            f"({MARKOV_EDGE_BOUND} rows) — refusing driver-side collect"
        )
    by_var: dict[str, list] = {}
    for r in edge_rows:
        by_var.setdefault(r.variant, []).append((r.src, r.dst, r.p))
    vstart: dict[str, float] = {}
    for var, edges in by_var.items():
        v: dict[str, float] = {}
        for _ in range(MARKOV_ABS_ITERS):
            vaug = dict(v)
            vaug["CONV"] = 1.0
            acc: dict[str, Decimal] = {}
            for src, dst, p in edges:
                if dst in vaug:
                    acc[src] = acc.get(src, Decimal(0)) + _rnd(
                        p * vaug[dst], q14
                    )
            v = {s: float(c) for s, c in acc.items()}
        if "START" in v:
            vstart[var] = v["START"]

    conv_value = states.where(F.col("st") == "CONV").agg(
        money_lattice_dsum("value", "decimal(18,6)").alias("total_value")
    )
    schema = (
        "channel string, removal_effect double,"
        " attribution_share double, attributed_value double"
    )
    # p_full == 0.0 is the same degenerate case as "full" missing
    # (no journey converts with nonzero mass): the Spark path's
    # non-ANSI double division returned NULL rows; dividing here
    # would raise ZeroDivisionError — return the empty frame instead.
    if "full" not in vstart or vstart["full"] == 0.0:
        return spark.createDataFrame([], schema)
    p_full = vstart["full"]
    effs = [
        (c, 1.0 - vstart.get(f"no_{c}", 0.0) / p_full) for c in channels
    ]
    rqs = [(c, eff, _rnd(eff, q12)) for c, eff in effs]
    denom = float(sum(rq for _, _, rq in rqs))
    total_value = conv_value.collect()[0]["total_value"]
    rows = [
        (
            c,
            eff,
            float(rq) / denom,
            (float(rq) / denom) * total_value
            if total_value is not None
            else None,
        )
        for c, eff, rq in rqs
    ]
    return spark.createDataFrame(rows, schema).orderBy("channel")


CUPED_SPLIT_DATE = "2024-01-16"


def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B value metric (Deng et
    al., WSDM'13 — the standard trick in every large experimentation
    platform): per-user post-period value Y is adjusted by the
    pre-period covariate X (theta = cov(X,Y)/var(X)), shrinking
    metric variance by rho-squared and tightening the treatment
    z-score without touching the point estimate's validity. Arms are
    the same deterministic user_id % 2 split as ab_conversion_ztest;
    the pre/post boundary is the experiment midpoint. One row:
    per-arm sizes, theta, var_reduction, raw and CUPED-adjusted
    treatment deltas, and the adjusted z.

    Everything derives from ONE user-grain aggregate + ONE moment
    rollup: per-user X/Y are conditional DECIMAL(18,6) exact sums
    (bit-identical doubles), cross-moments quantize the double
    products on their NATURAL 4dp lattice (X/Y are sums of 2dp
    values, so X·Y has ≤4 true decimals and the 4dp round is a
    no-op; r6 — the old 8dp scale pushed the moment sums past 2^53
    scaled units where decimal→double conversion double-rounds per
    engine, trap #4), and theta / rho² / the adjusted delta and z
    are closed-form in those moments — var(Y_cuped) = var(Y)(1-rho²)
    analytically, so NO second pass re-scores users. Scale: the only
    fact exchange is the user-grain aggregate; the moment rollup is
    a single row.
    """
    e = table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT_DATE).cast("date")
    pre = F.to_date("ts") < split

    def _csum(cond):
        return F.coalesce(
            F.sum(
                F.when(cond, F.col("value")).cast("decimal(18,6)")
            ).cast("double"),
            F.lit(0.0),
        )

    per_user = e.groupBy("user_id").agg(
        _csum(pre).alias("x"), _csum(~pre).alias("y")
    )
    arm = (F.col("user_id") % 2).cast("int")
    dx = F.col("x").cast("decimal(18,6)")
    dy = F.col("y").cast("decimal(18,6)")

    def _q(prod):
        return F.round(prod, 4).cast("decimal(28,4)")

    row = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(_q(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(_q(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        F.sum(_q(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(arm == 0, dx)).cast("double").alias("sx0"),
        F.sum(F.when(arm == 1, dx)).cast("double").alias("sx1"),
        F.sum(F.when(arm == 0, dy)).cast("double").alias("sy0"),
        F.sum(F.when(arm == 1, dy)).cast("double").alias("sy1"),
    )
    n = F.col("n").cast("double")
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    theta = cov_n / varx_n
    rho2 = cov_n * cov_n / (varx_n * vary_n)
    diff_raw = F.col("sy1") / n1 - F.col("sy0") / n0
    diff_cuped = diff_raw - theta * (
        F.col("sx1") / n1 - F.col("sx0") / n0
    )
    var_y = vary_n / (n * n)
    var_cuped = var_y * (F.lit(1.0) - rho2)
    se = F.sqrt(var_cuped * (F.lit(1.0) / n0 + F.lit(1.0) / n1))
    return row.select(
        "n0",
        "n1",
        theta.alias("theta"),
        rho2.alias("var_reduction"),
        diff_raw.alias("diff_raw"),
        diff_cuped.alias("diff_cuped"),
        F.when(se > 0, diff_cuped / se).alias("z_cuped"),
    )


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value attribution (the coalition model Google Ads ran
    as 'data-driven attribution'): treat each (user, day) journey's
    SET of touched channels as a coalition, v(S) = observed
    conversion rate of journeys touching exactly S, and give each
    channel its exact Shapley credit over the 4-player game —
    completing the attribution family (last-touch, linear,
    Markov-removal counterfactual, and cooperative-game Shapley; four
    models, one event stream). Returns (channel, shapley_credit,
    attribution_share, attributed_value); credits can legitimately go
    negative for channels whose presence correlates with NOT buying.

    Exactness: v(S) is one IEEE division of exact counts per
    coalition; the 4-player factorial weights are INTEGERS (6,2,2,6
    over 24), so each marginal term is weight·(v(S∪i)−v(S)) quantized
    at 12dp to DECIMAL(18,12) before the 8-term order-free sum, and
    /24 happens once at the end. Unobserved coalitions contribute
    v=0 (no evidence), the standard simplified-Shapley convention.
    Shape: ONE (user, day) fact aggregate (conditional-max bitmask +
    conversion flag) and a 16-row coalition rate table that
    BROADCASTS into the 32-row marginal join — at 100 TB only the
    journey aggregate grows.
    """
    e = table(spark, sf_dir, "events")
    chs = ["click", "error", "signup", "view"]
    flags = [
        F.max((F.col("event_type") == c).cast("int")).alias(f"b{i}")
        for i, c in enumerate(chs)
    ]
    j = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        *flags,
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "conv"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).cast(
                "decimal(18,6)"
            )
        ).alias("pval"),
    ).localCheckpoint()
    mask = (
        F.col("b0")
        + F.col("b1") * 2
        + F.col("b2") * 4
        + F.col("b3") * 8
    )
    # zero-touch journeys (purchase-only days) leave the game: there
    # is no channel to credit, and keeping them makes v(empty)=1 and
    # every marginal negative — the standard convention sets v(S)=0
    # for unobserved S and excludes untouched paths
    coal = (
        j.select(mask.alias("mask"), "conv")
        .where(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
    )
    # spine carries the factorial weight of each coalition SIZE as a
    # LITERAL (6,2,2,6 over 24 for 4 players) — no popcount arithmetic
    # to keep portable
    wmap = {0: 6, 1: 2, 2: 2, 3: 6, 4: 0}  # pc-4 row never used as S
    spine = spark.createDataFrame(
        [(m, wmap[bin(m).count("1")]) for m in range(16)],
        "mask int, w int",
    )
    v = spine.join(F.broadcast(coal), "mask", "left").select(
        "mask",
        "w",
        F.coalesce(
            F.col("k").cast("double") / F.col("n").cast("double"),
            F.lit(0.0),
        ).alias("v"),
    )
    channels = spark.createDataFrame(
        [(c, 1 << i) for i, c in enumerate(chs)],
        "channel string, bit int",
    )
    base = (
        v.crossJoin(F.broadcast(channels))
        .where(F.col("mask").bitwiseAND(F.col("bit")) == 0)
        .select(
            "channel",
            "bit",
            F.col("mask").alias("s"),
            F.col("w"),
            F.col("v").alias("va"),
        )
    )
    withi = v.select(F.col("mask").alias("si"), F.col("v").alias("vb"))
    marg = (
        base.join(
            F.broadcast(withi),
            base.s + base.bit == withi.si,
        )
        .select(
            "channel",
            F.round(
                F.col("w").cast("double") * (F.col("vb") - F.col("va")),
                12,
            )
            .cast("decimal(18,12)")
            .alias("contrib"),
        )
        .groupBy("channel")
        .agg(
            (F.sum("contrib").cast("double") / F.lit(24.0)).alias(
                "shapley_credit"
            )
        )
    )
    # the pot rides the SAME journey aggregate (per-day decimal sums
    # re-sum exactly) — no second fact scan for the total
    pot = j.agg(F.sum("pval").cast("double").alias("total_value"))
    credq = marg.select(
        "channel",
        "shapley_credit",
        F.round("shapley_credit", 12).cast("decimal(18,12)").alias("cq"),
    )
    w_all = Window.partitionBy()
    tot = F.sum("cq").over(w_all)
    # efficiency axiom: credits sum to v(grand) - v(empty); when that
    # is zero (grand coalition never observed) shares are undefined —
    # emit NULL rather than an ANSI divide-by-zero
    share = F.when(
        tot != 0, F.col("cq").cast("double") / tot.cast("double")
    )
    return (
        credq.crossJoin(F.broadcast(pot))
        .select(
            "channel",
            "shapley_credit",
            share.alias("attribution_share"),
            (share * F.col("total_value")).alias("attributed_value"),
        )
        .orderBy("channel")
    )


MEDIAN_POLISH_SWEEPS = 2


def median_polish_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's median polish of the day-of-week × hour event-count
    grid: decompose count(dow, hour) = overall + row_eff(dow) +
    col_eff(hour) + resid by alternately sweeping out row and column
    MEDIANS (two full sweeps) — the robust two-way ANOVA
    decomposition from EDA (Tukey 1977): a single anomalous cell
    (incident spike) lands in its RESIDUAL instead of smearing into
    the marginal effects the way mean-based decomposition would.
    Returns the 7×24 grid: (dow, hour, n_events, overall, row_eff,
    col_eff, resid), dow 0=Monday.

    Determinism: the grid zero-fills to all 168 cells; every value in
    every sweep is a dyadic rational (integer counts, then halves of
    halves from even-group medians), EXACT in doubles — medians are
    rank-based midpoints, never interpolated percentiles; the oracle
    unrolls the identical sweeps.

    Shape: one fact shuffle to the 168-cell grid; every sweep after
    that is constant-size work. At any scale this is the cheapest
    robust decomposition there is.

    r9 optimization: the sweeps CLOSE ON THE DRIVER over the collected
    168-cell grid (bounded by the 7×24 calendar at ANY fact scale —
    the same bounded-driver-close contract as the ivf/pq faces and
    embedding_intrinsic_dim). The old all-DataFrame unroll spent ~2 s
    of its 2.4 s building and scheduling a 57-exchange/84-window plan
    over ≤168-row states (3 eager checkpoints + ~10 window stages of
    constant-size data); the distributed part that scales with the
    fact — the (dow, hour) count — is unchanged, and the Python
    sweeps perform the IDENTICAL IEEE dag (rank-midpoint medians,
    dyadic-exact adds/subtracts in doubles), so every cell is
    bit-identical to the DataFrame unroll and the SQL oracle's.
    """
    e = table(spark, sf_dir, "events")
    counts = e.groupBy(
        F.weekday("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # bounded collect: ≤168 rows by construction (7 weekdays × 24 h)
    obs = {
        (r["dow"], r["hour"]): r["n_events"] for r in counts.collect()
    }
    n_ev = {
        (d, h): int(obs.get((d, h), 0))
        for d in range(7)
        for h in range(24)
    }
    resid = {cell: float(v) for cell, v in n_ev.items()}
    roweff = {d: 0.0 for d in range(7)}
    coleff = {h: 0.0 for h in range(24)}
    overall = 0.0

    def med(vals: list) -> float:
        # rank-midpoint median (the oracle twin's dag): average of
        # the two middle order statistics (same row twice when odd),
        # computed as sum/count exactly like the SQL aggregate; all
        # inputs are dyadic rationals (integer counts minus
        # accumulated halves) so the halving is EXACT in doubles and
        # engine-identical — the reason this face oracle-pairs at all
        s = sorted(vals)
        k = len(s)
        a = s[(k + 1) // 2 - 1]
        b = s[(k + 2) // 2 - 1]
        return (a + b) / 2.0

    for _ in range(MEDIAN_POLISH_SWEEPS):
        for d in range(7):
            m = med([resid[(d, h)] for h in range(24)])
            for h in range(24):
                resid[(d, h)] = resid[(d, h)] - m
            roweff[d] = roweff[d] + m
        shift = med(list(roweff.values()))
        overall = overall + shift
        for d in range(7):
            roweff[d] = roweff[d] - shift
        for h in range(24):
            m = med([resid[(d, h)] for d in range(7)])
            for d in range(7):
                resid[(d, h)] = resid[(d, h)] - m
            coleff[h] = coleff[h] + m
        shift = med(list(coleff.values()))
        overall = overall + shift
        for h in range(24):
            coleff[h] = coleff[h] - shift
    rows = [
        (d, h, n_ev[(d, h)], overall, roweff[d], coleff[h], resid[(d, h)])
        for d in range(7)
        for h in range(24)
    ]
    return spark.createDataFrame(
        rows,
        "dow int, hour int, n_events long, overall double, "
        "row_eff double, col_eff double, resid double",
    ).orderBy("dow", "hour")


def anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across ALL event types — the
    k-group generalization of welch_value_ttest's two-sample probe:
    F = (SSB/(k−1)) / (SSW/(N−k)) plus η² = SSB/SST effect size, the
    first stop before trusting any per-type mean difference. Returns
    one row: (k_groups, n_total, ss_between, ss_within, f_stat,
    eta_sq).

    Determinism (the welch seam, order-freed for k groups): per-group
    moments n, Σv, Σv² are exact DECIMAL(28,10) sums; the one
    order-sensitive reduction — Σ_g (Σv_g)²/n_g across groups — is
    quantized per group at 6 dp into DECIMAL(38,6) before the
    order-free sum, and the closing sum-of-squares algebra
    (SSB = T1 − S1²/N, SSW = S2 − T1) is a fixed double dag on exact
    operands.

    Shape: one partial-aggregated shuffle to k rows; everything after
    is constant-size.
    """
    e = table(spark, sf_dir, "events")
    return anova_from_moments(event_moments(e))


def event_moments(e: DataFrame) -> DataFrame:
    """Per-type additive sufficient statistics (n, Σv, Σv²) as exact
    decimals — ADDITIVE state: moments(A ∪ B) = moments(A) +
    moments(B) exactly, which is what lets the streaming merge
    (foreach_batch_moments_merge) drain bit-identical to batch."""
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_lattice_sum("value", "decimal(28,2)").alias("s1"),
        # Σv² rides the exact 1e-4 lattice: m = c² with c = cents(v)
        # (pure int64; split-1e6 partials stay inside 2^63 while
        # |v| ≤ ~$38k — far above the event-value domain)
        lattice_split_sum(
            lattice_2dp("value") * lattice_2dp("value"),
            4,
            "decimal(38,4)",
            split_digits=6,
        ).alias("s2"),
    )


def anova_from_moments(g: DataFrame) -> DataFrame:
    """Close the one-way ANOVA from per-group (n, s1, s2) moments —
    shared by the batch operator and the streaming drain."""
    s1d = F.col("s1").cast("double")
    term = F.round(
        s1d * s1d / F.col("n").cast("double"), 6
    ).cast("decimal(38,6)")
    tot = g.select("n", "s1", "s2", term.alias("t1")).groupBy().agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("n").alias("n_total"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("t1").alias("t1"),
    )
    nn = F.col("n_total").cast("double")
    kk = F.col("k_groups").cast("double")
    s1a = F.col("s1").cast("double")
    s2a = F.col("s2").cast("double")
    t1a = F.col("t1").cast("double")
    ssb = t1a - s1a * s1a / nn
    ssw = s2a - t1a
    sst = s2a - s1a * s1a / nn
    f = (ssb / (kk - F.lit(1.0))) / (ssw / (nn - kk))
    return tot.select(
        "k_groups",
        "n_total",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.when(ssw > 0, F.round(f, 9)).alias("f_stat"),
        F.when(sst > 0, F.round(ssb / sst, 9)).alias("eta_sq"),
    )


BH_Q = 0.05
# Abramowitz & Stegun 7.1.26 normal-CDF constants — a fixed polynomial
# in exp(), evaluated with the SAME literals on both engines
_AS_P = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def _phi_upper(z):  # pragma: no cover - expression builder
    """P(Z > z) for z >= 0 via the A&S 7.1.26 polynomial: both engines
    evaluate the identical fixed dag of *, +, exp — bit-identical."""
    k = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * z)
    poly = (
        F.lit(_AS_B[0]) * k
        + F.lit(_AS_B[1]) * k * k
        + F.lit(_AS_B[2]) * k * k * k
        + F.lit(_AS_B[3]) * k * k * k * k
        + F.lit(_AS_B[4]) * k * k * k * k * k
    )
    pdf = F.lit(_INV_SQRT_2PI) * F.exp(F.lit(-0.5) * z * z)
    return pdf * poly


def pairwise_welch_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 10 pairwise Welch mean-comparisons across the 5 event
    types with Benjamini–Hochberg FDR control at q = 0.05 — the
    multiple-testing discipline welch_value_ttest's single 1.96 cut
    lacks: run 10 uncorrected tests at α=.05 and ~40% of the time
    something 'significant' appears by chance alone. Returns one row
    per pair: (type_a, type_b, n_a, n_b, z_stat, p_value, p_rank,
    bh_cutoff, significant) where significant applies the BH STEP-UP
    (every pair ranked ≤ the largest rank with p ≤ rank·q/m passes).

    Determinism: group moments are exact decimals (the welch seam);
    z is the Welch statistic (df large ⇒ normal); the two-sided
    p-value evaluates the A&S 7.1.26 polynomial — a fixed dag of
    arithmetic and exp() with shared literals — and rounds at 12 dp
    so the BH rank order is engine-stable (tie-break on the pair
    name); the step-up max is one window over 10 rows.

    Shape: one partial-aggregated shuffle to 5 rows, a 5×5 self-join,
    two 10-row windows.
    """
    st = event_moments(table(spark, sf_dir, "events"))
    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("s1").alias("s1_a"),
        F.col("s2").alias("s2_a"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("s1").alias("s1_b"),
        F.col("s2").alias("s2_b"),
    )
    j = a.crossJoin(b).where(F.col("type_a") < F.col("type_b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mua = F.col("s1_a").cast("double") / na
    mub = F.col("s1_b").cast("double") / nb
    va = F.greatest(
        (F.col("s2_a").cast("double") - na * mua * mua) / (na - 1.0),
        F.lit(0.0),
    )
    vb = F.greatest(
        (F.col("s2_b").cast("double") - nb * mub * mub) / (nb - 1.0),
        F.lit(0.0),
    )
    se = F.sqrt(va / na + vb / nb)
    z = (mua - mub) / se
    p = F.round(F.lit(2.0) * _phi_upper(F.abs(z)), 12)
    scored = j.select(
        "type_a", "type_b", "n_a", "n_b",
        F.round(z, 9).alias("z_stat"),
        p.alias("p_value"),
    )
    wr = Window.orderBy("p_value", "type_a", "type_b")
    # BH denominator m = the number of tests actually run (the pair
    # count), derived from the scored frame itself — a hardcoded
    # literal mis-scales every cutoff the moment the number of event
    # types changes (conservative below 5 types, anti-conservative
    # above)
    wall0 = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.withColumn(
        "p_rank", F.row_number().over(wr).cast("long")
    ).withColumn(
        "bh_cutoff",
        F.col("p_rank").cast("double")
        * F.lit(BH_Q)
        / F.count(F.lit(1)).over(wall0).cast("double"),
    )
    # BH step-up: find the LARGEST rank whose p <= cutoff; everything
    # ranked at or below it is significant
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ranked.withColumn(
        "max_pass",
        F.max(
            F.when(F.col("p_value") <= F.col("bh_cutoff"), F.col("p_rank"))
        ).over(wall),
    ).select(
        "type_a", "type_b", "n_a", "n_b", "z_stat", "p_value",
        "p_rank", "bh_cutoff",
        F.coalesce(
            F.col("p_rank") <= F.col("max_pass"), F.lit(False)
        ).alias("significant"),
    ).orderBy("p_rank")


def value_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the first-half
    and second-half value distributions, per event type — the AREA
    between the two empirical CDFs, completing the drift triad: KS
    (value_drift_ks) sees the worst single gap, PSI/χ²
    (value_psi_drift, value_drift_by_bucket) see binned shape, W₁
    sees total transported mass in the VALUE's own units — the only
    one of the three that says "the mean shifted by about this many
    dollars". Returns per type: (event_type, n_ref, n_cmp, w1, ks).

    Exact rational core: on the merged sorted distinct-value grid,
    |F_ref − F_cmp| at each step is |cum_ref·N_cmp − cum_cmp·N_ref| /
    (N_ref·N_cmp) — the integer numerator D is EXACT; each segment
    term D·Δv multiplies the exact integer by one double gap and
    quantizes at 6 dp into DECIMAL(38,6) before the order-free sum;
    the single division by N_ref·N_cmp closes it. KS = max(D)/
    (N_ref·N_cmp) falls out of the same grid for free.

    Shape: one fact shuffle to (type, value) counts; the CDF windows
    are PARTITIONED by type over the distinct-value grid. At 100 TB
    a continuous value makes that grid fact-sized — the documented
    degrade path is value quantization to a fixed grid first
    (PSI-style), which bounds the sort at the cost of binning bias.
    """
    e = table(spark, sf_dir, "events")
    # floor, not cast: DuckDB CAST(double AS BIGINT) rounds half-even
    # where Spark truncates (oracle trap #3) — floor agrees everywhere
    half = e.groupBy().agg(
        F.floor(
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2
        ).cast("long").alias("mid_us")
    )
    sided = e.crossJoin(F.broadcast(half)).select(
        "event_type",
        "value",
        (F.unix_micros("ts") <= F.col("mid_us")).alias("is_ref"),
    )
    grid = sided.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("cb"),
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    cum = grid.select(
        "event_type",
        "value",
        F.sum("ca").over(
            wv.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_a"),
        F.sum("cb").over(
            wv.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum_b"),
        F.lead("value").over(wv).alias("next_v"),
    )
    totals = grid.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("n_ref"),
        F.sum("cb").cast("long").alias("n_cmp"),
    )
    d = F.abs(
        F.col("cum_a") * F.col("n_cmp") - F.col("cum_b") * F.col("n_ref")
    )
    seg = F.round(
        d.cast("double") * (F.col("next_v") - F.col("value")), 6
    ).cast("decimal(38,6)")
    agg = (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cmp").alias("n_cmp"),
            F.sum(seg).alias("sseg"),
            F.max(d).alias("dmax"),
        )
    )
    nn = (F.col("n_ref") * F.col("n_cmp")).cast("double")
    return agg.select(
        "event_type",
        "n_ref",
        "n_cmp",
        F.round(F.col("sseg").cast("double") / nn, 9).alias("w1"),
        F.round(F.col("dmax").cast("double") / nn, 9).alias("ks"),
    ).orderBy("event_type")


def value_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-treatment-effect profile of the first-half→second-half
    value drift, per event type: at each decile d, the comparison
    window's d-quantile minus the reference window's — WHERE in the
    distribution the shift happened (tail-only? median? uniform?),
    which the scalar drift family (KS max-gap, W₁ area, PSI bins)
    cannot localize. Returns (event_type, decile, q_ref, q_cmp, qte).

    Determinism: quantiles are the type-1 inverse CDF — the order
    statistic at rank ⌈d·n/10⌉, computed as the INTEGER (n·d+9) DIV
    10, so selection is pure integer arithmetic; values are raw
    doubles, never interpolated. The window split reuses
    value_emd_drift's floored midpoint-microsecond boundary.

    Shape: one fact shuffle to (type, side)-partitioned rank windows;
    the decile spine (9 rows) broadcasts onto the rank join;
    output is |types|×9 rows.
    """
    e = table(spark, sf_dir, "events")
    half = e.groupBy().agg(
        F.floor(
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2
        ).cast("long").alias("mid_us")
    )
    sided = e.crossJoin(F.broadcast(half)).select(
        "event_type",
        "value",
        (F.unix_micros("ts") <= F.col("mid_us")).alias("is_ref"),
    )
    w = Window.partitionBy("event_type", "is_ref").orderBy("value")
    cw = Window.partitionBy("event_type", "is_ref")
    ranked = sided.select(
        "event_type",
        "is_ref",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    dec = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    picked = ranked.crossJoin(F.broadcast(dec)).where(
        F.col("rn")
        == F.floor((F.col("n") * F.col("decile") + 9) / 10).cast("long")
    )
    ref = picked.where(F.col("is_ref")).select(
        "event_type", "decile", F.col("value").alias("q_ref")
    )
    cmp_ = picked.where(~F.col("is_ref")).select(
        "event_type", "decile", F.col("value").alias("q_cmp")
    )
    return (
        ref.join(cmp_, ["event_type", "decile"])
        .select(
            "event_type",
            "decile",
            "q_ref",
            "q_cmp",
            F.round(F.col("q_cmp") - F.col("q_ref"), 9).alias("qte"),
        )
        .orderBy("event_type", "decile")
    )


def event_hour_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (and the normalized uncertainty
    coefficient) between event type and hour-of-day — ONE number for
    "how much does the clock tell you about what users do", where the
    dow_hour_activity heatmap needs 168 cells and an eyeball. U =
    MI/H(type) reads as "the hour explains X% of event-type
    uncertainty" — the screen that says whether hourly models are
    worth building at all. Returns one row: (n_events, mi_nats,
    h_type, h_hour, uncertainty_coeff).

    Determinism: the 5×24 contingency is exact integers; MI/entropy
    cell terms quantize at 9 dp into DECIMAL(18,9) before order-free
    sums (natural log, the token_entropy seam); the closing ratio is
    one fixed dag.

    Shape: one partial-aggregated fact shuffle to ≤120 cells;
    constant-size after.
    """
    e = table(spark, sf_dir, "events")
    ct = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    nt = ct.groupBy().agg(F.sum("n").alias("nn"))
    rt = ct.groupBy("event_type").agg(F.sum("n").alias("n_t"))
    rh = ct.groupBy("hr").agg(F.sum("n").alias("n_h"))
    full = (
        ct.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(rh), "hr")
        .crossJoin(F.broadcast(nt))
    )
    nd = F.col("n").cast("double")
    nnd = F.col("nn").cast("double")
    mi_term = F.round(
        (nd / nnd)
        * F.log(
            nd * nnd
            / (F.col("n_t").cast("double") * F.col("n_h").cast("double"))
        ),
        9,
    ).cast("decimal(18,9)")
    ent = lambda c: F.round(  # noqa: E731
        (F.col(c).cast("double") / nnd)
        * F.log(F.col(c).cast("double") / nnd),
        9,
    ).cast("decimal(18,9)")
    mi = full.groupBy().agg(F.sum(mi_term).alias("mi"))
    ht = rt.crossJoin(F.broadcast(nt)).groupBy().agg(
        F.sum(ent("n_t")).alias("ht")
    )
    hh = rh.crossJoin(F.broadcast(nt)).groupBy().agg(
        F.sum(ent("n_h")).alias("hh")
    )
    mid = F.col("mi").cast("double")
    htd = -F.col("ht").cast("double")
    hhd = -F.col("hh").cast("double")
    return (
        mi.crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hh))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("nn").cast("long").alias("n_events"),
            F.round(mid, 9).alias("mi_nats"),
            F.round(htd, 9).alias("h_type"),
            F.round(hhd, 9).alias("h_hour"),
            F.when(htd > 0, F.round(mid / htd, 9)).alias(
                "uncertainty_coeff"
            ),
        )
    )

