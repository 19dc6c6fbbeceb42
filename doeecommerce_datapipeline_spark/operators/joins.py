"""Join operators (SURVEY.md §2.3 J1–J3 + scale extensions).

The reference has one declared join — users LEFT JOIN carts feeding a
grouped engagement view (database/db_setup.py:373-385) — plus the
anti-join hiding inside its upsert (transform_silver.py:106-109).
Here each is an explicit, broadcast-aware DataFrame op, and the
extension surface (semi/anti, multi-way star join) is first-class.

Scale: dimension sides (customer at 150·SF rows, nation/region at
fixed 25/5) are broadcast — the fact side never shuffles for the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import (
    disc_rev_m,
    disc_rev_sum,
    lattice_split_sum,
    money_lattice_dsum,
)
from ..io import table
from .windows import daily_order_revenue


def user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A3: vw_user_activity (database/db_setup.py:373-385) —
    users LEFT JOIN carts ON user_id, grouped per user:
    COUNT(DISTINCT cart), SUM(COALESCE(total,0)), MAX(last_updated).
    customer⋈orders is the testdata stand-in (FIXTURES.md §1).

    Spark cannot broadcast the PRESERVED side of an outer join (every
    preserved row must be emitted exactly once; a broadcast copy per
    task would duplicate unmatched rows — the hint is ignored with a
    warning). The scale-correct shape: aggregate the fact FIRST on the
    eventual group key (map-side partial agg, one shuffle of the
    dimension-sized result), then broadcast that aggregate onto the
    preserved dimension — the outer join degrades to a broadcast
    lookup and the fact rows never carry customer columns.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        o.select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .groupBy("o_custkey")
        .agg(
            F.countDistinct("o_orderkey").alias("_cnt"),
            money_lattice_dsum(
                F.coalesce(F.col("o_totalprice"), F.lit(0))
            ).alias("_total"),
            F.max(F.to_date("o_orderdate")).alias("_last"),
        )
    )
    return (
        c.select("c_custkey", "c_name")
        .join(F.broadcast(per_cust), c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("_cnt"), F.lit(0)).alias("order_count"),
            F.coalesce(F.col("_total"), F.lit(0.0)).alias("total_order_value"),
            F.col("_last").alias("last_order_date"),
        )
    )


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: lineitem⋈orders⋈customer⋈nation⋈region →
    exact revenue per region. The three dimension joins broadcast;
    only lineitem⋈orders shuffles (both sides large).

    Extension beyond the reference's single join — the canonical
    e-commerce rollup its gold layer implies.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    # r9 opt: the per-row decimal cast becomes a LONG lattice point
    # computed BEFORE the join, so the orderkey shuffle carries an
    # 8-byte long instead of a 16-byte decimal (guide §2.3) and the
    # aggregate runs on primitive long buffers; the exact decimal is
    # reconstructed on the 5 region rows (bit-identical, scalars.py
    # lattice lemma).
    return (
        l.select("l_orderkey", disc_rev_m().alias("rev"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_regionkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name")
        .agg(
            lattice_split_sum(F.col("rev"), 4, "decimal(38,6)")
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("lineitem_count"),
        )
    )


def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (semi): customers having ≥1 open-priority order — EXISTS as a
    left-semi join (no row multiplication, no dedup needed)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o.where(F.col("o_orderstatus") == "O").select("o_custkey"),
        c.c_custkey == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (anti): the upsert's delete-matching-keys half
    (transform_silver.py:106-109) generalized — NOT EXISTS as a
    left-anti join."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def daily_orders_vs_events_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full outer join at day grain: order activity reconciled against
    event activity, keeping days that appear on either side only —
    the reconciliation shape (and the one outer-join type the engine
    had not exercised; both sides are preserved, so neither can be
    broadcast and a sort-merge join is the correct plan).

    Both inputs aggregate to day grain BEFORE the join — the join
    touches #days rows, never the facts. Counts coalesce to 0;
    revenue stays NULL on event-only days (0 would be a lie).
    """
    o_daily = daily_order_revenue(
        table(spark, sf_dir, "orders"), F.count(F.lit(1)).alias("n_orders")
    )
    e = table(spark, sf_dir, "events")
    e_daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return o_daily.join(e_daily, ["day"], "full").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.col("rev").cast("double").alias("order_revenue"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: one row per
    FK relation with total and orphan counts (relation, n_rows,
    n_orphans) — the quality-suite extension (C4) that catches broken
    foreign keys before they silently drop rows in inner joins.

    Each relation is a distinct-keys anti-join: the child's DISTINCT
    key set (small) anti-joins the parent's key set, then one count —
    so the audit shuffles bare keys, never fact rows, and all five
    relations run as independent jobs unioned at the end.
    """
    def orphans(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
                name: str) -> DataFrame:
        # pre-aggregate to (key, row-count) FIRST: the anti-join then
        # runs over distinct keys only, and the orphan row count is a
        # SUM of the surviving counts — one partial-aggregated shuffle
        # of bare keys, no second row-grain shuffle
        keys = (
            child.select(F.col(ckey).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        total = keys.agg(F.sum("c").cast("long").alias("n_rows"))
        orphan = (
            keys.join(parent.select(F.col(pkey).alias("k")), "k", "left_anti")
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_orphans"))
        )
        return total.crossJoin(F.broadcast(orphan)).select(
            F.lit(name).alias("relation"), "n_rows", "n_orphans"
        )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    checks = [
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
        orphans(o, "o_custkey", c, "c_custkey", "orders->customer"),
        orphans(c, "c_nationkey", n, "n_nationkey", "customer->nation"),
        orphans(s, "s_nationkey", n, "n_nationkey", "supplier->nation"),
        orphans(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"),
    ]
    out = checks[0]
    for df in checks[1:]:
        out = out.unionByName(df)
    return out


# dense-bitmap domain cap: 4M 64-bit words = 32 MB broadcast = a
# 268M-key contiguous domain; past that the bloom variant is the
# correct physical plan (see bitmap_key_filter's docstring)
BITMAP_MAX_WORDS = 1 << 22


def bitmap_key_filter(keys: DataFrame, key_col: str, target: DataFrame,
                      target_key: str) -> DataFrame:
    """Exact broadcast-bitmap runtime filter: keep only `target` rows
    whose `target_key` appears in `keys.key_col` — the hand-rolled
    analog of Spark's bloom runtime filter, but EXACT (no false
    positives) and built from pure JVM expressions (no Python UDF in
    the membership test).

    The filter side is packed into a dense bitset over the key domain:
    word w = bit_or of 1 << (key % 64) for keys with key DIV 64 == w.
    That aggregate is map-side combined and collects AT MOST
    (max_key/64)+1 driver rows — 2.5 MB of longs per 20M contiguous
    keys, far under any broadcast budget and ~50× smaller than a hash
    relation of the same keys. Membership is then
    element_at(bitmap, key>>6 + 1) >> (key&63) & 1 — O(1) per row,
    whole-stage-codegen friendly, applied BELOW the join so the fact
    side sheds non-matching rows before any exchange. This is the
    runtime-filter shape that matters at 100 TB: a selective dim
    predicate reaches the fact scan as a cheap bitmap probe instead of
    riding through a shuffle.

    Applies to dense integer key domains (TPC-H-style surrogate keys).
    For sparse/huge domains, fall back to bloom_key_filter (false
    positives washed out by the exact join that follows) — ENFORCED:
    a domain needing more than BITMAP_MAX_WORDS words (32 MB of
    broadcast longs) raises instead of silently building a
    driver-side array the broadcast budget can't carry.
    """
    words = (
        keys.select(
            F.expr(
                f"shiftrightunsigned(CAST({key_col} AS BIGINT), 6)"
            ).alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(CAST({key_col} AS BIGINT) % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("m"))
        .collect()
    )
    n_words = max(r.w for r in words) + 1 if words else 1
    if n_words > BITMAP_MAX_WORDS:
        raise ValueError(
            f"key domain needs {n_words} bitmap words (> BITMAP_MAX_WORDS="
            f"{BITMAP_MAX_WORDS}, 32 MB of broadcast longs) — use "
            "bloom_key_filter for sparse/huge key domains"
        )
    arr = [0] * n_words
    for r in words:
        arr[r.w] = r.m
    # ONE array-literal node, not n_words Literal children: the
    # expression tree must stay O(1) in the key-domain size or
    # analysis/codegen time eats the scan savings (312k nodes for a
    # 20M-key domain vs a single 2.5 MB Literal)
    bitmap = F.lit(arr).cast("array<bigint>")
    k = F.col(target_key).cast("long")
    word_ix = F.expr(f"shiftrightunsigned(CAST({target_key} AS BIGINT), 6)")
    hit = (
        F.expr(
            f"shiftrightunsigned(__bm[CAST("
            f"shiftrightunsigned(CAST({target_key} AS BIGINT), 6) AS INT)],"
            f" CAST(CAST({target_key} AS BIGINT) % 64 AS INT)) & 1 = 1"
        )
    )
    return (
        target.withColumn("__bm", bitmap)
        .where((word_ix < F.lit(n_words)) & hit)
        .drop("__bm")
    )


def key_filter_auto(
    keys: DataFrame,
    key_col: str,
    target: DataFrame,
    target_key: str,
) -> DataFrame:
    """Adaptive runtime key filter: route to the EXACT dense bitmap
    (bitmap_key_filter) or the constant-size bloom (bloom_key_filter)
    from a cheap key-domain estimate, so a caller never sees the
    dense path's 32 MB domain cap as a raise — the r8-verdict fix for
    `bitmap_filter_revenue` erroring at sf1 on the replica model's
    sparse 9e9-spread key domain.

    The estimate is ONE min/max aggregate over the keys side — the
    keys side of a runtime filter is by construction the selective,
    dimension-sized relation (and in the registry faces it is already
    localCheckpointed, so the extra pass reads a cached block, not
    the source scan). Dispatch: a domain whose dense bitset fits the
    broadcast budget ((max_key >> 6) + 1 <= BITMAP_MAX_WORDS) and has
    no negative keys gets the exact bitmap; anything else — sparse or
    multi-billion surrogate domains, negative keys — falls back to
    the bloom, whose false positives are washed out by the exact join
    every caller performs afterwards. Both primitives are unchanged;
    the cap inside bitmap_key_filter stays enforced as the
    last-resort invariant.
    """
    row = keys.agg(
        F.min(F.col(key_col).cast("long")).alias("lo"),
        F.max(F.col(key_col).cast("long")).alias("hi"),
    ).first()
    lo, hi = row["lo"], row["hi"]
    if hi is None:  # empty keys: bitmap degenerates to drop-all, exact
        return bitmap_key_filter(keys, key_col, target, target_key)
    if lo >= 0 and (hi >> 6) + 1 <= BITMAP_MAX_WORDS:
        return bitmap_key_filter(keys, key_col, target, target_key)
    return bloom_key_filter(keys, key_col, target, target_key)


def bitmap_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand for large ECONOMY parts, with the selective
    part predicate (p_type = 'ECONOMY' AND p_size >= 40 — ~4% of the
    dim) pushed onto the lineitem scan as an exact runtime key filter
    before the join, DISPATCHED adaptively (key_filter_auto): dense
    in-budget key domains get the broadcast bitmap, sparse/huge
    domains (the sf1 replica model's 9e9-spread keys) fall back to
    the constant-size bloom instead of raising. Returns (p_brand,
    n_items, revenue) — the result is identical to the plain join on
    EITHER path (the bitmap is exact; bloom false positives are
    washed out by the exact join that follows), which is what makes
    it oracle-pairable; the runtime filter is purely the physical
    scale path.

    Plan shape: fact rows that fail the filter die inside the scan
    stage's WholeStageCodegen; only survivors (~4%) reach the
    join exchange. The join that follows fetches p_brand and is
    dimension-sized on its build side.
    """
    part_keys = (
        table(spark, sf_dir, "part")
        .where((F.col("p_type") == "ECONOMY") & (F.col("p_size") >= 40))
        .select("p_partkey", "p_brand")
        .localCheckpoint()  # filter evaluated once: bitmap build + join
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    survivors = key_filter_auto(part_keys, "p_partkey", li, "l_partkey")
    return (
        survivors.join(
            F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            disc_rev_sum().cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


BLOOM_N_BITS = 1 << 17  # 16 KB of longs broadcast per filter
BLOOM_N_HASHES = 5


def bloom_key_filter(
    keys: DataFrame,
    key_col: str,
    target: DataFrame,
    target_key: str,
    n_bits: int = BLOOM_N_BITS,
    n_hashes: int = BLOOM_N_HASHES,
) -> DataFrame:
    """Bloom runtime filter: keep `target` rows whose `target_key`
    PROBABLY appears in `keys.key_col` — the sparse/huge-domain
    companion to bitmap_key_filter (a dense bitset over a
    multi-billion sparse surrogate-key domain would be gigabytes; the
    bloom bitset is `n_bits` regardless of domain). No false
    NEGATIVES ever, so correctness is restored by the exact join that
    follows; false positives only cost those rows riding one join.

    Build: each key sets `n_hashes` bits via Kirsch-Mitzenmacher
    double hashing — position_i = pmod(h1 + i·h2, n_bits) from TWO
    xxhash64 evaluations (seeds 0/1, h2 forced odd so the stride
    cycles the power-of-two table), which preserves the asymptotic FP
    rate of k independent hashes (Kirsch & Mitzenmacher, ESA'06)
    while the per-row probe computes 2 hashes instead of k — the
    difference that matters when the probe runs inside a 100 TB fact
    scan. One explode + word-keyed bit_or aggregate, map-side
    combined, collecting exactly n_bits/64 longs (16 KB at the
    default) to the driver. Probe: AND of n_hashes O(1) element_at +
    shift tests against the single array Literal — pure JVM
    expressions inside WholeStageCodegen, applied below the join so
    fact rows shed before any exchange. FP rate at the defaults with
    ~8k keys: (1 - e^(-5·8k/131072))^5 ≈ 0.1%; size n_bits ≈ 10-16
    bits/key for ~1% at other cardinalities.
    """

    def _positions(col: str) -> list[str]:
        # both hashes reduce mod n_bits BEFORE the i·h2 combine so the
        # arithmetic stays far from int64 overflow (ANSI mode throws on
        # it); |1 keeps the stride odd, which cycles the power-of-two
        # table fully
        h1 = (
            f"pmod(xxhash64(CAST({col} AS BIGINT), CAST(0 AS INT)),"
            f" {n_bits})"
        )
        h2 = (
            f"(pmod(xxhash64(CAST({col} AS BIGINT), CAST(1 AS INT)),"
            f" {n_bits}) | 1)"
        )
        return [
            f"pmod({h1} + CAST({i} AS BIGINT) * {h2}, {n_bits})"
            for i in range(n_hashes)
        ]

    words = (
        keys.select(
            F.explode(
                F.array(*[F.expr(p) for p in _positions(key_col)])
            ).alias("p")
        )
        .select(
            F.expr("CAST(shiftright(p, 6) AS INT)").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("m"))
        .collect()
    )
    arr = [0] * (n_bits // 64)
    for r in words:
        arr[r.w] = r.m
    bloom = F.lit(arr).cast("array<bigint>")
    hit = None
    for p in _positions(target_key):
        cond = F.expr(
            f"(shiftrightunsigned(element_at(__bloom,"
            f" CAST(shiftright({p}, 6) AS INT) + 1),"
            f" CAST(pmod({p}, 64) AS INT)) & 1) = 1"
        )
        hit = cond if hit is None else (hit & cond)
    return target.withColumn("__bloom", bloom).where(hit).drop("__bloom")


def bloom_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitmap_filter_revenue's sibling on the BLOOM scale path: the
    same selective part predicate reaches the lineitem scan as a
    16 KB bloom probe instead of the dense bitmap — the variant a
    100 TB catalog with sparse multi-billion surrogate keys needs
    (the dense bitset is domain-sized; the bloom is constant-sized).
    Returns (p_brand, n_items, revenue), IDENTICAL to the plain join
    — bloom false positives are washed out by the exact broadcast
    join that follows, which is what keeps it oracle-pairable; the
    bloom is purely physical.
    """
    part_keys = (
        table(spark, sf_dir, "part")
        .where((F.col("p_type") == "ECONOMY") & (F.col("p_size") >= 40))
        .select("p_partkey", "p_brand")
        .localCheckpoint()  # filter evaluated once: bloom build + join
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    survivors = bloom_key_filter(part_keys, "p_partkey", li, "l_partkey")
    return (
        survivors.join(
            F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            disc_rev_sum().cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


SIMPAY_BAND = 500  # dollars: totals within this are "suspiciously close"
SIMPAY_WINDOW_DAYS = 180


def similar_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate payment screen: order pairs from the SAME
    customer whose totals sit within $500 of each other AND within 180
    days — the accounts-payable audit for double-submitted or
    slightly-edited invoices (an exact-equality screen returns nothing
    on realistic near-continuous prices; the BAND is the point). Per
    suspect pair: o_custkey, ord_a/day_a/price_a, ord_b/day_b/price_b,
    price_gap, gap_days.

    Scale shape — the banded self-join pattern: a band predicate can't
    key a hash join, so side A explodes each order into its price
    bucket (width = band) AND both neighbors, the join keys on
    (custkey, bucket) equality, and the exact |Δprice| ≤ band filter
    prunes inside the bucket — candidate fan-out is 3× the bucket
    occupancy per customer, never per-customer-squared on price.
    The date window prunes after. The EXACT filter makes the bucket
    plumbing invisible in the result, so the oracle is the plain
    banded join — physical-only, like bitmap_filter_revenue.

    Reference analog: none — extension surface (audit family).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderdate",
    ).localCheckpoint()
    bucket = F.floor(F.col("price") / SIMPAY_BAND).cast("long")
    a = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("ord_a"),
        F.col("price").alias("price_a"),
        F.col("o_orderdate").alias("day_a"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bkt"),
    )
    b = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("ord_b"),
        F.col("price").alias("price_b"),
        F.col("o_orderdate").alias("day_b"),
        bucket.alias("bkt"),
    )
    return (
        a.join(b, ["o_custkey", "bkt"])
        .where(
            (F.col("ord_a") < F.col("ord_b"))
            & (F.abs(F.col("price_a") - F.col("price_b")) <= SIMPAY_BAND)
            & (
                F.abs(F.datediff("day_b", "day_a"))
                <= SIMPAY_WINDOW_DAYS
            )
        )
        .select(
            "o_custkey",
            "ord_a",
            "day_a",
            F.col("price_a").cast("double").alias("price_a"),
            "ord_b",
            "day_b",
            F.col("price_b").cast("double").alias("price_b"),
            F.abs(F.col("price_a") - F.col("price_b"))
            .cast("double")
            .alias("price_gap"),
            F.abs(F.datediff("day_b", "day_a")).cast("long").alias(
                "gap_days"
            ),
        )
        .distinct()  # a pair within band can match in 2 buckets
        .orderBy("o_custkey", "ord_a", "ord_b")
    )
