"""Table profiling: per-column null counts + cardinality in one
aggregate pass — the data-profiling primitive (deequ/Glue-crawler
class) that fronts every new-source onboarding.

Shape: ONE aggregate computes every column's metrics side by side
(null counts are plain conditional sums; distinct counts share the
single Expand pass Spark plans for multi-countDistinct), and the
single metrics row unpivots into per-column rows map-side. At 100 TB
set ``exact=False`` so cardinalities come from HLL sketches — same
plan, bounded memory, no Expand fan-out.

Reference analog: the quality-check count queries (C4,
quality_checks.py) generalized from per-table hand-written SQL to any
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import table


def profile(df: DataFrame, cols: list[str] | None = None, exact: bool = True) -> DataFrame:
    """(column, dtype, n_rows, n_nulls, n_distinct) — one row per
    profiled column, computed in one aggregate job."""
    names = cols or df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in names:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nulls_{c}")
        )
        aggs.append(
            (
                F.countDistinct(F.col(c))
                if exact
                else F.approx_count_distinct(F.col(c))
            ).alias(f"_dist_{c}")
        )
    row = df.agg(*aggs)
    per_col = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(dtypes[c]).alias("dtype"),
                    F.col("_n").alias("n_rows"),
                    F.col(f"_nulls_{c}").alias("n_nulls"),
                    F.col(f"_dist_{c}").cast("long").alias("n_distinct"),
                )
                for c in names
            ]
        )
    ).alias("p")
    return row.select(per_col).select(
        "p.column", "p.dtype", "p.n_rows", "p.n_nulls", "p.n_distinct"
    )


def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry shape: exact profile of the events table (6 columns in
    one pass; the DuckDB twin recomputes each column's metrics)."""
    return profile(table(spark, sf_dir, "events"))


KS_ALPHA = 0.01


def ks_crit_coef_repr(alpha: float = KS_ALPHA) -> str:
    """repr() of the KS critical coefficient sqrt(-ln(alpha/2)/2) —
    embedded verbatim in the DuckDB oracle so both engines multiply
    the exact same double when deciding `drift`."""
    import math

    return repr(float(math.sqrt(-0.5 * math.log(alpha / 2))))


def value_drift_ks(
    spark: SparkSession, sf_dir: str, alpha: float = KS_ALPHA
) -> DataFrame:
    """Per-event-type Kolmogorov–Smirnov two-sample drift test: the
    first half of the date range is the reference window, the second
    half the comparison; flag types whose `value` distribution shifted.
    The continuous-distribution companion to the binned chi-square
    monitor (analytics.value_drift_by_bucket) — KS needs the full
    empirical CDFs, which is exactly the per-group computation SQL
    can't express cleanly and pandas can: this is the repo's
    grouped-map ``applyInPandas`` surface (each group's rows arrive as
    ONE pandas frame; numpy sorts both samples and takes the sup of
    the CDF gap).

    Scale posture: the shuffle is one hash partition per event_type;
    each group's values must fit one executor's frame — at 100 TB
    subsample per group first (KS statistics converge at ~10^5
    samples) with a deterministic content-hash filter, same plan
    shape.

    Oracle-paired (round 4): every number in the output is exactly
    reproducible — the window split compares integer epoch-microseconds
    (floor-div midpoint, no interval arithmetic), each CDF value is an
    integer count divided once in IEEE double, the sup is an exact max,
    and the drift verdict multiplies the same critical-coefficient
    literal by `sqrt` (correctly rounded per IEEE) of an integer ratio.
    The SQL twin mirrors each step with RANGE-peers-inclusive windows,
    so the hash matches bit-for-bit like PageRank and CMS do.
    """
    import math

    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)
    e = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).head()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    mid = lo + (hi - lo) // 2
    tagged = e.select(
        "event_type",
        "value",
        (F.unix_micros("ts") < F.lit(mid)).alias("is_ref"),
    )
    crit_coef = float(math.sqrt(-0.5 * math.log(alpha / 2)))

    def ks(pdf):
        import math

        import numpy as np
        import pandas as pd

        a = np.sort(pdf.loc[pdf["is_ref"], "value"].to_numpy(float))
        b = np.sort(pdf.loc[~pdf["is_ref"], "value"].to_numpy(float))
        n, m = len(a), len(b)
        if n == 0 or m == 0:
            stat, drift = float("nan"), False
        else:
            allv = np.concatenate([a, b])
            cdf_a = np.searchsorted(a, allv, side="right") / n
            cdf_b = np.searchsorted(b, allv, side="right") / m
            stat = float(np.abs(cdf_a - cdf_b).max())
            drift = stat > crit_coef * math.sqrt((n + m) / (n * m))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_ref": [n],
                "n_cur": [m],
                "ks_stat": [stat],
                "drift": [drift],
            }
        )

    return tagged.groupBy("event_type").applyInPandas(
        ks,
        "event_type string, n_ref long, n_cur long, ks_stat double, "
        "drift boolean",
    )


MWU_Z_CRIT = 1.96


def value_drift_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Mann-Whitney U drift test over the same
    first-half/second-half split as value_drift_ks — the LOCATION
    companion of KS's shape test (U reacts to a median shift that KS
    can under-weight, and vice versa). Output: (event_type, n_ref,
    n_cur, u, z, drift) with drift = |z| > 1.96 under the
    tie-corrected normal approximation.

    Fully oracle-paired, and unlike KS it needs no grouped-map: the
    rank machinery is one value-grain window per type. Exactness:
    average ranks live on the half-integer lattice, so DOUBLED ranks
    are exact int64 — R1 accumulates as Σ c_ref·(2·min_rank + c − 1),
    the tie term as Σ(c³ − c), both pure integer sums; the closing
    U/z arithmetic is a fixed IEEE dag on exact operands (one sqrt).
    Shape: one event_type shuffle to the (type, value) grain (ties
    collapse BEFORE ranking, so the window runs over distinct values,
    not raw events), then a type-grain reduce.
    """
    e = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).head()
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    mid = lo + (hi - lo) // 2
    grain = (
        e.select(
            "event_type",
            "value",
            (F.unix_micros("ts") < F.lit(mid)).cast("int").alias("is_ref"),
        )
        .groupBy("event_type", "value")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("is_ref").alias("c_ref"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = grain.select(
        "event_type",
        "c",
        "c_ref",
        (F.sum("c").over(w) - F.col("c") + F.lit(1)).alias("min_rank"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("c_ref").alias("n1"),
        F.sum(F.col("c") - F.col("c_ref")).alias("n2"),
        F.sum(
            F.col("c_ref")
            * (F.lit(2) * F.col("min_rank") + F.col("c") - F.lit(1))
        ).alias("r1_twice"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_sum"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    n = n1 + n2
    u = (
        F.col("r1_twice").cast("double") / F.lit(2.0)
        - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    )
    mu = n1 * n2 / F.lit(2.0)
    sigma = F.sqrt(
        n1 * n2 / F.lit(12.0)
        * (
            (n + F.lit(1.0))
            - F.col("tie_sum").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    z = F.when(sigma > 0, (u - mu) / sigma)
    return agg.select(
        "event_type",
        F.col("n1").alias("n_ref"),
        F.col("n2").alias("n_cur"),
        u.alias("u"),
        z.alias("z"),
        (F.abs(z) > F.lit(MWU_Z_CRIT)).alias("drift"),
    )


PSI_BINS = 10


def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream's value distribution — the industry-standard
    drift score (PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 broken)
    completing the drift trio beside value_drift_ks (nonparametric
    test) and value_drift_mwu (rank test).

    The time split is the integer midpoint of the epoch-microsecond bounds; bins
    are 10 equal widths over the GLOBAL min/max (fixed edges — PSI is
    defined against a frozen binning, and data-dependent quantile
    edges would make the score engine-sensitive). Counts are exact
    ints; the per-bin (p−q)·ln(p/q) terms quantize to DECIMAL(18,9)
    before the ≤10-way sum; empty bins take the standard ε=1e-6
    smoothing on both engines.
    """
    e = table(spark, sf_dir, "events").select("ts", "value")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("t_lo"),
        F.max(F.unix_micros("ts")).alias("t_hi"),
        F.min("value").alias("v_lo"),
        F.max("value").alias("v_hi"),
    )
    j = e.crossJoin(F.broadcast(bounds))
    width = (F.col("v_hi") - F.col("v_lo")) / F.lit(float(PSI_BINS))
    bin_ = F.least(
        F.floor((F.col("value") - F.col("v_lo")) / width),
        F.lit(PSI_BINS - 1).cast("long"),
    )
    half = F.when(F.unix_micros("ts") * 2 <= F.col("t_lo") + F.col("t_hi"), 0).otherwise(1)
    counts = j.groupBy(bin_.alias("bin"), half.alias("half")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the half totals ride on the few (bin, half) count rows as a window,
    # so the binned fact is computed once, not again for a totals join
    g = counts.withColumn("n_half", F.sum("n").over(Window.partitionBy("half")))
    share = F.greatest(
        F.col("n").cast("double") / F.col("n_half").cast("double"),
        F.lit(1.0e-6),
    )
    wide = g.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("n"))).alias("n_ref"),
        F.sum(F.when(F.col("half") == 1, F.col("n"))).alias("n_cur"),
        F.max(F.when(F.col("half") == 0, share)).alias("p"),
        F.max(F.when(F.col("half") == 1, share)).alias("q"),
    )
    p = F.coalesce(F.col("p"), F.lit(1.0e-6))
    q = F.coalesce(F.col("q"), F.lit(1.0e-6))
    term = F.round((p - q) * F.log(p / q), 9).cast("decimal(18,9)")
    per_bin = wide.select(
        "bin",
        F.coalesce(F.col("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        term.alias("term_q"),
    )
    psi = per_bin.agg(
        F.sum("term_q").cast("double").alias("psi"),
        F.sum("n_ref").alias("n_ref_total"),
        F.sum("n_cur").alias("n_cur_total"),
    )
    return psi.select(
        "n_ref_total",
        "n_cur_total",
        "psi",
        (F.col("psi") > 0.25).alias("broken"),
        (F.col("psi") > 0.1).alias("shifting"),
    )
