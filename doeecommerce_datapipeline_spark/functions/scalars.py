"""Scalar/aggregate expression helpers (SURVEY.md §2.8 F1–F17).

Reference analogs are pandas idioms (e.g. ``.str.lower().str.strip()``
at ingestion/dummyjson_ingestor.py:570-577, guarded division at
database/layers/silver/transform_silver.py:73-77). All are rebuilt as
JVM-side Column expressions — no Python UDFs in the hot path.

Determinism note (oracle parity at any scale): floating-point SUM/AVG
is summation-order-dependent, so distributed results differ run-to-run
and engine-to-engine. Money aggregates are therefore exact and
order-independent, in one of two forms with identical results:

- long lattice (``money_lattice_sum`` and its ``_dsum``/``_avg``
  wrappers, built on ``lattice_2dp`` + ``lattice_split_sum``): each
  2-dp value becomes its LONG cent point, summed in two primitive LONG
  buffers and recombined exactly into the decimal type a decimal sum
  would return. The fact-grain operator sums use it: no per-row
  double→decimal cast, no BigDecimal agg buffer.
- decimal cast (``dec_sum``, ``dsum``, ``exact_avg``): every element
  cast to DECIMAL before summing. Kept for small grains (gold marts)
  and for columns off the cent lattice.

Averages divide the exact sum by the count in one IEEE double division.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dec_sum(col: Column | str, scale: str = MONEY) -> Column:
    """Exact, order-independent SUM: cast elements to decimal first."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale))


def dec_to_double_split(col: Column) -> Column:
    """Engine-agreed decimal→double conversion for sums whose scaled
    digits exceed 2^53 — the boundary past which engines' native
    int128→double conversions double-round differently by 1 ulp (the
    r9 sf1 sweep's pricing_summary/haar class).

    The exact decimal is split into three 2^26-limbs (l0, h1, h2 with
    value = (h2·2^26 + h1)·2^26 + l0); each limb is < 2^53 so its own
    double cast is EXACT, and the recombine is a fixed IEEE dag
    (power-of-two scalings are exact; two rounded adds) that every
    engine evaluates identically when the twin mirrors the same
    expression. Valid while |value| < 2^105 ≈ 4e31 (h2 must stay
    under 2^53) — five orders beyond a 100 TB-scale money sum.
    Verified correctly-rounded on boundary values (2^53+1, ~1e22) on
    both engines. Intended for nonnegative sums (sums of squares);
    the limb identity also holds for negatives since both engines'
    `%` is dividend-signed."""
    m = F.lit(1 << 26).cast("decimal(38,0)")
    l0 = col % m
    r1 = (col - l0) / m
    h1 = r1 % m
    h2 = (r1 - h1) / m
    return (
        h2.cast("double") * F.lit(float(1 << 26)) + h1.cast("double")
    ) * F.lit(float(1 << 26)) + l0.cast("double")


def dec_to_double_split_sql(expr: str) -> str:
    """The DuckDB mirror of dec_to_double_split — the SAME limb dag,
    textually, so a twin can convert an over-2^53 decimal sum to the
    bit-identical double."""
    return (
        f"((CAST(((({expr}) - ({expr}) % 67108864) / 67108864"
        f" - ((({expr}) - ({expr}) % 67108864) / 67108864) % 67108864)"
        f" / 67108864 AS DOUBLE) * 67108864.0"
        f" + CAST(((({expr}) - ({expr}) % 67108864) / 67108864) % 67108864"
        f" AS DOUBLE)) * 67108864.0 + CAST(({expr}) % 67108864 AS DOUBLE))"
    )


def lattice_sum_6dp(col: Column) -> Column:
    """Order-free, engine-agreed moment sum for double-valued terms:
    each term is quantized on the explicit floor(v·1e6 + 0.5) lattice
    (the SAME IEEE dag on every engine — unlike a double→decimal
    CAST, whose rounding algorithm is engine-specific and diverges in
    the boundary zone at large magnitudes), then summed as an exact
    DECIMAL(38,0) integer. Convert the result with
    dec_to_double_split(...) / 1e6. The companion SQL builder is
    lattice_sum_6dp_sql. Spark's floor(double) lands in a LONG, so
    terms must stay under ~9.2e12 — prescale large variables first
    (the adf/granger faces divide money series by 2^20)."""
    return F.sum(
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("decimal(38,0)")
    )


def lattice_sum_6dp_sql(expr: str) -> str:
    """DuckDB mirror of lattice_sum_6dp — same lattice dag, so the
    per-term quantization agrees bit-for-bit with the Spark face."""
    return f"SUM(CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS DECIMAL(38,0)))"


def lattice_2dp(col: Column | str) -> Column:
    """Exact integer lattice point of a 2-dp money value: the stored
    double is the nearest double to k/100 (|k| ≤ 2^52/100), so
    floor(x·100 + 0.5) recovers k exactly for either sign — the
    established cent-lattice lemma (price_power_means, r9). Returns
    LONG. CONTRACT: the input must be a 2-dp value (all fixture money
    columns are — verified across tables/SFs); for sub-cent inputs
    the decimal cast's HALF_UP (away from zero) and this floor dag
    (toward +inf) differ on exact half-cents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("long")


def lattice_split_sum(
    m: Column,
    frac_digits: int,
    out_type: str,
    split_digits: int = 5,
) -> Column:
    """Exact, order-free SUM of LONG lattice points, value-identical to
    ``F.sum(x.cast(decimal))`` when m == x·10^frac_digits exactly per
    row — but accumulated in two PRIMITIVE LONG agg buffers instead of
    a per-row double→decimal cast (Double.toString + BigDecimal) and a
    BigDecimal buffer (guide §1.2/§2.3: the cast alone measured
    0.8–1.6 s per fact-grain sum at sf0.1; the long sums ~0.1 s —
    the price_power_means variant probe, r9).

    int64 headroom: m is split per row as lo = pmod(m, S),
    hi = (m − lo)/S with S = 10^split_digits — (m − lo) is a multiple
    of S and |m| < 2^53, so the double division is an exact integer;
    the identity holds for negative m because pmod is nonnegative.
    Each partial sum then carries |Σ| ≤ rows·max(|m|)/S (hi) and
    rows·S (lo) — both orders of magnitude under 2^63 at 100 TB for
    every call site (bounds documented per site). The two long totals
    recombine EXACTLY in decimal on the (small) output grain and the
    quantum product keeps full scale: operand precision is capped at
    38 − frac_digits − 1, so Spark never hits the silent
    scale-reduction path (the round-4 decimal-38 trap). The final
    cast to ``out_type`` (the OLD decimal sum's result type) is an
    exact widening, so downstream type algebra and every output bit
    match the decimal-sum original.
    """
    s_lit = 10**split_digits
    lo = F.pmod(m, F.lit(s_lit))
    hi = ((m - lo) / F.lit(s_lit)).cast("long")
    p_cap = 38 - frac_digits - 1
    total = (
        F.sum(hi).cast(f"decimal({p_cap - split_digits - 1},0)")
        * F.lit(s_lit).cast(f"decimal({split_digits + 1},0)")
        + F.sum(lo).cast(f"decimal({p_cap - 1},0)")
    ).cast(f"decimal({p_cap},0)")
    quantum = F.lit(10.0**-frac_digits).cast(
        f"decimal({frac_digits},{frac_digits})"
    )
    return (total * quantum).cast(out_type)


def money_lattice_sum(col: Column | str, scale: str = MONEY) -> Column:
    """dec_sum(col, scale) for a 2-dp money column, computed as an
    exact LONG cent sum (split for headroom) and reconstructed to the
    identical decimal type/value. ``scale`` must have p ≤ 28 and
    s ≥ 2 (the reconstruction widens exactly)."""
    m = lattice_2dp(col)
    p, s = _dec_params(scale)
    return lattice_split_sum(m, 2, f"decimal({p + 10},{s})", split_digits=4)


def _dec_params(scale: str) -> tuple[int, int]:
    import re as _re

    mm = _re.match(r"decimal\((\d+),\s*(\d+)\)", scale)
    assert mm, scale
    return int(mm.group(1)), int(mm.group(2))


def lattice_sum_9dp_rounded(
    col: Column, out_type: str = "decimal(28,9)"
) -> Column:
    """``F.sum(F.round(col, 9).cast('decimal(18,9)'))`` via the exact
    long lattice: m = floor(round(col,9)·1e9 + 0.5) recovers the 9-dp
    quantum's unscaled value exactly while |round(col,9)| ≤ 2^51/1e9
    ≈ 2.25e6 (the pagerank lattice-alignment lemma — round(x,9) is
    the nearest double to m/1e9, so the recovery dag cannot cross a
    half-quantum). Callers must keep terms inside that envelope
    (documented per site)."""
    m = F.floor(F.round(col, 9) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return lattice_split_sum(m, 9, out_type)


def money_lattice_dsum(col: Column | str, scale: str = MONEY) -> Column:
    """dsum(col, scale) for a 2-dp money column via the long lattice —
    same exact decimal, same single closing double conversion."""
    return money_lattice_sum(col, scale).cast("double")


def money_lattice_avg(col: Column | str, scale: str = MONEY) -> Column:
    """exact_avg(col, scale) for a 2-dp money column via the long
    lattice — identical decimal sum, identical count, identical one
    IEEE division."""
    c = F.col(col) if isinstance(col, str) else col
    return money_lattice_sum(c, scale).cast("double") / F.count(c)


def disc_rev_m(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
) -> Column:
    """LONG lattice point of price·(1−disc) on the 1e-4 grid: both
    factors are 2-dp values, so the product is EXACTLY
    c·(100−d)/10⁴ with c = cents(price), d = cents-scale discount —
    pure int64 arithmetic per row (|m| ≤ 1.05e9 on TPC-H price
    ceilings). The double expression's decimal(28,6) cast provably
    recovers the same 4-dp rational (abs error ≤ ~3.5e-11 ≪ the 5e-7
    half-quantum; pinned by test + 3-SF oracle sweeps)."""
    return lattice_2dp(price) * (F.lit(100).cast("long") - lattice_2dp(disc))


def disc_rev_sum(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
    out_type: str = "decimal(38,6)",
) -> Column:
    """dec_sum(price·(1−disc), 'decimal(28,6)') via the exact long
    lattice. Headroom: |m| ≤ 1.05e9 → split-1e5 partials ≤ 6.3e15 /
    6e16 at 6e11 rows (100 TB lineitem)."""
    return lattice_split_sum(disc_rev_m(price, disc), 4, out_type)


def charge_m(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
    tax: Column | str = "l_tax",
) -> Column:
    """LONG lattice point of price·(1−disc)·(1+tax) on the 1e-6 grid:
    m = c·(100−d)·(100+t), |m| ≤ 1.14e11 < 2^53."""
    return disc_rev_m(price, disc) * (
        F.lit(100).cast("long") + lattice_2dp(tax)
    )


def charge_sum(
    price: Column | str = "l_extendedprice",
    disc: Column | str = "l_discount",
    tax: Column | str = "l_tax",
    out_type: str = "decimal(38,6)",
) -> Column:
    """dec_sum(price·(1−disc)·(1+tax), 'decimal(28,6)') via the exact
    long lattice. Headroom: split-1e5 partials ≤ 6.8e17 / 6e16 at
    6e11 rows."""
    return lattice_split_sum(charge_m(price, disc, tax), 6, out_type)


def dsum(col: Column | str, scale: str = MONEY) -> Column:
    """Order-independent SUM surfaced as DOUBLE.

    The exact decimal sum is converted to double once at the end — a
    single deterministic conversion — so the output schema is plain
    DOUBLE on every engine while the arithmetic stays exact.
    """
    return dec_sum(col, scale).cast("double")


def exact_avg(col: Column | str, scale: str = MONEY) -> Column:
    """Deterministic AVG: double(exact decimal sum) / count.

    One IEEE-754 division on two exactly-reproducible operands — the
    result is bit-identical regardless of row order or partitioning.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c, scale).cast("double") / F.count(c)


def pearson_r(
    n: Column, sx: Column, sy: Column, sxx: Column, syy: Column, sxy: Column
) -> Column:
    """Pearson r closed from raw moment sums (n, Σx, Σy, Σx², Σy², Σxy),
    each a DOUBLE the caller rebuilt from its own exact sum:
    (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²)), one fixed
    IEEE dag. The variance terms clamp at 0 against cancellation; a
    zero denominator (a constant series, fewer than two points) gives
    NULL."""
    num = n * sxy - sx * sy
    den = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) * F.sqrt(
        F.greatest(n * syy - sy * sy, F.lit(0.0))
    )
    return F.when(den > 0, num / den)


def ols_fit(
    n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column
) -> tuple[Column, Column]:
    """Least-squares (slope, intercept) of y on x closed from raw moment
    sums, each a DOUBLE the caller rebuilt from its own exact sum:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) and
    intercept = (Σy − slope·Σx) / n, one fixed IEEE dag. A zero
    denominator (constant x, fewer than two points) gives NULL for
    both."""
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den)
    return slope, (sy - slope * sx) / n


def norm_email(col: Column | str) -> Column:
    """F1: lower + trim (dummyjson_ingestor.py:570-577)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def full_name(first: Column | str, last: Column | str) -> Column:
    """F2: null-safe 'first last' concat (transform_silver.py:57-58)."""
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.trim(
        F.concat_ws(" ", F.coalesce(f, F.lit("")), F.coalesce(l, F.lit("")))
    )


EMAIL_RE = r"^[\w.+-]+@[\w.-]+\.\w{2,}$"


def is_valid_email(col: Column | str) -> Column:
    """F4: email regex (database/layers/bronze/validator.py:47-53)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(EMAIL_RE)


def clean_phone(col: Column | str) -> Column:
    """F5: strip non-phone chars (randomuser_ingestor.py:254-255)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"[^\d\-\+\s]", "")


def guarded_pct(total: Column | str, discounted: Column | str) -> Column:
    """F11: zero-guarded discount percentage
    (transform_silver.py:73-77): when total>0 → round((total-disc)/total*100, 2) else 0.
    Computed in decimal so the rounding is exact and order-free.
    """
    t = (F.col(total) if isinstance(total, str) else total).cast("decimal(18,6)")
    d = (F.col(discounted) if isinstance(discounted, str) else discounted).cast(
        "decimal(18,6)"
    )
    pct = ((t - d) / t * 100).cast("decimal(18,2)")
    return F.when(t > 0, pct).otherwise(F.lit("0.00").cast("decimal(18,2)"))


def age_bucket(col: Column | str) -> Column:
    """F16: categorical binning, bins [0,18,35,50,65,150]
    (randomuser_ingestor.py:258-264). Chained WHEN keeps it codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c <= 18, "0-18")
        .when(c <= 35, "19-35")
        .when(c <= 50, "36-50")
        .when(c <= 65, "51-65")
        .otherwise("65+")
    )


def basket_pairs(a: str, b: str) -> Column:
    """Every (x, y) pair with x before y in the sorted ``parts`` array,
    exploded as struct ``p`` with fields ``a`` and ``b``.

    Built from each basket's ``array_sort(collect_set(...))``, the pairs
    enumerate map-side with no self-join, each unordered pair once. The
    fan-out is C(basket, 2) rows per basket (C(7, 2) = 21 for TPC-H's
    ≤ 7-line orders), never fact × fact."""
    return F.explode(
        F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts)), "
            f"y -> struct(x AS {a}, y AS {b}))))"
        )
    ).alias("p")
