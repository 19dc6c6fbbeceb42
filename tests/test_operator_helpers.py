"""Operators build through shared helpers: overlapped chains run
on ``pipelines.fanout.each_table`` (their jobs carry the caller's job
group), AQE-path barriers go through ``session_cache.materialize``,
session memos through ``session_cache.memo``, whose entries own their
persisted frames, the ANN indexes through one k-means quantizer
and one LSH bucket expression, the media codec stages through one
Arrow row-map seam, the streaming operators through one per-key
fold seam and one epoch-guarded additive merge, the time-series
faces through one order-revenue day series and one recursion seam,
and the bivariate statistics through one Pearson and one least-squares
closed form."""

import datetime
import math
import pathlib
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from doeecommerce_datapipeline_spark.functions.scalars import ols_fit, pearson_r
from doeecommerce_datapipeline_spark.io import table
from doeecommerce_datapipeline_spark.operators import session_cache
from doeecommerce_datapipeline_spark.operators.analytics import (
    adf_daily_revenue,
    distance_correlation_daily,
    durbin_watson_trend,
)
from doeecommerce_datapipeline_spark.operators.graph import lpa_labels
from doeecommerce_datapipeline_spark.operators.quality_model import _cached_model
from doeecommerce_datapipeline_spark.operators.retail import cf_holdout_hitrate
from doeecommerce_datapipeline_spark.operators.similarity import _ann_index_state
from doeecommerce_datapipeline_spark.operators.windows import (
    daily_order_revenue,
    ewma_recursive_daily,
    holt_linear_daily,
    holt_winters_weekly,
)
from doeecommerce_datapipeline_spark.streaming import stateful

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "doeecommerce_datapipeline_spark"
OPERATORS = PACKAGE / "operators"


def _sources(root: pathlib.Path) -> dict[str, str]:
    return {
        str(p.relative_to(PACKAGE)): p.read_text() for p in sorted(root.rglob("*.py"))
    }


def test_thread_pools_only_in_fanout():
    offenders = [
        name
        for name, src in _sources(PACKAGE).items()
        if name != "pipelines/fanout.py" and "ThreadPoolExecutor" in src
    ]
    assert offenders == []


def test_noop_writes_only_in_materialize():
    sources = _sources(OPERATORS)
    offenders = [
        name
        for name, src in sources.items()
        if name != "operators/session_cache.py" and 'format("noop")' in src
    ]
    assert offenders == []
    body = sources["operators/session_cache.py"].split("def materialize(")[1]
    assert sources["operators/session_cache.py"].count('format("noop")') == 1
    assert 'format("noop")' in body


def test_memo_keys_only_in_session_cache():
    offenders = [
        name
        for name, src in _sources(OPERATORS).items()
        if name != "operators/session_cache.py" and "applicationId" in src
    ]
    offenders += [
        name
        for name, src in _sources(PACKAGE).items()
        if re.search(r"id\(\s*spark\.sparkContext\s*\)", src)
    ]
    assert offenders == []


def test_one_basket_pair_enumerator():
    copies = sum(
        src.count("slice(parts, i + 2") for src in _sources(PACKAGE).values()
    )
    assert copies == 1


def test_one_kmeans_quantizer_and_one_lsh_bucket_loop():
    """IVF's coarse quantizer trains and assigns through pq.py's
    kernels (a one-subspace product quantizer), and similarity.py
    builds sign-bit buckets in one loop over the hyperplane family."""
    sources = _sources(PACKAGE)
    ivf = sources["operators/ivf.py"]
    assert "mapInPandas(" not in ivf and "np.argmin(" not in ivf
    assert sum(src.count("def _kmeanspp_init(") for src in sources.values()) == 1
    sim = sources["operators/similarity.py"]
    assert len(re.findall(r"\b_hyperplane\(", sim)) - sim.count("def _hyperplane(") == 1


def test_one_arrow_row_map_seam_for_media_stages():
    """Every media codec stage is a per-row kernel on decode._map_rows,
    the package's one mapInPandas call and one ensure_shipped call
    under multimodal/; no stage hand-rolls its own batch loop."""
    src = "".join(_sources(PACKAGE / "multimodal").values())
    assert src.count("mapInPandas(") == 1
    assert src.count("ensure_shipped(") == 1
    assert "def batches" not in src


def test_one_fold_seam_and_one_replay_guard_for_streaming():
    """Every stateful operator is a step kernel on stateful._fold_by_key
    (the one applyInPandasWithState and ensure_shipped call there), no
    operator gathers its own pandas chunks, and the additive sinks share
    stream_ops._additive_merge_sink's one epoch guard."""
    src = _sources(PACKAGE / "streaming")
    assert src["streaming/stateful.py"].count("applyInPandasWithState(") == 1
    assert src["streaming/stateful.py"].count("ensure_shipped(") == 1
    assert not any("for pdf in pdfs" in s for s in src.values())
    assert src["streaming/stream_ops.py"].count("_read_manifest(") == 1


def test_daily_order_revenue_is_the_exact_decimal_day_sum(spark, sf_dir):
    """The helper's rev is the value and type of the decimal-cast sum
    it replaced, on the whole table and on a filtered input; extra
    aggregates follow it; an empty input gives no days."""
    o = table(spark, sf_dir, "orders")
    for src in (o, o.where(F.col("o_orderpriority") == "1-URGENT")):
        got = daily_order_revenue(src)
        want = src.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
        assert got.dtypes == want.dtypes == [("day", "date"), ("rev", "decimal(28,2)")]
        assert sorted(got.collect()) == sorted(want.collect())
    n = F.count(F.lit(1)).alias("n")
    assert daily_order_revenue(o, n).columns == ["day", "rev", "n"]
    assert daily_order_revenue(o.where(F.lit(False))).count() == 0


def _orders_sf(spark, tmp_path, days: dict[str, list[float]]) -> str:
    """An sf directory whose orders table holds one order per price on
    each day of ``days`` (ISO date -> o_totalprice list)."""
    d = str(tmp_path / f"sf_{len(days)}_days")
    dates = [day for day, prices in days.items() for _ in prices]
    pdf = pd.DataFrame(
        {
            "o_orderkey": range(1, len(dates) + 1),
            "o_custkey": 1,
            "o_orderdate": pd.to_datetime(dates),
            "o_totalprice": [p for prices in days.values() for p in prices],
        }
    )
    spark.createDataFrame(pdf).write.parquet(d + "/orders.parquet")
    return d


ONE_DAY = {"1995-03-07": [1234.56, 7.89]}
THREE_DAYS = {
    "1995-03-07": [1234.56, 7.89],
    "1995-03-08": [2000.00, 500.25],
    "1995-03-09": [1500.10, 99.99],
}


def test_recursions_on_a_one_day_series(spark, tmp_path):
    """A single observed day: EWMA emits the lattice-rounded value, Holt
    and Holt-Winters have no second day to seed a trend from, so their
    state stays NaN, which the Arrow boundary hands back as NULL (the
    weekday slot is still reported)."""
    d = _orders_sf(spark, tmp_path, ONE_DAY)
    day, x = datetime.date(1995, 3, 7), 1242.45
    [e] = ewma_recursive_daily(spark, d).collect()
    assert (e.day, e.revenue) == (day, x)
    assert e.ewma == math.floor(x * 1e4 + 0.5) / 1e4
    [h] = holt_linear_daily(spark, d).collect()
    assert (h.day, h.revenue) == (day, x)
    assert (h.level, h.trend, h.forecast) == (None,) * 3
    [w] = holt_winters_weekly(spark, d).collect()
    assert (w.day, w.revenue, w.dow) == (day, x, 2)  # Tuesday
    assert (w.forecast, w.level, w.trend, w.seasonal) == (None,) * 4


def _moments(spark, xs, ys):
    """(n, Σx, Σy, Σx², Σy², Σxy) of literal points as DOUBLE columns."""
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    x, y = F.col("x"), F.col("y")
    row = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    return row, [F.col(c) for c in row.columns]


def test_pearson_r_is_exact_on_lines_and_null_on_a_constant(spark):
    xs = [1.0, 1.0, 3.0, 3.0]
    for ys, want in (([3.0, 3.0, 7.0, 7.0], 1.0), ([5.0, 5.0, 1.0, 1.0], -1.0),
                     ([4.0] * 4, None)):
        row, m = _moments(spark, xs, ys)
        assert row.select(pearson_r(*m)).first()[0] == want


def test_ols_fit_recovers_a_line_and_nulls_a_single_point(spark):
    for xs, ys, want in (([1.0, 2.0, 3.0, 4.0], [3.0, 5.0, 7.0, 9.0], (2.0, 1.0)),
                         ([2.0], [5.0], (None, None))):
        row, (n, sx, sy, sxx, _, sxy) = _moments(spark, xs, ys)
        slope, intercept = ols_fit(n, sx, sy, sxx, sxy)
        assert tuple(row.select(slope, intercept).first()) == want


@pytest.mark.parametrize(
    "face, days, want",
    [
        # one day: no trend to fit, so no residuals and no verdict
        (durbin_watson_trend, ONE_DAY, (None, None, None, None)),
        # two orders every day: a constant count has zero distance
        # variance, so dCor is 0 and Pearson is undefined
        (distance_correlation_daily, THREE_DAYS, (3, 0.0, None, None)),
        # two lag pairs fit exactly and leave no residual degree of
        # freedom: no t statistic, so no claim of stationarity
        (adf_daily_revenue, THREE_DAYS, (2, -2.55149619, 4953.625017, None, False)),
    ],
    ids=["durbin_watson_one_day", "dcor_constant_count", "adf_three_days"],
)
def test_degenerate_series_emit_nulls_instead_of_raising(spark, tmp_path, face, days, want):
    [row] = face(spark, _orders_sf(spark, tmp_path, days)).collect()
    assert tuple(row) == want


class _StubState:
    """A GroupState stand-in that records what the fold does to it."""

    def __init__(self, value, timed_out):
        self.get, self.exists, self.hasTimedOut = value, value is not None, timed_out
        self.removed, self.timeout_ms = False, None

    def remove(self):
        self.get, self.exists, self.removed = None, False, True

    def update(self, value):
        self.get, self.exists = value, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_timed_out_session_is_emitted_once_then_dropped(spark):
    # ``spark``: the fold's output schema parses on the JVM
    fold = stateful._key_fold(
        stateful.OUTPUT_SCHEMA, stateful._session_step, stateful._flush_session
    )
    state = _StubState((100, 160, 4), timed_out=True)
    [frame] = fold((7,), iter([]), state)
    assert frame.to_dict("records") == [
        {
            "user_id": 7,
            "session_start": pd.Timestamp(100, unit="s", tz="UTC"),
            "session_end": pd.Timestamp(160, unit="s", tz="UTC"),
            "n_events": 4,
        }
    ]
    assert state.removed and not state.exists
    # the state is gone, so a second timeout emits nothing
    assert list(fold((7,), iter([]), state)) == []
    # a call with events folds them and re-arms the 60 s timeout
    live = _StubState(None, timed_out=False)
    events = pd.DataFrame({"user_id": [7], "t": [50]})
    assert list(fold((7,), iter([events]), live)) == []
    assert (live.get, live.timeout_ms) == ((50, 50, 1), 60_000)


def _cached_plans(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_clear_all_releases_every_memo_frame(spark, sf_dir):
    session_cache.clear_all()
    spark.catalog.clearCache()
    try:
        lpa_labels(spark, sf_dir)
        _cached_model(spark, sf_dir, table(spark, sf_dir, "documents"))
        _ann_index_state(spark, sf_dir)
        assert _cached_plans(spark) > 0
        session_cache.clear_all()
        assert _cached_plans(spark) == 0
    finally:
        session_cache.clear_all()
        spark.catalog.clearCache()


def test_put_eviction_unpersists_live_frames_only(spark):
    app = spark.sparkContext.applicationId
    cache = {}
    n = session_cache.MAX_LIVE_ENTRIES + 2
    frames = [spark.range(10 + i).persist() for i in range(n)]
    first, *live, foreign = frames
    try:
        session_cache.put(cache, ("dead-app", "sfX"), (foreign, 1))
        session_cache.put(cache, (app, "sf0"), (first, {"meta": 1}))
        for i, df in enumerate(live):
            session_cache.put(cache, (app, f"sf{i + 1}"), df)
        # the dead session's entry went without a JVM call
        assert foreign.storageLevel.useMemory
        # the oldest live entry went by FIFO, and its frame with it
        assert (app, "sf0") not in cache
        assert not first.storageLevel.useMemory
        assert all(df.storageLevel.useMemory for df in live)
        assert len(cache) == session_cache.MAX_LIVE_ENTRIES
    finally:
        for df in frames:
            df.unpersist()


def test_overlapped_builds_keep_the_callers_job_group(spark, sf_dir):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    session_cache.clear_all()
    spark.catalog.clearCache()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("operator-overlap", "operator-overlap")
    try:
        lpa_labels(spark, sf_dir)
        cf_holdout_hitrate(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
        session_cache.clear_all()
        spark.catalog.clearCache()
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("operator-overlap")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
