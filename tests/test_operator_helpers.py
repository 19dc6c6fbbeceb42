"""Operators build through shared helpers: overlapped chains run
on ``pipelines.fanout.each_table`` (their jobs carry the caller's job
group), AQE-path barriers go through ``session_cache.materialize``,
session memos through ``session_cache.memo``, whose entries own their
persisted frames, the ANN indexes through one k-means quantizer
and one LSH bucket expression, and the media codec stages through one
Arrow row-map seam."""

import pathlib
import re

from doeecommerce_datapipeline_spark.io import table
from doeecommerce_datapipeline_spark.operators import session_cache
from doeecommerce_datapipeline_spark.operators.graph import lpa_labels
from doeecommerce_datapipeline_spark.operators.quality_model import _cached_model
from doeecommerce_datapipeline_spark.operators.retail import cf_holdout_hitrate
from doeecommerce_datapipeline_spark.operators.similarity import _ann_index_state

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
