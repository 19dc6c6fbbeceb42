"""The bench timing core's cold-state rule: ``bench.time_cold`` starts
every run with the operator memo caches and Spark's CacheManager empty,
so no run times a hit on state an earlier run left behind."""

import bench
from doeecommerce_datapipeline_spark.operators import session_cache


def _cached_plans(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_time_cold_starts_every_run_cold(spark, sf_dir):
    memo = session_cache.register({})
    on_entry = []

    def fn(spark, sf_dir):
        on_entry.append(
            (_cached_plans(spark), [len(c) for c in session_cache._REGISTERED])
        )
        df = spark.range(100).selectExpr("id * 2 AS x").persist()
        df.count()
        session_cache.put(memo, (id(spark), sf_dir), df)
        return df

    try:
        fn(spark, sf_dir)  # leave state behind for the first timed run
        on_entry.clear()
        bench.time_cold(spark, fn, sf_dir, 3)
    finally:
        session_cache._REGISTERED.remove(memo)
        spark.catalog.clearCache()
    assert len(on_entry) == 3
    for cached, memo_sizes in on_entry:
        assert cached == 0, on_entry
        assert not any(memo_sizes), on_entry


def test_newest_record_picks_highest_round(tmp_path):
    for name in (
        "BENCH_LOCAL_r3.json",
        "BENCH_LOCAL_r12.json",
        "BENCH_LOCAL_r12_final.json",
        "BENCH_LOCAL_r13.json",
    ):
        (tmp_path / name).write_text("{}")
    out = str(tmp_path / "BENCH_LOCAL_r13.json")  # the run's own out-file
    assert bench.newest_record(str(tmp_path), out) == str(
        tmp_path / "BENCH_LOCAL_r12.json"
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    assert bench.newest_record(str(empty)) is None
