"""Units for the count-min sketch, skew profiler, MAD fence, EWMA and
BFS operators (oracle parity at sf0.001 lives in test_parity.py)."""

import operator
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from doeecommerce_datapipeline_spark.operators import (
    events as E,
    graph as G,
    sketches as SK,
    skew as SKW,
    windows as W,
)
from doeecommerce_datapipeline_spark.operators.sketches import (
    CMS_HASHES,
    CMS_W,
    cms_build,
)

from tests.conftest import SF_DIR


def test_cms_never_underestimates(spark):
    rows = SK.heavy_hitters_cms(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.overestimate >= 0, "CMS must never undercount"
        assert r.cms_estimate >= r.true_count


def test_cms_sketch_is_fixed_size_and_mass_preserving(spark):
    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    sketch = cms_build(df, "k").cache()
    assert sketch.count() <= len(CMS_HASHES) * CMS_W
    # every hash row holds the full input mass — the merge-by-addition
    # property the 100 TB story rests on
    per_row = sketch.groupBy("row_i").agg(F.sum("cnt").alias("mass")).collect()
    assert len(per_row) == len(CMS_HASHES)
    assert all(r.mass == 5000 for r in per_row)
    sketch.unpersist()


def test_cms_exact_on_sparse_keys(spark):
    # far fewer keys than buckets + distinct hash rows → w.h.p. some
    # row has no collision for each key, so MIN equals the true count
    df = spark.createDataFrame(
        [(i,) for i in range(20) for _ in range(i + 1)], "k long"
    )
    sketch = cms_build(df, "k")
    probes = df.groupBy("k").agg(F.count(F.lit(1)).alias("truth"))
    est = (
        probes.select(
            "k",
            "truth",
            F.posexplode(
                F.array(
                    *[SK.cms_bucket(F.col("k"), a, b) for a, b in CMS_HASHES]
                )
            ).alias("row_i", "bucket"),
        )
        .join(sketch, ["row_i", "bucket"])
        .groupBy("k", "truth")
        .agg(F.min("cnt").alias("est"))
        .collect()
    )
    assert len(est) == 20
    assert all(r.est == r.truth for r in est)


def test_key_skew_profile_consistency(spark):
    r = SKW.key_skew_profile(spark, SF_DIR).collect()[0]
    assert r.n_keys > 0 and r.n_rows >= r.n_keys
    assert r.p50_cnt <= r.p90_cnt <= r.p99_cnt <= r.max_cnt
    assert r.skew_ratio >= 1.0  # max is always >= mean
    # the named hot key really holds max_cnt rows
    from doeecommerce_datapipeline_spark.io import table

    true_max = (
        table(spark, SF_DIR, "events")
        .where(F.col("user_id") == r.hot_key)
        .count()
    )
    assert true_max == r.max_cnt


def test_mad_robust_to_planted_extreme(spark):
    # one absurd value must be flagged and must not move the median fence
    base = [("a", float(v)) for v in range(1, 101)]
    df_clean = spark.createDataFrame(base, "event_type string, value double")
    df_dirty = spark.createDataFrame(
        base + [("a", 1e9)], "event_type string, value double"
    )
    import tempfile

    def run(df):
        with tempfile.TemporaryDirectory() as tmp:
            df.select(
                F.lit(1).alias("event_id"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
                "event_type",
                "value",
            ).write.parquet(f"{tmp}/events.parquet")
            return E.value_mad_outliers(spark, tmp).collect()[0]

    clean, dirty = run(df_clean), run(df_dirty)
    assert clean.n_outliers == 0
    assert dirty.n_outliers == 1  # exactly the planted point
    assert abs(dirty.med - clean.med) <= 1.0  # fence barely moves


def test_ewma_constant_series_is_identity(spark):
    import tempfile

    rows = [(f"1995-03-{d:02d}", 500.0) for d in range(1, 25)]
    df = spark.createDataFrame(rows, "d string, o_totalprice double").select(
        F.col("d").cast("timestamp").alias("o_orderdate"), "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/orders.parquet")
        out = W.ewma_daily_revenue(spark, tmp).collect()
    assert len(out) == 24
    for r in out:
        assert abs(r.ewma - 500.0) < 1e-9


def test_bfs_levels_on_path_graph(spark):
    # path 1-2-3-4-5 from source 1: dists 0..3, node 5 unreached at depth 3
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)],
        "src long, dst long",
    )
    source = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in G.bfs_levels(edges, source, 3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_trade_reach_alternates_namespaces(spark):
    rows = G.trade_reach(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # bipartite graph: even hops are customers, odd hops suppliers
        assert r.node[0] == ("c" if r.dist % 2 == 0 else "s")
    assert sum(1 for r in rows if r.dist == 0) == 1


def test_streaming_cms_merge_equals_batch_sketch(spark, tmp_path):
    """Drain a 3-file stream through foreach_batch_cms_merge and the
    resulting ACID cell table must equal the batch-built sketch over
    the union — CMS merge is exact, not approximate."""
    from doeecommerce_datapipeline_spark.io import table
    from doeecommerce_datapipeline_spark.sinks.manifest_store import (
        ManifestTable,
    )
    from doeecommerce_datapipeline_spark.streaming.stream_ops import (
        foreach_batch_cms_merge,
        read_event_stream,
    )

    src = table(spark, SF_DIR, "events").orderBy("event_id").limit(300)
    base = str(tmp_path / "cms_in")
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        src.orderBy("event_id").offset(lo).limit(hi - lo).write.mode(
            "append"
        ).parquet(base)
    cells = str(tmp_path / "cms_cells")
    q = (
        read_event_stream(spark, base)
        .writeStream.foreachBatch(foreach_batch_cms_merge(cells))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 1)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.row_i, r.bucket): r.cnt
        for r in ManifestTable(spark, cells).read().collect()
    }
    want = {
        (r.row_i, r.bucket): r.cnt
        for r in cms_build(spark.read.parquet(base), "user_id").collect()
    }
    assert got == want


def test_streaming_hll_merge_equals_batch_registers(spark, tmp_path):
    """Drain a 3-file stream through foreach_batch_hll_merge: the ACID
    register table must equal the batch-built registers over the union
    (HLL union = register-wise MAX, exactly) — so the estimate read
    off the stream state is the batch estimate."""
    from doeecommerce_datapipeline_spark.io import table
    from doeecommerce_datapipeline_spark.operators.sketches import (
        hll_registers,
    )
    from doeecommerce_datapipeline_spark.sinks.manifest_store import (
        ManifestTable,
    )
    from doeecommerce_datapipeline_spark.streaming.stream_ops import (
        foreach_batch_hll_merge,
        read_event_stream,
    )

    src = table(spark, SF_DIR, "events").orderBy("event_id").limit(300)
    base = str(tmp_path / "hll_in")
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        src.orderBy("event_id").offset(lo).limit(hi - lo).write.mode(
            "append"
        ).parquet(base)
    regs = str(tmp_path / "hll_regs")
    q = (
        read_event_stream(spark, base)
        .writeStream.foreachBatch(foreach_batch_hll_merge(regs))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .option("maxFilesPerTrigger", 1)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_type, r.bucket): r.m_j
        for r in ManifestTable(spark, regs).read().collect()
    }
    want = {
        (r.event_type, r.bucket): r.m_j
        for r in hll_registers(spark.read.parquet(base)).collect()
    }
    assert got == want and got


def _add(a, b):
    return tuple(map(operator.add, a, b))


def _max(a, b):
    return tuple(map(max, a, b))


_T0 = datetime(2024, 1, 1)


def _additive_sink(kind, path, **lineage):
    """The sink under test, its state key columns and how two states
    of one key combine."""
    from doeecommerce_datapipeline_spark.streaming import stream_ops as S

    if kind == "cms":
        sink = S.foreach_batch_cms_merge(path, **lineage)
        return sink, ("row_i", "bucket"), _add
    if kind == "hll":
        sink = S.foreach_batch_hll_merge(path, **lineage)
        return sink, ("event_type", "bucket"), _max
    if kind == "psi":
        mid_us = int(datetime(2024, 1, 2, 6, tzinfo=timezone.utc).timestamp()) * 10**6
        sink = S.foreach_batch_psi_bins(
            path, v_lo=0.0, v_hi=15.0, t_bound_2x_us=2 * mid_us, **lineage
        )
        return sink, ("bin", "half"), _add
    sink = S.foreach_batch_moments_merge(path, **lineage)
    return sink, ("event_type",), _add


def _sink_batch(spark):
    types = ("view", "click", "purchase")
    return spark.createDataFrame(
        [
            (i % 7, types[i % 3], (i % 11) * 1.25, _T0 + timedelta(hours=i))
            for i in range(60)
        ],
        "user_id long, event_type string, value double, ts timestamp",
    )


def _sink_state(spark, path, keys):
    from doeecommerce_datapipeline_spark.sinks.manifest_store import (
        ManifestTable,
    )

    tbl = ManifestTable(spark, path)
    rows = tbl.read().collect()
    state = {
        tuple(r[k] for k in keys): tuple(
            v for k, v in r.asDict().items() if k not in keys
        )
        for r in rows
    }
    return tbl.current_version(), state


SINKS = ["cms", "hll", "psi", "moments"]


@pytest.mark.parametrize("kind", SINKS)
def test_additive_merge_epoch_replay_is_noop(spark, tmp_path, kind):
    """Re-delivering an epoch (the restart-recovery path) must not
    double-count: the epoch pointer in the commit meta gates it, and
    no new version is committed. A genuinely new epoch folds in."""
    path = str(tmp_path / kind)
    batch = _sink_batch(spark)
    sink, keys, combine = _additive_sink(kind, path)
    sink(batch, 0)
    v1, first = _sink_state(spark, path, keys)
    assert first
    sink(batch, 0)  # replay of epoch 0
    assert _sink_state(spark, path, keys) == (v1, first)
    sink(batch, 1)  # genuinely new epoch
    v2, after_new = _sink_state(spark, path, keys)
    assert v2 == v1 + 1
    assert after_new == {k: combine(v, v) for k, v in first.items()}
    if kind == "hll":
        # and even if replayed WITHOUT the guard, MAX-merge is idempotent
        sink(batch, 2)
        assert _sink_state(spark, path, keys)[1] == after_new


@pytest.mark.parametrize("kind", SINKS)
def test_additive_merge_new_lineage_is_not_skipped(spark, tmp_path, kind):
    """A FRESH streaming query (new checkpoint => epochs restart at 0)
    feeding an existing state table must still apply its batches; only
    a replay within the SAME lineage is a no-op. Regression for the
    epoch-only guard that silently dropped every batch of a new query."""
    path = str(tmp_path / kind)
    batch = _sink_batch(spark)
    first, keys, combine = _additive_sink(kind, path, lineage_id="ckpt-A")
    first(batch, 0)
    _, once = _sink_state(spark, path, keys)
    first(batch, 1)
    va, after_a = _sink_state(spark, path, keys)
    # new query lineage: its epoch 0 < stored epoch 1 but must apply
    second, _, _ = _additive_sink(kind, path, lineage_id="ckpt-B")
    second(batch, 0)
    vb, after_b = _sink_state(spark, path, keys)
    assert vb == va + 1
    assert after_b == {k: combine(v, once[k]) for k, v in after_a.items()}
    # and a replay within lineage B is still a no-op
    second(batch, 0)
    assert _sink_state(spark, path, keys) == (vb, after_b)
