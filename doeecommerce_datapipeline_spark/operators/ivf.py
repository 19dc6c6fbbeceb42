"""IVF (inverted-file) approximate nearest neighbors: k-means coarse
quantizer + cluster-bucketed exact search — the standard ANN scale
path when hyperplane LSH recall plateaus.

Build: seeded k-means++ init on a bounded deterministic sample
(driver-side, the sample is ≤2k vectors), then a few DISTRIBUTED Lloyd
iterations over the FULL table. The per-vector kernel (argmin over k
centroid distances) is a k×dim matmul — exactly the shape where an
Arrow-batched numpy kernel beats codegen'd per-element HOF expressions
(a 16-centroid × 64-dim zip_with/aggregate tree costs seconds of
analysis/codegen PER PLAN; measured 10× slower end-to-end), so
assignment is a scalar pandas_udf and the centroid update is a
mapInPandas partial-sum pass emitting k rows per partition — map-side
combine with NO shuffle, nothing driver-side ever exceeds
k × n_partitions × dim cells. Every Lloyd pass is one scan, one job.

Query: find the n_probe centroids nearest the query vector (tiny,
driver-side — centroids are k×dim floats), then exact cosine over just
those clusters' members. Persist partitioned by cluster id — a probe
then reads only n_probe partitions (partition pruning IS the index).

Correctness: the registry face ivf_topk is an oracle-paired CONTRACT
face (r8 verdict #4 — exact halves from the embeddings table + pinned
recall/shape booleans); the raw neighbor grid (trained-state-specific:
which neighbors the probe surfaces depends on the learned centroids,
which no independent SQL engine can re-derive) lives on as
ivf_topk_full, and recall@10 vs the exact brute force is additionally
unit-tested with an explicit floor.

Reference analog: none — the reference has no similarity search; this
is north-star surface (SURVEY.md §2.3 planned-extension note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine
from ..io import table
from ..pyfiles import ensure_shipped

N_CLUSTERS = 16
N_PROBE = 4
FIT_SAMPLE = 2048
LLOYD_ITERS = 3


def _assign_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment: per batch one
    n×k distance matrix via ||x||² - 2 x·Cᵀ + ||c||², then argmin.
    Ties break to the lowest centroid id (np.argmin is first-match,
    matching SQL array_position semantics)."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)  # k × dim
    cnorm2 = (cents * cents).sum(axis=1)  # k

    @pandas_udf("int")
    def assign(emb):
        import pandas as pd

        x = np.asarray(emb.tolist(), dtype=np.float64)  # n × dim
        if len(x) == 0:
            return pd.Series([], dtype="int32")
        d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cents.T) + cnorm2
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return assign


def _partial_sums_fn(centroids: list[list[float]]):
    """mapInPandas stage: per partition, sum member vectors per
    cluster — emits ≤k rows of (cid, count, sums), the map-side
    combine that makes the centroid update shuffle-free."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    cnorm2 = (cents * cents).sum(axis=1)
    k, dim = cents.shape

    def partial(batches):
        import pandas as pd

        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.float64)
        for pdf in batches:
            x = np.asarray(pdf["_emb"].tolist(), dtype=np.float64)
            if len(x) == 0:
                continue
            d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cents.T) + cnorm2
            cid = np.argmin(d2, axis=1)
            np.add.at(counts, cid, 1)
            np.add.at(sums, cid, x)
        live = np.nonzero(counts)[0]
        yield pd.DataFrame(
            {
                "cid": live.astype("int32"),
                "cnt": counts[live],
                # explicit object dtype: an all-empty partition would
                # otherwise coerce the column to float64 ndarray, which
                # Arrow can't convert to list<double>
                "sums": pd.Series(
                    [sums[i].tolist() for i in live], dtype="object"
                ),
            }
        )

    return partial


def _kmeanspp_init(
    sample: list[list[float]], k: int, seed: int
) -> list[list[float]]:
    """Seeded k-means++ on the driver-side sample: first centroid by
    seeded choice, then each next centroid drawn with probability
    proportional to squared distance from the nearest chosen one."""
    import numpy as np

    pts = np.asarray(sample, dtype=np.float64)
    rng = np.random.default_rng(seed)
    centroids = [pts[int(rng.integers(len(pts)))]]
    d2 = np.full(len(pts), np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((pts - centroids[-1]) ** 2).sum(axis=1))
        total = d2.sum()
        if total <= 0:
            centroids.append(pts[int(rng.integers(len(pts)))])
            continue
        centroids.append(pts[int(rng.choice(len(pts), p=d2 / total))])
    return [list(map(float, c)) for c in centroids]


def build_ivf_index(
    df: DataFrame,
    n_clusters: int = N_CLUSTERS,
    seed: int = 42,
    lloyd_iters: int = LLOYD_ITERS,
) -> tuple[DataFrame, list[list[float]]]:
    """Returns (vectors + cluster_id, centroid list)."""
    import numpy as np

    spark = df.sparkSession
    ensure_shipped(spark)  # mapInPandas/pandas_udf closures on workers
    vecs = df.select(
        "*", F.col("embedding").cast("array<double>").alias("_emb")
    )
    # iterated over once per Lloyd pass — keep the scan's columnar
    # batches resident (at 100 TB: persist to executor storage or
    # re-scan; either way the pass stays one scan, one job)
    vecs = vecs.persist()
    try:
        # bounded deterministic sample (every stride-th vec_id) only
        # SEEDS the centroids; unlike a sample-only fit, the Lloyd
        # refinement below sees the full table
        n = vecs.count()
        stride = max(1, n // FIT_SAMPLE)
        # orderBy makes the seeded init — and therefore the whole
        # trained state — independent of partitioning: collect()
        # otherwise returns partition order, so the same data
        # repartitioned differently would train different centroids
        # (caught by the r8 distributed≡sequential Lloyd property
        # test). The sort is over the ≤FIT_SAMPLE-row sample only.
        sample = [
            [float(x) for x in r["_emb"]]
            for r in vecs.where(F.pmod("vec_id", F.lit(stride)) == 0)
            .select("vec_id", "_emb")
            .orderBy("vec_id")
            .collect()
        ]
        centroids = _kmeanspp_init(sample, n_clusters, seed)
        for _ in range(lloyd_iters):
            partials = (
                vecs.select("_emb")
                .mapInPandas(
                    _partial_sums_fn(centroids),
                    "cid int, cnt long, sums array<double>",
                )
                .collect()
            )
            counts = np.zeros(n_clusters, dtype=np.int64)
            sums = np.zeros(
                (n_clusters, len(centroids[0])), dtype=np.float64
            )
            for r in partials:
                counts[r["cid"]] += r["cnt"]
                sums[r["cid"]] += np.asarray(r["sums"])
            # empty clusters keep their previous centroid
            centroids = [
                (sums[i] / counts[i]).tolist() if counts[i] else centroids[i]
                for i in range(n_clusters)
            ]
        assigned = vecs.withColumn(
            "cluster_id", _assign_udf(centroids)(F.col("_emb"))
        ).drop("_emb")
        return assigned, centroids
    finally:
        # the returned plan re-reads the (cheap) source scan; the
        # persisted frame was only for the build loop
        vecs.unpersist()


def _nearest_clusters(
    query: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    order = sorted(range(len(centroids)), key=lambda i: d2(query, centroids[i]))
    return order[:n_probe]


def ivf_topk_full(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """ANN top-k for one stored vector: probe the n_probe nearest
    clusters only. The candidate set is ~n_probe/n_clusters of the
    table; on a cluster-partitioned layout the non-probed partitions
    are never read.

    Raw neighbor grid — the registry serves the oracle-paired
    contract face ivf_topk below (r8 verdict #4: neighbor ids are
    trained-state-specific, so they live here, cross-checked by the
    recall-floor unit in tests/test_ivf.py)."""
    return ivf_topk_full_over(
        spark, table(spark, sf_dir, "embeddings"), query_vec_id, k, n_probe
    )


def ivf_topk_full_over(
    spark: SparkSession,
    e: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """ivf_topk_full body over an already-loaded embeddings frame —
    lets ivf_topk share ONE persisted scan across its three job
    chains (r10, guide §5/§2.1)."""
    assigned, centroids = build_ivf_index(e)
    qrow = e.where(F.col("vec_id") == query_vec_id).select("embedding").head()
    if qrow is None:
        return spark.createDataFrame([], "vec_id long, label int, cos double")
    query = [float(x) for x in qrow["embedding"]]
    probe = _nearest_clusters(query, centroids, n_probe)
    qdf = spark.createDataFrame([(query,)], "qv array<float>")
    return (
        assigned.where(F.col("cluster_id").isin(probe))
        .where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(qdf))
        .select("vec_id", "label", cosine("embedding", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_recall_vs_exact(spark: SparkSession, sf_dir: str, k: int = 10) -> float:
    """Measured recall@k of the IVF probe against exact brute force."""
    from .similarity import brute_force_topk

    exact = {r["vec_id"] for r in brute_force_topk(spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in ivf_topk_full(spark, sf_dir, 0, k).collect()}
    return len(exact & approx) / max(len(exact), 1)


# Measured single-query (vec_id=0) recall@10 per shipped fixture:
# 0.6 / 0.6 / 0.3 at sf0.001 / 0.01 / 0.1 — deterministic per fixture
# since the r8 partition-independent trainer; a broken index lands at
# the random baseline k/n ≈ 0.02, an order of magnitude under the floor.
IVF_TOPK_RECALL_FLOOR = 0.2


def ivf_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Oracle-paired CONTRACT face of the IVF probe (r8 verdict #4,
    the quality_classifier_scores / ann_recall_eval tightening
    pattern): one row of exact halves the DuckDB twin derives from
    the embeddings table alone — n_vectors, n_nonzero_norm, dim, k —
    plus three contract booleans pinned TRUE: the probe returned a
    full k results (with the shipped n_probe/n_clusters the probed
    clusters always hold ≥ k candidates), every cosine is in
    [-1, 1] (nonzero-norm candidates only), and recall@k vs the
    exact brute-force scan clears IVF_TOPK_RECALL_FLOOR. The raw
    neighbor grid lives on as ivf_topk_full (non-registry).

    Shape: similarity.topk_recall_check (one persisted scan, the
    stats/brute/train chains overlapped, k-row-bounded collects)."""
    from .similarity import topk_recall_check

    stats, approx, recall = topk_recall_check(
        spark, sf_dir, k, ivf_topk_full_over
    )
    eps = 1e-9
    row = (
        stats["n_vectors"],
        stats["n_nonzero_norm"],
        stats["dim"],
        k,
        len(approx) == k,
        all(
            r["cos"] is not None and -1 - eps <= r["cos"] <= 1 + eps
            for r in approx
        ),
        recall >= IVF_TOPK_RECALL_FLOOR,
    )
    return spark.createDataFrame(
        [row],
        "n_vectors long, n_nonzero_norm long, dim int, k int, "
        "n_results_eq_k boolean, cos_bounded boolean, "
        "recall_ge_floor boolean",
    )
