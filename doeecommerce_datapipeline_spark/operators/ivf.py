"""IVF (inverted-file) approximate nearest neighbors: k-means coarse
quantizer + cluster-bucketed exact search — the standard ANN scale
path when hyperplane LSH recall plateaus.

Build: the coarse quantizer is a product quantizer with ONE subspace
(Jégou et al., TPAMI 2011), so it trains and assigns through pq.py:
``train_pq_codebooks(m=1)`` (seeded k-means++ on a bounded stride
sample, then distributed Lloyd passes over the FULL table, one scan
and one job each) and ``pq_encode`` (the Arrow-batched
nearest-codeword kernel), whose one-entry code is the cluster id.

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

from ..functions.vectors import cosine
from ..io import table
# re-exported: the sequential Lloyd references in
# tests/test_kernel_properties.py seed through it from here
from .pq import _kmeanspp_init  # noqa: F401
from .pq import pq_encode, train_pq_codebooks

N_CLUSTERS = 16
N_PROBE = 4
LLOYD_ITERS = 3


def build_ivf_index(
    df: DataFrame,
    n_clusters: int = N_CLUSTERS,
    seed: int = 42,
    lloyd_iters: int = LLOYD_ITERS,
) -> tuple[DataFrame, list[list[float]]]:
    """Returns (vectors + cluster_id, centroid list): the one-subspace
    PQ codebook is the centroid list, and its one-entry code the
    cluster id."""
    centroids = train_pq_codebooks(
        df, m=1, k=n_clusters, seed=seed, lloyd_iters=lloyd_iters
    )[0]
    assigned = (
        pq_encode(df, [centroids])
        .withColumn("cluster_id", F.col("pq_code")[0])
        .drop("pq_code")
    )
    return assigned, centroids


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
