"""Similarity search over array<float> embeddings (north star).

Two tiers:
- brute-force cosine top-k: one scan, per-row fold arithmetic, top-k
  via TakeOrderedAndProject — the exact baseline and the oracle query.
- LSH-bucketed ANN: random-hyperplane signatures bucket the vectors;
  search touches only the query's bucket (and optionally neighboring
  probes). At 100 TB the bucketed table is the pre-computed index —
  written partitioned by bucket so a probe is partition pruning.
"""

from __future__ import annotations

import math
import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import tokens
from ..functions.vectors import cosine, dot, norm
from ..io import table
from ..pipelines.fanout import each_table
from . import session_cache

N_PLANES = 12  # 4096 buckets


def brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 over all embeddings.

    The query vector rides along as a broadcast single-row join — no
    collect at plan time, so the same plan works when the "query set"
    is a table of thousands of vectors.
    """
    return brute_force_topk_over(table(spark, sf_dir, "embeddings"))


def brute_force_topk_over(e: DataFrame) -> DataFrame:
    """brute_force_topk body over an already-loaded embeddings frame —
    lets topk_recall_check share ONE persisted scan across its
    stats/brute/train chains (r10, guide §5/§2.1)."""
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.join(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select("vec_id", "label", cosine("embedding", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


def topk_recall_check(
    spark: SparkSession, sf_dir: str, k: int, approx_over
):
    """The ivf_topk / pq_topk contract build: (stats row, the index's
    top-k rows of vec_id 0 from ``approx_over(spark, e, 0, k)``,
    recall@k vs the exact brute-force top-k).

    ONE persisted embeddings scan feeds three mutually independent
    chains: the stats aggregate, the exact brute-force top-k, and the
    index train/probe. They overlap (guide §2.6), so the stats and
    brute scans back-fill executors while the trainer's driver-side
    Lloyd barriers leave them idle; wall clock ≈ the training chain
    alone, and every job computes exactly what it did sequentially.
    The scan is unpersisted before returning. Both collects are
    k-row-bounded."""
    e = table(spark, sf_dir, "embeddings").persist()
    stats_df = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            (
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
                > 0
            ).cast("long")
        ).alias("n_nonzero_norm"),
        F.max(F.size("embedding")).cast("int").alias("dim"),
    )
    try:
        stats, exact, approx = each_table(
            spark,
            operator.call,
            [
                stats_df.first,
                lambda: {
                    r["vec_id"] for r in brute_force_topk_over(e).collect()
                },
                lambda: approx_over(spark, e, 0, k).collect(),
            ],
        )
    finally:
        e.unpersist()
    got = {r["vec_id"] for r in approx}
    return stats, approx, len(got & exact) / max(len(exact), 1)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (pure function of
    (plane, i) — no RNG state, reproducible everywhere)."""
    vals = [
        math.sin(plane * 1_000_003 + i * 7_919 + 0.5) for i in range(dim)
    ]
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def _table_bucket(dim: int, t: int, n_planes: int):
    """Bucket expression for hash table t: sign bits over n_planes
    hyperplanes drawn from a per-table slice of the plane family."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = _hyperplane(dim, t * 101 + p)
        proj = F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(
                proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
            ).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def lsh_bucket(df: DataFrame, dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign-bit string over N_PLANES
    fixed hyperplanes (hash table 0 of ``_table_bucket``'s family).
    Pure column arithmetic; the planes are literals baked into the
    plan (broadcast-free)."""
    return df.withColumn("bucket", _table_bucket(dim, 0, N_PLANES))


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0: exact cosine, but only within the
    query's LSH bucket — the candidate set is |bucket| ≈ n/4096.

    FULLY oracle-paired since r9: the hyperplanes are deterministic
    Python-computed literals baked into the plan, so the DuckDB twin
    interpolates the identical constants and reproduces the bucket
    bit-for-bit (the same left-to-right zip-multiply-sum dag decides
    every sign on both engines); within the bucket it is the
    embedding_topk exact-cosine shape. Recall vs the exact baseline
    is additionally unit-tested on the multi-table kNN join (a single
    12-bit bucket on near-uniform vectors is a candidate filter, not
    a recall device)."""
    e = lsh_bucket(table(spark, sf_dir, "embeddings"))
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    return (
        e.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != 0)
        .select("vec_id", "label", cosine("embedding", "qv").alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-op profile of the embedding column: dimension, L2 norm,
    element mean — the sanity scan before any ANN build."""
    e = table(spark, sf_dir, "embeddings")
    s = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        norm("embedding").alias("l2_norm"),
        (s / F.size("embedding")).alias("elem_mean"),
    )


# 12 tables x 4 sign bits: measured the best recall/candidate tradeoff
# on the synthetic embeddings, which are near-UNIFORM (weak neighbor
# structure — the hardest case for any sub-quadratic ANN; measured:
# 12x4 LSH 0.53, 8x4 LSH 0.47, IVF 1-probe 0.31 recall@5 at equal
# candidate budget). On clustered real embeddings recall rises
# sharply; n_tables is the recall dial, n_planes the cost dial.
KNN_TABLES = 12
KNN_PLANES = 4


def lsh_knn_join(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_tables: int = KNN_TABLES,
    n_planes: int = KNN_PLANES,
) -> DataFrame:
    """Batched k-NN JOIN: every vector's top-k cosine neighbors —
    the all-pairs operation behind embedding-dedup and retrieval-index
    bootstrap, where per-query probing (ann_topk_lsh) doesn't scale to
    N queries.

    Standard multi-table LSH: L=n_tables independent hash tables of
    n_planes sign bits each; candidates are pairs sharing a bucket in
    ANY table (union → distinct), so recall comes from table count
    while bucket-local joins keep candidates ≪ N². Exact cosine scores
    the candidates; a per-source ranking window cuts to k. Shuffles:
    one per table on (table, bucket) via the explode, one on the pair
    for distinct, one on id_a for the window — all bounded by the
    candidate set, never N².

    rows-only correctness (bucket layout is implementation-specific);
    recall vs brute force is unit-tested (tests/test_knn_join.py).
    """
    e = table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").head()["embedding"])
    buckets = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        _table_bucket(dim, t, n_planes).alias("b"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "tb.t", "tb.b")
    cand = (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.t") == F.col("r.t")) & (F.col("l.b") == F.col("r.b")),
        )
        .where(F.col("l.vec_id") != F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("id_a"), F.col("r.vec_id").alias("id_b")
        )
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    vb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("label_b"),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "label_b", cosine("ea", "eb").alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("id_a", "id_b", "label_b", "cos", F.col("rnk").cast("long").alias("rnk"))
    )


SEMDEDUP_TAU = 0.35


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication INSIDE embedding clusters — a vector is a semantic
    duplicate when some lower-id vector in the SAME cluster has cosine
    ≥ SEMDEDUP_TAU; survivors (cluster representatives + everything
    below the threshold) are kept. Returns (vec_id, label).

    Cluster id here is the testdata's ``label`` column (its ground-
    truth partition); at 100 TB the cluster id comes from the IVF
    coarse quantizer (operators/ivf.py build_ivf_index) — identical
    downstream shape. The pairwise pass is label-blocked, so the join
    is an equi-join on the cluster key and candidates are
    |cluster|²-bounded, never corpus² — exactly why SemDeDup clusters
    first. min-id keep rule makes the survivor set deterministic
    without any float ordering; the output carries no floats at all,
    so the hash check can't wobble on libm differences (the cosine
    fold itself is already bit-identical across engines — in-order
    fold, see functions/vectors.py).
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # norms once per VECTOR, not once per pair: the pair space is
    # |cluster|²-sized, so folding norm(a)/norm(b) inside the pair
    # predicate costs 2×64 multiply-adds per candidate — measured 6.3 s
    # → precomputing cut it to ~2 s at sf0.1. The norm expression is
    # the identical in-order fold, so cos = dot/(na·nb) is bit-equal
    # to the inline form (and to the oracle's).
    en = e.select("vec_id", "label", "embedding", norm("embedding").alias("nrm"))
    a = en.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = en.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lbl"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot("ea", "eb") / (F.col("na") * F.col("nb")),
    )
    # broadcast the probe side: the cluster key has only #clusters
    # distinct values, so a shuffle join degenerates to #clusters
    # tasks (one hot partition per cluster); broadcasting keeps the
    # pair generation parallel over ALL of a's partitions. At 100 TB
    # the equivalent is partitioning both sides by cluster id and
    # joining cluster-locally (the IVF layout already is).
    dropped = (
        a.join(F.broadcast(b), "lbl")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cos >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


TFIDF_COSINE_SCALE = 1024  # fixed-point idf quantum (see docstring)
TFIDF_COSINE_THRESHOLD = 0.4


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored near-dup pairs by TF-IDF cosine over the shared-term
    inverted index — the weighted upgrade of ngram_jaccard_pairs
    (identical join shape; common terms stop dominating because idf
    down-weights them instead of a hard df-cap).

    Determinism seam: weights are FIXED-POINT — w = tf · ((N·1024)
    div df), integer throughout — so dot products and norms are exact
    BIGINT sums (order-independent, engine-independent; bounds: tf
    ≲ 10², idf ≤ N·1024 ≈ 10⁶, dot ≤ 10¹⁶ « 2⁶³), and the only float
    steps are final int→double conversions (correctly rounded per
    IEEE on every engine), two sqrts (exact per IEEE) and one
    multiply+divide — bit-identical everywhere, hence fully
    oracle-pairable where a float-accumulated cosine would drift with
    aggregation order. Norms computed ONCE per doc in the same pass
    that builds the index; the pair join only touches docs sharing a
    term.
    """
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    # r10: the doc count rides the plan as a broadcast 1-row scalar
    # instead of a separate driver count() job — (nd · SCALE) div df
    # is the same long integer division, so every weight is unchanged
    nd = d.agg(
        (F.count(F.lit(1)) * F.lit(TFIDF_COSINE_SCALE)).alias("scaled_n")
    )
    toks = d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # the weighted index is consumed FOUR times (both join sides +
    # norms, itself joined twice) — localCheckpoint it once (the
    # minhash barrier pattern: no shared subtrees across join
    # branches), or the explode + df-window re-evaluate per branch
    # (r7: 4 scans / 4 Windows in the executed plan, measured
    # 4.3 s -> 2.8 s at sf0.1; the remaining time is the shared-term
    # pair join itself, the operator's real work)
    w = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.expr("scaled_n div df")).alias("w"),
        )
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm_sq")
    ).localCheckpoint()
    a = w.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"), F.col("norm_sq").alias("na")),
            "id_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"), F.col("norm_sq").alias("nb")),
            "id_b",
        )
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= TFIDF_COSINE_THRESHOLD)
    )


CENTROID_SCALE = 1 << 20  # component quantization lattice


def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-separability screen run before trusting
    labels for curriculum/mixture decisions (near-parallel centroids
    = labels the embedding space cannot distinguish).

    Determinism on float input: raw float32 components are exact
    doubles, but their SUMS are order-sensitive — so components
    quantize to the 2^-20 integer lattice first (floor(v*2^20+0.5),
    explicit IEEE ops), making every centroid component one exact
    int64 sum + one division. Pair dot/norm contributions then round
    at 9 dp into DECIMAL(18,9) (the bm25 seam) so the 64-way
    reductions are order-free too. Shape: one explode to
    (label, idx) grain, a counts-sized centroid table (labels x 64),
    and a 45-pair self-join on idx — nothing fact-scale shuffles
    twice.
    """
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("idx", "v")
    ).select(
        "label",
        "idx",
        F.floor(
            F.col("v").cast("double") * F.lit(float(CENTROID_SCALE))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("k"),
    )
    cent = comp.groupBy("label", "idx").agg(
        F.sum("k").alias("sk"), F.count(F.lit(1)).alias("n")
    ).select(
        "label",
        "idx",
        (
            F.col("sk").cast("double")
            / (F.col("n") * F.lit(CENTROID_SCALE)).cast("double")
        ).alias("c"),
    )
    # norms per label (decimal-quantized 64-way sums)
    dec9 = lambda col: F.round(col, 9).cast("decimal(18,9)")  # noqa: E731
    norms = cent.groupBy("label").agg(
        F.sum(dec9(F.col("c") * F.col("c"))).alias("nn")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "idx", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "idx", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "idx")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(dec9(F.col("ca") * F.col("cb"))).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("nn").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("nn").alias("nb")
    )
    out = dots.join(F.broadcast(na), "label_a").join(
        F.broadcast(nb), "label_b"
    )
    cosine_d = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double"))
        * F.sqrt(F.col("nb").cast("double"))
    )
    return out.select(
        "label_a", "label_b", cosine_d.alias("centroid_cosine")
    )


KMEANS_K = 4
KMEANS_ITERS = 3


_LATTICE_KMEANS_CACHE: dict = session_cache.register({})


def lattice_kmeans_assignments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-round k-means over the embeddings, FULLY ORACLE-PAIRED —
    the PageRank/CMS determinism trick applied to clustering: k = 4,
    exactly 3 Lloyd iterations, seeds = the k lowest vec_ids, and
    EVERY quantity stays on an integer lattice (components quantize
    to 2^-20 ints; centroid update is integer floor-division mean;
    distances are exact int64 sums of squares), so assignment,
    centroids, sizes and inertia are bit-identical in any engine —
    correctness discipline the MLlib/IVF paths (rows-only by
    contract) can't offer, at toy scale. Production clustering stays
    ivf.py (k-means++ init, float Lloyd, recall floors); THIS pins
    the iteration MECHANICS against an independent engine.

    Shape per iteration (r10, guide §2.3/§2.4 — the hopkins array
    rewrite applied to the Lloyd loop): the lattice points ride ONE
    checkpointed (vec_id, karr) ARRAY row per vector; assignment is a
    per-row zip_with/aggregate fold against the k broadcast centroid
    arrays (ZERO data exchange — the former per-dim explode + join on
    `dim` shuffled n·k·dim rows through two exchanges per round); the
    centroid update explodes only for its (cid, dim) mean — map-side
    partial aggregation reduces that exchange to ≤ k·dim rows per
    task. Values are bit-identical: same per-dimension lattice ints
    in dim order, same int64 squared-distance sums (addition is
    order-free on exact ints), same trunc(double Σk / n) centroid,
    same min-(d2, cid) tie rule via array_min over structs.

    Cached per (session, dataset) like lpa_labels/_ann_index_state:
    one partition, two registry readouts (kmeans_lattice_clusters'
    sizes/inertia and cluster_source_nmi's agreement) — and the
    result is bit-deterministic by the lattice contract, so caching
    is observationally pure.
    """
    return session_cache.memo(
        _LATTICE_KMEANS_CACHE,
        spark,
        sf_dir,
        lambda: _lattice_kmeans(spark, sf_dir),
    )


def _lattice_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    earr = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(
                v.cast("double") * F.lit(float(CENTROID_SCALE))
                + F.lit(0.5)
            ).cast("long"),
        ).alias("karr"),
    ).localCheckpoint(eager=True)  # reused by every iteration
    # seeds: the K lowest vec_ids, centroid c = that point's lattice
    w_seed = Window.orderBy("vec_id")
    cents = (
        earr.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            (F.row_number().over(w_seed) - 1).cast("int").alias("cid"),
            F.col("karr").alias("carr"),
        )
    )

    # exact int64 squared distance: fold over the fixed-dim arrays —
    # identical ints to the former per-dim (k−c)² sum
    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def assign(centroids):
        crow = centroids.groupBy().agg(
            F.array_sort(
                F.collect_list(F.struct("cid", "carr"))
            ).alias("cents")
        )
        # array_min over struct(d2, cid) = the former
        # min_by(cid, struct(d2, cid)) / min(struct(d2, cid)).d2 pair:
        # field-order comparison picks smallest d2, ties -> lowest cid
        best = F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(
                    d2(F.col("karr"), c["carr"]).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return (
            earr.crossJoin(F.broadcast(crow))
            .select("vec_id", "karr", best.alias("best"))
            .select(
                "vec_id",
                "karr",
                F.col("best")["cid"].alias("cid"),
                F.col("best")["d2"].alias("d2"),
            )
        )

    for _ in range(KMEANS_ITERS):
        a = assign(cents)
        # mean as trunc(double Σk / n): Σk < 2^31 is double-exact, the
        # division is one IEEE op and long-cast truncation matches
        # SQL TRUNC — identical bits on both engines even for the
        # negative-component case where div/floor semantics differ
        cents = (
            a.select("cid", F.posexplode("karr").alias("dim", "k"))
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum("k").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("c")
            )
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "c"))
                ).alias("dc")
            )
            .select(
                "cid",
                F.transform("dc", lambda s: s["c"]).alias("carr"),
            )
        )
    return (
        assign(cents)
        .select("vec_id", "cid", "d2")
        .localCheckpoint(eager=True)
    )


DIM_STATS_SCALE = 1 << 20


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding matrix (n, mean, sd,
    min, max) — the feature-health check that catches dead dims,
    scale drift, and un-normalized batches before they poison ANN
    recall.

    Components quantize to the 2^-20 integer lattice (the
    kmeans_lattice trick), so Σq and Σq² are exact integer sums —
    Σq² splits hi/lo on 1e9 to stay in int64 at any row count that
    matters — and mean/sd reconstruct through a fixed IEEE dag.
    min/max are exact lattice ints scaled back. One posexplode (dim-
    bounded fan-out) and one partial-aggregated shuffle of |dim|
    groups.
    """
    M = 1_000_000_000
    e = table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.floor(
            F.col("v").cast("double") * F.lit(float(DIM_STATS_SCALE))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    g = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.expr(f"sum((q * q) div {M})").alias("hi"),
        F.expr(f"sum((q * q) % {M})").alias("lo"),
        F.min("q").alias("qmin"),
        F.max("q").alias("qmax"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("hi").cast("double") * F.lit(float(M)) + F.col(
        "lo"
    ).cast("double")
    sc = F.lit(float(DIM_STATS_SCALE))
    mean = s1 / nd / sc
    var_lat = (s2 - s1 * s1 / nd) / (nd - 1.0)
    sd = F.sqrt(F.greatest(var_lat, F.lit(0.0))) / sc
    return g.select(
        "dim",
        "n",
        mean.alias("mean"),
        F.when(F.col("n") > 1, sd).alias("sd"),
        (F.col("qmin").cast("double") / sc).alias("min_v"),
        (F.col("qmax").cast("double") / sc).alias("max_v"),
    )


SQ8_SCALE_NUM = 1  # int8 step = 1/16 in embedding units
SQ8_SCALE_DEN = 16


def sq8_quantization_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distortion report for int8 scalar quantization of the
    embeddings (step 1/16, clamp ±127) — the go/no-go check before
    shrinking an ANN index 4× (PQ's pq_topk measures recall; this
    measures the raw geometry loss, per label so one bad cluster
    can't hide in the corpus mean).

    Everything happens on the 2^-20 integer lattice: the quantized
    level is an integer floor-division of lattice units, the
    reconstruction is level·2^20/16, and per-component absolute error
    is an exact int64 — so mean/max distortion are bit-identical
    across engines. One posexplode and one |labels|-group aggregate.
    """
    e = table(spark, sf_dir, "embeddings")
    lat = 1 << 20
    step = lat * SQ8_SCALE_NUM // SQ8_SCALE_DEN  # lattice units per level
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.floor(
            F.col("v").cast("double") * F.lit(float(lat)) + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    # round-to-nearest level: floor((q + step/2) / step), clamped
    level = F.greatest(
        F.lit(-127),
        F.least(
            F.lit(127),
            F.floor(
                (F.col("q") + F.lit(step // 2)).cast("double")
                / F.lit(float(step))
            ).cast("long"),
        ),
    )
    err = F.abs(F.col("q") - level * F.lit(step))
    g = comp.select("label", err.alias("e")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("e").alias("s_err"),
        F.max("e").alias("m_err"),
    )
    sc = F.lit(float(lat))
    return g.select(
        "label",
        "n_components",
        (
            F.col("s_err").cast("double")
            / F.col("n_components").cast("double")
            / sc
        ).alias("mean_abs_err"),
        (F.col("m_err").cast("double") / sc).alias("max_abs_err"),
    )


def triplet_violation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval by triplet test: for every anchor vector,
    pick a positive (the same-label vector with the next-higher
    vec_id, wrapping) and a lattice-drawn negative; a triplet is
    VIOLATED when cos(anchor, negative) >= cos(anchor, positive) —
    i.e. the space ranks a different-label vector at least as close
    as a same-label one. Reports per label: n_triplets, n_violations,
    violation_rate — the scalar a retrieval team watches when
    swapping embedding models (label_centroid_cosine sees the class
    MEANS; this sees per-point ranking failures the means hide).

    Positives come from a lead-with-wrap window inside each label
    (deterministic, no RNG); negatives from the md5 lattice over the
    dense vec_id domain (the contrastive_negatives draw), kept only
    when the drawn label differs (a draw hitting the same label drops
    — documented, deterministic). Labels with one member have no
    positive and drop.

    Determinism: cosines compare after 6dp rounding on BOTH sides so
    a sub-ulp cosine difference cannot flip a violation; dot/norm are
    in-order folds (the embedding_topk seam).

    Shape: one label-partitioned window for positives; two dense-id
    equi-joins resolve pos/neg vectors; one label rollup. No
    all-pairs anything.

    Reference analog: none — extension surface (embedding family).
    """
    e = table(spark, sf_dir, "embeddings").localCheckpoint()
    n = e.count()
    w = Window.partitionBy("label").orderBy("vec_id")
    anchors = e.select(
        "vec_id",
        "label",
        F.col("embedding").alias("a_vec"),
        F.coalesce(
            F.lead("vec_id").over(w),
            F.first("vec_id").over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        ).alias("pos_id"),
    ).where(F.col("pos_id") != F.col("vec_id"))
    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("trineg"), F.col("vec_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n
    )
    cand = anchors.withColumn("neg_id", draw)
    pos = e.select(
        F.col("vec_id").alias("pos_id"), F.col("embedding").alias("p_vec")
    )
    neg = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("n_vec"),
        F.col("label").alias("neg_label"),
    )
    trip = (
        cand.join(pos, "pos_id")
        .join(neg, "neg_id")
        .where(F.col("neg_label") != F.col("label"))
    )
    cos_p = F.round(cosine("a_vec", "p_vec"), 6)
    cos_n = F.round(cosine("a_vec", "n_vec"), 6)
    flagged = trip.select(
        "label", (cos_n >= cos_p).cast("long").alias("viol")
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_triplets"),
            F.sum("viol").alias("n_violations"),
            (
                F.sum("viol").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("violation_rate"),
        )
        .orderBy("label")
    )


ANN_EVAL_QUERIES = [0, 7, 21, 42, 99]
ANN_EVAL_K = 10

# Trained ANN state per (session, sf_dir): production ANN serves
# queries against a PERSISTED index — rebuilding the IVF assignment
# and PQ codebooks on every scoreboard call measured training, not
# search (3.1 s of the eval's 6.2 s at sf0.1). Same precedent as
# quality_model._MODEL_CACHE.
_ANN_STATE_CACHE: dict = session_cache.register({})
# exact-cosine truth top-k per (session, sf_dir): deterministic given
# the dataset (the brute-force baseline over the fixed query panel),
# so it shares the index-state contract — rebuilt when the corpus
# changes, not on every scoreboard call.
_ANN_TRUTH_CACHE: dict = session_cache.register({})


def _ann_index_state(spark: SparkSession, sf_dir: str):
    """Build (or fetch) the shared eval-index state: the checkpointed
    embeddings, IVF assignment + centroids, PQ codebooks + codes, and
    the eval panel's query vectors. Both the batched scoreboard and
    the loop cross-check consume THIS, so their trained state is
    identical by construction."""
    return session_cache.memo(
        _ANN_STATE_CACHE,
        spark,
        sf_dir,
        lambda: _build_ann_index(spark, sf_dir),
    )


def _build_ann_index(spark: SparkSession, sf_dir: str):
    from .ivf import build_ivf_index
    from .pq import pq_encode, train_pq_codebooks

    e = table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    # r10 (guide §2.6): the IVF train chain, the PQ train/encode
    # chain, and the panel-vector collect are mutually independent
    # consumers of the checkpointed scan — overlapped so each chain's
    # jobs back-fill executors idled by the others' driver-side Lloyd
    # barriers. Trained state depends only on the data (seeded init +
    # fixed iterations), never on job interleaving, so the result is
    # identical to the sequential build (pinned by the
    # distributed≡sequential property suites).
    def _ivf():
        assigned, centroids = build_ivf_index(e)
        return assigned.localCheckpoint(eager=True), centroids

    def _pq():
        books = train_pq_codebooks(e)
        return books, pq_encode(e, books).localCheckpoint(eager=True)

    def _qrows():
        return {
            r.vec_id: [float(x) for x in r.embedding]
            for r in e.where(
                F.col("vec_id").isin(ANN_EVAL_QUERIES)
            ).collect()
        }

    (assigned, centroids), (books, coded), qrows = each_table(
        spark, operator.call, [_ivf, _pq, _qrows]
    )
    return e, assigned, centroids, books, coded, qrows


def _cos_multi_udf(queries: dict):
    """Arrow-batched multi-query EXACT cosine: (query_id, embedding)
    → cosine vs that query's vector, all Q query vectors stacked in
    the closure. The brute-force (table × queries) scoring is an
    n×d @ d×1 numpy shape — exactly where the Arrow kernel beats a
    codegen'd zip_with/aggregate fold (the pq.py kernel lesson: the HOF
    expression tree costs seconds of analysis/codegen per plan)."""
    import numpy as np

    qids = sorted(queries)
    qidx = {qid: i for i, qid in enumerate(qids)}
    qmat = np.asarray([queries[q] for q in qids], dtype=np.float64)
    qn = np.sqrt((qmat * qmat).sum(axis=1))

    @pandas_udf("double")
    def cos(qid_col, emb):
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype="float64")
        x = np.asarray(emb.tolist(), dtype=np.float64)
        qi = np.asarray([qidx[int(v)] for v in qid_col], dtype=np.int64)
        dots = (x * qmat[qi]).sum(axis=1)
        xn = np.sqrt((x * x).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            c = np.where(
                (xn > 0) & (qn[qi] > 0), dots / (xn * qn[qi]), np.nan
            )
        return pd.Series(c)

    return cos


def ann_recall_eval_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every ANN index in the repo against exact
    brute-force cosine, over a fixed 5-query panel — the dedup-eval's
    sibling for the similarity family: an index whose recall you
    haven't measured is a rumor. Per (method, query): (method,
    query_id, k, n_truth, n_hit, recall). The raw per-query recalls
    carry trained float state (IVF/PQ), so this full face has no SQL
    twin — the registry serves the oracle-paired contract face
    ann_recall_eval below (r8, verdict #3 tightening); the recall
    floor UNITS (ivf/pq panel means) pin absolute quality and THIS
    backs both.

    Shape (round-5 batched rewrite — was a driver loop of ~25
    sequential TakeOrdered mini-jobs): the index state trains ONCE
    per session (_ann_index_state — production serves from a
    persisted index, so per-call rebuilds measured training, not
    search); then ALL eval query ids broadcast at once and each
    method scores its whole (table × queries) fan-out in ONE scan —
    truth and IVF via the Arrow multi-query cosine kernel
    (_cos_multi_udf), PQ via the multi-LUT ADC kernel
    (pq._adc_cos_multi_udf) — with a per-query rank window. Hits
    come from a (candidates ⋈ truth) join and a small grid
    aggregate, not driver set algebra. tests/test_ivf.py pins
    batched ≡ loop row-for-row over the same trained state.

    At scale: the per-query window sorts each query's partition once
    (Q partitions in parallel); the broadcast sides are the Q query
    ids and Q×n_probe probe pairs — both tiny by construction.
    """
    from .ivf import N_PROBE, _nearest_clusters
    from .pq import _adc_cos_multi_udf

    e, assigned, centroids, books, coded, qrows = _ann_index_state(
        spark, sf_dir
    )
    schema = ("method string, query_id long, k int, n_truth int, "
              "n_hit int, recall double")
    if not qrows:
        return spark.createDataFrame([], schema)
    qids_df = F.broadcast(
        spark.createDataFrame(
            [(qid,) for qid in sorted(qrows)], "query_id long"
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )

    def topk(scored: DataFrame) -> DataFrame:
        # zero-norm guard: the Arrow kernels emit NaN for zero-norm
        # vectors and Spark ranks NaN as the GREATEST double, so an
        # unfiltered NaN row would sit at the top of the truth set;
        # the JVM cosine HOF in the loop cross-check returns NULL
        # (sorts last). Dropping NULL-or-NaN before the rank window
        # makes both paths exclude zero-norm rows identically.
        return (
            scored.where(
                F.col("cos").isNotNull() & ~F.isnan(F.col("cos"))
            )
            .withColumn("rk", F.row_number().over(wq))
            .where(F.col("rk") <= ANN_EVAL_K)
            .select("query_id", "vec_id")
        )

    cosm = _cos_multi_udf(qrows)
    # the exact-cosine truth set is deterministic per (session,
    # dataset) — same contract as the trained index state, so it lives
    # in the same session cache: a production scoreboard recomputes the
    # brute-force baseline when the corpus changes, not per report.
    # ≤ Q·k rows by the rank cap — checkpointing is nearly free and
    # stops the heaviest stage (the full embeddings × Q pandas-UDF
    # cosine fan-out) from executing twice for its two consumers
    # (hits join + tcount)
    truth = session_cache.memo(
        _ANN_TRUTH_CACHE,
        spark,
        sf_dir,
        lambda: topk(
            e.join(qids_df)
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                cosm(F.col("query_id"), F.col("embedding")).alias("cos"),
            )
        ).localCheckpoint(eager=True),
    )
    probes = F.broadcast(
        spark.createDataFrame(
            [
                (qid, int(cid))
                for qid, v in sorted(qrows.items())
                for cid in _nearest_clusters(v, centroids, N_PROBE)
            ],
            "query_id long, cluster_id int",
        )
    )
    ivf_cand = (
        assigned.join(probes, "cluster_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosm(F.col("query_id"), F.col("embedding")).alias("cos"),
        )
    )
    adc = _adc_cos_multi_udf(qrows, books)
    pq_cand = (
        coded.join(qids_df)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            adc(F.col("query_id"), F.col("pq_code")).alias("cos"),
        )
    )
    cands = topk(ivf_cand).withColumn(
        "method", F.lit("ivf")
    ).unionByName(topk(pq_cand).withColumn("method", F.lit("pq")))
    # truth/hits are ≤ Q·k rows BY CONSTRUCTION (the rank windows cap
    # them) — hint broadcast so the closing joins never fall back to
    # SortMergeJoin on frames Catalyst can't size through the window
    hits = cands.join(F.broadcast(truth), ["query_id", "vec_id"]).groupBy(
        "method", "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    tcount = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    methods = spark.createDataFrame(
        [("ivf",), ("pq",)], "method string"
    )
    grid = methods.crossJoin(F.broadcast(tcount))  # 2 × Q rows
    return (
        grid.join(F.broadcast(hits), ["method", "query_id"], "left")
        .select(
            "method",
            "query_id",
            F.lit(ANN_EVAL_K).alias("k"),
            F.col("n_truth").cast("int").alias("n_truth"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
        .orderBy("method", "query_id")
    )


# Contract floors for the registry face, per method over the panel
# MEAN. Measured panel means on the fixture embeddings: ivf 0.68
# (sf0.001) / 0.52 (sf0.01), pq 0.42 / 0.56 — every floor sits >=1.7x
# below the worst measured value, while a broken index (bad probe
# routing, scrambled codebook) lands near k/N < 0.05. The trained
# state is seeded-deterministic per (session, dataset), so the
# booleans are reproducible contract pins, not flaky thresholds.
ANN_PANEL_FLOOR = {"ivf": 0.3, "pq": 0.2}


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry contract face of the ANN scoreboard (r8, verdict #3
    tightening — rows-only -> oracle-paired, the
    quality_classifier_scores pattern): per method, the exact halves
    (n_queries: panel queries present with a nonempty truth set; k;
    n_truth: total truth rows, each query capped at k — all derivable
    by the DuckDB twin from the embeddings table alone) plus one
    contract boolean pinned TRUE: panel-MEAN recall >=
    ANN_PANEL_FLOOR[method]. Raw per-query recalls live on as
    ann_recall_eval_full (non-registry), cross-checked row-for-row
    against the independent per-query loop in tests/test_ivf.py."""
    full = ann_recall_eval_full(spark, sf_dir)
    # r8 ADVICE: chained when per known key with otherwise(NULL) — a
    # future method added to the _full face surfaces as a null floor
    # (null contract boolean) instead of silently inheriting pq's.
    floor = F.lit(None).cast("double")
    for _m, _f in ANN_PANEL_FLOOR.items():
        floor = F.when(F.col("method") == _m, F.lit(_f)).otherwise(floor)
    return (
        full.groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_queries"),
            F.sum("n_truth").cast("long").alias("n_truth"),
            F.avg("recall").alias("_mean_recall"),
        )
        .select(
            "method",
            "n_queries",
            F.lit(ANN_EVAL_K).cast("int").alias("k"),
            "n_truth",
            (F.col("_mean_recall") >= floor).alias("mean_recall_ge_floor"),
        )
        .orderBy("method")
    )


def _ann_recall_eval_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-round-5 per-query driver loop (one TakeOrdered job per
    method per query), kept as the independent cross-check for the
    batched path: tests/test_ivf.py asserts both produce identical
    scoreboard rows. Not registered; do not use in production paths —
    it launches ~5× more jobs for the same answer. Consumes the same
    _ann_index_state as the batched path (so the equality test
    isolates scoring/aggregation) but scores with the JVM-side HOF
    cosine while the batched path uses the numpy kernel — the test
    therefore also cross-validates the two cosine implementations."""
    from .ivf import N_PROBE, _nearest_clusters
    from .pq import _adc_cos_udf

    e, assigned, centroids, books, coded, qrows = _ann_index_state(
        spark, sf_dir
    )
    # same zero-norm exclusion as the batched path's topk(): the HOF
    # cosine yields NULL on zero-norm rows, the ADC kernel NaN — drop
    # both before ranking so loop ≡ batched holds on degenerate data
    not_degenerate = F.col("cos").isNotNull() & ~F.isnan(F.col("cos"))
    rows = []
    for qid in ANN_EVAL_QUERIES:
        if qid not in qrows:
            continue
        query = qrows[qid]
        qdf = spark.createDataFrame([(query,)], "qv array<float>")
        truth = {
            r.vec_id
            for r in (
                e.join(F.broadcast(qdf))
                .where(F.col("vec_id") != qid)
                .select("vec_id", cosine("embedding", "qv").alias("cos"))
                .where(not_degenerate)
                .orderBy(F.desc("cos"), F.asc("vec_id"))
                .limit(ANN_EVAL_K)
                .collect()
            )
        }
        if not truth:
            continue
        probe = _nearest_clusters(query, centroids, N_PROBE)
        ivf_got = {
            r.vec_id
            for r in (
                assigned.where(F.col("cluster_id").isin(probe))
                .where(F.col("vec_id") != qid)
                .join(F.broadcast(qdf))
                .select("vec_id", cosine("embedding", "qv").alias("cos"))
                .where(not_degenerate)
                .orderBy(F.desc("cos"), F.asc("vec_id"))
                .limit(ANN_EVAL_K)
                .collect()
            )
        }
        pq_got = {
            r.vec_id
            for r in (
                coded.where(F.col("vec_id") != qid)
                .select(
                    "vec_id",
                    _adc_cos_udf(query, books)(F.col("pq_code")).alias("cos"),
                )
                .where(not_degenerate)
                .orderBy(F.desc("cos"), F.asc("vec_id"))
                .limit(ANN_EVAL_K)
                .collect()
            )
        }
        for method, got in (("ivf", ivf_got), ("pq", pq_got)):
            hit = len(truth & got)
            rows.append(
                (
                    method,
                    qid,
                    ANN_EVAL_K,
                    len(truth),
                    hit,
                    hit / float(len(truth)),
                )
            )
    return spark.createDataFrame(
        rows,
        "method string, query_id long, k int, n_truth int, "
        "n_hit int, recall double",
    ).orderBy("method", "query_id")


def kmeans_lattice_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of the lattice k-means: per-cluster sizes and
    exact lattice inertia (see lattice_kmeans_assignments for the
    fully-deterministic iteration mechanics)."""
    return lattice_kmeans_assignments(spark, sf_dir).groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("d2").alias("inertia_lattice"),
    )


def cluster_source_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation: purity and normalized mutual
    information of the lattice k-means partition against the TRUE
    embedding labels — the fifth member of the evaluation suite
    (retrieval nDCG, CF hit-rate, LSH recall, ANN recall, and now
    clustering agreement): a clustering nobody scored against ground
    truth is decoration. Fully oracle-paired because the assignments
    themselves are (the lattice k-means trick). Returns one row:
    (n_points, n_clusters, n_labels, purity, mi_nats, nmi).

    Determinism: the contingency table is exact integers; each MI /
    entropy cell term quantizes at 9 dp into DECIMAL(18,9) before
    the order-free sum (natural log, the token_entropy seam); the
    closing NMI = MI/√(H_c·H_l) is a fixed dag.

    Shape: rides the assignment kernel's two-exchange rounds; the
    contingency is ≤ k×|labels| rows; everything after is
    constant-size.
    """
    a = lattice_kmeans_assignments(spark, sf_dir)  # session-cached,
    # already checkpointed
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ct = (
        a.join(e, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    nt = ct.groupBy().agg(F.sum("n").alias("nn"))
    rc = ct.groupBy("cid").agg(F.sum("n").alias("n_c"))
    rl = ct.groupBy("label").agg(F.sum("n").alias("n_l"))
    full = (
        ct.join(F.broadcast(rc), "cid")
        .join(F.broadcast(rl), "label")
        .crossJoin(F.broadcast(nt))
    )
    nd = F.col("n").cast("double")
    nnd = F.col("nn").cast("double")
    ncd = F.col("n_c").cast("double")
    nld = F.col("n_l").cast("double")
    mi_term = F.round(
        (nd / nnd) * F.log(nd * nnd / (ncd * nld)), 9
    ).cast("decimal(18,9)")
    purity_num = rc.join(
        ct.groupBy("cid").agg(F.max("n").alias("mx")), "cid"
    ).groupBy().agg(F.sum("mx").alias("pn"))
    hc_term = F.round(
        (F.col("n_c").cast("double") / nnd)
        * F.log(F.col("n_c").cast("double") / nnd),
        9,
    ).cast("decimal(18,9)")
    hl_term = F.round(
        (F.col("n_l").cast("double") / nnd)
        * F.log(F.col("n_l").cast("double") / nnd),
        9,
    ).cast("decimal(18,9)")
    mi = full.groupBy().agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(mi_term).alias("mi"),
    )
    hc = rc.crossJoin(F.broadcast(nt)).groupBy().agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum(hc_term).alias("hc")
    )
    hl = rl.crossJoin(F.broadcast(nt)).groupBy().agg(
        F.count(F.lit(1)).alias("n_labels"), F.sum(hl_term).alias("hl")
    )
    mid = F.col("mi").cast("double")
    hcd = -F.col("hc").cast("double")
    hld = -F.col("hl").cast("double")
    return (
        mi.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(purity_num))
        .select(
            F.col("nn").cast("long").alias("n_points"),
            "n_clusters",
            "n_labels",
            F.round(
                F.col("pn").cast("double") / F.col("nn").cast("double"), 9
            ).alias("purity"),
            F.round(mid, 9).alias("mi_nats"),
            F.when(
                (hcd > 0) & (hld > 0),
                F.round(mid / F.sqrt(hcd * hld), 9),
            ).alias("nmi"),
        )
    )


def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold: for each vector, μ = r₂/r₁ (the ratio of its
    two nearest-neighbor distances) and d̂ = n_used / Σ ln μ — the
    modern diagnostic that tells an index designer whether a
    64-dim-ambient table really LIVES in 64 dims (IVF/PQ recall
    budgets hinge on it) using only two neighbors per point, no
    density fitting. Returns one row: (n_points, n_used, sum_log_mu,
    intrinsic_dim); points whose nearest neighbor is an exact
    duplicate (r₁ = 0) drop, per the standard treatment.

    Determinism: distances are exact int64 sums of squares on the
    2^-20 component lattice (the lattice-k-means trick), so the two
    nearest neighbors and all ties are engine-identical; each
    0.5·ln(d²₂/d²₁) term quantizes at 9 dp into DECIMAL(18,9) before
    the order-free sum.

    Shape: bounded all-pairs (vec_id < 1000 — the exact-pair family
    contract; the scale path would harvest r₁/r₂ from the ANN index).
    The exact int64 pair-distance matrix computes DRIVER-SIDE as one
    n×d @ d×n integer matmul (≤1000² int64 cells by contract — the
    per-dim explode-join shipped 64·n² rows through an exchange for
    the same integers: 6.2 s → ~1 s at sf0.1). Integer addition is
    associative, so the numpy result is bit-identical to the join's;
    the FLOAT seam (log terms, 9-dp decimal quantization, the
    closing division) stays in Spark, unchanged against the oracle.
    """
    import math as _m

    import numpy as np

    e = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 1000)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    rows = e.collect()  # ≤ 1000 by the family contract
    rows.sort(key=lambda r: r.vec_id)
    n = len(rows)
    ids = [int(r.vec_id) for r in rows]
    # the 2^20 component lattice: floor(v·scale + 0.5) in the same
    # IEEE ops the Spark/DuckDB twins use (v arrives float32; the
    # double cast is value-preserving on both paths)
    K = np.array(
        [
            [
                int(_m.floor(float(v) * float(CENTROID_SCALE) + 0.5))
                for v in r.embedding
            ]
            for r in rows
        ],
        dtype=np.int64,
    )
    G = K @ K.T  # exact: |k| ~ 2^21, 64 terms of ~2^42 « 2^63
    sq = np.diag(G).copy()
    D = sq[:, None] + sq[None, :] - 2 * G
    np.fill_diagonal(D, np.iinfo(np.int64).max)
    # top-2 with the (d2, idb) tie-break: ids ascend with the column
    # index, so a stable row sort picks the smallest idb among ties
    idx = np.argsort(D, axis=1, kind="stable")
    per_rows = [
        (
            ids[i],
            int(D[i, idx[i, 0]]),
            int(D[i, idx[i, 1]]) if n >= 3 else None,
        )
        for i in range(n)
    ]
    per_point = spark.createDataFrame(
        per_rows, "ida long, d1 long, d2_2 long"
    )
    used = per_point.where(
        (F.col("d1") > 0) & F.col("d2_2").isNotNull()
    )
    term = F.round(
        F.lit(0.5)
        * F.log(
            F.col("d2_2").cast("double") / F.col("d1").cast("double")
        ),
        9,
    ).cast("decimal(18,9)")
    npts = e.groupBy().agg(F.count(F.lit(1)).alias("n_points"))
    agg = used.groupBy().agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(term).alias("slm"),
    )
    slm = F.col("slm").cast("double")
    return agg.crossJoin(F.broadcast(npts)).select(
        "n_points",
        "n_used",
        F.round(slm, 9).alias("sum_log_mu"),
        F.when(
            slm > 0,
            F.round(F.col("n_used").cast("double") / slm, 9),
        ).alias("intrinsic_dim"),
    )


HOPKINS_PROBES = 100


def hopkins_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopkins clusterability statistic of the embedding cloud:
    compare nearest-neighbor distances of m SYNTHETIC uniform probes
    (u) against those of m real points to the rest of the sample (w);
    H = Σu/(Σu+Σw) ≈ 0.5 for structureless data and → 1 when real
    points huddle — the "should you even run k-means" pre-flight
    that belongs BEFORE cluster_source_nmi judges the result.
    Returns one row: (n_sample, n_probes, sum_u, sum_w, hopkins).

    Engine-portable "randomness": probe coordinates are integer hash
    arithmetic on the per-dimension lattice bounding box (the
    weighted_doc_sample md5 philosophy — reproducible anywhere, no
    RNG state); probe points are the m lowest vec_ids, their NN
    search excludes self. All distances are exact int64 lattice sums;
    the two NN minima are exact; √d² terms quantize at 6 dp before
    the order-free sums.

    Shape (r10, guide §2.3/§2.4): ONE lattice-array projection of the
    bounded sample is checkpointed; probes and held points broadcast
    as whole lattice arrays onto it, and each candidate distance is a
    single zip_with/aggregate fold over the fixed-dim arrays — the
    former per-dimension explode + join on the 64-value `dim` key
    built ~13M intermediate rows across four exchanges for the same
    ~200k candidate distances (and the dim key skewed every
    partition). Exchanges: the two NN-min aggregates only. Values are
    unchanged: same per-dimension lattice points in dim order, same
    int64 squared-distance sums, same 6-dp quantized seam.
    """
    samp = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda v: F.floor(
                    v.cast("double") * F.lit(float(CENTROID_SCALE))
                    + F.lit(0.5)
                ).cast("long"),
            ).alias("karr"),
        )
        .localCheckpoint(eager=True)
    )
    # per-dimension bounding box, folded to ONE dim-ordered array row
    # (posexplode position == array index, so b[d] is dimension d)
    boxarr = (
        samp.select(F.posexplode("karr").alias("dim", "k"))
        .groupBy("dim")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "lo", "hi"))
            ).alias("b")
        )
    )
    probes = (
        spark.range(HOPKINS_PROBES)
        .select(F.col("id").alias("p"))
        .crossJoin(F.broadcast(boxarr))
        .select(
            "p",
            F.transform(
                "b",
                lambda s: s.lo
                + F.pmod(
                    (F.col("p") * 1000003 + s.dim * 7919 + 17)
                    * F.lit(2654435761),
                    s.hi - s.lo + 1,
                ),
            ).alias("pk"),
        )
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    u = (
        samp.crossJoin(F.broadcast(probes))
        .select("p", d2(F.col("karr"), F.col("pk")).alias("d2"))
        .groupBy("p")
        .agg(F.min("d2").alias("nn2"))
    )
    held = samp.where(F.col("vec_id") < HOPKINS_PROBES).select(
        F.col("vec_id").alias("q"), F.col("karr").alias("qk")
    )
    w = (
        samp.crossJoin(F.broadcast(held))
        .where(F.col("q") != F.col("vec_id"))
        .select("q", d2(F.col("qk"), F.col("karr")).alias("d2"))
        .groupBy("q")
        .agg(F.min("d2").alias("nn2"))
    )
    q6 = lambda c: F.sum(  # noqa: E731
        F.round(F.sqrt(c.cast("double")), 6).cast("decimal(38,6)")
    )
    su = u.groupBy().agg(
        F.count(F.lit(1)).alias("n_probes"), q6(F.col("nn2")).alias("su")
    )
    sw = w.groupBy().agg(
        F.count(F.lit(1)).alias("n_held"), q6(F.col("nn2")).alias("sw")
    )
    ns = samp.groupBy().agg(F.count(F.lit(1)).alias("n_sample"))
    sud = F.col("su").cast("double")
    swd = F.col("sw").cast("double")
    return (
        su.crossJoin(F.broadcast(sw))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_sample",
            "n_probes",
            F.round(sud, 6).alias("sum_u"),
            F.round(swd, 6).alias("sum_w"),
            F.when(
                sud + swd > 0, F.round(sud / (sud + swd), 9)
            ).alias("hopkins"),
        )
    )
