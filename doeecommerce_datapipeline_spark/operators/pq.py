"""Product quantization (PQ) ANN: per-subspace k-means codebooks +
asymmetric-distance (ADC) scan — the memory-bound scale path that
completes the similarity family (brute force → LSH buckets → IVF
probe → PQ compression; at 100 TB PQ is what makes an exhaustive
re-rank scan affordable: 64×float32 → m bytes per vector).

Build: split each embedding into M_SUB contiguous subvectors; per
subspace, k-means with seeded k-means++ init on a bounded stride
sample, refined by DISTRIBUTED Lloyd passes over the full table. All
subspaces train in the SAME mapInPandas pass (one scan per iteration
emitting ≤ m·k partial-sum rows per partition — map-side combine, no
shuffle; nothing driver-side ever exceeds m·k × n_partitions × dsub
cells). Encoding is an Arrow-batched pandas_udf producing the m-byte
code array. Both run one nearest-codeword kernel (``_nearest``): a
k×dsub matmul per batch, exactly the shape where Arrow-batched numpy
beats codegen'd per-element HOF expressions (a 16-centroid × 64-dim
zip_with/aggregate tree costs seconds of analysis/codegen PER PLAN;
measured 10× slower end-to-end). With m=1 this trainer and encoder
are ivf.py's coarse quantizer.

Query (ADC): the query is NOT quantized — per subspace a k-entry
lookup table of exact dot products q_j·c_{j,i} and codeword norms is
built driver-side (m·k doubles), broadcast in the scoring UDF's
closure, and each row's approximate cosine is m table lookups. Top-k
via TakeOrderedAndProject.

Correctness: the registry face pq_topk is an oracle-paired CONTRACT
face (r8 verdict #4 — exact halves from the embeddings table + pinned
recall/shape booleans; the ADC scan scores EVERY non-query row, so
n_results = LEAST(k, n_vectors - 1) is itself an exact half); the raw
neighbor grid (trained-codebook-specific) lives on as pq_topk_full.
recall@10 vs exact brute force is additionally unit-tested with an
explicit floor, and the ADC score's fidelity is bounded by a rank-
correlation check (tests/test_pq.py).

Reference analog: none — the reference has no similarity search; this
is north-star surface (SURVEY.md §2.3 planned-extension note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import table
from ..pyfiles import ensure_shipped

# 64-dim embeddings → 16 subspaces of 4 dims, 16 codewords each:
# 16 bytes/vector (16× over raw float32). m=8 halves the footprint but
# measured recall@10 drops 0.7 → 0.3 on the test embeddings — the
# classic PQ accuracy/memory dial.
M_SUB = 16
K_CODES = 16
FIT_SAMPLE = 2048
PQ_LLOYD_ITERS = 2


def _split(x, m):
    """n×dim → n×m×(dim/m) view (dim must divide evenly)."""
    n, dim = x.shape
    return x.reshape(n, m, dim // m)


def _nearest(x, book):
    """Per row of x (n × dsub), the id of the nearest codeword of book
    (k × dsub): argmin of ||x||² - 2 x·Cᵀ + ||c||². Ties break to the
    lowest id (np.argmin is first-match, matching SQL array_position
    semantics)."""
    import numpy as np

    d2 = (
        (x * x).sum(axis=1)[:, None]
        - 2.0 * (x @ book.T)
        + (book * book).sum(axis=1)
    )
    return np.argmin(d2, axis=1)


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


def _pq_partials_fn(codebooks):
    """mapInPandas stage: per partition, for EVERY subspace sum member
    subvectors per codeword — emits ≤ m·k rows (j, cid, cnt, sums)."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)  # m × k × dsub
    m, k, dsub = books.shape

    def partial(batches):
        import pandas as pd

        counts = np.zeros((m, k), dtype=np.int64)
        sums = np.zeros((m, k, dsub), dtype=np.float64)
        for pdf in batches:
            x = np.asarray(pdf["_emb"].tolist(), dtype=np.float64)
            if len(x) == 0:
                continue
            xs = _split(x, m)  # n × m × dsub
            for j in range(m):
                xj = xs[:, j, :]
                cid = _nearest(xj, books[j])
                np.add.at(counts[j], cid, 1)
                np.add.at(sums[j], cid, xj)
        live = [(j, c) for j in range(m) for c in range(k) if counts[j, c]]
        yield pd.DataFrame(
            {
                "j": [j for j, _ in live],
                "cid": [c for _, c in live],
                "cnt": [int(counts[j, c]) for j, c in live],
                # explicit object dtype: an all-empty partition would
                # otherwise coerce the column to float64 ndarray, which
                # Arrow can't convert to list<double>
                "sums": pd.Series(
                    [sums[j, c].tolist() for j, c in live], dtype="object"
                ),
            }
        )

    return partial


def _encode_udf(codebooks):
    """Arrow-batched PQ encoder: per batch one n×k distance matrix per
    subspace, argmin → the m-entry code array."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m = books.shape[0]

    @pandas_udf("array<int>")
    def encode(emb):
        import pandas as pd

        x = np.asarray(emb.tolist(), dtype=np.float64)
        if len(x) == 0:
            return pd.Series([], dtype="object")
        xs = _split(x, m)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            codes[:, j] = _nearest(xs[:, j, :], books[j])
        return pd.Series([c.tolist() for c in codes])

    return encode


def _adc_cos_udf(query, codebooks):
    """ADC approximate cosine: LUT[j][i] = q_j · c_{j,i} and
    N2[j][i] = ||c_{j,i}||², both m×k doubles in the closure; per row
    cos ≈ Σ LUT[j][code_j] / (||q|| · sqrt(Σ N2[j][code_j]))."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape
    q = np.asarray(query, dtype=np.float64).reshape(m, dsub)
    lut = np.einsum("jd,jkd->jk", q, books)  # m × k
    n2 = (books * books).sum(axis=2)  # m × k
    qnorm = float(np.sqrt((q * q).sum()))

    @pandas_udf("double")
    def adc(codes):
        import pandas as pd

        c = np.asarray(codes.tolist(), dtype=np.int64)  # n × m
        if len(c) == 0:
            return pd.Series([], dtype="float64")
        rows = np.arange(m)
        dots = lut[rows, c].sum(axis=1)
        norms = np.sqrt(n2[rows, c].sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(norms > 0, dots / (qnorm * norms), np.nan)
        return pd.Series(cos)

    return adc


def train_pq_codebooks(
    df: DataFrame,
    m: int = M_SUB,
    k: int = K_CODES,
    seed: int = 42,
    lloyd_iters: int = PQ_LLOYD_ITERS,
) -> list[list[list[float]]]:
    """m × k × (dim/m) codebooks; init driver-side on a stride sample,
    refined with full-table distributed Lloyd passes (all subspaces in
    one scan per pass)."""
    import numpy as np

    spark = df.sparkSession
    ensure_shipped(spark)
    vecs = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_emb")
    )
    # iterated over once per Lloyd pass — keep the scan's columnar
    # batches resident; the callers' returned plans re-read the source
    vecs = vecs.persist()
    try:
        # bounded deterministic stride sample (every stride-th
        # vec_id) only SEEDS the codebooks; the Lloyd refinement below
        # sees the full table. orderBy makes the seeded init — and
        # therefore the trained codebooks — independent of
        # partitioning: collect() otherwise returns partition order
        # (the r8 hardening, pinned by the distributed≡sequential
        # IVF and PQ property tests). The sort is over the
        # ≤FIT_SAMPLE-row sample only.
        n = vecs.count()
        stride = max(1, n // FIT_SAMPLE)
        sample = np.asarray(
            [
                r["_emb"]
                for r in vecs.where(F.pmod("vec_id", F.lit(stride)) == 0)
                .select("vec_id", "_emb")
                .orderBy("vec_id")
                .collect()
            ],
            dtype=np.float64,
        )
        ss = _split(sample, m)
        books = [
            _kmeanspp_init([list(v) for v in ss[:, j, :]], k, seed + j)
            for j in range(m)
        ]
        for _ in range(lloyd_iters):
            partials = (
                vecs.select("_emb")
                .mapInPandas(
                    _pq_partials_fn(books),
                    "j int, cid int, cnt long, sums array<double>",
                )
                .collect()
            )
            dsub = len(books[0][0])
            counts = np.zeros((m, k), dtype=np.int64)
            sums = np.zeros((m, k, dsub), dtype=np.float64)
            for r in partials:
                counts[r["j"], r["cid"]] += r["cnt"]
                sums[r["j"], r["cid"]] += np.asarray(r["sums"])
            books = [
                [
                    (sums[j, c] / counts[j, c]).tolist()
                    if counts[j, c]
                    else books[j][c]
                    for c in range(k)
                ]
                for j in range(m)
            ]
        return books
    finally:
        vecs.unpersist()


def pq_encode(df: DataFrame, codebooks) -> DataFrame:
    """vectors + `pq_code` array<int> column (m entries, values <k —
    at rest this is m bytes/vector vs 4·dim for raw float32)."""
    ensure_shipped(df.sparkSession)
    return df.withColumn(
        "pq_code",
        _encode_udf(codebooks)(F.col("embedding").cast("array<double>")),
    )


def pq_topk_full(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """ADC top-k for one stored query vector over the PQ-compressed
    table: every row costs m lookups, no float vectors are read at
    query time (at scale the codes column is the only scan).

    Raw neighbor grid — the registry serves the oracle-paired
    contract face pq_topk below (r8 verdict #4: neighbor ids are
    trained-codebook-specific, so they live here, cross-checked by
    the recall-floor unit in tests/test_pq.py)."""
    return pq_topk_full_over(
        spark, table(spark, sf_dir, "embeddings"), query_vec_id, k
    )


def pq_topk_full_over(
    spark: SparkSession,
    e: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """pq_topk_full body over an already-loaded embeddings frame —
    lets pq_topk share ONE persisted scan across its three job chains
    (r10, guide §5/§2.1)."""
    books = train_pq_codebooks(e)
    coded = pq_encode(e, books)
    qrow = e.where(F.col("vec_id") == query_vec_id).select("embedding").head()
    if qrow is None:
        return spark.createDataFrame([], "vec_id long, label int, cos double")
    query = [float(x) for x in qrow["embedding"]]
    return (
        coded.where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            _adc_cos_udf(query, books)(F.col("pq_code")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


# Measured single-query (vec_id=0) recall@10 per shipped fixture:
# 0.2 / 0.7 / 0.3 at sf0.001 / 0.01 / 0.1 — deterministic per fixture
# since the r8 partition-independent trainer; a broken codebook lands
# at the random baseline k/n ≈ 0.02, half an order under the floor.
PQ_TOPK_RECALL_FLOOR = 0.1


def pq_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Oracle-paired CONTRACT face of the ADC scan (r8 verdict #4,
    the ivf_topk / ann_recall_eval tightening pattern): one row of
    exact halves the DuckDB twin derives from the embeddings table
    alone — n_vectors, n_nonzero_norm, dim, k, and n_results, which
    for PQ is ITSELF exact (the ADC scan scores every non-query row,
    so the result count is LEAST(k, n_vectors - 1), independent of
    the trained codebooks) — plus two contract booleans pinned TRUE:
    every ADC cosine is finite and in [-1-ε, 1+ε] (ADC approximates
    the true cosine with quantization error; ε covers codeword-norm
    rounding) and recall@k vs the exact brute-force scan clears
    PQ_TOPK_RECALL_FLOOR. The raw neighbor grid lives on as
    pq_topk_full (non-registry).

    Shape: similarity.topk_recall_check, as ivf_topk."""
    from .similarity import topk_recall_check

    stats, approx, recall = topk_recall_check(
        spark, sf_dir, k, pq_topk_full_over
    )
    # ADC cosine carries quantization error on top of the exact one;
    # the bound is a sanity envelope, not a tight cosine identity
    eps = 0.25
    row = (
        stats["n_vectors"],
        stats["n_nonzero_norm"],
        stats["dim"],
        k,
        len(approx),
        all(
            r["cos"] is not None
            and r["cos"] == r["cos"]  # not NaN
            and -1 - eps <= r["cos"] <= 1 + eps
            for r in approx
        ),
        recall >= PQ_TOPK_RECALL_FLOOR,
    )
    return spark.createDataFrame(
        [row],
        "n_vectors long, n_nonzero_norm long, dim int, k int, "
        "n_results int, cos_bounded boolean, recall_ge_floor boolean",
    )


def _adc_cos_multi_udf(queries: dict, codebooks):
    """Multi-query ADC cosine for the batched recall scoreboard: one
    LUT per eval query stacked into a Q×m×k tensor in the closure;
    the UDF takes (query_id, codes) columns and scores every row
    against ITS query's LUT in one Arrow batch — so the whole
    (table × queries) fan-out is a single scan instead of one job
    per query (similarity.ann_recall_eval's round-5 rewrite)."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape
    qids = sorted(queries)
    qidx = {qid: i for i, qid in enumerate(qids)}
    qmat = np.asarray(
        [np.asarray(queries[qid], dtype=np.float64).reshape(m, dsub) for qid in qids]
    )  # Q × m × dsub
    luts = np.einsum("qjd,jkd->qjk", qmat, books)  # Q × m × k
    n2 = (books * books).sum(axis=2)  # m × k
    qnorms = np.sqrt((qmat * qmat).sum(axis=(1, 2)))  # Q

    @pandas_udf("double")
    def adc_multi(qid_col, codes):
        import pandas as pd

        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        c = np.asarray(codes.tolist(), dtype=np.int64)  # n × m
        qi = np.asarray([qidx[int(v)] for v in qid_col], dtype=np.int64)
        rows = np.arange(m)
        dots = luts[qi[:, None], rows, c].sum(axis=1)  # n
        norms = np.sqrt(n2[rows, c].sum(axis=1))  # n
        qn = qnorms[qi]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(norms > 0, dots / (qn * norms), np.nan)
        return pd.Series(cos)

    return adc_multi
