"""Product-quantization ANN: recall floor vs exact brute force, code
shape/compression invariants, and ADC score fidelity."""

import pytest
from pyspark.sql import functions as F

from doeecommerce_datapipeline_spark.io import table
from doeecommerce_datapipeline_spark.operators import pq
from doeecommerce_datapipeline_spark.operators.similarity import (
    brute_force_topk,
    topk_recall_check,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def trained(spark):
    e = table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e)
    return e, books


def test_codebook_and_code_shapes(spark, trained):
    e, books = trained
    dim = len(e.select("embedding").head()["embedding"])
    assert len(books) == pq.M_SUB
    assert all(len(b) == pq.K_CODES for b in books)
    assert all(len(c) == dim // pq.M_SUB for b in books for c in b)
    coded = pq.pq_encode(e, books)
    row = coded.select("pq_code").head()
    assert len(row["pq_code"]) == pq.M_SUB
    stats = coded.select(
        F.min(F.array_min("pq_code")).alias("lo"),
        F.max(F.array_max("pq_code")).alias("hi"),
    ).head()
    assert 0 <= stats["lo"] and stats["hi"] < pq.K_CODES


def test_pq_recall_floor(spark):
    """Standard PQ evaluation: retrieve a 5× candidate set, count the
    true top-10 it covers. Measured 0.9 at sf0.01 / 0.9+ at sf0.001;
    floor leaves regen headroom."""
    recall = topk_recall_check(spark, SF, 50, pq.pq_topk_full_over)[2]
    assert recall >= 0.6, f"recall@10 (k_approx=50) collapsed: {recall}"


def test_pq_topk_contract_face(spark):
    """The r9 registry face: one row of exact halves (n_results is
    exact for PQ: the ADC scan scores every non-query row) + pinned
    booleans (the oracle-pairing contract)."""
    from doeecommerce_datapipeline_spark.io import table

    rows = pq.pq_topk(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    n = table(spark, SF, "embeddings").count()
    assert r["n_vectors"] == n and r["n_nonzero_norm"] == n
    assert r["dim"] == 64 and r["k"] == 10
    assert r["n_results"] == min(10, n - 1)
    assert r["cos_bounded"] is True
    assert r["recall_ge_floor"] is True


def test_adc_scores_track_exact_cosine(spark, trained):
    """ADC approximate cosine must rank like the exact cosine: among
    the exact top-10, the mean ADC score must exceed the corpus mean
    ADC score by a wide margin (rank fidelity without exact-value
    coupling)."""
    e, books = trained
    coded = pq.pq_encode(e, books)
    qrow = e.where(F.col("vec_id") == 0).select("embedding").head()
    query = [float(x) for x in qrow["embedding"]]
    scored = coded.where(F.col("vec_id") != 0).select(
        "vec_id", pq._adc_cos_udf(query, books)(F.col("pq_code")).alias("cos")
    )
    exact_ids = [r["vec_id"] for r in brute_force_topk(spark, SF).collect()]
    stats = scored.agg(
        F.avg("cos").alias("all_mean"),
        F.avg(F.when(F.col("vec_id").isin(exact_ids), F.col("cos"))).alias(
            "top_mean"
        ),
    ).head()
    assert stats["top_mean"] > stats["all_mean"] + 0.1, (
        f"ADC lost rank fidelity: top={stats['top_mean']}, "
        f"all={stats['all_mean']}"
    )
