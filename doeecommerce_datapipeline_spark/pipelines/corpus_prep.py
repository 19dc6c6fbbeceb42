"""End-to-end training-corpus preparation pipeline.

Chains the corpus operators into the flow an LLM data pipeline actually
runs — quality filter → exact dedup → benchmark decontamination →
PII scrub → content-hash split → sequence packing — and emits a per-stage funnel
report (the medallion-pipeline analog for training data; the reference
stops at BI gold marts, SURVEY.md §2).

Every stage REUSES the oracle-verified operator it corresponds to
(quality_rules, contamination_hits, content_bucket/bucket_split,
pack_by_budget) — one definition per semantic, so the pipeline and the
registry queries cannot drift.

Stage outputs are materialized with ``localCheckpoint`` at each
boundary: the funnel counts plus the downstream stages would otherwise
re-execute the whole shared lineage once per consumer (measured ~6×
the document scan); at cluster scale the same barriers are
persist/checkpoint calls on the (much smaller) surviving sets.

Scale posture: quality and split are scan-bound per-row expressions;
exact dedup is one fingerprint shuffle; decontamination broadcasts the
benchmark shingle set (no corpus shuffle); packing is one per-(split,
source) prefix-sum window. Nothing in the flow holds state proportional
to the corpus on any single node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bucket_split, content_bucket, fingerprint
from ..io import table
from ..operators.corpus import (
    contamination_hits,
    pack_by_budget,
    quality_rules,
)
from ..sources.rest import RecordsSource


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    bench_mod: int = 20,
    bench_rem: int = 7,
) -> dict[str, DataFrame]:
    """Run the full prep flow over the documents table.

    Documents with ``doc_id % bench_mod == bench_rem`` stand in for the
    held-out benchmark set (same convention as the decontaminate
    registry query). Returns the stage DataFrames:

    - ``quality``: docs surviving the Gopher-style rules
    - ``filtered``: survivors of the corpus-level filters (boilerplate
      shingle fraction, OOV ratio — computed over the quality set)
    - ``deduped``: one canonical doc per exact-content fingerprint
    - ``clean``: decontaminated survivors
    - ``split``: clean docs with train/val/test assignment
    - ``packed``: token-budget sequence assignments per (split, source)
      (pack_by_budget semantics: seq_offset is the offset WITHIN the
      sequence)
    - ``funnel``: (stage, n_docs) — the audit report
    """
    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % bench_mod == bench_rem)
    corpus = docs.where(F.col("doc_id") % bench_mod != bench_rem)

    # 1. quality: keep verdicts from the shared rule set
    verdicts = quality_rules(corpus, "doc_id", "text")
    quality = corpus.join(
        verdicts.where(F.col("keep")).select("doc_id"), "doc_id"
    ).localCheckpoint()

    # 1b. corpus-level quality: drop boilerplate-heavy docs (cross-doc
    # shingle df) and high-OOV docs (corpus-vocabulary coverage) via
    # the shared metric operators. Both metrics are computed over the
    # quality survivors so the df/vocab tables reflect the corpus that
    # actually ships.
    from ..operators.corpus import boilerplate_metrics
    from ..operators.textops import oov_metrics

    boiler = boilerplate_metrics(quality, "doc_id", "text")
    oov = oov_metrics(quality, "doc_id", "text")
    filtered = (
        quality.join(
            boiler.where(F.col("boiler_frac") <= 0.5).select("doc_id"),
            "doc_id",
        )
        .join(
            oov.where(F.col("oov_ratio") <= 0.6).select("doc_id"), "doc_id"
        )
        .localCheckpoint()
    )

    # 2. exact dedup: min doc_id wins per content fingerprint — one
    # shuffle on the fingerprint, min_by avoids a ranking window
    deduped = (
        filtered.select(
            "doc_id", "source", "text", fingerprint("text").alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min_by(F.struct("doc_id", "source", "text"), F.col("doc_id")).alias(
                "d"
            )
        )
        .select("d.doc_id", "d.source", "d.text", "fp")
        .localCheckpoint()
    )

    # 3. decontamination via the shared operator: drop any doc sharing
    # an n-gram with the benchmark (broadcast bench shingles inside)
    hits = contamination_hits(deduped, bench, "doc_id", "text")
    clean = deduped.join(
        hits.where(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).localCheckpoint()

    # 3b. PII scrub: every match of the SUPPORTED PII classes/formats
    # (emails, +1-NNN-NNN-NNNN phones, dotted-quad IPv4, Luhn-valid
    # dash-separated cards — the pattern set is fixture-aligned and
    # extensible, not an exhaustive real-world PII taxonomy) replaced
    # by its typed placeholder BEFORE anything ships downstream (the
    # production order — split/pack see only redacted text, so no
    # text matching those classes reaches a training shard).
    # Conservation by construction:
    # redaction rewrites rows, never drops them (asserted in the e2e
    # funnel). The synthetic documents corpus is digit-free, so here
    # the stage is a verified no-op; the operator's real behavior is
    # pinned by tests/test_pii.py on PII-bearing fixtures.
    from ..operators.pii import redact_expr

    scrubbed = clean.withColumn(
        "text", redact_expr(F.col("text"))
    ).localCheckpoint()

    # 4. split: shared content-hash bucket (fingerprint already there —
    # computed on the ORIGINAL text, so the split assignment is stable
    # under redaction-rule changes)
    split = scrubbed.select(
        "doc_id",
        "source",
        "text",
        bucket_split(content_bucket(F.col("fp"))).alias("split"),
    )

    # 5. packing: the shared budget partitioner, sharded per
    # (split, source) — each shard packs independently
    packed = pack_by_budget(split, "doc_id", "text", ["split", "source"])

    funnel = RecordsSource(spark, "stage string, n_docs long").to_df(
        [
            ("0_input", corpus.count()),
            ("1_quality", quality.count()),
            ("1b_corpus_quality", filtered.count()),
            ("2_exact_dedup", deduped.count()),
            ("3_decontaminated", clean.count()),
            ("3b_pii_scrubbed", scrubbed.count()),
            ("4_split", split.count()),
            ("5_packed", packed.count()),
        ]
    )
    return {
        "quality": quality,
        "filtered": filtered,
        "deduped": deduped,
        "clean": clean,
        "scrubbed": scrubbed,
        "split": split,
        "packed": packed,
        "funnel": funnel,
    }
