"""Corpus-preparation operators for LLM training-data pipelines.

Beyond-the-reference extension surface (the reference pipeline stops at
BI gold marts; these are the operations a training-data pipeline needs
on top of the same engine): benchmark decontamination, heuristic
quality filtering, source-mixture sampling, sequence packing, and
identifier pseudonymization. All are pure DataFrame plans — no Python
in the hot path — and every one is DuckDB-oracle-paired in
`__spark_entry__.py`.

Scale posture, per operator, is documented on the function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import bigrams, fingerprint, tokens, word_shingles
from ..io import table

# Decontamination shingle width: wide enough that organic n-gram
# collisions are rare, narrow enough to catch paraphrased overlap.
DECONTAM_NGRAM = 5

# Quality-rule thresholds (Gopher/C4-style heuristics, re-centered on
# the synthetic corpus' measured distributions so the split is
# non-trivial at every SF).
MIN_TOKENS = 20
MIN_DISTINCT_RATIO = 0.35
MAX_TOP_WORD_FRAC = 0.125

PACK_BUDGET = 512  # tokens per packed training sequence

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # chunk start spacing (CHUNK_SIZE - overlap)


def contamination_hits(
    train: DataFrame, bench: DataFrame, id_col: str, text_col: str,
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """Per-train-document count of distinct word n-grams shared with a
    benchmark set (id, n_hits, contaminated).

    The standard eval-decontamination primitive: any train document
    sharing an n-gram with a held-out benchmark is suspect. Benchmark
    sets are small (MBs of eval data vs TBs of corpus), so the
    benchmark shingle set is BROADCAST — the corpus side streams
    through a map-side hash join next to the scan with no shuffle of
    the big table; only the per-doc count aggregation shuffles, keyed
    by id. At 100 TB that is one scan + one narrow agg.
    """
    par = train.sparkSession.sparkContext.defaultParallelism
    sh = F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    # repartition before the explode: the testdata tables arrive as one
    # parquet row-group, so without it a single task does every
    # shingle (on a real cluster the scan is already split)
    train_sh = train.repartition(par).select(F.col(id_col), sh)
    bench_sh = bench.repartition(par).select(sh).distinct()
    hits = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry shape: docs with doc_id % 20 == 7 stand in for the
    benchmark; every other document is scored against them."""
    d = table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 7)
    train = d.where(F.col("doc_id") % 20 != 7)
    return contamination_hits(train, bench, "doc_id", "text")


def _quality_stat_cols(text_col: str) -> dict:
    """The per-row Gopher statistics as named Column expressions —
    shared by quality_rules and by composites (corpus_health) that
    fold the keep verdict inline instead of joining the verdict table
    back onto the same scan. Order: chars, n_tokens, n_distinct,
    top_count."""
    chars = F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
    arr = tokens(F.lower(F.col(text_col)))
    run = lambda s, x: F.when(  # noqa: E731
        s["prev"].eqNullSafe(x), s["run"] + F.lit(1).cast("long")
    ).otherwise(F.lit(1).cast("long"))
    top_count = F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda s, x: F.struct(
            F.greatest(s["best"], run(s, x)).alias("best"),
            run(s, x).alias("run"),
            x.alias("prev"),
        ),
        lambda s: s["best"],
    )
    return {
        "chars": chars,
        "n_tokens": F.size(arr).cast("long"),
        "n_distinct": F.size(F.array_distinct(arr)).cast("long"),
        "top_count": top_count,
    }


def gopher_keep_col(text_col: str):
    """The Gopher keep verdict as ONE per-row boolean Column —
    identical to quality_rules' (reason == 'ok'): none of the three
    rule conditions fires. n_tokens ≥ 1 for any non-null text (split
    never returns an empty array), so the ratios are never null and
    the conjunction is a non-null boolean; a null text yields
    n_tokens = -1 → FALSE, matching the left-join-then-null
    composition (null keep counted as not-kept)."""
    c = _quality_stat_cols(text_col)
    dr = c["n_distinct"].cast("double") / c["n_tokens"]
    tf = c["top_count"].cast("double") / c["n_tokens"]
    return (
        (c["n_tokens"] >= MIN_TOKENS)
        & (dr >= MIN_DISTINCT_RATIO)
        & (tf <= MAX_TOP_WORD_FRAC)
    )


def quality_rules(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/C4-style heuristic quality filter.

    Per document: token count, distinct-word ratio, top-word fraction
    (mass of the single most frequent word), mean word length; then a
    keep flag plus the first failed rule's name. All ratios are
    int/int divisions in IEEE double, so verdicts are bit-identical
    across engines.

    Every statistic is DOCUMENT-LOCAL, so the whole filter is one
    per-row projection over the scan — ZERO exchanges at any scale
    (r9; the former explode → two-level aggregate shape shuffled the
    full token stream twice for numbers each row already determines).
    Token multiplicities come from a run-length fold over the SORTED
    token array: n_tokens = |arr| (the explode emitted one row per
    element, including empty-string tokens of blank docs — split
    never returns an empty array for non-null text, so per-doc
    groups and rows match one-to-one), n_distinct =
    |array_distinct(arr)|, top_count = longest equal-run of the
    sorted array = max multiplicity. All exact integers → identical
    ratios. Null text produced no exploded rows, hence the
    isNotNull guard.
    """
    stats = docs.where(
        tokens(F.lower(F.col(text_col))).isNotNull()
    ).select(
        F.col(id_col),
        *(
            c.alias(name)
            for name, c in _quality_stat_cols(text_col).items()
        ),
    )
    distinct_ratio = F.col("n_distinct").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_count").cast("double") / F.col("n_tokens")
    mean_wlen = F.col("chars").cast("double") / F.col("n_tokens")
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(distinct_ratio < MIN_DISTINCT_RATIO, "repetitive")
        .when(top_frac > MAX_TOP_WORD_FRAC, "dominant_word")
        .otherwise("ok")
    )
    return stats.select(
        id_col,
        "n_tokens",
        distinct_ratio.alias("distinct_ratio"),
        top_frac.alias("top_frac"),
        mean_wlen.alias("mean_wlen"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_rules(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture (data-mixing) sampler: per-source keep rates
    applied via a deterministic content-hash bucket.

    Mixing weights are the knob a pretraining pipeline turns to
    up/down-weight sources; here each source's rate derives from its
    numeric suffix (30–70%) so the demo is self-contained. The bucket
    reuses the content fingerprint (hex chars 9–16, disjoint from
    hash_split's 1–8, so split and sampling stay independent) — a
    per-row expression with no shuffle: the sampler is scan-bound at
    any scale, and re-running it reproduces the same sample anywhere.
    """
    d = table(spark, sf_dir, "documents")
    rate = (
        F.lit(30)
        + (F.substring("source", 4, 8).cast("int") % 5) * F.lit(10)
    ).alias("rate_pct")
    bucket = (
        F.conv(F.substring(fingerprint("text"), 9, 8), 16, 10).cast("long")
        % 100
    ).alias("bucket")
    return d.select("doc_id", "source", rate, bucket).where(
        F.col("bucket") < F.col("rate_pct")
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed token-budget training sequences via
    per-source prefix sums (doc_id, source, n_tokens, seq_id,
    seq_offset).

    Greedy bin packing is inherently sequential; the scalable
    formulation is budget partitioning on a running token count:
    seq_id = floor(exclusive_cumsum / budget) within each source
    shard, ordered by doc_id. Documents may straddle a boundary (the
    chunk-then-pack convention) but every sequence's start offset is
    exact, deterministic, and computed by ONE window per shard — at
    100 TB each source partitions independently; no global order, no
    driver loop. Integer arithmetic end-to-end, so engine-identical.
    """
    return pack_by_budget(
        table(spark, sf_dir, "documents"), "doc_id", "text", ["source"]
    )


def pack_by_budget(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    partition_cols: list[str],
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """The packing engine behind pack_sequences (and the corpus-prep
    pipeline): per-shard exclusive prefix sums of token counts →
    seq_id = floor(cum/budget), seq_offset = cum % budget (the offset
    WITHIN the sequence — one definition, one meaning). One window per
    shard, integer arithmetic end-to-end."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens(F.col(text_col))).cast("long")
    return (
        docs.select(id_col, *partition_cols, n_tok.alias("n_tokens"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            id_col,
            *partition_cols,
            "n_tokens",
            F.floor(F.col("cum_before") / budget).alias("seq_id"),
            (F.col("cum_before") % budget).alias("seq_offset"),
        )
    )


def chunk_tokens(
    docs: DataFrame, id_col: str, text_col: str,
    size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows
    (id, chunk_id, n_chunk_tokens, chunk_text).

    The pre-packing step for documents longer than the training
    context: chunk starts advance by `stride` tokens (overlap =
    size - stride preserves context across boundaries), the final
    chunk is the ragged remainder. Chunking is per-row — an explode
    with NO shuffle, so it parallelizes as a flatMap over the scan at
    any scale; downstream packing/dedup key on (id, chunk_id).
    """
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)),
                        F.lit(stride))
    exploded = docs.select(
        F.col(id_col),
        toks.alias("_t"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    return exploded.select(
        id_col,
        "chunk_id",
        F.least(
            F.lit(size), F.size("_t") - F.col("_start") + 1
        ).cast("long").alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("_t"), F.col("_start"), size), " "
        ).alias("chunk_text"),
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return chunk_tokens(d.repartition(par), "doc_id", "text")


def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs annotated with their train/val/test assignment
    (id_a, id_b, jaccard, split_a, split_b, leaks).

    The content-hash split keeps BYTE-identical documents in one split,
    but near-duplicates can still straddle the boundary — the subtle
    train/test contamination channel in LLM corpora. This audit
    composes the inverted-index Jaccard pairs with the split
    assignment; `leaks` marks pairs whose members land in different
    splits (the rows a decontamination pass must resolve). The pair
    set is tiny relative to the corpus, so the two id joins
    broadcast; at scale the pair input comes from the LSH path and
    the shape is unchanged.
    """
    from .dedup import jaccard_pairs_over
    from .textops import hash_split

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    pairs = jaccard_pairs_over(d)
    splits = hash_split(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "split_a",
            "split_b",
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
    )


def stratified_sample(
    spark: SparkSession, sf_dir: str, n_per_class: int = 10
) -> DataFrame:
    """Exact-count class-balanced sample: the first ``n_per_class``
    documents per source in CONTENT-HASH order (doc_id, source, fp).

    ``source_mix_sample`` takes per-source *rates*; this takes exact
    *counts* — the eval-set / few-shot-pool builder, where "give me
    exactly 100 per class, reproducibly" is the contract. Hash order
    makes the pick pseudorandom yet engine-independent and stable
    under re-partitioning (doc_id breaks fp collisions).

    One shuffle (window on source). A per-class window is a per-class
    total order — fine while classes fit a task; the 100 TB path keeps
    the same semantics in two phases: estimate the per-class hash
    threshold from a sample, rank only the sub-threshold sliver, union
    the slivers.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint("text").alias("fp")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("fp").asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_per_class)
        .select("doc_id", "source", "fp")
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: near-dup pair counts per
    unordered source pair (source_a <= source_b), with the strongest
    overlap per cell (source_a, source_b, n_pairs, max_jaccard).

    The corpus-owner's dedup dashboard — crawl snapshots, mirrors, and
    re-scrapes show up as hot cells, telling you which source to drop
    wholesale BEFORE paying for pairwise dedup of its documents. Built
    on the same inverted-index Jaccard pairs as the dedup path (so the
    matrix agrees with what dedup would actually remove); the
    aggregate is over the PAIR set — tiny relative to the corpus — and
    max() keeps it order-free (a double avg would be re-association-
    sensitive).
    """
    from .dedup import jaccard_pairs_over

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    pairs = jaccard_pairs_over(d)
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII tokenization: replace user identifiers with a salted-hash
    token (event_id, user_token, event_type, day).

    The corpus-side privacy primitive — joinable pseudonyms without
    the raw id. A keyed-salt md5 keeps the mapping deterministic
    (same user → same token, so downstream sessionization still
    works) yet non-invertible without the salt. Pure per-row
    expression: scan-bound, shuffle-free, identical output in any
    engine. Real deployments rotate the salt per release; it is a
    literal here so the oracle can mirror it.
    """
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.substring(
            F.md5(F.concat(F.lit("uid:"), F.col("user_id").cast("string"))),
            1,
            16,
        ).alias("user_token"),
        "event_type",
        F.to_date("ts").alias("day"),
    )


def doc_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics over adjacent-token bigrams:
    total bigrams, duplicate-bigram fraction, top-bigram mass — the
    Gopher-style repetition filters that catch boilerplate and
    keyword-stuffed documents (quality_rules sees only unigrams).

    Shared slice/zip_with bigram builder (functions.text.bigrams — one
    per-row lambda, no positional self-join, ANSI-safe on sub-2-token
    documents which yield no bigrams and drop out, matching the
    oracle), then a two-level aggregate keyed by doc_id — one shuffle,
    map-side partials absorb the fan-out. All fractions are int/int
    divisions in IEEE double.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    bi = d.select(
        "doc_id", F.explode(bigrams(F.col("text"))).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    per = bi.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    dup_frac = F.lit(1.0) - (
        F.col("n_distinct").cast("double") / F.col("n_bigrams").cast("double")
    )
    top_frac = F.col("top_count").cast("double") / F.col("n_bigrams").cast("double")
    return stats.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
        (dup_frac > 0.2).alias("repetitive"),
    )


BOILERPLATE_DF_CAP = 25


def boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate signal: the fraction of each doc's
    distinct 3-gram shingles that are corpus-wide boilerplate (shingle
    appears in > BOILERPLATE_DF_CAP distinct documents) — the
    shingle-level analog of CCNet/RefinedWeb line-level dedup, which
    strips headers, navigation chrome and license blocks repeated
    across a crawl. (doc_repetition_metrics is the WITHIN-doc signal;
    this one needs the global shingle document-frequency table.)

    Plan: one shingle explode (per-doc distinct via word_shingles'
    array_distinct, so count(*) per shingle IS its df), the df table
    computed and joined back in the same shingle-keyed exchange, then
    one doc_id agg. At 100 TB the df table is vocabulary-sized
    (≪ corpus) and both aggregates are two-phase hash aggs; nothing
    driver-side.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    return boilerplate_metrics(d, "doc_id", "text")


def boilerplate_metrics(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    df_cap: int = BOILERPLATE_DF_CAP,
) -> DataFrame:
    """Core of boilerplate_fraction over any document frame (shared by
    the registry query and the corpus-prep pipeline stage).

    df comes from an unordered COUNT window over the shingle rows, not
    a groupBy+join-back: Spark shares no non-exchange subtrees, so the
    join form evaluates the shingle explode TWICE (the tfidf_topk
    lesson — measured two Generate nodes); the window form reads the
    exploded rows once and reuses the shingle exchange."""
    sh = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col))).alias("shingle"),
    )
    return (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") > df_cap, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_boiler",
            (
                F.col("n_boiler").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("boiler_frac"),
        )
    )


MIX_BUDGET = 10_000


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (UNIMAX / multilingual-T5
    style): per-source sampling weight ∝ n_docs^0.5, i.e. up-weight
    small sources, and the doc budget each source gets under a fixed
    total. Drives source_mix_sample's per-source rates from corpus
    statistics instead of hand-set constants.

    Determinism at the oracle boundary: sqrt(bigint) is IEEE
    exact-rounded (bit-identical across engines), but the DENOMINATOR
    is a float sum whose order Spark doesn't fix — so each summand is
    quantized to DECIMAL(18,6) first (the repo's exact-decimal-sum
    rule; a .5e-6 rounding tie on an irrational sqrt is measure-zero)
    and the decimal total is exact and order-free. Budget allocation
    uses FLOOR, which has one definition everywhere (ROUND half-up vs
    half-even differs between engines).

    One hash agg over the corpus; everything after runs on the
    source-cardinality table (broadcast total).
    """
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "_wq", F.round(F.sqrt("n_docs"), 6).cast("decimal(18,6)")
    )
    # denominator via an unpartitioned window over the source-
    # cardinality table (a separate agg + crossJoin re-evaluates the
    # corpus scan in the total's branch); decimal sum → order-free
    weight = F.col("_wq").cast("double") / F.sum("_wq").over(
        Window.partitionBy()
    ).cast("double")
    return (
        w
        .select(
            "source",
            "n_docs",
            weight.alias("weight"),
            F.floor(weight * MIX_BUDGET).cast("long").alias("expected_docs"),
        )
    )


def materialize_sequences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    partition_cols: list[str],
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """The EXPORT step after pack_by_budget: build the actual training
    sequences — per (shard, seq_id), member docs concatenate in offset
    order into one text row (seq-boundary-straddling docs stay whole:
    the chunk-then-pack convention, so a sequence can exceed `budget`
    by at most one document's tail; run chunk_tokens first for a hard
    cap).

    Shape: the packing assignment joins back to the doc texts on the
    id (both sides hash-partition on it), then ONE (shard, seq_id)
    aggregate builds each sequence via array_sort over (offset, text)
    structs — collect_list alone is order-nondeterministic; the sort
    key makes the concatenation deterministic everywhere. Sequences
    are training-context-sized by construction, so the collected
    groups are bounded — never corpus-scale state.
    """
    assignment = pack_by_budget(docs, id_col, text_col, partition_cols, budget)
    joined = assignment.join(docs.select(id_col, text_col), id_col)
    return (
        joined.groupBy(*partition_cols, "seq_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seq_offset").alias("o"),
                        F.col(id_col).alias("i"),
                        F.col(text_col).alias("t"),
                    )
                )
            ).alias("members"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select(
            *partition_cols,
            "seq_id",
            F.array_join(
                F.transform(F.col("members"), lambda m: m["t"]), " "
            ).alias("seq_text"),
            F.transform(F.col("members"), lambda m: m["i"]).alias("doc_ids"),
            "seq_tokens",
            "n_docs",
        )
    )


def remove_boilerplate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    df_cap: int = BOILERPLATE_DF_CAP,
) -> DataFrame:
    """The TRANSFORM companion to boilerplate_metrics: rewrite each
    document with cross-corpus boilerplate spans removed (the CCNet /
    C4 crawl-cleanup move, done on word trigrams since this corpus has
    no line structure). A token is dropped iff some trigram covering
    it occurs in more than ``df_cap`` distinct documents; the cleaned
    text is the surviving tokens re-joined in order. Returns (id,
    n_tokens, n_removed, clean_text).

    Shape: one trigram-keyed exchange for the document-frequency
    aggregate; the hot-gram set is bounded by total_grams/df_cap (the
    same bound that makes the ngram df-cap broadcast safe) so it
    BROADCASTS back onto the gram stream; covered positions collapse
    per doc and the rebuild is array-native (F.filter with index over
    the original token array — no per-token shuffle, no re-sort of
    exploded tokens). Gram positions are 1-based to match SQL slice
    semantics; Spark's 0-based filter lambda shifts by one.
    """
    t = docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    # docs with fewer than 3 tokens have NO trigrams: without the
    # guard a 1- or 2-token fragment would enter the df aggregate and
    # short documents could be wholly removed as "boilerplate"
    g = t.select(
        id_col,
        "toks",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.sequence(F.lit(1), F.size("toks") - 2),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        id_col,
        "i",
        F.array_join(F.slice("toks", F.col("i"), 3), " ").alias("gram"),
    )
    # r9: the gram stream feeds the df aggregate AND the coverage
    # join — materialize it once (the tfidf barrier pattern) or the
    # tokenize + explode + slice/join pipeline runs twice
    g = g.localCheckpoint(eager=True)
    hot = (
        g.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") > df_cap)
        .select("gram")
    )
    cov = (
        g.join(F.broadcast(hot), "gram")
        .select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + 2)).alias("j"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("j").alias("cov"))
    )
    withcov = t.join(cov, id_col, "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )
    clean = F.filter(
        "toks", lambda x, i: ~F.array_contains("cov", (i + F.lit(1)).cast("int"))
    )
    return withcov.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(clean)).cast("long").alias("n_removed"),
        F.array_join(clean, " ").alias("clean_text"),
    )


def boilerplate_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of remove_boilerplate over the documents table.

    The synthetic corpus' trigram document frequencies top out single-
    digit (max df 7–9 at the test SFs — random small-vocab text has no
    true boilerplate), so the registry query uses df > 4 to exercise
    the removal path on real hot grams; production crawls calibrate
    the cap as a corpus fraction."""
    return remove_boilerplate(
        table(spark, sf_dir, "documents"), "doc_id", "text", df_cap=4
    )


SAMPLE_TOPN = 50
# 13 hex chars = 52 bits — fits a double EXACTLY, so u survives the
# long → double conversion bit-for-bit on every engine
_U_DENOM = float(16**13)


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, per source:
    the Efraimidis–Spirakis A-Res order — key = u^(1/w) with u a
    content-hash uniform and w the document weight (n_chars here:
    sample ∝ length, the token-budget-proportional choice) — keeps the
    top-N keys per source. Returns (source, doc_id, n_chars, rnk).

    Engine-portable randomness: u comes from the md5 content
    fingerprint (13 hex chars = 52 bits, exact in a double), so the
    'random' draw is reproducible anywhere and re-ingesting the same
    corpus re-selects the same sample — the property ad-hoc rand()
    sampling can't give. The ranking key stays UNROUNDED and is never
    emitted: pow differs by ≤ 2 ulp across libm builds, so two keys
    would have to collide within ~2^-51 relative to flip a rank —
    measure-zero — while any rounded-and-emitted float column would
    sit on a rounding boundary with ~1e-4 per-row probability.

    Shape: per-row hash + pow (scan-bound), then one source-keyed
    exchange where WindowGroupLimit truncates each source to N rows
    below the shuffle (the stratified_sample plan).
    """
    return (
        aes_topn(aes_keyed(table(spark, sf_dir, "documents")))
        .select("source", "doc_id", "n_chars", F.col("rnk").cast("long").alias("rnk"))
    )


def aes_keyed(docs: DataFrame) -> DataFrame:
    """(source, doc_id, n_chars, key): attach the A-ES ranking key
    u^(1/n_chars). Scan-bound; shared by the batch sampler and the
    streaming reservoir (the key is a pure content hash, so the same
    document gets the same key in every batch of every run)."""
    u = (
        F.conv(F.substring(fingerprint("text"), 1, 13), 16, 10).cast("double")
        / F.lit(_U_DENOM)
    )
    key = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    return docs.select("source", "doc_id", "n_chars", key.alias("key"))


def aes_topn(keyed: DataFrame, topn: int = SAMPLE_TOPN) -> DataFrame:
    """Top-``topn`` keyed rows per source (adds rnk). The per-source
    top-k on a deterministic key is a SEMILATTICE merge: top(A ∪ B) =
    top(top(A) ∪ B) — the identity the streaming reservoir's
    state-merge correctness rests on."""
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= topn)
    )


def collapse_adjacent_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition removal: drop each token that exactly
    repeats its predecessor ("the the", stutter artifacts from OCR /
    crawl text), keeping first occurrences and original order — the
    intra-document cleanup step that complements the cross-document
    dedup family.

    Executes as ONE higher-order-function expression per row (split →
    indexed filter → rejoin), entirely inside codegen: no explode, no
    shuffle, no UDF — the transform is scan-bound at any scale and the
    cleaned text never leaves the row. The same indexed-lambda text
    runs on the oracle side (Spark subscripts are 0-based, DuckDB's
    1-based — each engine's `toks[i-1]` is its own 'previous token').
    The md5 of the cleaned text makes content hash-checkable without
    shipping full documents through the compare.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    kept = F.expr("filter(split(text, ' '), (x, i) -> i = 0 OR x != split(text, ' ')[i-1])")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_before"),
        F.size(kept).cast("long").alias("n_after"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


def eval_overlap_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EVAL-side decontamination metric (the complement of
    `decontaminate`, which scores TRAIN docs by hit count): for each
    benchmark document, the fraction of its distinct word n-grams that
    appear anywhere in the train split — the GPT-3-style "dirty eval
    doc" score used to decide whether a benchmark number is trustable
    after training. (doc_id, n_grams, n_hit, overlap_frac, dirty).

    Same split convention as decontaminate (doc_id % 20 == 7 is the
    benchmark). Scale posture inverts the broadcast: the TRAIN shingle
    set is corpus-sized, so here the small EVAL set's grams broadcast
    onto the train gram stream, the hit set semi-joins map-side, and
    only eval-doc-keyed rows (bounded by the eval set) ever shuffle.
    overlap_frac is one int/int IEEE division — exact cross-engine.
    """
    d = table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 20 == 7)
    train = d.where(F.col("doc_id") % 20 != 7)
    par = spark.sparkContext.defaultParallelism
    bench_sh = bench.repartition(par).select(
        "doc_id", F.explode(word_shingles(F.col("text"), DECONTAM_NGRAM)).alias("shingle")
    )
    train_sh = (
        train.repartition(par)
        .select(F.explode(word_shingles(F.col("text"), DECONTAM_NGRAM)).alias("shingle"))
        .distinct()
    )
    # eval grams are few: broadcast them INTO the train stream to find
    # which are hit, then broadcast the (even smaller) hit set back
    hit = train_sh.join(
        F.broadcast(bench_sh.select("shingle").distinct()), "shingle"
    ).distinct()
    scored = (
        bench_sh.join(F.broadcast(hit), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    totals = bench_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    frac = F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
    return (
        totals.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.coalesce(frac, F.lit(0.0)).alias("overlap_frac"),
            (F.coalesce(frac, F.lit(0.0)) > 0.0).alias("dirty"),
        )
    )


DUP_SPAN_N = 5


def duplicated_span_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-lite (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): per document, how much of it sits
    inside a ≥ DUP_SPAN_N-token span that also occurs verbatim in
    ANOTHER document. The real ExactSubstr builds a corpus suffix
    array; the scalable Spark rendition covers the same positions by
    marking every DUP_SPAN_N-gram that occurs in ≥ 2 distinct docs and
    taking the per-doc union of covered token positions — any maximal
    duplicated span of length ≥ n is exactly a run of such grams, so
    coverage (and the fraction) is IDENTICAL to the suffix-array
    answer for spans ≥ n. (doc_id, n_tokens, n_dup_covered, dup_frac).

    Shape: gram explode → df agg (one shingle-keyed exchange) →
    cross-doc grams rejoined (the hot set is small: df>1 grams in a
    deduped corpus) → per-doc position-set collapse, all array-native.
    dup_frac is one int/int division — exact cross-engine.
    """
    t = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    n = DUP_SPAN_N
    g = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.array_join(F.slice("toks", F.col("i"), n), " ").alias("gram"),
    )
    # r9: two consumers (df agg + coverage join) — materialize the
    # gram explode once (the remove_duplicated_spans/boilerplate
    # barrier) instead of tokenizing + exploding per branch
    g = g.localCheckpoint(eager=True)
    dup_grams = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("ddf"))
        .where(F.col("ddf") >= 2)
        .select("gram")
    )
    cov = (
        g.join(F.broadcast(dup_grams), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (n - 1))
            ).alias("j"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("j").alias("n_dup_covered"))
    )
    return (
        t.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_covered", F.lit(0))
            .cast("long")
            .alias("n_dup_covered"),
            (
                F.coalesce("n_dup_covered", F.lit(0)).cast("double")
                / F.size("toks").cast("double")
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-lite REMOVAL (the transform twin of
    duplicated_span_metrics): rebuild each document with every token
    that sits inside a ≥ DUP_SPAN_N-token cross-document duplicated
    span dropped — (doc_id, n_tokens, n_kept, cleaned_text). This is
    the actual training-data cleaning step of Lee et al. 2021: cut the
    duplicated bytes, keep the unique remainder (even mid-document).

    Shape: gram explode → cross-doc gram df (one shingle-keyed
    exchange) → covered positions per doc → ANTI join against the
    position-exploded tokens → per-doc ordered reassembly
    (array_sort(collect_list(struct(pos, tok))) — the struct sort key
    makes the rebuild order-exact without a sort exchange). Everything
    is arrays + counts; no Python, no driver loops; the duplicated
    gram set is small in a real corpus and broadcasts.
    """
    t = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    )
    n = DUP_SPAN_N
    g = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.array_join(F.slice("toks", F.col("i"), n), " ").alias("gram"),
    )
    # two consumers (the df agg and the coverage join) — materialize
    # the gram explode once instead of re-running it per branch
    g = g.localCheckpoint(eager=True)
    dup_grams = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("ddf"))
        .where(F.col("ddf") >= 2)
        .select("gram")
    )
    # r9: covered positions collapse to ONE per-doc array and the
    # rebuild is the per-row indexed F.filter over the original token
    # array (the remove_boilerplate shape) — the former
    # position-explode → anti-join → collect_list/array_sort rebuild
    # paid two more token-grain exchanges for the same kept-token
    # sequence (F.filter preserves array order, so no sort key is
    # needed at all). Identical rows: a fully-covered doc keeps an
    # empty array (n_kept 0, empty text — the old left-join coalesce),
    # an uncovered doc coalesces to an empty coverage set.
    cov = (
        g.join(F.broadcast(dup_grams), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (n - 1))
            ).alias("j"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("j").alias("cov"))
    )
    withcov = t.join(cov, "doc_id", "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )
    clean = F.filter(
        "toks",
        lambda x, i: ~F.array_contains(
            "cov", (i + F.lit(1)).cast("int")
        ),
    )
    return withcov.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(clean).cast("long").alias("n_kept"),
        F.array_join(clean, " ").alias("cleaned_text"),
    )


def mix_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epochs-per-source under the temperature-mix budget — the
    repetition planner: expected_docs / n_docs says how many passes
    each source takes to fill its allocation, and epochs ≫ 1 on a
    small source is the memorization red flag reviews ask about
    before a data mix ships.

    Composes over temperature_mix_weights (definitional lockstep);
    the plan is one map-side division per source row.
    """
    w = temperature_mix_weights(spark, sf_dir)
    epochs = F.col("expected_docs") / F.col("n_docs").cast("double")
    return w.select(
        "source",
        "n_docs",
        "weight",
        "expected_docs",
        epochs.alias("epochs"),
        (epochs > 1.0).alias("oversampled"),
    )


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication triage: docs, distinct exact
    fingerprints, and the duplicate rate — the first number a corpus
    review asks for per provider (a source shipping 30% exact dups
    gets its loader fixed before anything fancier runs).

    One partial-aggregated pass: md5 fingerprints are per-row
    expressions; COUNT vs COUNT(DISTINCT fp) per source; rate is an
    exact-integer ratio.
    """
    from ..functions.text import fingerprint

    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fingerprint("text")).alias("n_unique"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).alias("n_dups"),
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


def corpus_health_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source corpus health scorecard — the one-page report a
    data-curation review starts from: volume, exact-duplicate rate,
    Gopher rule-filter pass rate, English share, and the mean
    per-bigram DSIR weight (how target-like the source reads). One
    row per source, composing the repo's own curation operators;
    the DuckDB twin nests the SAME parent oracles as CTEs, so the
    scorecard stays definitionally in lockstep with the metrics it
    summarizes (the ppl_filter_sweep composition pattern).

    Shape: the parents each scan the corpus once (their own audited
    plans); the composition adds only doc_id-keyed joins at the
    document grain and a source-grain rollup. The DSIR ratio is a
    per-doc double division quantized to integer NANO-units by
    explicit floor(x·1e9) before the order-free exact sum (r6 —
    round(double, 9) is implementation-defined at representation
    boundaries and flipped one row at sf0.1; floor of the identical
    double is engine-independent).
    """
    from .textops import dsir_importance_weights

    # r9: the Gopher verdict is a per-row expression since the
    # quality_rules rewrite, so it folds INLINE into the base scan —
    # the former doc-grain join of gopher_quality's output back onto
    # the same documents table (two exchanges) is gone; only the dsir
    # aggregate (a genuine bigram rollup) still joins.
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", gopher_keep_col("text").alias("keep")
    )
    dd = dedup_rate_by_source(spark, sf_dir).select(
        "source", "dup_rate"
    )
    w = dsir_importance_weights(spark, sf_dir).select(
        "doc_id",
        (
            F.col("dsir_logweight") / F.col("n_bigrams").cast("double")
        ).alias("wpb"),
    )
    pd_ = d.join(w, "doc_id", "left")
    h = pd_.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
            "n_en"
        ),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        F.sum(F.floor(F.col("wpb") * F.lit(1e9)).cast("long"))
        .cast("double")
        .alias("sw"),
        F.count("wpb").alias("nw"),
    )
    return (
        h.join(dd, "source")
        .select(
            "source",
            "n_docs",
            "dup_rate",
            (
                F.col("n_keep").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("gopher_pass_rate"),
            (
                F.col("n_en").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("pct_en"),
            F.when(
                F.col("nw") > 0,
                F.col("sw")
                / F.col("nw").cast("double")
                / F.lit(1e9),
            ).alias("mean_dsir_per_bigram"),
        )
        .orderBy("source")
    )


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair sampling for contrastive training:
    for every anchor document, 2 pseudo-random negatives drawn by a
    content-free md5 lattice over the dense doc_id domain — the
    (anchor, negative) table a dual-encoder fine-tune consumes.
    Returns (doc_id, neg_rank, neg_id, is_hard) where is_hard marks
    negatives from the anchor's own source (in-domain negatives are
    the hard ones — same distribution, different content).

    Determinism is the point: draws come from
    md5('neg:' || doc_id || ':' || j) reduced mod n_docs (the same
    engine-portable lattice as hash_split / the bootstrap), so the
    sample is reproducible across engines, runs, and partitionings —
    no seeded RNG whose stream depends on row order. A draw that hits
    the anchor itself shifts to (draw+1) mod n — collision-free
    without rejection loops.

    Scale: one per-row projection (2 rows out per doc), then ONE
    equi-join back to the corpus on the dense id to resolve the
    negative's source. Both sides hash-partition on the join key; no
    windows, no driver loops. n_docs is the one driver scalar (same
    contract as tfidf's corpus size).

    Reference analog: none — extension surface (training-pair
    generation over the documents table).
    """
    d = table(spark, sf_dir, "documents")
    n = d.count()
    anchors = d.select(
        "doc_id",
        F.col("source").alias("anchor_source"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("neg_rank"),
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("neg"),
                        F.col("doc_id").cast("string"),
                        F.col("neg_rank").cast("string"),
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
    cand = anchors.withColumn("raw_neg", draw).withColumn(
        "neg_id",
        F.when(F.col("raw_neg") == F.col("doc_id"), (F.col("raw_neg") + 1) % n)
        .otherwise(F.col("raw_neg")),
    )
    neg_side = d.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return cand.join(neg_side, "neg_id").select(
        "doc_id",
        "neg_rank",
        "neg_id",
        (F.col("neg_source") == F.col("anchor_source")).alias("is_hard"),
    )


NOVELTY_K = 5  # gram width for the novelty attribution


def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty attribution: walk the corpus in doc_id order
    and credit each 5-gram to the FIRST document containing it; a
    source whose documents keep introducing unseen grams is adding
    content, one whose grams were all seen before is re-serving it —
    the curation signal behind dataset "novelty curves" (a crawl dump
    whose novelty rate collapses has been exhausted). Per source:
    n_docs, n_grams (distinct per doc, summed), n_novel, novelty_rate.

    The sequential-looking "seen before" definition is order-free to
    compute: a gram instance in doc d is novel iff MIN(doc_id) over
    the gram's postings equals d — one gram-keyed aggregate, no scan
    order anywhere. (Tie impossible: the min is unique per gram.)

    Scale: one gram-keyed exchange for the MIN, re-joined to the
    per-doc distinct gram stream on the same key (subset rule — no
    second exchange); the source rollup is tiny. Gram hashes are the
    md5-prefix integer lattice (engine-portable).

    Reference analog: none — extension surface (corpus family).
    """
    d = table(spark, sf_dir, "documents")
    # tokenize ONCE into a real column (the word_shingles O(len²)
    # lesson: slicing the split expression inside the lambda
    # re-tokenizes the doc per gram)
    base = d.select(
        "doc_id",
        "source",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
    )
    toks = F.col("toks")
    grams = (
        base.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            F.size(toks) - (NOVELTY_K - 1), F.lit(1)
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice(toks, i, NOVELTY_K), " "
                    ),
                )
            ).alias("gram"),
        )
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )
    first = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    flagged = grams.join(first, "h").select(
        "doc_id",
        "source",
        (F.col("doc_id") == F.col("first_doc")).cast("long").alias("novel"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("novel").alias("n_novel"),
            (
                F.sum("novel").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


def loso_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation on summary metrics: for
    each source, what happens to the corpus's mean token count and
    English keep-rate if that source is dropped — the cheapest useful
    answer to "which provider is hurting the mix". impact_* > 0 means
    the corpus IMPROVES on that metric without the source.

    No re-scan per source: the LOSO aggregates derive algebraically
    from one source-grain rollup ((S - S_g)/(N - N_g) etc.), so 20
    sources cost exactly one corpus pass — the trick that makes
    per-provider ablation viable at 100 TB (naive LOSO is |sources|
    scans). Keep-rate uses corpus_filter's rule chain (token floor,
    then language), inlined as the same integer conditions.

    Determinism: all counts are exact BIGINTs; each mean/rate is one
    IEEE division; impacts are one subtraction of two such divisions.

    Reference analog: none — extension surface (corpus family).
    """
    from ..functions.text import token_count

    d = table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    keep = ((n_tok >= 30) & (F.col("lang") == "en")).cast("long")
    per_src = (
        d.select("source", n_tok.alias("nt"), keep.alias("kp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("s_tok"),
            F.sum("kp").alias("s_keep"),
        )
        .localCheckpoint()
    )
    glob = per_src.agg(
        F.sum("n_docs").alias("nn"),
        F.sum("s_tok").alias("st"),
        F.sum("s_keep").alias("sk"),
    )
    nd = F.col("n_docs").cast("double")
    loso_n = (F.col("nn") - F.col("n_docs")).cast("double")
    mean_tok_all = F.col("st").cast("double") / F.col("nn").cast("double")
    keep_all = F.col("sk").cast("double") / F.col("nn").cast("double")
    loso_tok = (F.col("st") - F.col("s_tok")).cast("double") / loso_n
    loso_keep = (F.col("sk") - F.col("s_keep")).cast("double") / loso_n
    return (
        per_src.crossJoin(F.broadcast(glob))
        .select(
            "source",
            "n_docs",
            F.round(F.col("s_tok").cast("double") / nd, 6).alias(
                "mean_tokens_own"
            ),
            F.round(loso_tok - mean_tok_all, 6).alias("impact_mean_tokens"),
            F.round(
                F.col("s_keep").cast("double") / nd, 6
            ).alias("keep_rate_own"),
            F.round(loso_keep - keep_all, 6).alias("impact_keep_rate"),
        )
        .orderBy("source")
    )


BEST_OF_N = 4


def best_of_n_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling over the corpus: documents group
    into fixed panels of n = 4 (doc_id DIV 4 — in production the panel
    is the n completions sampled per prompt) and each panel keeps its
    highest-scoring member — the data-selection face of
    best-of-n/RLHF-style filtering, with the selection lift (winner
    score minus panel mean) quantifying what the reranker buys. Per
    panel: group_id, n_candidates, winner_doc_id, winner_score,
    mean_score, selection_lift.

    The score is the deterministic integer heuristic
    token_count + 100·[lang = 'en'] (a stand-in for a reward model —
    swap the expression, the plan shape is unchanged); the argmax is
    the (score DESC, doc_id ASC) total order, so ties are stable.

    Shape: one per-row score expression, one group aggregate with
    max_by — a single map-side-combined exchange; panels are
    doc_id-contiguous so the grouping needs no shuffle beyond it.

    Reference analog: none — extension surface (corpus family).
    """
    from ..functions.text import token_count

    d = table(spark, sf_dir, "documents")
    score = (
        token_count("text")
        + F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(0))
    ).cast("long")
    scored = d.select(
        F.floor(F.col("doc_id") / BEST_OF_N).cast("long").alias("group_id"),
        "doc_id",
        score.alias("score"),
    )
    return (
        scored.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max_by(
                F.col("doc_id"),
                F.struct(F.col("score"), -F.col("doc_id")),
            ).alias("winner_doc_id"),
            F.max("score").alias("winner_score"),
            (
                F.sum("score").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_score"),
        )
        .select(
            "group_id",
            "n_candidates",
            "winner_doc_id",
            "winner_score",
            F.round("mean_score", 6).alias("mean_score"),
            F.round(
                F.col("winner_score").cast("double") - F.col("mean_score"),
                6,
            ).alias("selection_lift"),
        )
        .orderBy("group_id")
    )


def split_repair_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPAIR the train/val/test split's near-dup leakage: every
    member of a multi-document near-dup cluster moves to its
    CANONICAL member's split (the cluster's min doc_id — the same
    representative near_dedup_corpus keeps), so no cluster straddles
    a split boundary afterwards. split_leakage_pairs AUDITS the
    contamination channel; this emits the fix: per clustered doc —
    doc_id, component, old_split, new_split, moved. The downstream
    consumer anti-joins moved rows or applies new_split directly;
    by construction the repaired assignment has ZERO leaking pairs
    (property-tested).

    Shape: composes dedup_components' fix-point labeling (pair scope
    doc_id < 1000, its documented contract) with hash_split; the
    repair itself is one |cluster-members|-sized join of the label
    table to the split table plus a canonical-split broadcast —
    nothing new scales with the corpus.

    Reference analog: none — extension surface (corpus family).
    """
    from .dedup import dedup_components
    from .textops import hash_split

    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    clustered = comp.join(
        F.broadcast(sizes.where(F.col("n") > 1)), "component"
    )
    splits = hash_split(spark, sf_dir).select("doc_id", "split")
    canon = splits.select(
        F.col("doc_id").alias("component"),
        F.col("split").alias("new_split"),
    )
    return (
        clustered.join(splits, "doc_id")
        .join(F.broadcast(canon), "component")
        .select(
            "doc_id",
            "component",
            F.col("split").alias("old_split"),
            "new_split",
            (F.col("split") != F.col("new_split")).alias("moved"),
        )
        .orderBy("doc_id")
    )


ALLOC_TARGET_DOCS = 10_000
ALLOC_TEMPERATURE = 0.7


def budget_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a document budget
    across sources under temperature weighting: weight_g = n_g^0.7,
    ideal_g = B·w_g/Σw, every source gets floor(ideal), and the
    leftover seats go to the largest fractional remainders — the
    integer allocation a sampler actually executes (mix_epochs_plan
    says how many PASSES per source; this says how many DOCUMENTS when
    one concrete budget B must be hit EXACTLY: Σalloc = B by
    construction, property-tested). Per source: n_docs, weight, ideal,
    base, extra_seat, alloc_docs.

    Determinism: the one engine pow quantizes at 9dp into a decimal
    weight; ideal is a fixed IEEE dag on those quantized operands
    (identical doubles on both engines, so floor/fraction agree
    bit-for-bit); the remainder ranking is the (frac DESC, source ASC)
    total order; everything after is exact integers.

    Shape: one source-grain aggregate; the apportionment runs over
    |sources| rows with one broadcast leftover scalar.

    Reference analog: none — extension surface (corpus family).
    """
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.round(
        F.pow(F.col("n_docs").cast("double"), F.lit(ALLOC_TEMPERATURE)), 9
    ).cast("decimal(18,9)")
    weighted = per.select("source", "n_docs", w.alias("w")).localCheckpoint()
    tot = weighted.agg(F.sum("w").alias("wt"))
    ideal = (
        F.lit(float(ALLOC_TARGET_DOCS))
        * F.col("w").cast("double")
        / F.col("wt").cast("double")
    )
    based = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.col("w").cast("double").alias("weight"),
            F.round(ideal, 6).alias("ideal"),
            F.floor(ideal).cast("long").alias("base"),
            (ideal - F.floor(ideal)).alias("frac"),
        )
        .localCheckpoint()
    )
    leftover = based.agg(
        (F.lit(ALLOC_TARGET_DOCS) - F.sum("base")).alias("leftover")
    )
    wr = Window.orderBy(F.desc("frac"), F.asc("source"))
    return (
        based.withColumn("rnk", F.row_number().over(wr))
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "n_docs",
            "weight",
            "ideal",
            "base",
            (F.col("rnk") <= F.col("leftover")).alias("extra_seat"),
            (
                F.col("base")
                + (F.col("rnk") <= F.col("leftover")).cast("long")
            ).alias("alloc_docs"),
        )
        .orderBy("source")
    )


COVERAGE_ROUNDS = 5


def coverage_greedy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-maximizing data selection: greedily pick the document
    whose BIGRAM vocabulary adds the most not-yet-covered terms, five
    rounds — the classic (1−1/e)-approximate greedy for submodular
    coverage (Nemhauser et al. 1978), the shape behind coverage-based
    corpus subset selection: a few documents that together span the
    term space beat the same number of top-tf near-clones. The
    coverage universe is word bigrams, not unigrams — a unigram
    universe saturates after one pick on any vocabulary-light corpus
    (this one: ~30 unigrams vs ~900 bigrams at sf0.001), collapsing
    the objective. Returns (round, doc_id, marginal_gain,
    covered_total); if the universe saturates before round 5, the
    zero-gain rounds emit nothing (greedy stops, identically in the
    SQL unroll: an empty gains table has no argmax row).

    Fully declarative unroll: each round is an anti-join of the
    (doc, term) table against the covered-term set, a per-doc count,
    and a 1-ROW TakeOrdered pick that stays a DataFrame — no driver
    collect; localCheckpoints keep the growing plan flat (the
    BFS-frontier pattern). covered_total falls out as the running sum
    of gains — the greedy invariant that each gain counts exactly the
    newly covered terms.

    Scale posture: the (doc, term) table is the only fact-sized
    structure and is checkpointed once; the covered set is
    vocab-bounded; each round's exchange is one doc-keyed count. At
    100 TB the candidate pool is pre-filtered (e.g. top-k docs by
    distinct-term count) before the quadratic-in-rounds anti-joins —
    the standard lazy-greedy cut.

    Reference analog: none — extension surface (corpus-selection
    family, alongside dsir_importance_weights / best_of_n_selection).
    """
    d = table(spark, sf_dir, "documents")
    terms = (
        d.select("doc_id", F.explode(bigrams(F.col("text"))).alias("b"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("b.w1"), F.col("b.w2")).alias("tok"),
        )
        .where(F.col("tok") != " ")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r10 (§5/§1.2): each round's pick is ONE row by construction (the
    # argmax), so it collects to the driver — a k-bounded collect, the
    # median_polish/ann-panel class — and the picked/covered state
    # becomes literal filters over the one checkpointed (doc, term)
    # table. The former all-declarative unroll paid 3 eager
    # driver-blocking checkpoints per round (pick, covered-union,
    # picked-union: 15 non-AQE Dataset.rdd jobs for 5 rounds of tiny
    # state); now each round is exactly one job. Identical picks: the
    # (gain DESC, doc_id ASC) argmax, the not-yet-picked candidate
    # cut, and the covered-term anti-join are the same sets — the
    # covered set is rebuilt per round as a filtered distinct over the
    # terms checkpoint instead of a growing union chain.
    picked_ids: list = []
    rows: list = []
    total = 0
    for r in range(1, COVERAGE_ROUNDS + 1):
        # assumes doc_id is never null (it is the documents key): a
        # null doc_id makes ~isin(...) NULL, so the exclusion would
        # silently drop that doc from every later round's candidates
        cand = (
            terms
            if not picked_ids
            else terms.where(~F.col("doc_id").isin(picked_ids))
        )
        if picked_ids:
            covered = (
                terms.where(F.col("doc_id").isin(picked_ids))
                .select("tok")
                .distinct()
            )
            marg = cand.join(covered, "tok", "left_anti")
        else:
            marg = cand
        got = (
            marg.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not got:
            break  # universe saturated: zero-gain rounds emit nothing
        total += int(got[0].gain)
        rows.append((r, int(got[0].doc_id), int(got[0].gain), total))
        picked_ids.append(int(got[0].doc_id))
    return spark.createDataFrame(
        rows,
        "round int, doc_id long, marginal_gain long, covered_total long",
    ).orderBy("round")


# the corpus ppl distribution sits in [28, 31]: 29.6 is its
# median, so the gate actually discriminates (300 keeps all)
MCNEMAR_PPL_MAX = 29.6


def filter_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the two quality filters — the
    Gopher heuristic rules (gopher_quality.keep) and the perplexity
    gate (doc_perplexity.ppl ≤ 300) — applied to the SAME documents:
    odds-ratio-style 2×2 machinery is WRONG for paired verdicts; the
    information is entirely in the discordant cells, χ² = (b−c)²/
    (b+c) with b = heuristic-only keeps and c = perplexity-only
    keeps (b = 0 alone would say the gate is strictly WEAKER, the
    degenerate reading a 300-cut produced). A significant result means one gate is systematically
    stricter — the filters disagree in a DIRECTION — which is the
    governance question before swapping one for the other in a
    production corpus pipeline. Returns one row: (n_docs, both_keep,
    heuristic_only, ppl_only, both_drop, agreement, chi2,
    significant).

    Determinism: both verdicts are oracle-paired deterministic
    booleans (ppl is the 6-dp-rounded parent value, so the ≤ cut is
    engine-stable); all cells are exact BIGINTs; χ² is one fixed
    dag.

    Shape: the parents' explodes (quality: one token explode;
    perplexity: one bigram explode) joined doc-grain; a 4-cell
    reduce.
    """
    from .textops import doc_perplexity

    q = gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_h")
    )
    p = doc_perplexity(spark, sf_dir).select(
        "doc_id", (F.col("ppl") <= MCNEMAR_PPL_MAX).alias("keep_p")
    )
    j = q.join(p, "doc_id")
    agg = j.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep_h") & F.col("keep_p"), 1).otherwise(0))
        .cast("long").alias("both_keep"),
        F.sum(F.when(F.col("keep_h") & ~F.col("keep_p"), 1).otherwise(0))
        .cast("long").alias("heuristic_only"),
        F.sum(F.when(~F.col("keep_h") & F.col("keep_p"), 1).otherwise(0))
        .cast("long").alias("ppl_only"),
        F.sum(F.when(~F.col("keep_h") & ~F.col("keep_p"), 1).otherwise(0))
        .cast("long").alias("both_drop"),
    )
    b = F.col("heuristic_only").cast("double")
    c = F.col("ppl_only").cast("double")
    chi2 = (b - c) * (b - c) / (b + c)
    agree = (
        (F.col("both_keep") + F.col("both_drop")).cast("double")
        / F.col("n_docs").cast("double")
    )
    return agg.select(
        "n_docs",
        "both_keep",
        "heuristic_only",
        "ppl_only",
        "both_drop",
        F.round(agree, 9).alias("agreement"),
        F.when(b + c > 0, F.round(chi2, 9)).alias("chi2"),
        F.coalesce(
            F.when(b + c > 0, F.round(chi2, 9) > 3.841), F.lit(False)
        ).alias("significant"),
    )
