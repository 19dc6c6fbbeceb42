"""Text-analysis queries over the documents table (north-star ops:
language ID, quality scoring, token counting, fingerprinting).

Every expression is a single codegen'd pass over the scan — at 100 TB
these are scan-bound, shuffle-free (the groupBys are on tiny keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    bigrams,
    bpe_ish_token_count,
    bucket_split,
    content_bucket,
    fingerprint,
    lang_marker_count,
    punct_ratio,
    token_count,
    tokens,
)
from ..functions.scalars import lattice_sum_9dp_rounded, ols_fit
from ..io import table


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: chars, whitespace tokens, BPE-ish
    tokens, punctuation ratio. All exact-integer or single-division
    doubles → engine-independent."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_ratio("text").alias("punct_ratio"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (md5 of normalized text)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: exact marker-stopword counts per language,
    argmax with deterministic tiebreak (marker count desc, lang asc).

    The integer scores make the argmax engine-independent — no float
    comparisons in the decision.
    """
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        *[
            lang_marker_count("text", lang).alias(f"score_{lang}")
            for lang in sorted(LANG_MARKERS)
        ],
    )
    langs = sorted(LANG_MARKERS)
    # argmax via greatest + first matching CASE (ties → alphabetical)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.when(F.col(f"score_{langs[0]}") == best, langs[0])
    for lang in langs[1:]:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.select(
        "doc_id",
        "lang",
        *[f"score_{lang}" for lang in langs],
        pred.alias("pred_lang"),
    )


def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality rollup per source: doc counts, exact char
    sums, mean tokens-per-doc — the pre-training data triage query."""
    d = table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.min(n_tok).alias("min_tokens"),
        F.max(n_tok).alias("max_tokens"),
    )


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency for the
    top 25 whitespace tokens — the first pass of any tokenizer/vocab
    build over a training corpus.

    explode → single hash agg with count + countDistinct; top-k via
    TakeOrderedAndProject (never a global sort). Ties break on the
    token string, so the cut is total-ordered. Repartition before the
    explode so the token fan-out uses every core (small-file scans
    arrive as one input partition).
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(25)
    )


def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine-pattern corpus filter: every document gets a keep
    verdict plus the FIRST failing rule as its reason — the queryable
    form of the reference's validate-then-split gate (P9), applied to
    a training corpus.

    Rules evaluate as one chained CASE inside a single codegen'd scan:
    no UDFs, no shuffle, and `df.where(keep)` / `df.where(~keep)`
    downstream is the keep/quarantine split. Rule order is the
    contract: a short non-English doc reports 'too_short'.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    reason = (
        F.when(n_tok < 30, F.lit("too_short"))
        .when(F.col("lang") != "en", F.lit("non_target_lang"))
        .otherwise(F.lit("ok"))
    )
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def tfidf_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Uses the rational idf (N/df, log-free): every arithmetic step is
    integer-exact products/divisions in IEEE double, so scores are
    bit-identical across engines — the log-idf variant differs by ulps
    between libm implementations and would break hash equality (BM25
    has the same issue; swap the score expression at deployment if
    log-damped weights are wanted — the plan shape is unchanged).

    Plan: explode tokens → per-(doc,term) counts → df as an unordered
    COUNT window over the tf rows (partitionBy term) → rank window per
    doc. Three exchanges, ONE explode: deriving df by re-aggregating tf
    and joining back re-evaluates the whole exploded-token subtree
    (Spark shares no non-exchange subtrees — measured two Generate
    nodes in the plan); the window formulation reads tf once."""
    d = table(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny driver-side scalar, like the reference's audits
    toks = d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
        .withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rnk") <= k)
    )


def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (80/10/10).

    Bucketing on md5 of the NORMALIZED text (the exact-dedup
    fingerprint) rather than on doc_id means byte-identical documents
    always land in the same split — no train/test leakage through
    duplicates, the standard LLM-corpus practice. md5 is available and
    bit-identical in every engine, so the assignment is reproducible
    anywhere (xxhash/seeded hashes are engine-specific). Pure per-row
    expression — scan-bound, shuffle-free at any scale."""
    d = table(spark, sf_dir, "documents")
    bucket = content_bucket(fingerprint("text"))
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        bucket_split(bucket).alias("split"),
    )


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model head table: the top-3 continuations of
    each frequent head token with exact conditional probabilities
    (w1, w2, n_pair, n_head, p_cond, rnk).

    The n-gram LM / next-token-statistics pass over a training corpus
    (vocab_topk's sequel: from unigram counts to transition counts).
    Adjacent-token pairs come from ONE lambda over the token array —
    no self-join of exploded tokens (that shape shuffles the corpus
    twice and re-associates on position). n_head is a window SUM over
    the pair counts (same trick as tfidf's df — never a re-aggregate +
    join), so the whole query is explode → one (w1,w2) agg → one w1
    window. p_cond = n_pair/n_head is a single double division of two
    exact longs — engine-independent. Ties rank by w2 so the top-3 cut
    is total-ordered.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    # shared slice/zip_with bigram builder (functions.text.bigrams) —
    # ANSI-safe on sub-2-token documents, still one per-row lambda
    pairs_src = d.select(F.explode(bigrams(F.col("text"))).alias("b")).select(
        "b.w1", "b.w2"
    )
    # one hash shuffle on w1 serves the (w1,w2) agg AND both w1
    # windows: HashPartitioning(w1) satisfies the agg's clustered
    # distribution on (w1,w2) by the subset rule, so neither the agg
    # nor the windows re-exchange (same single-shuffle shape as scd2)
    pair = (
        pairs_src.repartition("w1")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    w_head = Window.partitionBy("w1")
    w_rank = Window.partitionBy("w1").orderBy(
        F.desc("n_pair"), F.asc("w2")
    )
    return (
        pair.withColumn("n_head", F.sum("n_pair").over(w_head))
        .withColumn("rnk", F.row_number().over(w_rank))
        .where((F.col("n_head") >= 50) & (F.col("rnk") <= 3))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_head",
            (F.col("n_pair") / F.col("n_head")).alias("p_cond"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


OOV_VOCAB_SIZE = 20


def oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary ratio per document: the fraction of token
    OCCURRENCES outside the corpus's top-OOV_VOCAB_SIZE vocabulary —
    the classic cheap quality/`weirdness` signal for training-data
    filtering (high OOV ⇒ garbled text, wrong language, or markup).

    Two passes over one token explode: (1) vocabulary = top-V tokens by
    corpus term frequency (TakeOrderedAndProject, ties on the token
    string so the cut is total-ordered), (2) per-doc OOV occurrence
    count via a broadcast LEFT SEMI-style flag join against the tiny
    vocab. Totals come from the same aggregate, so docs that are 100%
    in-vocab still appear with ratio 0. At 100 TB the vocab is V rows —
    always broadcastable — and the per-doc agg is one exchange.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    return oov_metrics(d, "doc_id", "text")


def oov_metrics(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = OOV_VOCAB_SIZE,
) -> DataFrame:
    """Core of oov_ratio over any document frame (shared by the
    registry query and the corpus-prep pipeline stage).

    The token explode runs ONCE: it collapses straight to the
    (doc, token) count grain, which is localCheckpointed so the vocab
    branch and the per-doc branch don't each re-evaluate the explode
    (no shared subtrees across join branches — the minhash barrier
    pattern; the checkpointed grain is tokens-per-doc-distinct sized,
    ≪ the exploded stream)."""
    tf_doc = (
        docs.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    vocab = (
        tf_doc.groupBy("token")
        .agg(F.sum("c").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(1).alias("_inv"))
    )
    return (
        tf_doc.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            (
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
            ).alias("oov_ratio"),
        )
    )


BPE_N_MERGES = 8
# hard cap on trainer rounds: each merge is one distributed aggregate
# + a 1-row driver decision, so the driver-side state is O(n_merges).
# A runaway request (e.g. a config typo asking for millions of merges)
# must raise up front, not queue unbounded jobs.
BPE_MAX_MERGES = 4096
# vocabularies at or under this many distinct words run the merge
# loop driver-side (a list of short symbol arrays — a few MB); larger
# vocabularies take the distributed per-round loop. Both paths are the
# identical algorithm (unit-pinned equal).
BPE_LOCAL_VOCAB_CAP = 200_000


def _bpe_local_merges(
    vocab: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-side merge loop over a bounded (syms, freq) vocabulary —
    the exact semantics of the distributed loop: overlapping adjacent
    pairs each count (weighted by word freq), the winner is max count
    with ties broken ascending on (left, right), and application is
    leftmost-first non-overlapping (the ``_apply_merge`` fold)."""
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, a, b, a + b, cnt))
        nxt = []
        for syms, freq in vocab:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nxt.append((out, freq))
        vocab = nxt
    return merges


def _apply_merge(syms, a: str, b: str):
    """Codegen'd leftmost-first merge of adjacent (a, b) → ab over a
    symbol array — the BPE application fold (shared by training and
    tokenization)."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(la, lb))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_tokenize(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """APPLY learned BPE merges: per document, the subword token count
    and per-word symbol arrays after running every merge in rank order
    — the tokenizer's inference side, giving REAL subword counts for
    budget packing (token_count's whitespace proxy over/under-counts
    by the merge savings).

    Words explode flat so the n_merges folds compose on a simple
    array column (bounded expression depth — never nested inside a
    per-row transform over the word array); the per-doc count is one
    id-keyed aggregate. Merge rules ride the plan as literals:
    codebook-as-closure, the same pattern as PQ's LUT.
    """
    words = (
        docs.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
        )
        .where(F.col("w") != "")
    )
    syms = F.split(F.col("w"), "")
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    return (
        words.select(F.col(id_col), F.size(syms).cast("long").alias("n_syms"))
        .groupBy(id_col)
        .agg(
            F.sum("n_syms").alias("n_bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )


def bpe_merge_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = BPE_N_MERGES,
    local_vocab_cap: int | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge induction — the tokenizer-training
    primitive: learn the top-``n_merges`` character-pair merges from
    corpus word frequencies. Returns (rank, left, right, merged,
    pair_count), fully deterministic (integer counts; ties break on
    (left, right) lexicographically).

    Scale shape: the ONLY corpus-scale pass is the word-frequency
    aggregate — everything after runs on the distinct-word table
    (vocabulary-sized, ≪ corpus; the classic BPE trainer optimization).
    Each merge round is one weighted pair-count aggregate over that
    table (explode of adjacent symbol pairs, two-phase hash agg), a
    1-row driver decision (exactly like connected_components' fix-point
    probe), and one codegen'd fold that rewrites the symbol arrays
    left-to-right (F.aggregate — leftmost-first application, the
    standard BPE tie rule). The word table is localCheckpointed per
    round so plans stay flat.
    """
    if n_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} exceeds BPE_MAX_MERGES="
            f"{BPE_MAX_MERGES} — refusing an unbounded driver loop"
        )
    spark = docs.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    words = (
        docs.repartition(n_part)
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split(F.col("w"), "").alias("syms"), "freq")
    ).localCheckpoint()

    # Hybrid trainer: the corpus-scale pass above is always
    # distributed; the merge LOOP runs driver-side when the distinct
    # vocabulary fits BPE_LOCAL_VOCAB_CAP (the markov/TwoNN pattern —
    # explicit count guard before any collect). The local loop is the
    # SAME algorithm bit-for-bit (integer pair counts, max-count then
    # (left, right)-lexicographic tie, leftmost-first non-overlapping
    # application), pinned ≡ the distributed loop by unit test. It
    # exists because the distributed loop costs 2·n_merges+1 tiny jobs
    # (pair agg + top-1 + re-checkpoint per round) whose scheduling
    # overhead dominates when the vocab table is thousands of rows; at
    # 100 TB a vocabulary over the cap takes the distributed path
    # unchanged.
    cap = BPE_LOCAL_VOCAB_CAP if local_vocab_cap is None else local_vocab_cap
    if words.count() <= cap:
        local = [(list(r["syms"]), r["freq"]) for r in words.collect()]
        merges = _bpe_local_merges(local, n_merges)
        return spark.createDataFrame(
            merges,
            "rank long, left string, right string, merged string, "
            "pair_count long",
        )

    merges = []
    for rank in range(n_merges):
        pairs = (
            words.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = (
            pairs.orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rank, a, b, a + b, cnt))
        words = words.select(
            _apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        ).localCheckpoint()

    return docs.sparkSession.createDataFrame(
        merges, "rank long, left string, right string, merged string, pair_count long"
    )


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry shape: learn BPE_N_MERGES merges over the documents
    corpus. ORACLE-PAIRED since r7 (per the r6 verdict #4): the
    trainer is fully deterministic (integer pair counts, max-count
    then (left, right)-lexicographic ties, leftmost-first application),
    so the DuckDB twin replays the SAME algorithm with the merge loop
    unrolled — 8 chained CTE rounds of pair-count aggregate → argmax →
    list_reduce fold over the word-frequency table (see the
    ``bpe_merges`` entry in __spark_entry__.oracle_sql, built by
    ``_bpe_oracle_sql``). tests/test_bpe.py additionally pins the
    exact merge table on a hand-computable corpus against a reference
    Python trainer."""
    return bpe_merge_table(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document self-perplexity under the corpus's own bigram LM —
    the classic LM-based quality filter (CCNet-style: score every doc
    against a language model and cut the high-perplexity tail; here the
    LM is the corpus itself, so the score flags statistically unusual
    token transitions). Returns (doc_id, n_bigrams, avg_nll, ppl) for
    every document with at least one bigram.

    Shape: ONE bigram explode; n_pair/n_head come from two COUNT
    windows over the same exploded rows (the bigram_lm/tfidf lesson —
    a groupBy+join-back would evaluate the explode twice), then one
    doc_id hash agg. At 100 TB the LM table is vocab²-bounded and
    the alternative — aggregate it and broadcast-join the corpus —
    becomes the better plan; this form keeps everything in one pass
    and never materializes the LM at all.

    Determinism: each per-bigram -ln(p) is rounded and quantized to
    DECIMAL(18,9) BEFORE the per-doc sum (the PageRank trick —
    graph.py quantizes contributions the same way), so the only
    cross-row reduction is an exact decimal sum, order-free on both
    engines. avg_nll and ppl are rounded doubles of that exact sum.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    inst = (
        d.select("doc_id", F.explode(bigrams(F.col("text"))).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    w_pair = Window.partitionBy("w1", "w2")
    w_head = Window.partitionBy("w1")
    nll = -F.log(
        F.col("n_pair").cast("double") / F.col("n_head").cast("double")
    )
    per_doc = (
        inst.withColumn("n_pair", F.count(F.lit(1)).over(w_pair))
        .withColumn("n_head", F.count(F.lit(1)).over(w_head))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # r9 opt: the per-bigram decimal quantize+BigDecimal sum
            # becomes the exact 9-dp long-lattice sum (value-identical;
            # |nll| ≤ ln(corpus bigrams) ≪ the 2^51/1e9 envelope)
            lattice_sum_9dp_rounded(nll).alias("sum_nll"),
        )
    )
    avg = F.round(
        F.col("sum_nll").cast("double") / F.col("n_bigrams").cast("double"), 6
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        avg.alias("avg_nll"),
        F.round(F.exp(avg), 6).alias("ppl"),
    )


BM25_QUERY_TERMS = ["table", "join", "spark"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring of every document against a fixed query —
    the lexical-retrieval primitive (tfidf_topk profiles documents;
    this RANKS them for a query, the search-index half of corpus
    tooling).

    Shape (r9): the query is FIXED and tiny, so per-doc length and
    per-term tf are document-local array counts — one per-row
    projection computes (dl, tf_t…) with NO explode and NO fact-sized
    exchange at all; the (N, avgdl, df_t…) corpus constants reduce to
    ONE broadcast row (map-side partial aggregation to a single row
    per partition), and scoring + top-k is a second scan pass ending
    in TakeOrderedAndProject. The former shape exploded the token
    stream three times and shuffled it twice for the same integers.

    Score = Σ_t idf(t) · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) with the
    Robertson idf ln((N−df+0.5)/(df+0.5)+1). idf/score are double
    arithmetic with a libm ln — rounded to 6 decimals on BOTH engines
    to absorb sub-ulp divergence (the quartile-rounding pattern,
    aggregates.py:returnflag_price_quartiles). Per-term scores still
    quantize to DECIMAL(18,9) before the per-doc sum; a term the doc
    lacks contributes an exact decimal zero (tf = 0 ⇒ score term
    +0.0 ⇒ round 0E-9), so the fixed-order 3-way decimal addition
    equals the former per-existing-row decimal SUM bit-for-bit
    (decimal addition is exact, hence order-free).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    arr = tokens(F.lower("text"))

    def count_eq(term: str):
        return F.size(F.filter(arr, lambda w: w == F.lit(term))).cast(
            "long"
        )

    # doc-grain (id, dl, tf…) longs — materialized once so the token
    # arrays are scanned a single time for both the stats reduce and
    # the scoring pass (a few longs per document, far smaller than
    # the text it summarizes, so the materialization is sound at any
    # scale)
    per_doc = (
        d.where(arr.isNotNull())
        .select(
            "doc_id",
            F.size(F.filter(arr, lambda w: w != F.lit("")))
            .cast("long")
            .alias("dl"),
            *[
                count_eq(t).alias(f"tf_{i}")
                for i, t in enumerate(BM25_QUERY_TERMS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.sum((F.col("dl") > 0).cast("long")).alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    n = F.col("n_docs").cast("double")
    avgdl = F.col("total_len").cast("double") / n
    dld = F.col("dl").cast("double")

    def term_score(i: int):
        df = F.col(f"df_{i}").cast("double")
        idf = F.log((n - df + 0.5) / (df + 0.5) + 1.0)
        tfd = F.col(f"tf_{i}").cast("double")
        ts = idf * (
            tfd
            * (BM25_K1 + 1.0)
            / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / avgdl))
        )
        return F.round(ts, 9).cast("decimal(18,9)")

    score = term_score(0)
    for i in range(1, len(BM25_QUERY_TERMS)):
        score = score + term_score(i)
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .where(
            sum(
                (F.col(f"tf_{i}") > 0).cast("int")
                for i in range(len(BM25_QUERY_TERMS))
            )
            > 0
        )
        .select(
            "doc_id",
            F.round(score.cast("double"), 6).alias("bm25"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP)


LIFT_MIN_TF = 10
LIFT_TOP_PER_SOURCE = 10


def distinctive_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction by frequency lift: the 10 terms
    each source over-uses most relative to the whole corpus —
    (source, token, n_in_source, lift, rank) where
    lift = (tf_source / tokens_source) / (tf_corpus / tokens_corpus).
    This is the corpus-composition diagnostic that surfaces what a
    crawl slice is actually about (and catches boilerplate floods)
    before the mix is weighted.

    Shape: ONE token-explode agg on (source, token); every other input
    — per-token corpus totals, per-source totals, the grand total — is
    a re-aggregation of that counts table, never a second scan of the
    fact. The token-keyed join is the only fact-sized exchange; source
    totals and the grand total broadcast. Lift is two divisions and a
    multiply in a fixed order on exact BIGINT counts (never a BIGINT
    product, which could overflow past 2^53 at corpus scale), so the
    double is bit-identical across engines. Rank ties break on the
    token string; the df floor keeps one-off typos out.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    toks = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    ).where(F.col("token") != "")
    per = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n_st")
    )
    per = per.localCheckpoint(eager=True)  # 3 consumers, 1 materialization
    tok_tot = per.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    src_tot = per.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    grand = per.agg(F.sum("n_st").alias("n_g"))
    lifted = (
        per.join(tok_tot.where(F.col("n_t") >= LIFT_MIN_TF), "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "token",
            "n_st",
            (
                (F.col("n_st").cast("double") / F.col("n_s").cast("double"))
                * (F.col("n_g").cast("double") / F.col("n_t").cast("double"))
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("lift"), F.asc("token")
    )
    return (
        lifted.select(
            "source", "token", "n_st", "lift",
            F.row_number().over(w).alias("rank"),
        )
        .where(F.col("rank") <= LIFT_TOP_PER_SOURCE)
    )


TOKEN_LEN_EDGES = [8, 16, 32, 64, 128, 256]


def token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per source: docs bucketed by
    whitespace token count into power-of-two bins — (source,
    bucket_lo, n_docs, share) — the length profile that drives
    training-sequence packing and min/max-length filter thresholds.

    Bucket edges are INTEGER comparisons (never floor(log2(n)) — at
    n = 2^k a float log can land on either side of the integer
    boundary depending on the engine's libm). One counts-only agg;
    share is one IEEE division of exact BIGINTs per row against the
    per-source window total over the tiny bucket grid.
    """
    d = table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_toks")
    )
    bucket = F.lit(0)
    for edge in TOKEN_LEN_EDGES:
        bucket = F.when(F.col("n_toks") >= edge, F.lit(edge)).otherwise(
            bucket
        )
    counts = d.groupBy("source", bucket.cast("int").alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_src = Window.partitionBy("source")
    return counts.select(
        "source",
        "bucket_lo",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(per_src).cast("double")
        ).alias("share"),
    )


ZIPF_TOP_K = 200


def zipf_fit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope/intercept of log(term
    frequency) on log(rank) over the top-200 terms — natural text
    sits near slope -1; synthetic or template-heavy sources drift
    flat. The corpus-level health check that catches boilerplate
    domination before training.

    Shape: one (source, term) count shuffle; ranking is a window over
    the per-source vocabulary (vocab-sized, never the token stream);
    the OLS sums run over <= 200 rows per source. Determinism: each
    log is rounded at 9 dp and QUANTIZED to DECIMAL(18,9) before the
    sum (bm25's per-term seam) so the sums are order-free; the
    closing slope/intercept arithmetic is a fixed IEEE dag on exact
    operands.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).where(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("tok"))
    ranked = (
        tf.select(
            "source", "tf", F.row_number().over(w).cast("long").alias("rank")
        )
        .where(F.col("rank") <= ZIPF_TOP_K)
    )
    x = F.round(F.log(F.col("rank").cast("double")), 9)
    y = F.round(F.log(F.col("tf").cast("double")), 9)
    dec = lambda c: c.cast("decimal(18,9)")  # noqa: E731
    agg = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(F.round(x * x, 9))).alias("sxx"),
        F.sum(dec(F.round(x * y, 9))).alias("sxy"),
    )
    moments = ("n_terms", "sx", "sy", "sxx", "sxy")
    slope, intercept = ols_fit(*[F.col(c).cast("double") for c in moments])
    return agg.select(
        "source", "n_terms", slope.alias("slope"),
        intercept.alias("intercept"),
    )


def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each source's unigram distribution,
    plus the ln-ratio normalized form in [0,1] — the diversity
    counterpart of source_lang_diversity's Simpson index at the TOKEN
    level: low entropy = repetitive/templated text.

    Shape: one (source, term) count shuffle; per-source totals
    re-aggregate the vocab table and broadcast back. Determinism: the
    per-term p*ln(p) contribution rounds at 9 dp into DECIMAL(18,9)
    before the order-free sum — NATURAL log on both sides (Spark's
    log2 is computed as ln(x)/ln(2), which is NOT the bit-identical
    twin of a native log2); bits and the normalized form are then
    single end-of-dag divisions by ln(2)/ln(n) on exact operands.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).where(F.col("tok") != "")
    # two consumers (totals and the contribution join) — materialize
    # the vocab-sized tf table once instead of re-running the token
    # explode per branch (the remove_duplicated_spans lesson)
    tf = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    totals = tf.groupBy("source").agg(F.sum("tf").alias("total"))
    p = F.col("tf").cast("double") / F.col("total").cast("double")
    contrib = F.round(p * F.log(p), 9).cast("decimal(18,9)")
    agg = (
        tf.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.max("total").alias("total_tokens"),
            F.sum(contrib).alias("s"),
        )
    )
    nats = F.col("s").cast("double") * F.lit(-1.0)
    nd = F.col("n_terms").cast("double")
    normalized = F.when(
        F.col("n_terms") > 1, F.round(nats / F.log(nd), 9)
    )
    return agg.select(
        "source", "n_terms", "total_tokens",
        (nats / F.log(F.lit(2.0))).alias("entropy_bits"),
        normalized.alias("normalized_entropy"),
    )


RRF_K = 60.0
RRF_TOP = 10


def rrf_fusion_search(
    spark: SparkSession, sf_dir: str, lex: DataFrame | None = None
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    ranking and the semantic cosine ranking (doc_id = vec_id) —
    rrf = Σ_side 1/(60 + rank), the standard score-free fusion that
    needs no calibration between BM25 and cosine scales.

    Both sides are already top-k (TakeOrderedAndProject) — ranking
    the fused candidates is a ≤40-row full-outer join; the fact-side
    work is exactly the two component queries'. Ranks are integers
    with doc_id tiebreaks, so the fused ordering is deterministic
    end-to-end; a doc present on one side only contributes that
    side's term (COALESCE 0 on the other).
    """
    from ..functions.vectors import cosine as _cos

    # standalone rrf consumes the lexical top ONCE — no checkpoint
    # (an eager checkpoint here costs a full extra materialization);
    # retrieval_ndcg_eval, which consumes it twice, passes its own
    # checkpointed copy via ``lex``
    lex = lex if lex is not None else bm25_search(spark, sf_dir)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("r_lex")
    )
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    sem = (
        e.join(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos("embedding", "qv").alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(20)
    )
    ws = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    semr = sem.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("r_sem")
    )
    fused = lexr.join(semr, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_sem").cast("double")),
        F.lit(0.0),
    )
    return (
        fused.select("doc_id", "r_lex", "r_sem", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )


IDX_TOP_TERMS = 30
IDX_POSTINGS = 10


def inverted_index_postings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize the search index itself: for the corpus's top-30
    df terms, an IMPACT-ORDERED posting list — the top-10 docs by tf
    (tiebreak doc_id) rendered "doc:tf,doc:tf,…" — plus df and total
    tf. This is the artifact bm25_search implicitly recomputes per
    query; indexing it once is how retrieval actually ships.

    Scale: tf explode partial-aggregates to (word, doc) before any
    ranking; per-term top-10 is a bounded window over the term's
    postings (hash-partitioned by word — no global sort); only 30
    index rows leave. Posting-list strings build from an array_sort
    over (rank, doc, tf) structs, so the rendering is deterministic
    in any engine.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("word")
    ).where(F.col("word") != "")
    tf = toks.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
    )
    top_terms = stats.orderBy(
        F.desc("df"), F.asc("word")
    ).limit(IDX_TOP_TERMS)
    wt = Window.partitionBy("word").orderBy(
        F.desc("tf"), F.asc("doc_id")
    )
    postings = (
        tf.join(F.broadcast(top_terms.select("word")), "word")
        .withColumn("rnk", F.row_number().over(wt))
        .where(F.col("rnk") <= IDX_POSTINGS)
    )
    lists = postings.groupBy("word").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("rnk", "doc_id", "tf")
                    )
                ),
                lambda s: F.concat_ws(
                    ":",
                    s["doc_id"].cast("string"),
                    s["tf"].cast("string"),
                ),
            ),
            ",",
        ).alias("top_postings")
    )
    return top_terms.join(lists, "word").select(
        "word", "df", "total_tf", "top_postings"
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language classifier against
    the labeled lang column — the evaluation loop lang_id itself never
    closes (per-cell counts plus the cell's share of its true-label
    row, whose diagonal is per-language recall).

    Composes over the SAME per-doc prediction query (definitional
    lockstep with its oracle); the grid is ≤|langs|² rows and the
    share is one exact-integer division.
    """
    pred = lang_id(spark, sf_dir)
    g = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    wl = Window.partitionBy("lang")
    return g.select(
        "lang",
        "pred_lang",
        "n",
        F.sum("n").over(wl).alias("label_total"),
        (
            F.col("n").cast("double")
            / F.sum("n").over(wl).cast("double")
        ).alias("share_of_label"),
    )


COVERAGE_PCTS = (50, 90, 99)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many vocabulary entries cover 50/90/99% of all token
    occurrences — the curve that sizes a tokenizer's vocab (Zipf says
    the head covers most of the mass; this measures exactly where).

    The window runs over the VOCAB-sized tf table (never the token
    stream), ordered tf desc with the term string as tiebreaker; each
    threshold is answered with pure integer arithmetic (100·cum ≥
    pct·total — no float ratio anywhere), so the curve is exact in
    any engine. Output: one row per threshold with the k needed and
    the head share actually attained at that k.
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        F.explode(tokens(F.lower("text"))).alias("word")
    ).where(F.col("word") != "")
    tf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.orderBy(F.desc("tf"), F.asc("word")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # vocab-sized; checkpointed ONCE so the threshold probes don't
    # re-evaluate the token pipeline per pct (measured: 12 scans / 36
    # exchanges without the barrier, 1 scan with it)
    ranked = tf.select(
        "tf",
        F.sum("tf").over(w).alias("cum"),
        F.row_number()
        .over(Window.orderBy(F.desc("tf"), F.asc("word")))
        .cast("long")
        .alias("k"),
    ).localCheckpoint(eager=True)
    total = ranked.agg(F.max("cum").alias("total"))
    pcts = spark.createDataFrame(
        [(p,) for p in COVERAGE_PCTS], "pct int"
    )
    j = ranked.crossJoin(F.broadcast(total)).crossJoin(
        F.broadcast(pcts)
    )
    hits = (
        j.where(F.col("cum") * 100 >= F.col("total") * F.col("pct"))
        .groupBy("pct")
        .agg(F.min("k").alias("k_tokens"))
    )
    return (
        hits.join(ranked, hits.k_tokens == ranked.k)
        .crossJoin(F.broadcast(total))
        .select(
            "pct",
            "k_tokens",
            (
                F.col("cum").cast("double")
                / F.col("total").cast("double")
            ).alias("share_attained"),
        )
    )

PPL_SWEEP_CUTS = (10.0, 30.0, 100.0, 300.0, 1000.0)


def ppl_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for the perplexity filter: at each
    candidate cutoff, how many documents and how much token mass
    survive — the curve you actually look at before choosing the
    CCNet-style "cut the high-ppl tail" threshold (pick blind and you
    either keep the garbage or throw away half the corpus).

    Composes over doc_perplexity (definitional lockstep with its
    oracle). ONE pass: each doc fans out map-side across the 5
    candidate cutoffs and a single grouped aggregate counts
    survivors; ppl is already deterministic, so the literal
    comparisons cannot flip between engines.
    """
    p = doc_perplexity(spark, sf_dir)
    cuts = F.explode(
        F.array(*[F.lit(c) for c in PPL_SWEEP_CUTS])
    ).alias("ppl_max")
    rows = p.select("ppl", "n_bigrams", cuts)
    keep = F.col("ppl") <= F.col("ppl_max")
    g = rows.groupBy("ppl_max").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum(
            F.when(keep, F.col("n_bigrams")).otherwise(F.lit(0))
        ).alias("tokens_kept"),
    )
    return g.select(
        "ppl_max",
        "n_docs",
        "n_kept",
        "tokens_kept",
        (
            F.col("n_kept").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("keep_share"),
    )


NDCG_K = 10
NDCG_REL_POOL = 20


def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the lexical (BM25) and hybrid (RRF) rankings against
    a semantic ground truth — the retrieval-quality scoreboard that
    says whether fusing embeddings actually improved the ranking
    (langid_confusion's "close the eval loop" move applied to
    search). Relevance is graded by the exact cosine ranking: the
    top-20 semantic neighbors of the query vector get rel = 21 − rank,
    everything else 0.

    Each DCG term rel/log2(i+1) quantizes to DECIMAL(18,9) before the
    ≤10-way sum (order-free); IDCG comes from the same dag over the
    ideal grades (20..11), so nDCG is deterministic end-to-end. All
    inputs are already top-k tables — the eval itself touches ≤40
    rows beyond the component queries.
    """
    from ..functions.vectors import cosine as _cos

    e = table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    sem = (
        e.join(F.broadcast(qv))
        .where(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos("embedding", "qv").alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(NDCG_REL_POOL)
    )
    wsem = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    rel = sem.select(
        "doc_id",
        (
            F.lit(NDCG_REL_POOL + 1) - F.row_number().over(wsem)
        ).cast("long").alias("rel"),
    )

    def dcg_of(ranking: DataFrame, method: str) -> DataFrame:
        j = ranking.join(F.broadcast(rel), "doc_id", "left")
        term = F.round(
            F.coalesce("rel", F.lit(0)).cast("double")
            / F.log2(F.col("pos").cast("double") + 1.0),
            9,
        ).cast("decimal(18,9)")
        return j.agg(
            F.sum(term).cast("double").alias("dcg")
        ).select(F.lit(method).alias("method"), "dcg")

    lex = bm25_search(spark, sf_dir).localCheckpoint()  # 20 rows,
    # shared by the lexical DCG AND the fusion component
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex10 = lex.select(
        "doc_id", F.row_number().over(wl).alias("pos")
    ).where(F.col("pos") <= NDCG_K)
    rrf = rrf_fusion_search(spark, sf_dir, lex=lex)
    wr = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    rrf10 = rrf.select(
        "doc_id", F.row_number().over(wr).alias("pos")
    ).where(F.col("pos") <= NDCG_K)
    ideal = spark.range(1, NDCG_K + 1).select(
        F.col("id").alias("pos")
    )
    iterm = F.round(
        (F.lit(NDCG_REL_POOL + 1) - F.col("pos")).cast("double")
        / F.log2(F.col("pos").cast("double") + 1.0),
        9,
    ).cast("decimal(18,9)")
    idcg = ideal.agg(F.sum(iterm).cast("double").alias("idcg"))
    out = dcg_of(lex10, "bm25").unionByName(dcg_of(rrf10, "rrf"))
    return out.crossJoin(F.broadcast(idcg)).select(
        "method",
        "dcg",
        "idcg",
        (F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document — the syllable-free
    readability grade (ARI = 4.71·chars/word + 0.5·words/sentence −
    21.43) that quality pipelines use beside length/perplexity
    filters: a corpus of grade-30 run-on text or grade-1 fragments is
    a data bug either way.

    Everything is integer counting in ONE codegen'd scan pass —
    letters (spaces excluded), whitespace tokens, sentence
    terminators ([.!?]+ runs, floored at 1 so fragments don't divide
    by zero) — and the grade is a fixed dag of two exact-integer
    ratios. No UDFs, no shuffle beyond the scan.
    """
    d = table(spark, sf_dir, "documents")
    words = token_count("text")
    chars = F.length(
        F.regexp_replace(F.col("text"), r"\s+", "")
    ).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        (
            F.size(F.split(F.col("text"), r"[.!?]+")) - 1
        ).cast("long"),
    )
    wd = words.cast("double")
    ari = (
        F.lit(4.71) * (chars.cast("double") / wd)
        + F.lit(0.5) * (wd / sents.cast("double"))
        - F.lit(21.43)
    )
    return d.where(words > 0).select(
        "doc_id",
        words.alias("n_words"),
        chars.alias("n_chars_nospace"),
        sents.alias("n_sents"),
        ari.alias("ari"),
    )


DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR importance weights (Xie et al., 2023 — Data Selection via
    Importance Resampling, the method behind domain-targeted corpus
    selection): score every document by the log-likelihood ratio of a
    TARGET hashed-bigram unigram model (here: the English slice, the
    stand-in for a high-quality target domain) against the RAW-corpus
    model. Resampling the corpus by exp(weight) shifts the mixture
    toward the target distribution without a trained classifier.
    Returns (doc_id, lang, n_bigrams, dsir_logweight); documents with
    fewer than two tokens have no bigram features and are excluded by
    construction.

    Hashed features are md5-bucketed (engine-portable, unlike
    xxhash) into 256 bins with +1 smoothing; per-bucket ln-ratios are
    computed once on the 256-row model table (ln IS oracle-safe — the
    doc_perplexity precedent; log2 is not), BROADCAST back onto the
    per-(doc, bucket) counts, and each contribution quantizes at 9dp
    to DECIMAL(18,9) before the order-free per-doc sum. Shape: ONE
    bigram explode; the (doc, bucket) aggregate is the only
    corpus-scale exchange — the model table derives from it, so the
    token stream is scanned once.
    """
    d = table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(bigrams(F.col("text"))).alias("b"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", "b.w1", "b.w2")), 1, 6
                ),
                16,
                10,
            ).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    # dc feeds BOTH the model derivation and the scoring join — without
    # a barrier Spark re-evaluates the explode+aggregate pipeline per
    # consumer (audited: 2 scans/2 Generates), the market-basket lesson
    dc = (
        bg.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    bs = dc.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("n_t"),
        F.sum("c").alias("n_r"),
    )
    w_all = Window.partitionBy()
    model = bs.select(
        "bucket",
        (
            F.log(
                (F.col("n_t") + 1).cast("double")
                / (F.sum("n_t").over(w_all) + DSIR_BUCKETS).cast("double")
            )
            - F.log(
                (F.col("n_r") + 1).cast("double")
                / (F.sum("n_r").over(w_all) + DSIR_BUCKETS).cast("double")
            )
        ).alias("llr"),
    )
    return (
        dc.join(F.broadcast(model), "bucket")
        .select(
            "doc_id",
            "lang",
            "c",
            (F.col("c").cast("double") * F.col("llr")).alias("contrib"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_bigrams"),
            # r9 opt: 9-dp long-lattice sum (value-identical; |c·llr|
            # ≤ doc_len·|ln ratio| ≪ the 2^51/1e9 envelope)
            lattice_sum_9dp_rounded(F.col("contrib"))
            .cast("double")
            .alias("dsir_logweight"),
        )
    )


KN_DISCOUNT = 0.75
KN_MIN_HEAD = 50
KN_TOP = 3


def kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    that made n-gram LMs competitive (and the reason KenLM filters
    work): absolute-discount the bigram MLE and back off to the
    CONTINUATION unigram (how many distinct heads precede w2), not
    the raw frequency — 'san francisco' stops inflating P(francisco)
    in novel contexts. Returns the top-3 smoothed continuations per
    frequent head: (w1, w2, c12, pkn, rnk) — bigram_lm's sequel from
    MLE to KN.

    Every model quantity is an exact integer count (pair count, head
    total, distinct-successor and distinct-predecessor counts, total
    distinct pairs); pkn is a FIXED dag of double ops over them with
    no cross-row float sum, so the ranking is bit-identical across
    engines with no quantization seam at all. Shape: the pair table
    localCheckpoints once for its three consumers (head windows,
    predecessor aggregate, total count — without the barrier the
    explode+agg pipeline re-runs per consumer); the predecessor table
    and the 1-row total BROADCAST back; one w1 exchange serves the
    pair aggregate and both head windows by the subset rule.
    """
    n_part = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").repartition(n_part)
    pairs_src = d.select(
        F.explode(bigrams(F.col("text"))).alias("b")
    ).select("b.w1", "b.w2")
    pair = (
        pairs_src.repartition("w1")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    w_head = Window.partitionBy("w1")
    headed = pair.withColumn(
        "c1", F.sum("c12").over(w_head)
    ).withColumn("n1fwd", F.count(F.lit(1)).over(w_head))
    back = pair.groupBy("w2").agg(F.count(F.lit(1)).alias("n1back"))
    dtot = pair.agg(F.count(F.lit(1)).alias("dd"))
    c12d = F.col("c12").cast("double")
    c1d = F.col("c1").cast("double")
    pkn = F.greatest(c12d - F.lit(KN_DISCOUNT), F.lit(0.0)) / c1d + (
        F.lit(KN_DISCOUNT) * F.col("n1fwd").cast("double") / c1d
    ) * (F.col("n1back").cast("double") / F.col("dd").cast("double"))
    w_rank = Window.partitionBy("w1").orderBy(F.desc("pkn"), F.asc("w2"))
    return (
        headed.join(F.broadcast(back), "w2")
        .crossJoin(F.broadcast(dtot))
        .where(F.col("c1") >= KN_MIN_HEAD)
        .withColumn("pkn", pkn)
        .withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rnk") <= KN_TOP)
        .select("w1", "w2", "c12", "pkn", "rnk")
    )


QL_MU = 50.0  # Dirichlet prior mass (docs here average ~40 tokens)


def query_likelihood_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty): rank documents by log P(query | doc LM),
    score = Σ_t ln((tf_td + μ·cf_t/|C|) / (dl_d + μ)) — the
    language-modeling counterpart of bm25_search (probabilistic
    ranking vs. the Robertson/Sparck-Jones weighting); together with
    rrf_fusion_search and retrieval_ndcg_eval this completes the
    classic lexical-ranking family. Top-20 (doc_id, ql_score).

    Unlike BM25, a zero-tf term still contributes its smoothed
    background probability, so EVERY document is scored against every
    query term. The plan exploits the FIXED query: one token explode
    feeds ONE doc_id aggregate that computes dl and the |query| per-
    term tfs as pivoted conditional counts in the same pass; that
    doc-grain table is checkpointed once for its two consumers; the
    collection stats (cf_t, |C|) reduce from it to a single broadcast
    row; the score is a fixed |query|-term expression — ONE corpus
    scan and one corpus-scale exchange total (the first cut derived
    doclen / cf / tf as separate aggregates and re-evaluated the
    explode subtree five times: 5 scans, 16 exchanges). Top-k is
    TakeOrderedAndProject.

    Determinism: ln is libm — per-term scores round at 9dp and
    quantize to DECIMAL(18,9); the |query|-way decimal addition is
    exact; one 6dp rounding at the seam (the bm25_search pattern).

    Reference analog: none — extension surface (retrieval family).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("word")
    ).where(F.col("word") != "")
    # doc-grain table materialized once for its two consumers (the
    # stats rollup and the scorer) — otherwise the explode subtree
    # re-evaluates per consumer
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("word") == t, True)).alias(f"tf_{t}")
            for t in BM25_QUERY_TERMS
        ],
    ).localCheckpoint()
    stats = per_doc.agg(
        F.sum("dl").alias("total_len"),
        *[F.sum(f"tf_{t}").alias(f"cf_{t}") for t in BM25_QUERY_TERMS],
    )
    dld = F.col("dl").cast("double")

    def term(t: str):
        return F.round(
            F.log(
                (
                    F.col(f"tf_{t}").cast("double")
                    + F.lit(QL_MU)
                    * F.col(f"cf_{t}").cast("double")
                    / F.col("total_len").cast("double")
                )
                / (dld + F.lit(QL_MU))
            ),
            9,
        ).cast("decimal(18,9)")

    score = term(BM25_QUERY_TERMS[0])
    for t in BM25_QUERY_TERMS[1:]:
        score = score + term(t)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(score.cast("double"), 6).alias("ql_score"),
        )
        .orderBy(F.desc("ql_score"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


ENTROPY_LO = 2.0  # nats: below = repetitive junk (aaaa..., stutter)
ENTROPY_HI = 3.2  # nats: above = keyboard-mash (near-uniform letters)


def char_entropy_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gibberish screen by character-level Shannon entropy: natural
    language sits in a tight entropy band (~2.7-3.1 nats over [a-z]);
    repeated-character junk falls far below it and keyboard-mash
    pushes toward the ln(26)=3.26 uniform ceiling — the cheap
    first-pass filter corpus cleaning runs before any model-based
    scorer (complements gopher_quality's word-level rules with a
    sub-word signal). Per doc: n_letters, char_entropy, flag
    ('low_entropy' | 'high_entropy' | 'ok').

    Determinism: per-char probabilities are exact-integer ratios;
    each -p·ln(p) term rounds at 9dp into DECIMAL(18,9) before the
    ≤26-way order-free sum (the bm25 ln seam); the band compare runs
    on the 6dp-rounded value on BOTH engines so the flag cannot flip.

    Shape: one letter explode (fan-out = letter count, the token
    explode's constant factor) into a (doc, char) count — a single
    map-side-combined exchange; the entropy rollup is per-doc over
    ≤26 rows. Docs with no [a-z] letters are out of scope (no
    distribution to score).

    Reference analog: none — extension surface (quality family).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    chars = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]"), 0)
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    term = F.round(-p * F.log(p), 9).cast("decimal(18,9)")
    per_doc = (
        counts.select(
            "doc_id",
            F.col("n"),
            term.alias("t"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_letters"),
            F.round(F.sum("t").cast("double"), 6).alias("char_entropy"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_letters",
        "char_entropy",
        F.when(F.col("char_entropy") < ENTROPY_LO, "low_entropy")
        .when(F.col("char_entropy") > ENTROPY_HI, "high_entropy")
        .otherwise("ok")
        .alias("flag"),
    )


HEAPS_CHECKPOINTS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: walk the corpus in doc_id order,
    record (tokens processed, distinct vocabulary seen) at 10 evenly
    spaced document checkpoints, and fit V = K·nᵝ by OLS on the
    log-log points — the companion of zipf_fit_by_source (Zipf is the
    frequency law, Heaps the growth law; β far from ~0.5 flags
    synthetic or exhausted corpora, and the fit predicts vocabulary
    memory at 100 TB from a sample). Returns one row per checkpoint:
    (decile, n_docs, n_tokens_cum, vocab_cum, heaps_beta, heaps_k) —
    the fitted constants replicated on every row.

    The sequential-looking "vocabulary so far" is order-free: a
    token's first_doc is MIN(doc_id) over its postings; new-vocab per
    doc = count of tokens with first_doc = doc; the running V(d) is a
    cumulative sum over the DOC-grain table. Same trick as
    ngram_novelty_by_source, composed into a growth curve.

    Determinism: all counts exact BIGINTs; the log-log OLS runs over
    exactly 10 points with ln values quantized at 9dp into
    DECIMAL(18,9) before the sums (the huber/bm25 lattice); the
    closed-form slope is one IEEE dag.

    Shape: one token-keyed exchange (first_doc), one doc-grain
    aggregate, one doc-grain cumulative window, a 10-row fit. The
    fact is scanned once.

    Reference analog: none — extension surface (corpus-statistics
    family, next to zipf_fit_by_source).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("token")
    ).where(F.col("token") != "")
    per_tok = toks.groupBy("token").agg(
        F.min("doc_id").alias("first_doc"),
    )
    new_vocab = per_tok.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    doc_toks = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ntok"))
    grain = doc_toks.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "ntok",
        F.coalesce("nv", F.lit(0)).alias("nv"),
    )
    w = Window.orderBy("doc_id")
    cum = grain.select(
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.sum("ntok")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("tok_cum"),
        F.sum("nv")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("voc_cum"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_docs_total"),
    ).localCheckpoint()
    k = HEAPS_CHECKPOINTS
    # checkpoint table: (decile j, target rank ceil(j*N/k)) — an
    # explicit 10-row join, so the decile label is exact even when
    # targets collide on tiny corpora
    targets = (
        cum.select("n_docs_total")
        .limit(1)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("decile"),
            "n_docs_total",
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.floor(
                (F.col("decile") * F.col("n_docs_total") + (k - 1))
                / F.lit(k)
            )
            .cast("int")
            .alias("target_rn"),
        )
    )
    pts = cum.join(
        F.broadcast(targets), F.col("rn") == F.col("target_rn")
    ).select(
        "decile",
        F.col("rn").cast("long").alias("n_docs"),
        F.col("tok_cum").alias("n_tokens_cum"),
        F.col("voc_cum").alias("vocab_cum"),
    )
    lx = F.round(F.log(F.col("n_tokens_cum").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    ly = F.round(F.log(F.col("vocab_cum").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    fit_in = pts.select(lx.alias("lx"), ly.alias("ly"))
    stats = fit_in.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(38,18)")).alias(
            "sxx"
        ),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(38,18)")).alias(
            "sxy"
        ),
    )
    moments = ("n", "sx", "sy", "sxx", "sxy")
    beta, intercept = ols_fit(*[F.col(c).cast("double") for c in moments])
    # + 0.0 canonicalizes IEEE negative zero (a saturated vocabulary
    # makes the slope EXACTLY zero and the two engines disagree on its
    # sign bit; -0.0 + 0.0 = +0.0, every other finite value unchanged)
    fit = stats.select(
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(F.exp(intercept), 6).alias("heaps_k"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .orderBy("decile")
    )


DELTA_TOP_WORDS = 20


def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score
    each source's relative frequency of the corpus's top-20 words
    (across sources), then Delta(a,b) = mean |z_a - z_b| — the
    authorship-attribution classic, here answering "which providers
    write alike" (near-zero Delta across supposedly independent
    sources flags shared templates or a common upstream scraper;
    source_overlap_matrix sees shared CONTENT, this sees shared
    STYLE). Returns all source pairs (src_a < src_b): n_words, delta.

    Determinism: relative frequencies are exact-int ratios; the
    per-word cross-source mean/std come from 9dp-quantized decimal
    sums; z and |z_a − z_b| terms re-quantize at 9dp before the
    20-way mean (the entropy seam); zero-variance words drop (every
    source uses them identically — no style signal, and z would be
    0/0).

    Shape: one token explode → (source, word) counts (the only fact
    exchange); the top-20 vocabulary is a broadcast TakeOrdered; the
    z-matrix is |sources|×20 and self-joins on word — nothing scales
    with the corpus beyond the first aggregate.

    Reference analog: none — extension surface (stylometry, corpus
    family).
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "source", F.explode(tokens(F.lower("text"))).alias("word")
    ).where(F.col("word") != "")
    sw = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint()
    totals = sw.groupBy("source").agg(F.sum("n").alias("n_tot"))
    top = (
        sw.groupBy("word")
        .agg(F.sum("n").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("word"))
        .limit(DELTA_TOP_WORDS)
        .select("word")
    )
    # dense (source × top-word) grid: absent cells are 0-frequency
    grid = (
        totals.crossJoin(F.broadcast(top))
        .join(sw, ["source", "word"], "left")
        .select(
            "source",
            "word",
            (
                F.coalesce("n", F.lit(0)).cast("double")
                / F.col("n_tot").cast("double")
            ).alias("f"),
        )
    )
    qf = F.round(F.col("f"), 9).cast("decimal(18,9)")
    stats = (
        grid.select("word", qf.alias("qf"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("qf").alias("s1"),
            F.sum((F.col("qf") * F.col("qf")).cast("decimal(38,18)")).alias(
                "s2"
            ),
        )
    )
    md = F.col("m").cast("double")
    mu = F.col("s1").cast("double") / md
    var = F.col("s2").cast("double") / md - mu * mu
    zstats = stats.select(
        "word",
        mu.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
    ).where(F.col("sd") > 0)
    z = (
        grid.join(F.broadcast(zstats), "word")
        .select(
            "source",
            "word",
            F.round(
                (F.col("f") - F.col("mu")) / F.col("sd"), 9
            ).cast("decimal(18,9)").alias("z"),
        )
        .localCheckpoint()
    )
    a = z.select(
        F.col("source").alias("src_a"), "word", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"), "word", F.col("z").alias("zb")
    )
    return (
        a.join(b, "word")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(
                F.sum(F.abs(F.col("za") - F.col("zb"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("delta"),
        )
        .orderBy("src_a", "src_b")
    )


def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources'
    unigram token distributions — the data-mixing diagnostic that
    burrows_delta_sources (style) and source_overlap_matrix (shared
    content) don't give: HOW FAR APART two providers' vocabularies
    are as probability distributions. JS is symmetric, bounded by
    ln 2, and needs no smoothing (the mixture m=(p+q)/2 is positive
    wherever either side is), which is why it beats raw KL for
    corpus work. Returns (source_a, source_b, n_shared_terms,
    shared_mass_a, shared_mass_b, js_nats, js_bits).

    The exclusive-mass identity keeps the pair join INNER: a term
    present only in a contributes p·ln(2p/(p+0)) = p·ln2 to the
    a-side sum, so the whole only-in-a tail collapses to
    (1 − shared_mass_a)·ln2 — no full-outer join, no zero-filled
    vocab grid per pair.

    Determinism: p and q are exact int-ratio doubles; each shared
    term's JS contribution 0.5·(p·ln(2p/(p+q)) + q·ln(2q/(p+q)))
    rounds at 9 dp into DECIMAL(18,9) before the order-free sum
    (the token_entropy seam — natural log on both sides), and the
    shared masses round at 12 dp into DECIMAL(24,12) so the closing
    exclusive-mass arithmetic runs on bit-identical operands.

    Shape: one (source, term) count exchange (the tf table is
    localCheckpointed for its two consumers); per-source totals
    broadcast back; the pair join is vocab-sized, never fact-sized.

    Reference analog: none — extension surface (training-data
    mixing / corpus family).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).where(F.col("tok") != "")
    tf = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    totals = tf.groupBy("source").agg(F.sum("tf").alias("total"))
    probs = tf.join(F.broadcast(totals), "source").select(
        "source",
        "tok",
        (F.col("tf").cast("double") / F.col("total").cast("double")).alias("p"),
    )
    a = probs.select(
        F.col("source").alias("source_a"), "tok", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("source_b"), "tok", F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    contrib = F.round(
        F.lit(0.5)
        * (
            pa * F.log(F.lit(2.0) * pa / (pa + pb))
            + pb * F.log(F.lit(2.0) * pb / (pa + pb))
        ),
        9,
    ).cast("decimal(18,9)")
    q12 = lambda c: F.round(c, 12).cast("decimal(24,12)")  # noqa: E731
    pairs = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.sum(q12(pa)).alias("ma"),
            F.sum(q12(pb)).alias("mb"),
            F.sum(contrib).alias("js_shared"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    excl = (
        F.lit(0.5)
        * ((F.lit(1.0) - F.col("ma").cast("double"))
           + (F.lit(1.0) - F.col("mb").cast("double")))
        * ln2
    )
    js = F.col("js_shared").cast("double") + excl
    return pairs.select(
        "source_a",
        "source_b",
        "n_shared_terms",
        F.col("ma").cast("double").alias("shared_mass_a"),
        F.col("mb").cast("double").alias("shared_mass_b"),
        F.round(js, 9).alias("js_nats"),
        F.round(js / ln2, 9).alias("js_bits"),
    ).orderBy("source_a", "source_b")


TEXTRANK_MIN_WORD_LEN = 3
TEXTRANK_MIN_PAIR_DOCS = 2
TEXTRANK_TOPK = 20


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — nodes are words, an
    undirected edge links words that appear ADJACENT in some document
    — so a word ranks high when it co-occurs with other high-ranking
    words, not merely when it is frequent (the property tf/tfidf
    rankings lack). Returns the top-20 (word, tr) keywords.

    Graph hygiene bounds the node/edge sets: words shorter than 3
    chars drop (the stopword proxy when no POS tagger is in scope)
    and an edge must co-occur in ≥ 2 DISTINCT documents (noise-edge
    pruning) — so edges are bounded by recurring bigram diversity,
    never fact size. Rank iteration is the shared quantized
    ``pagerank`` kernel (graph.py): decimal-quantized contributions,
    3 fixed passes — the same cross-engine-exact seam that made
    supplier_influence_rank oracle-pairable; the oracle unrolls the
    identical three rounds in SQL.

    Shape: one bigram explode → distinct (doc, pair) → pair-df
    aggregate builds the edge list; after that every structure is
    graph-sized (see pagerank's zero-edge-reshuffle contract).

    Reference analog: none — extension surface (text-analysis
    family).
    """
    from .graph import pagerank

    d = table(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(bigrams(F.col("text"))).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    ok = (
        (F.length("w1") >= TEXTRANK_MIN_WORD_LEN)
        & (F.length("w2") >= TEXTRANK_MIN_WORD_LEN)
        & (F.col("w1") != F.col("w2"))
    )
    canon = bg.where(ok).select(
        "doc_id",
        F.least("w1", "w2").alias("u"),
        F.greatest("w1", "w2").alias("v"),
    )
    # r9: materialized ONCE — un-checkpointed, the explode + distinct +
    # pair-df aggregate was evaluated four times (symmetrizing union x
    # pagerank's outdeg aggregate over it); the edge set is bounded by
    # recurring bigram diversity, so the barrier is graph-sized
    pairs = (
        canon.distinct()
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
        .where(F.col("pair_docs") >= TEXTRANK_MIN_PAIR_DOCS)
        .select("u", "v")
        .localCheckpoint()
    )
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return (
        pagerank(edges)
        .select(F.col("node").alias("word"), F.col("rank").alias("tr"))
        .orderBy(F.desc("tr"), F.asc("word"))
        .limit(TEXTRANK_TOPK)
    )


BURSTINESS_TOP_TERMS = 30


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness of the corpus's top-30 terms: the
    variance-to-mean ratio (VMR) of per-document term counts over the
    WHOLE corpus (absent docs count 0). A Poisson-scattered term has
    VMR ≈ 1; content words BURST (appear many times in few documents,
    VMR ≫ 1) while function words spread evenly — the classic IR
    statistic separating topical terms from glue, and the reason
    df-based weights beat raw tf. Returns (term, tf, df, mean_count,
    vmr, df_ratio) for the top-30 terms by tf.

    The zero-fill is ALGEBRAIC: with Σc and Σc² from the posting
    rows alone and N the corpus size, mean = Σc/N and VMR =
    (Σc² − (Σc)²/N) / (N·mean) — absent-document zeros contribute
    nothing to either sum, so no per-(doc, term) grid materializes.
    Exact integers until the two closing divisions.

    Shape: one (doc, term) count exchange, a term rollup, one
    broadcast top-k cut.
    """
    d = table(spark, sf_dir, "documents")
    nrow = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.col("term") != "")
    per_doc = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    top = stats.orderBy(F.desc("tf"), F.asc("term")).limit(
        BURSTINESS_TOP_TERMS
    )
    j = top.crossJoin(F.broadcast(nrow))
    n = F.col("n_docs").cast("double")
    tf = F.col("tf").cast("double")
    s2 = F.col("s2").cast("double")
    mean = tf / n
    var = (s2 - tf * tf / n) / n
    return j.select(
        "term",
        "tf",
        "df",
        F.round(mean, 9).alias("mean_count"),
        F.round(var / mean, 9).alias("vmr"),
        F.round(F.col("df").cast("double") / n, 9).alias("df_ratio"),
    ).orderBy(F.desc("tf"), F.asc("term"))


PRF_DOCS = 3
PRF_TERMS = 5
PRF_WEIGHT = 0.5


def bm25_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio/RM1-lite): run
    the base BM25 query, harvest the top-5 non-query terms from the
    top-3 documents, and re-score the corpus with the expanded query
    (expansion terms at half weight) — the classic recall lever for
    vocabulary-mismatch: documents about the query's TOPIC that never
    use the query's exact words. Completes the retrieval family next
    to bm25_search (lexical), query_likelihood_search (LM),
    rrf_fusion_search (hybrid), retrieval_ndcg_eval (judge). Returns
    the top-10 (doc_id, base_bm25, prf_score).

    Determinism: the feedback-doc and expansion-term cuts break ties
    on (score desc, id asc) / (tf desc, term asc); per-term weighted
    scores quantize at 9 dp into decimals before the order-free sum
    (the bm25 seam); one 6-dp rounding at the output.

    Shape: the token explode feeds ONE checkpointed (doc, word) tf
    pipeline consumed by both passes; df and the (N, avgdl) stats
    broadcast; the expansion term table is ≤ 8 rows and broadcasts
    into the second tf filter — both passes stay |terms|-bounded
    after the per-doc aggregate, exactly like the base operator.
    """
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("word")
    ).where(F.col("word") != "")
    # one fact-sized (doc, word) tf table shared by every consumer
    wf = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    # doc-grain lengths materialized once (r9): doclen feeds BOTH
    # score() passes and the stats reduce — un-checkpointed, each of
    # those three consumers re-aggregated the fact-sized wf table
    doclen = (
        wf.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    n = F.col("n_docs").cast("double")
    avgdl = F.col("total_len").cast("double") / n
    idf = F.log(
        (n - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    term_score = idf * (
        tfd
        * (BM25_K1 + 1.0)
        / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / avgdl))
    )

    def score(weights: DataFrame) -> DataFrame:
        tf = wf.join(F.broadcast(weights), "word")
        df_tbl = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        return (
            tf.join(doclen, "doc_id")
            .join(F.broadcast(df_tbl), "word")
            .join(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(
                        F.round(term_score * F.col("w"), 9).cast(
                            "decimal(18,9)"
                        )
                    ).cast("double"),
                    6,
                ).alias("s")
            )
        )

    base_w = spark.createDataFrame(
        [(t, 1.0) for t in BM25_QUERY_TERMS], "word string, w double"
    )
    base = score(base_w).localCheckpoint(eager=True)
    top_docs = (
        base.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(PRF_DOCS)
        .select("doc_id")
    )
    expansion = (
        wf.join(F.broadcast(top_docs), "doc_id")
        .where(~F.col("word").isin(BM25_QUERY_TERMS))
        .where(F.length("word") >= 3)
        .groupBy("word")
        .agg(F.sum("tf").alias("fb_tf"))
        .orderBy(F.desc("fb_tf"), F.asc("word"))
        .limit(PRF_TERMS)
        .select("word", F.lit(PRF_WEIGHT).alias("w"))
    )
    expanded = score(base_w.unionByName(expansion))
    return (
        expanded.join(
            base.select("doc_id", F.col("s").alias("base_bm25")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("base_bm25", F.lit(0.0)).alias("base_bm25"),
            F.col("s").alias("prf_score"),
        )
        .orderBy(F.desc("prf_score"), F.asc("doc_id"))
        .limit(10)
    )


MAHAL_CHI2_99_2DF = 9.21034  # chi-square 0.99 quantile, 2 df


def doc_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate document-outlier screen: Mahalanobis distance of
    each document in the (token count, mean word length) plane,
    flagging d² above the χ²₂(0.99) cutoff — catches the docs that
    are individually unremarkable on EACH axis but jointly absurd
    (4000 tokens averaging 1.2 chars = tag soup), which the
    per-feature z/MAD screens structurally cannot see (covariance is
    the whole point). Returns flagged docs: (doc_id, n_tokens,
    mean_wlen, d2).

    Determinism: both features derive from exact integers (token
    count; chars/tokens one IEEE division); the five moments
    quantize into DECIMAL(38,6) before order-free sums; the 2×2
    covariance inversion and the per-doc quadratic form are fixed
    double dags; d² rounds at 6 dp before the cutoff compare.

    Shape: one scan computes both features (token_count is a codegen
    expression, no explode); one single-row moment reduce broadcasts
    back; the flag pass is scan-bound.
    """
    d = table(spark, sf_dir, "documents")
    nchars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    feats = d.select(
        "doc_id",
        token_count("text").alias("x1"),
        (nchars.cast("double") / token_count("text").cast("double")).alias(
            "x2"
        ),
    ).where(F.col("x1") > 0).localCheckpoint(eager=True)
    q = lambda c: F.sum(c.cast("decimal(38,6)"))  # noqa: E731
    x1d = F.col("x1").cast("double")
    m = feats.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        q(x1d).alias("s1"),
        q(F.col("x2")).alias("s2"),
        q(x1d * x1d).alias("s11"),
        q(F.col("x2") * F.col("x2")).alias("s22"),
        q(x1d * F.col("x2")).alias("s12"),
    )
    n = F.col("n").cast("double")
    mu1 = F.col("s1").cast("double") / n
    mu2 = F.col("s2").cast("double") / n
    v11 = F.col("s11").cast("double") / n - mu1 * mu1
    v22 = F.col("s22").cast("double") / n - mu2 * mu2
    v12 = F.col("s12").cast("double") / n - mu1 * mu2
    det = v11 * v22 - v12 * v12
    stats = m.select(
        mu1.alias("mu1"), mu2.alias("mu2"),
        v11.alias("v11"), v22.alias("v22"), v12.alias("v12"),
        det.alias("det"),
    )
    dx1 = F.col("x1").cast("double") - F.col("mu1")
    dx2 = F.col("x2") - F.col("mu2")
    d2 = F.round(
        (
            F.col("v22") * dx1 * dx1
            - F.lit(2.0) * F.col("v12") * dx1 * dx2
            + F.col("v11") * dx2 * dx2
        )
        / F.col("det"),
        6,
    )
    return (
        feats.crossJoin(F.broadcast(stats))
        .where(F.col("det") > 0)
        .select(
            "doc_id",
            F.col("x1").alias("n_tokens"),
            F.col("x2").alias("mean_wlen"),
            d2.alias("d2"),
        )
        .where(F.col("d2") > MAHAL_CHI2_99_2DF)
        .orderBy("doc_id")
    )


G2_TOP = 20


def collocations_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood (G²) collocation ranking of adjacent
    word pairs — the classic fix for PMI's rare-pair pathology: PMI
    maximizes on hapax pairs (1/1/1 counts), G² demands EVIDENCE, so
    the top of this list is the corpus's real multiword units.
    Returns the top-20 bigrams: (w1, w2, n_pair, n_w1, n_w2, g2).

    G² = 2·Σ_cells O·ln(O/E) over the 2×2 contingency of (first
    word = w1) × (second word = w2) among all bigram slots; zero
    cells contribute zero (lim x→0 x·ln x). Determinism: counts are
    exact BIGINTs; each cell's O·ln(O/E) quantizes at 9 dp into
    DECIMAL(28,9) and the 4-term sum is a fixed dag (the
    token_entropy natural-log seam).

    Shape: one bigram explode → pair counts (the only fact
    exchange); the two marginal tables re-aggregate pair counts and
    broadcast back; top-k is TakeOrderedAndProject.
    """
    d = table(spark, sf_dir, "documents")
    bg = d.select(F.explode(bigrams(F.col("text"))).alias("b")).select(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).where((F.col("w1") != "") & (F.col("w2") != ""))
    pair = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n11")
    ).localCheckpoint(eager=True)
    m1 = pair.groupBy("w1").agg(F.sum("n11").alias("n1p"))
    m2 = pair.groupBy("w2").agg(F.sum("n11").alias("np1"))
    tot = pair.groupBy().agg(F.sum("n11").alias("npp"))
    j = (
        pair.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .join(F.broadcast(tot))
    )
    n11 = F.col("n11").cast("double")
    n1p = F.col("n1p").cast("double")
    np1 = F.col("np1").cast("double")
    npp = F.col("npp").cast("double")
    n12 = n1p - n11
    n21 = np1 - n11
    n22 = npp - n1p - n21

    def cell(o, e):
        t = F.when(o > 0, F.round(o * F.log(o / e), 9)).otherwise(
            F.lit(0.0)
        )
        return t.cast("decimal(28,9)")

    e11 = n1p * np1 / npp
    e12 = n1p * (npp - np1) / npp
    e21 = (npp - n1p) * np1 / npp
    e22 = (npp - n1p) * (npp - np1) / npp
    g2 = (
        F.lit(2.0)
        * (cell(n11, e11) + cell(n12, e12) + cell(n21, e21)
           + cell(n22, e22)).cast("double")
    )
    return (
        j.select(
            "w1", "w2", "n11",
            F.col("n1p").cast("long").alias("n_w1"),
            F.col("np1").cast("long").alias("n_w2"),
            F.round(g2, 6).alias("g2"),
        )
        .withColumnRenamed("n11", "n_pair")
        .orderBy(F.desc("g2"), F.asc("w1"), F.asc("w2"))
        .limit(G2_TOP)
    )


def yule_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source: 10⁴·(Σ_m m²·V_m − N)/N²
    over the frequency spectrum (V_m = number of word types occurring
    exactly m times) — the classic repeat-rate measure of lexical
    richness that, unlike raw type/token ratio, is (asymptotically)
    LENGTH-INVARIANT, so sources of different sizes compare fairly;
    complements heaps_law_fit (growth curve) and
    token_entropy_by_source (distributional spread) with the
    repetition-concentration view. Returns per source: (source,
    n_tokens, n_types, yule_k).

    Determinism: V_m and Σ m²·V_m are exact integers (Σ m²·V_m =
    Σ_types tf², one aggregate over the type table — the spectrum
    never materializes); the closing K is one fixed double dag.

    Shape: one (source, word) count exchange; the spectrum identity
    makes the second pass a source-grain rollup of tf² — no extra
    fan-out.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    ).where(F.col("w") != "")
    tf = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("tf"))
    agg = tf.groupBy("source").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("tf") * F.col("tf")).alias("s2"),
    )
    n = F.col("n_tokens").cast("double")
    k = F.lit(10000.0) * (F.col("s2").cast("double") - n) / (n * n)
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(k, 9).alias("yule_k"),
    ).orderBy("source")
