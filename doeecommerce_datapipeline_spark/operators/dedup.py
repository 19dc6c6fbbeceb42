"""Deduplication operators for training-data pipelines (north star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design:
- Exact dedup: hash-groupBy on a content fingerprint — one shuffle on
  the 128-bit key, perfectly balanced.
- MinHash LSH: shingle → k minhashes → b bands; candidate pairs only
  form inside (band, band_hash) buckets, so the self-join is bucket-
  local — never an O(n²) cross join. At 100 TB tune (k, b) for the
  recall/bucket-size tradeoff and salt any pathological bucket.
- SimHash: 64-bit signature via per-token hash bit-voting; near-dups
  are signatures within small Hamming distance, found by pigeonhole
  banding (same idea as LSH bands).
- All hashing is xxhash64 (deterministic, seedable, JVM built-in).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens, word_shingles
from ..functions.vectors import dot, norm
from ..io import table
from ..pipelines.fanout import each_table

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # bands of 4 rows each


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group documents by content fingerprint; emit one
    row per content group with the representative (min doc_id) and the
    duplicate count. groups with dup_count>1 are the removable mass."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id + MinHash signature columns for a text column.

    Explode formulation: shingles are computed ONCE per document, then
    each (doc, shingle) row contributes k seeded hashes and a map-side
    partial MIN folds them before the shuffle — the wire carries only
    #docs × k longs. (A per-row `transform` per seed re-evaluates the
    shingle expression k times — measured 10× slower.)
    """
    # small-file scans arrive as ONE input partition; repartition before
    # the explode so shingling/hashing uses every core (docs are tiny
    # rows — the shuffle is negligible next to 32× parallelism)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    sh = df.repartition(n_part).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col))).alias("shingle")
    )
    hashed = sh.select(
        id_col,
        *[
            F.xxhash64(F.concat(F.lit(f"{j}|"), F.col("shingle"))).alias(f"h_{j}")
            for j in range(MINHASH_K)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h_{j}").alias(f"mh_{j}") for j in range(MINHASH_K)]
    )


def minhash_band_rows(sigs: DataFrame, id_col: str) -> DataFrame:
    """Signatures → (id, band, band_hash): one row per LSH band, the
    unit the bucket join shuffles on (shared by the batch near-dup
    pairing and the incremental index)."""
    rows_per_band = MINHASH_K // LSH_BANDS
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"mh_{j}")
                                for j in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.band_hash")


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, jaccard_threshold: float = 0.5
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified with
    the exact signature-estimated Jaccard.

    Plan shape: signatures (narrow) → explode to b band rows → shuffle
    on (band, band_hash) → bucket-local self-join → estimate filter.

    Signatures are materialized (localCheckpoint) before fan-out:
    Spark shares no subtrees across a self-join, so without the
    barrier the whole explode+hash+min pipeline runs once per branch —
    measured 4 evaluations (both join sides + both verify lookups).
    At cluster scale the same barrier is a persist/checkpoint of
    #docs × k longs, tiny next to recomputing the corpus scan.
    """
    sigs = minhash_signatures(df, id_col, text_col).localCheckpoint()
    band_rows = minhash_band_rows(sigs, id_col)

    left = band_rows.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = band_rows.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    # dedupe candidate id-pairs FIRST — shuffling/distinct-ing bare id
    # pairs is far cheaper than dragging two k-long signature arrays
    # through the self-join; signatures re-attach via broadcast lookups
    pairs = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_arr = sigs.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{j}") for j in range(MINHASH_K)]).alias("sig"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / MINHASH_K
    )
    return (
        pairs.join(
            F.broadcast(sig_arr.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sig_arr.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))),
            "id_b",
        )
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= jaccard_threshold)
    )


def minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs over documents (rows-only
    correctness check: hash seeds are engine-specific, so no SQL twin —
    planted-duplicate unit tests assert recall instead)."""
    d = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", jaccard_threshold=0.5)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, each bit votes ±1 weighted by
    term frequency; signature bit b is 1 iff the vote sum is positive.

    SWAR bit-slicing: ``(h >> j) & 0x0000000100000001`` packs the
    per-token indicator of bits j and j+32 into one long (counter lanes
    at positions 0 and 32), so the whole 64-bit vote needs 32 plain
    arithmetic SUMs instead of 64 conditional ones — half the aggregate
    buffers and no branches in the codegen'd update path (the 64-way
    conditional-SUM formulation measured 7.9 s at sf0.1; this one ~4×
    less aggregate work). Lanes can't carry into each other below 2^32
    tokens per document. Bit b is then set iff 2·count(b) > n_tokens —
    exactly the old ±1-vote sign, so signatures are bit-identical.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(n_part)
        .select(
            F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
        )
        .select(id_col, F.xxhash64("tok").alias("h"))
    )
    pack = F.lit((1 << 32) | 1)
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright("h", j).bitwiseAND(pack)).alias(f"acc_{j}")
            for j in range(32)
        ],
    )

    def bit_count_col(b: int):
        acc = F.col(f"acc_{b % 32}")
        if b >= 32:
            return F.shiftright(acc, 32)  # acc >= 0, arithmetic shift safe
        return acc.bitwiseAND(F.lit(0xFFFFFFFF))

    # assembly: shiftleft(boolean-as-long) terms combined by a BALANCED
    # add tree. The when-per-bit left-deep OR chain this replaces built
    # a depth-64 expression whose analyze/codegen walk dominated the
    # whole query (measured 2.9 s vs 1.5 s at sf0.1 — the agg itself is
    # ~0.7 s); bits are disjoint so add == or, and the bit rule
    # (2·count > n_tok) is unchanged → signatures stay bit-identical.
    terms = [
        F.shiftleft((bit_count_col(b) * 2 > F.col("n_tok")).cast("long"), b)
        for b in range(64)
    ]
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return votes.select(F.col(id_col), terms[0].alias("simhash"))


def simhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole on 4 16-bit chunks (Hamming
    distance ≤3 guarantees ≥1 identical chunk), verify with exact
    popcount of the XOR. rows-only check (hash-seed-specific).

    Signatures are materialized (localCheckpoint) before the chunk
    self-join — without the barrier the 33-aggregate vote pipeline
    runs once per join side (Spark shares no subtrees across a
    self-join)."""
    d = table(spark, sf_dir, "documents")
    sigs = simhash_signatures(d, "doc_id", "text").localCheckpoint()
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.chunk_val")
    left = chunks.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "chunk", "chunk_val"
    )
    right = chunks.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "chunk", "chunk_val"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, ["chunk", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= 3)
        .distinct()
    )


NGRAM_DF_CAP = 50  # stop-shingle rule: drop shingles in > this many docs


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, oracle-checkable.

    Inverted-index formulation: explode distinct shingles, self-join on
    shingle (pairs only materialize where they share one), count
    intersections, Jaccard = |∩| / (|A|+|B|-|∩|). Bounded to documents
    with doc_id < 1000 so the pair space stays small at every SF — the
    LSH variants above are the scale path.

    Hot-shingle guard: a shingle present in d documents contributes
    O(d²) join rows, so one stop-shingle in 10% of the corpus makes the
    inverted-index join quadratic on that key. Standard fix is a
    document-frequency cap — shingles with df > NGRAM_DF_CAP are
    dropped from BOTH the index and the per-doc sizes (the oracle SQL
    applies the identical rule). The hot set is tiny, so it anti-joins
    as a broadcast.
    """
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    return jaccard_pairs_over(d)


def jaccard_pairs_over(
    d: DataFrame, df_cap: int = NGRAM_DF_CAP, threshold: float = 0.2
) -> DataFrame:
    """Inverted-index Jaccard over a (doc_id, text) DataFrame — the
    engine behind ngram_jaccard_pairs, exposed for unit tests on
    synthetic/skewed corpora."""
    sh = d.repartition(d.sparkSession.sparkContext.defaultParallelism).select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle")
    )
    # evaluate-once for the shingle stream: the raw stream feeds the
    # hot-set build AND the anti-join application side, and the
    # filtered stream feeds THREE more consumers (sizes + both pair
    # sides) — Spark shares no subtrees across join branches, so the
    # un-materialized explode ran up to 6x per evaluation (r9; the
    # tfidf_cosine_pairs barrier lesson). r10: LAZY persist instead of
    # two eager localCheckpoints — each cache fills on first use
    # inside the consumer's ONE job (no driver-blocking build jobs,
    # no non-AQE Dataset.rdd materialization pass; the LPA lesson).
    # At 100 TB the bounded-scope contract (callers cap the doc
    # window) keeps both caches small.
    sh = sh.persist()
    # word_shingles is distinct-per-doc, so df == row count per shingle
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti").persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, oracle-checkable at test SFs.

    Brute-force within a bounded id window (vec_id < 500) — the LSH
    bucketed variant in similarity.py is the 100 TB path. Threshold
    0.4 sits at ~p99.9 of the testdata's cosine distribution.
    """
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    # norms precomputed per ROW (not per pair), with a repartition
    # barrier so CollapseProject can't inline the fold back into the
    # pair stage — and so the nested-loop join parallelizes instead of
    # running in the scan's single input partition (measured 6×)
    n_part = spark.sparkContext.defaultParallelism
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        norm("embedding").alias("norm_a"),
    ).repartition(n_part)
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        norm("embedding").alias("norm_b"),
    ).repartition(n_part)
    cos = F.when(
        (F.col("norm_a") > 0) & (F.col("norm_b") > 0),
        dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= 0.4)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Min-label propagation to FIX-POINT over an undirected graph.

    ``nodes`` has one ``doc_id`` column; ``edges`` has (src, dst) and
    must already contain both directions. Labels start as each node's
    own id; each round every node takes the min label over itself and
    its direct neighbors, and the loop stops the first round that
    changes nothing — so components of ANY diameter converge (a fixed
    round count silently splits components whose radius from their
    min-id node exceeds it; e.g. chain-shaped near-dup clusters).

    Iterative-algorithm mechanics: labels are localCheckpointed every
    round (lazy iteration re-evaluates the whole prior-round subtree —
    measured 64 document scans for 3 rounds — and optimizer rewrites
    make per-round subtrees non-identical, so ReusedExchange can't save
    it). The convergence probe is a LIMIT-1 count over the
    just-checkpointed round, so it reads materialized blocks, not the
    lineage. ``max_rounds`` is a runaway guard; hitting it raises
    rather than returning silently-wrong labels. At 100 TB swap
    localCheckpoint for reliable checkpoint() and consider
    small-star/large-star (same join primitive, provably O(log n)
    rounds on skewed graphs). NOTE (r10): a per-round persist was
    tried instead of the checkpoint and REVERTED — labels feed two
    branches per round, so without lineage truncation the logical
    plan DOUBLES per round (2^rounds analysis blow-up on
    high-diameter fix-point graphs); the barrier is load-bearing in
    to-fix-point loops, unlike the fixed-3-round LPA.
    """
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("component")
    ).localCheckpoint()
    comp_type = labels.schema["component"].dataType
    for _ in range(max_rounds):
        # one round = one broadcast of the node-grain label table into
        # the edge join (edges stream map-side, no edge exchange) plus
        # ONE min-aggregate over (neighbor candidates ∪ self) — the
        # r9 rewrite of the former join→agg→join-back shape (3+
        # exchanges/round → 1) with identical labels: min over
        # {self} ∪ {neighbor labels}. `old` rides the self branch
        # (exactly one row per node, so max() recovers it), and
        # changed-detection needs no join-back either. The broadcast
        # is justified by the helper's bounded-scope contract (callers
        # cap the node window; the star variant below is the
        # unbounded-scale path).
        nbr_cand = edges.join(
            F.broadcast(
                labels.select(
                    F.col("doc_id").alias("_nb"),
                    F.col("component").alias("_nb_comp"),
                )
            ),
            F.col("dst") == F.col("_nb"),
        ).select(
            F.col("src").alias("doc_id"),
            F.col("_nb_comp").alias("cand"),
            F.lit(None).cast(comp_type).alias("old"),
        )
        self_cand = labels.select(
            "doc_id",
            F.col("component").alias("cand"),
            F.col("component").alias("old"),
        )
        stepped = (
            nbr_cand.unionByName(self_cand)
            .groupBy("doc_id")
            .agg(
                F.min("cand").alias("component"),
                F.max("old").alias("old"),
            )
            .select(
                "doc_id",
                "component",
                (F.col("component") < F.col("old")).alias("_changed"),
            )
            .localCheckpoint()
        )
        labels = stepped.select("doc_id", "component")
        if stepped.where(F.col("_changed")).limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (lo < hi) form, self-loops
    dropped, deduplicated."""
    lo = F.least("src", "dst")
    hi = F.greatest("src", "dst")
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(lo.alias("lo"), hi.alias("hi"))
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """Large-star: every node u links its STRICTLY LARGER neighbors to
    m(u) = min(N(u) ∪ {u}). One groupBy + one re-join, both on the
    node key."""
    bi = canon.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).unionByName(canon.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    m = bi.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("u", "mn").alias("m"))
    return (
        bi.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("src"), F.col("v").alias("dst"))
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """Small-star: every node hi links its smaller neighbors (and
    itself) to the minimum of those neighbors."""
    m = canon.groupBy("hi").agg(F.min("lo").alias("m"))
    j = canon.join(m, "hi")
    to_min = j.where(F.col("lo") != F.col("m")).select(
        F.col("m").alias("src"), F.col("lo").alias("dst")
    )
    hub = m.select(F.col("m").alias("src"), F.col("hi").alias("dst"))
    return to_min.unionByName(hub)


def _alternating_star_cc(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Small-star/large-star connected components (the O(log n)-round
    MapReduce CC of Kiveris et al., "Connected Components in MapReduce
    and Beyond"): alternate large-star and small-star edge rewrites
    until the edge set stops changing, at which point every component
    is a star centered on its minimum node id.

    vs the fix-point min-label loop (``connected_components``): label
    propagation needs diameter-many rounds — a 1M-node chain-shaped
    near-dup cluster is 1M shuffles — while the star rewrites halve
    long paths, so rounds are logarithmic in component size and each
    round is the same join primitive on the (deduplicated) edge set,
    which SHRINKS toward one edge per non-root node. Skewed graphs
    (one giant component) are exactly where this matters.

    Same iterative-algorithm mechanics as the fix-point loop: the edge
    set is localCheckpointed every round (at 100 TB: reliable
    checkpoint()), and the convergence probe (edge set unchanged:
    equal count + empty one-sided difference) runs on materialized
    blocks. Raises if max_rounds is hit. (r10: per-round persist
    tried and reverted — see connected_components; the star rewrite
    consumes canon in multiple branches per round, same 2^rounds
    logical-plan blow-up without the barrier.)
    """
    canon = _canon_edges(edges).localCheckpoint()
    n_edges = canon.count()
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        stepped = _canon_edges(
            _small_star(_canon_edges(_large_star(canon)))
        ).localCheckpoint()
        n_stepped = stepped.count()
        if n_stepped == n_edges and (
            stepped.exceptAll(canon).limit(1).count() == 0
        ):
            canon = stepped
            break
        canon, n_edges = stepped, n_stepped
    else:
        raise RuntimeError(
            f"star CC did not converge in {max_rounds} rounds"
        )
    # converged: every edge is (component_min, member)
    member_label = canon.select(
        F.col("hi").alias("doc_id"), F.col("lo").alias("component")
    )
    labels = (
        nodes.join(member_label, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    return labels, rounds


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Drop-in alternative to ``connected_components`` with O(log n)
    rounds on high-diameter/skewed graphs; identical labels (each
    node → its component's min id)."""
    labels, _ = _alternating_star_cc(nodes, edges, max_rounds)
    return labels


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_components`` computed by the small-star/large-star
    rewrite instead of fix-point label propagation — deterministic and
    label-identical, so it shares the same recursive-CTE oracle."""
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    nodes = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 1000)
        .select("doc_id")
    )
    return connected_components_star(nodes, edges)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the deterministic
    n-gram Jaccard pair graph — the step after pair generation that a
    training-data pipeline uses to keep ONE canonical doc per duplicate
    cluster (the cluster's min doc_id).

    Runs min-label propagation to fix-point (see connected_components);
    the edge list is materialized ONCE via localCheckpoint before the
    loop so pair generation runs exactly once.
    """
    # materialize the pair build once: the mirror union otherwise
    # evaluates the whole jaccard subtree per branch (r9; the
    # supplier_influence_rank pair-build lesson), and the eager
    # barrier keeps the jaccard subtree OUT of every CC round's plan.
    pairs = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 1000)
        .select("doc_id")
    )
    return connected_components(nodes, edges)


def near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL product: the corpus with every
    near-dup cluster collapsed to its canonical member
    (doc_id, source, cluster_size).

    Composes pair generation → connected components → representative
    selection. Min-label propagation converges each component to its
    minimum doc_id, so the canonical row is exactly ``doc_id ==
    component`` — no extra ranking pass. ``cluster_size`` (1 for
    unique docs) is what survives for mixture re-weighting: dropping
    N−1 copies changes the source distribution, and samplers downstream
    need to know by how much.
    """
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 1000)
        .select("doc_id", "source")
    )
    return (
        comp.where(F.col("doc_id") == F.col("component"))
        .join(sizes, "component")
        .join(docs, "doc_id")
        .select("doc_id", "source", "cluster_size")
    )


def levenshtein_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the character-level modality the
    shingle/hash families miss (transposed words, small in-place edits).

    Scale levers: a length-difference prefilter inside the join
    condition (|len_a − len_b| ≤ t is necessary for distance ≤ t) keeps
    most pairs from ever running the DP, and Spark's thresholded
    ``levenshtein(l, r, t)`` early-exits at O(len × t) instead of
    O(len²). Bounded to doc_id < 200 like the other exact-pair ops —
    LSH banding is the 100 TB candidate-generation path.
    """
    t = 25
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "text", F.length("text").alias("ln"))
    )
    n_part = spark.sparkContext.defaultParallelism
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("ln").alias("ln_a"),
    ).repartition(n_part)
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("ln").alias("ln_b"),
    )
    return (
        a.join(
            b,
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("ln_a") - F.col("ln_b")) <= t),
        )
        .withColumn("edit_dist", F.levenshtein("text_a", "text_b", t))
        .where(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )


INCR_BATCH_MOD = 5


def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup: a new ingest batch deduplicated against
    the fingerprints of the already-accepted corpus — the shape every
    continuously-crawled training corpus needs (full-corpus re-dedup
    per ingest is O(corpus), this is O(batch) + one semi-join against
    the fingerprint table).

    The batch is the doc_id % INCR_BATCH_MOD == 0 slice; the base is
    everything else (a deterministic stand-in for 'previous ingests').
    A batch doc is kept iff (a) its content fingerprint is absent from
    the base fingerprint set (broadcast/shuffle anti-join over DISTINCT
    fingerprints, never doc rows) and (b) it is the first occurrence of
    that fingerprint WITHIN the batch (min doc_id — the same
    first-wins rule as exact_dedup_groups). At scale the base
    fingerprint set lives as its own compact table (see
    tests/test_dedup.py for the ManifestTable-backed pipeline variant
    that appends the survivors' fingerprints back).
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint("text").alias("fp")
    )
    is_batch = F.pmod("doc_id", F.lit(INCR_BATCH_MOD)) == 0
    base_fps = d.where(~is_batch).select("fp").distinct()
    batch = d.where(is_batch)
    novel = batch.join(base_fps, "fp", "left_anti")
    return (
        novel.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )


def incremental_dedup_pipeline(
    spark: SparkSession,
    batch: DataFrame,
    fp_table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stateful version: dedup ``batch`` against the ACID fingerprint
    table at ``fp_table_path``, then append the survivors' fingerprints
    in the same call so the next ingest sees them. Returns the kept
    rows. First ingest bootstraps the table."""
    from ..sinks.manifest_store import ManifestTable

    fps = batch.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    )
    first_in_batch = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    t = ManifestTable(spark, fp_table_path)
    try:
        seen = t.read().select("fp").distinct()
        kept_ids = first_in_batch.join(seen, "fp", "left_anti")
    except FileNotFoundError:
        kept_ids = first_in_batch
    kept = batch.join(kept_ids.select(id_col), id_col, "left_semi")
    t.append(kept_ids.select("fp", id_col))
    return kept


def incremental_near_dup_pipeline(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH near-dedup: dedup an ingest batch
    against a persistent LSH index instead of re-pairing the whole
    corpus — near-dup ingest at O(batch) cost, the companion of
    ``incremental_dedup_pipeline`` (which is exact-only).

    The index is two ACID manifest tables under ``index_path``:
    ``<path>/sigs`` (id, mh_0..mh_k) and ``<path>/bands``
    (id, band, band_hash). Per ingest:

    1. batch signatures + band rows (one corpus-scale pass, the rest
       runs on signature-sized data);
    2. batch→index candidates: band-bucket equi-join against the
       stored band table — only colliding buckets shuffle, the classic
       LSH join;
    3. batch-internal candidates: band self-join (smaller-id wins);
    4. both candidate sets verify on signature-estimated Jaccard
       (broadcast signature lookups — candidates ≪ batch);
    5. survivors' signatures and band rows append to the index in two
       atomic commits, so the next ingest sees them.

    Returns the kept batch rows. Drop rule: a batch doc is dropped iff
    it verifies ≥ threshold against ANY indexed doc or against a
    SMALLER-id batch survivor candidate (first-wins, matching
    exact_dedup_groups / incremental_dedup_pipeline).
    """
    from ..sinks.manifest_store import ManifestTable

    sigs = minhash_signatures(batch, id_col, text_col).localCheckpoint()
    bands = minhash_band_rows(sigs, id_col)
    sig_arr = sigs.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{j}") for j in range(MINHASH_K)]).alias("sig"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / MINHASH_K
    )

    sig_t = ManifestTable(spark, f"{index_path}/sigs")
    band_t = ManifestTable(spark, f"{index_path}/bands")
    drop_ids = None
    try:
        idx_bands = band_t.read()
        idx_sigs = sig_t.read().select(
            F.col(id_col).alias("id_b"),
            F.array(*[F.col(f"mh_{j}") for j in range(MINHASH_K)]).alias(
                "sig_b"
            ),
        )
        cand_vs_idx = (
            bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
            .join(
                idx_bands.select(
                    F.col(id_col).alias("id_b"), "band", "band_hash"
                ),
                ["band", "band_hash"],
            )
            .select("id_a", "id_b")
            .distinct()
        )
        dup_vs_idx = (
            cand_vs_idx.join(
                F.broadcast(
                    sig_arr.select(
                        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")
                    )
                ),
                "id_a",
            )
            .join(idx_sigs, "id_b")
            .where(est >= jaccard_threshold)
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        drop_ids = dup_vs_idx
    except FileNotFoundError:
        pass  # first ingest bootstraps the index

    # batch-internal near-dups: smaller id wins (checked among docs
    # NOT already dropped against the index, so a doc can't be saved
    # by matching an already-dropped one)
    left = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    internal = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .join(
            F.broadcast(
                sig_arr.select(
                    F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sig_arr.select(
                    F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
                )
            ),
            "id_b",
        )
        .where(est >= jaccard_threshold)
        .select("id_a", "id_b")
    )
    if drop_ids is not None:
        # a pair's keeper must itself survive the index check
        internal = internal.join(
            drop_ids.select(F.col(id_col).alias("id_a")), "id_a", "left_anti"
        )
    internal_drops = internal.select(F.col("id_b").alias(id_col)).distinct()
    all_drops = (
        internal_drops
        if drop_ids is None
        else drop_ids.unionByName(internal_drops).distinct()
    ).localCheckpoint()

    kept = batch.join(all_drops, id_col, "left_anti")
    kept_sigs = sigs.join(all_drops, id_col, "left_anti")
    sig_t.append(kept_sigs)
    band_t.append(minhash_band_rows(kept_sigs, id_col))
    return kept


PPJOIN_TAU = 0.5  # exact-Jaccard threshold for the prefix-filtered join


def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (SSJoin /
    PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    every document pair with shingle-set Jaccard ≥ PPJOIN_TAU, with NO
    candidate loss. Complements ngram_jaccard_pairs, whose stop-
    shingle df-cap trades exactness for bounded bucket joins: here the
    pruning is the prefix filter, which is lossless — if J(a,b) ≥ t
    then under ANY global token order the first |x|−⌈t·|x|⌉+1 tokens
    of each side must overlap — so hot shingles fall out of candidate
    generation naturally (rare-first ordering puts them LAST, outside
    every prefix) instead of being dropped from the sets.

    Unlike ngram_jaccard_pairs there is no doc_id bound: the whole
    table joins at every SF. The candidate join touches only prefix
    rows (≈ (1−t)·set size per doc), and each equi-key's fan-out is
    bounded by how many docs share a RARE shingle. The oracle is the
    brute-force all-pairs join — i.e. the driver hash-check verifies
    the filter's losslessness on real data at every SF.
    """
    d = table(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(d)


def prefix_jaccard_pairs(d: DataFrame, tau: float = PPJOIN_TAU) -> DataFrame:
    """Core prefix-filtered exact Jaccard join over (doc_id, text).

    One shingle explode, checkpointed and reused three ways (df
    ordering, prefix rows, verification sets) — the subtree-sharing
    lesson from tfidf/boilerplate. Ordering is (df ASC, shingle): the
    canonical rare-first total order that minimizes prefix collisions.

    Candidate pruning beyond the prefix filter, both lossless:
    - length filter: J ≥ t ⇒ t·|a| ≤ |b| ≤ |a|/t (|∩| ≤ min, |∪| ≥ max);
    - positional filter (PPJoin): at a pair's FIRST common prefix
      token — ranks (ra, rb) in the rare-first order, no earlier
      common token — |∩| ≤ 1 + min(na−ra, nb−rb), so the pair needs
      1 + min(remaining) ≥ α = ⌈t·(na+nb)/(1+t)⌉. A pair survives if
      ANY matching row passes, and the first-common-token row always
      does for a qualifying pair — lossless. Together they cut
      candidates 3.3× at sf0.1 (409k → 125k for 256 true pairs).

    Verification recomputes exact |∩| via array_intersect on BROADCAST
    per-doc sets of xxhash64(shingle) longs — the sets table is #docs
    rows (≪ candidate pairs), long equality beats string equality in
    the intersect's per-row hash build, and no shuffle of the pair
    table happens at all. Hashing is safe here: a collision would need
    two distinct shingles of one candidate pair colliding in 64 bits
    (~10⁻¹¹ over all pairs at sf0.1); the DuckDB oracle intersects the
    raw strings, so the driver hash-check would catch one."""
    from pyspark.sql import Window

    sh = (
        d.repartition(d.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .localCheckpoint()
    )
    w_doc = Window.partitionBy("doc_id")
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    ranked = sh.withColumn("n_sh", F.count(F.lit(1)).over(w_doc)).withColumn(
        "rn", F.row_number().over(w_rank)
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(tau) * F.col("n_sh")) + F.lit(1)
    )
    pre = ranked.where(F.col("rn") <= prefix_len).select(
        "doc_id", "shingle", "rn", "n_sh"
    )
    a = pre.select(
        F.col("doc_id").alias("id_a"),
        "shingle",
        F.col("rn").alias("ra"),
        F.col("n_sh").alias("na"),
    )
    b = pre.select(
        F.col("doc_id").alias("id_b"),
        "shingle",
        F.col("rn").alias("rb"),
        F.col("n_sh").alias("nb"),
    )
    alpha = F.ceil(F.lit(tau) / F.lit(1.0 + tau) * (F.col("na") + F.col("nb")))
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    cand = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.col("nb") * F.lit(tau) <= F.col("na"))
            & (F.col("na") * F.lit(tau) <= F.col("nb"))
        )
        .where(ubound >= alpha)
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.collect_set(F.xxhash64("shingle")).alias("s"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    scored = (
        cand.join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("s").alias("sa"),
                    F.col("n_sh").alias("na"),
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("s").alias("sb"),
                    F.col("n_sh").alias("nb"),
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
            "na",
            "nb",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return scored.where(jac >= tau).select(
        "id_a", "id_b", "n_common", jac.alias("jaccard")
    )


FUZZY_EDIT_MAX = 5


def part_match_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over the part dimension: candidate
    duplicate products are pairs sharing a blocking key — (product
    type = second name token, brand) — whose full names sit within a
    small edit distance. The classic record-linkage shape: blocking
    turns the O(n²) all-pairs match into per-block quadratic work on
    bounded blocks.

    Scale levers: the self-join shuffles BOTH sides on the blocking
    key, so candidate generation is hash-partitioned and each block's
    pairs materialize on one executor; Spark's thresholded
    ``levenshtein(l, r, t)`` early-exits at O(len × t). A hot block
    (one dominant product type × brand) bounds the damage to that
    block; adding a third key component (e.g. size decile) is the
    block-splitting knob. Reference analog: none (the reference has no
    fuzzy matching); this is the dedup-family completion — token sets
    (n-gram Jaccard), hashes (minhash/simhash), characters
    (levenshtein_near_dups), and now keyed entity resolution.
    """
    # repartition the dimension before the self-join (the
    # jw_blocked_match lesson): the build side broadcasts, so the
    # million candidate pairs inherit the probe side's partitioning —
    # a one-split parquet scan would run every levenshtein on one core
    p = table(spark, sf_dir, "part").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("ptype"),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("ptype").alias("ptype_a"),
        F.col("p_brand").alias("brand_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("ptype").alias("ptype_b"),
        F.col("p_brand").alias("brand_b"),
    )
    return (
        a.join(
            b,
            (F.col("ptype_a") == F.col("ptype_b"))
            & (F.col("brand_a") == F.col("brand_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b", FUZZY_EDIT_MAX)
        )
        .where(F.col("edit_dist") >= 0)
        .select(
            "key_a",
            "key_b",
            F.col("brand_a").alias("brand"),
            F.col("ptype_a").alias("ptype"),
            "edit_dist",
        )
    )


CONTAINMENT_THRESHOLD = 0.5


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-SUBSET detection: n-gram containment
    C(A→B) = |A∩B| / |A| over the same df-capped shingle index as
    ngram_jaccard_pairs. Jaccard misses the clone-with-additions case
    — a short document wholly pasted into a much longer one scores
    |A|/|B| ≈ 0 Jaccard but 1.0 containment from the short side — and
    containment is the standard complement (Broder's resemblance vs
    containment split). Emits pairs where EITHER direction clears
    CONTAINMENT_THRESHOLD, with both directed scores.

    Plan shape is identical to the Jaccard join (inverted index +
    df-cap guard), so the same 100 TB posture applies: the hot-shingle
    cap bounds the per-key fan-out, sizes broadcast back, and the only
    wide exchange is shingle-keyed. Reference parity anchor: the
    reference dedups carts/orders by exact id only
    (database/layers/silver/transform_silver.py:27-29); containment is
    part of the near-dup extension family alongside MinHash/SimHash.
    """
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    sh = d.repartition(
        spark.sparkContext.defaultParallelism
    ).select("doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > NGRAM_DF_CAP)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c_ab = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("long").alias("n_common"),
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
        )
        .where(
            (F.col("containment_ab") >= CONTAINMENT_THRESHOLD)
            | (F.col("containment_ba") >= CONTAINMENT_THRESHOLD)
        )
    )


def canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the LONGEST document (n_chars desc, doc_id asc tiebreak)
    instead of the min-id member — the production dedup policy when
    duplicates differ by truncation and the fullest copy should
    survive. Returns one row per cluster:
    (component, canonical_doc_id, n_chars, cluster_size).

    Composes the deterministic component labels (min-label
    propagation over the Jaccard pair graph) with one ranking window
    PARTITIONED BY component — bounded partitions (cluster-sized), so
    the rank never needs a global sort. The recursive-CTE oracle
    re-derives the same labels and applies the same window.
    """
    from pyspark.sql import Window

    comp = dedup_components(spark, sf_dir)
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 1000)
        .select("doc_id", "n_chars")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup reporting: the cluster-size histogram of the near-dup
    component graph — (cluster_size, n_clusters, n_docs) — the number
    every dedup run publishes ("N docs in M clusters of size k") to
    show how much of the corpus near-duplication removes and whether
    one mega-cluster (a boilerplate flood) dominates.

    Built on dedup_components' labels; two counts-only aggs on the
    component table (docs-sized, not pairs-sized), so the histogram
    adds no fact-scale work beyond the clustering itself.
    """
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


JW_MIN = 0.9


def _jaro_winkler(a: str, b: str) -> float:
    """Classic Jaro-Winkler (match window ⌊max/2⌋-1, transpositions
    halved, Winkler boost p=0.1 over a ≤4-char common prefix applied
    only when jaro > 0.7) — semantics verified pairwise-identical (at
    the 6-dp seam) to DuckDB's jaro_winkler_similarity over ~10k real
    blocked part-name pairs, which is what makes the operator
    oracle-pairable."""
    la, lb = len(a), len(b)
    # emptiness first: DuckDB scores ('','') as 0, not 1 (caught by
    # the hypothesis fuzz vs the native engine)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    fa = [False] * la
    fb = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = i - window if i > window else 0
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not fb[j] and b[j] == ca:
                fa[i] = fb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if fa[i]:
            while not fb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro > 0.7:
        pl = 0
        for x, y in zip(a, b):
            if x == y and pl < 4:
                pl += 1
            else:
                break
        jaro = jaro + pl * 0.1 * (1.0 - jaro)
    return jaro


def jw_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy matching over the blocked part pairs — the
    typo-tolerant cousin of part_match_blocking (levenshtein counts
    edits; JW weights shared prefixes and adjacent transpositions the
    way product-name duplicates actually differ).

    Spark has no built-in JW, so the kernel is an Arrow-batched
    pandas_udf (zero row-at-a-time Python UDFs policy) over the
    blocked candidates — per-pair cost is O(len·window) on ≤block²
    candidates, never on the full n². The 6-dp rounding seam makes
    the score exactly comparable to an independent native
    implementation (DuckDB's), and the keep-threshold is applied to
    the ROUNDED value on both engines so the cut can't flip on
    sub-ulp float drift.
    """
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.functions import pandas_udf

    from ..pyfiles import ensure_shipped

    ensure_shipped(spark)

    @pandas_udf("double")
    def jw_udf(na, nb):
        import pandas as pd

        return pd.Series(
            [_jaro_winkler(x, y) for x, y in zip(na, nb)],
            dtype="float64",
        )

    # repartition the 20k-row DIMENSION before the self-join: the
    # block join broadcasts the build side, so the pairs inherit the
    # probe side's partitioning — a one-split parquet scan would
    # generate (and score) every pair on one core, and repartitioning
    # the million-row pair table AFTER the join shuffles 50x the bytes
    p = table(spark, sf_dir, "part").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias(
            "ptype"
        ),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("ptype").alias("ptype_a"),
        F.col("p_brand").alias("brand_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("ptype").alias("ptype_b"),
        F.col("p_brand").alias("brand_b"),
    )
    pairs = a.join(
        b,
        (F.col("ptype_a") == F.col("ptype_b"))
        & (F.col("brand_a") == F.col("brand_b"))
        & (F.col("key_a") < F.col("key_b")),
    )
    # sound pre-filter: jw >= 0.9 needs jaro >= (0.9-0.4)/0.6 = 0.833,
    # and jaro <= (m/la + m/lb + 1)/3 with m <= min(la,lb) forces
    # 2*min_len >= max_len — prune those pairs before the Python
    # kernel ever sees them (JVM-side, zero output change)
    la, lb = F.length("name_a"), F.length("name_b")
    pairs = pairs.where(F.least(la, lb) * 2 >= F.greatest(la, lb))
    # nondeterministic only to the optimizer: it keeps the filters on
    # jw above the projection that computes it, so the kernel runs once
    # per pair instead of once for the filter and again for the output
    jw = F.round(jw_udf.asNondeterministic()("name_a", "name_b"), 6)
    return (
        pairs.withColumn("jw", jw)
        .where(F.col("jw") >= JW_MIN)
        .where(F.col("jw") < 1.0)  # exact dups are exact_dedup's job
        .select(
            "key_a",
            "key_b",
            F.col("brand_a").alias("brand"),
            F.col("ptype_a").alias("ptype"),
            "jw",
        )
    )


WINNOW_K = 3  # k-gram size (tokens per gram), matching the shingle ops
WINNOW_W = 4  # winnowing window: one fingerprint guaranteed per W grams
WINNOW_DF_CAP = 20  # boilerplate fingerprints (df > cap) are dropped
# (20, not 50: a print shared by >20 docs is boilerplate, not reuse
# evidence, and the pair join fans out by df^2 per print)
WINNOW_SHARED_MIN = 5  # report pairs sharing at least this many prints


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprinting (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): each document keeps the MINIMUM k-gram hash of
    every sliding window of W consecutive grams, which guarantees any
    shared token run of length >= K + W - 1 produces at least one
    SHARED fingerprint — positional near-dup detection that MinHash
    (a whole-document sketch) cannot localize. Returns candidate pairs
    (id_a, id_b, n_shared): documents sharing >= WINNOW_SHARED_MIN
    distinct winnowed fingerprints, strongest first.

    Selection is computed with two window passes, no per-window
    explode: wmin(s) = min hash of the W-gram window starting at s
    (only starts where a full window fits; a doc shorter than W grams
    keeps its single clipped window), and position p is selected iff
    max(wmin(s) for s in [p-W+1, p]) == h(p) — h(p) lower-bounds every
    window min containing p, so equality holds exactly when p attains
    some window's min. Pure built-in window functions, identical
    frame semantics on any SQL engine — fully oracle-pairable.

    Scale shape: the gram explode is the one corpus-scale pass; both
    window functions share ONE (doc_id, i) sort (subset rule — no
    second exchange); the fingerprint table is ~2/(W+1) of gram count;
    the pair join is fingerprint-bucketed with a df-cap (the
    NGRAM_DF_CAP rule) so no ubiquitous fingerprint can fan out a hot
    bucket — never all-pairs. Hashes are the md5-prefix integer
    lattice (engine-portable, no RNG).

    Reference analog: none — extension surface (dedup family).
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    # tokenize ONCE into a real column — slicing the split expression
    # inside the per-gram lambda re-tokenizes the doc per gram
    # (the word_shingles O(len²) lesson)
    base = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
    )
    toks = F.col("toks")
    grams = base.select(
        "doc_id",
        F.greatest(F.size(toks) - (WINNOW_K - 1), F.lit(1)).alias("n_grams"),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(toks) - (WINNOW_K - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice(toks, i, WINNOW_K), " "),
            )
        ).alias("i0", "gram"),
    ).select(
        "doc_id",
        "n_grams",
        (F.col("i0") + 1).alias("i"),
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    order = Window.partitionBy("doc_id").orderBy("i")
    wmin = F.when(
        F.col("i") <= F.greatest(
            F.col("n_grams") - (WINNOW_W - 1), F.lit(1)
        ),
        F.min("h").over(order.rowsBetween(0, WINNOW_W - 1)),
    )
    sel = grams.withColumn("wm", wmin).withColumn(
        "selmax", F.max("wm").over(order.rowsBetween(-(WINNOW_W - 1), 0))
    )
    fp0 = (
        sel.where(F.col("h") == F.col("selmax"))
        .select("doc_id", "h")
        .distinct()
    )
    # fingerprint table materialized once: BOTH self-join sides read
    # it — without the checkpoint the explode + two window passes
    # evaluate twice (measured ~2x wall on the bench)
    fp = (
        fp0.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .where(F.col("df") <= WINNOW_DF_CAP)
        .localCheckpoint()
    )
    a = fp.select(F.col("doc_id").alias("id_a"), "h")
    b = fp.select(F.col("doc_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_SHARED_MIN)
        .orderBy(F.desc("n_shared"), F.asc("id_a"), F.asc("id_b"))
    )


SN_WINDOW = 4
SN_MAX_DIST = 10


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution over the part dimension
    (Hernández & Stolfo 1995): sort the records on a key, slide a
    fixed window of ``SN_WINDOW`` ranks, and compare only records
    that fall in the same window — the COMPLEMENT of hash blocking
    (part_match_blocking): blocking misses near-dups whose key
    tokens differ, sorted-neighborhood catches anything
    lexicographically adjacent, and production linkage runs both
    passes and unions candidates. Returns matched candidate pairs
    (key_a, key_b, name_a, name_b, rank_gap, dist) with edit
    distance ≤ ``SN_MAX_DIST``.

    Shape: one sort of the DIMENSION assigns ranks (dimension-
    bounded, never the fact; at fact scale this becomes a
    range-partitioned sort where each partition emits its own
    offsets and a boundary strip of W rows overlaps the neighbor —
    same results, no global window); the W-offset fan-out is an
    explode of exactly W rows per record joined back rank-to-rank,
    so candidates are n·W, not n². The DP itself uses the
    thresholded ``levenshtein(l, r, t)`` early-exit.

    Reference analog: none — dedup-family completion (the fifth
    candidate-generation modality after blocks, shingles, hashes,
    and embeddings).
    """
    p = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_name")
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy("p_name", "p_partkey")),
        )
        .localCheckpoint()
    )
    probes = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + SN_WINDOW)
        ).alias("rn_b"),
    ).repartition(spark.sparkContext.defaultParallelism)
    targets = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        probes.join(targets, "rn_b")
        .where(
            F.levenshtein("name_a", "name_b", SN_MAX_DIST) >= 0
        )
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias("rank_gap"),
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
        .orderBy("key_a", "key_b")
    )


LSH_EVAL_THRESHOLDS = [0.3, 0.5, 0.7]


def lsh_recall_eval_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality evaluation of the MinHash-LSH near-dup path
    against exact n-gram Jaccard ground truth (same bounded universe
    and df-cap as ngram_jaccard_pairs): per true-similarity threshold,
    how many genuinely-similar pairs did the banded index SURFACE
    (recall — the number that bounds how much duplicate mass the
    100 TB dedup pass can ever remove) and how many candidates are
    junk (precision — the verification bill). Completes the
    evaluation trio: retrieval_ndcg_eval judges the search stack,
    cf_holdout_hitrate the recommender, THIS the dedup stack.
    The raw scoreboard (n_candidates, recall, candidate_precision)
    hinges on engine-side xxhash64 seeds, so it has no SQL twin — the
    registry serves the oracle-paired contract face lsh_recall_eval
    below (r8 tightening, same pattern as quality_classifier_scores);
    THIS full face backs it and the planted-dup units. Returns per
    threshold: (threshold, n_true_pairs, n_candidates, n_hit, recall,
    candidate_precision).

    Shape: truth reuses the df-capped inverted-index join; candidates
    reuse the banded-bucket join (both id-pair tables, checkpointed
    once); the verdict is a |thresholds|-row rollup of one pair-keyed
    outer join.
    """
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    # r10 (guide §2.6): the exact-Jaccard truth build and the banded
    # MinHash candidate build are independent job chains over the same
    # bounded slice — their eager materializations now overlap (each
    # chain computes exactly what it did; the tail of one back-fills
    # executors idled by the other's barriers)
    def _truth():
        return (
            jaccard_pairs_over(d, threshold=min(LSH_EVAL_THRESHOLDS))
            .select("id_a", "id_b", "jaccard")
            .localCheckpoint(eager=True)
        )

    def _cand():
        return (
            minhash_lsh_pairs(d, "doc_id", "text", jaccard_threshold=0.0)
            .select("id_a", "id_b", F.lit(True).alias("is_cand"))
            .localCheckpoint(eager=True)
        )

    truth, cand = each_table(spark, operator.call, [_truth, _cand])
    joined = truth.join(cand, ["id_a", "id_b"], "full_outer").select(
        F.col("jaccard"),
        F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
    )
    ths = spark.createDataFrame(
        [(t,) for t in LSH_EVAL_THRESHOLDS], "threshold double"
    )
    per = joined.crossJoin(F.broadcast(ths)).groupBy("threshold").agg(
        F.sum(
            F.when(F.col("jaccard") >= F.col("threshold"), 1).otherwise(0)
        ).cast("long").alias("n_true_pairs"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).cast("long").alias(
            "n_candidates"
        ),
        F.sum(
            F.when(
                (F.col("jaccard") >= F.col("threshold")) & F.col("is_cand"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_hit"),
    )
    tp = F.col("n_true_pairs").cast("double")
    nc = F.col("n_candidates").cast("double")
    return per.select(
        "threshold",
        "n_true_pairs",
        "n_candidates",
        "n_hit",
        F.when(tp > 0, F.col("n_hit").cast("double") / tp).alias("recall"),
        F.when(nc > 0, F.col("n_hit").cast("double") / nc).alias(
            "candidate_precision"
        ),
    ).orderBy("threshold")


# Contract floors for the registry face. Measured on the fixture
# corpus: recall 1.0 and precision 1.0 at every threshold and every
# test SF (the planted near-dups sit at jaccard ~1.0, where 16-band
# MinHash surfaces a pair essentially surely); a broken banding or
# shingle path collapses both toward 0. The floors are deliberately
# below every measured value by >=2x margin while still failing hard
# on a real regression.
LSH_RECALL_FLOOR = 0.9
LSH_PRECISION_FLOOR = 0.5


def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry contract face of the LSH dedup scoreboard (r8, verdict
    #3 tightening — rows-only -> oracle-paired): per threshold, the
    EXACT truth-pair count (deterministic n-gram Jaccard, fully
    SQL-expressible — the same CTE family as ngram_jaccard_pairs) plus
    two contract booleans the oracle pins TRUE: recall >=
    LSH_RECALL_FLOOR and candidate precision >= LSH_PRECISION_FLOOR.
    Vacuous-grid guard: with zero true pairs (resp. zero candidates)
    the recall (resp. precision) flag is vacuously TRUE — the full
    face emits NULL there, and a NULL-vs-TRUE drift would be an
    oracle mismatch, not a quality signal. The raw scoreboard lives on
    as lsh_recall_eval_full (non-registry)."""
    full = lsh_recall_eval_full(spark, sf_dir)
    return full.select(
        "threshold",
        "n_true_pairs",
        F.coalesce(
            F.col("recall") >= F.lit(LSH_RECALL_FLOOR),
            F.col("n_true_pairs") == 0,
        ).alias("recall_ge_floor"),
        F.coalesce(
            F.col("candidate_precision") >= F.lit(LSH_PRECISION_FLOOR),
            F.col("n_candidates") == 0,
        ).alias("precision_ge_floor"),
    ).orderBy("threshold")
