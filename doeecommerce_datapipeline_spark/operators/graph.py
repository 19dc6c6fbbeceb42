"""Graph analytics on DataFrames: PageRank power iteration.

Complements the connected-components family in dedup.py with the other
canonical iterative-join graph algorithm. Each iteration is ONE
edges⋈ranks join + ONE dst-keyed aggregate — the textbook distributed
formulation (no driver-side adjacency, no per-node loops); rank state
is #nodes rows, edges shuffle on src then dst.

Cross-engine determinism (what makes this ORACLE-PAIRABLE, which
iterative float algorithms normally aren't): per-edge contributions
are quantized to DECIMAL(28,14) BEFORE the per-node sum, so the only
cross-row float reduction becomes an exact decimal sum — order-free.
Ranks then evolve through identical IEEE double ops on both engines,
so after any fixed number of iterations the ranks are bit-identical
(the DuckDB twin unrolls the same iterations as stacked CTEs).

Reference analog: none — pure extension surface.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import basket_pairs, lattice_split_sum, pearson_r
from ..io import table
from ..pipelines.fanout import each_table
from . import session_cache

PR_DAMPING = 0.85
# NOT computed as 1.0 - PR_DAMPING: that IEEE expression yields
# 0.15000000000000002, while an engine parsing the literal '0.15'
# gets the nearest double to 0.15 — both sides must use the LITERAL
PR_TELEPORT = 0.15
PR_ITERS = 3


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    teleport: float = PR_TELEPORT,
) -> DataFrame:
    """Power iteration over directed (src, dst) string edges; returns
    (node, rank). Nodes are the endpoints of the edge set; initial
    rank 1/N; dangling mass follows the common ignored-leak variant
    (every node in a symmetrized graph has out-edges anyway).

    Each pass joins ranks to edges on src (both hash-partition on the
    key), quantizes rank/outdeg per edge, and sums exactly per dst.
    State between iterations is the (node, rank) table —
    localCheckpointed so plans stay flat and the join side is
    materialized, the same pattern as connected_components."""
    # outdeg is loop-invariant: attach it to the edge list ONCE and
    # checkpoint the joined table — each iteration then needs only the
    # ranks join, not a re-join of the static degree table. Rank state
    # and the degree table are #nodes-sized (≪ edges), so every
    # rank/degree join BROADCASTS: the edge list is shuffled exactly
    # zero times after the build, and each iteration's only exchange
    # is the dst aggregate, which map-side-combines #edges rows down
    # to #nodes partials before the wire (measured 8.5 s → ~3 s on the
    # trade graph at sf0.1). At 1000-executor scale the same plan
    # holds while #nodes fits the broadcast budget; past that, flip
    # the hints and this degrades to the classic shuffle formulation.
    edges = (
        edges.join(
            F.broadcast(
                edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
            ),
            "src",
        )
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("rank"))
    for _ in range(iters):
        # r9 optimization: the 14-dp contribution quantize is kept (the
        # cross-engine seam), but the per-edge DECIMAL(28,14) cast + the
        # BigDecimal-buffered decimal SUM become an exact LONG sum on the
        # same 1e-14 lattice — bit-identical by construction:
        # round(x,14) is the nearest double to m/1e14 for an integer m
        # (|m| <= 1e14 since rank/outdeg <= 1), so round(x,14)*1e14 is
        # within m*2^-52 + 0.5ulp < 0.03 of m and never within 0.47 of a
        # .5 boundary -> floor(+0.5) recovers m exactly; the per-node
        # lattice sum (total graph mass ~1 -> unscaled sum <= ~1e14 <
        # 2^53) converts to double exactly, and the final /1e14 division
        # is the same single correctly-rounded step the decimal->double
        # cast performed. Measured (sf0.1 trade graph, 1.17M edges x 3
        # iterations): the decimal path spent ~0.4-0.6 s/iteration in
        # per-row Decimal allocation + decimal agg buffers; the long sum
        # rides the codegen'd 8-byte fast path.
        contribs = (
            edges.join(
                F.broadcast(ranks.select(F.col("node").alias("src"), "rank")),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    F.round(
                        F.col("rank") / F.col("outdeg").cast("double"), 14
                    )
                    * F.lit(1e14)
                    + F.lit(0.5)
                ).alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("in_mass"))
        # the nodes LEFT JOIN keeps dangling-only nodes (no in-edges)
        # alive on general directed graphs; both sides are #nodes rows
        ranks = (
            nodes.join(F.broadcast(summed), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport) / F.lit(float(n))
                    + F.lit(damping)
                    * F.coalesce(
                        F.col("in_mass").cast("double") / F.lit(1e14),
                        F.lit(0.0),
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized customer↔supplier trade graph (src, dst): an
    edge iff the customer ordered a line item from the supplier.

    Node ids are LONG — 2·custkey for customers, 2·suppkey+1 for
    suppliers, parity is the namespace — since hashing and shuffling
    longs beats 8-char strings on every exchange of the iterations.
    The (cust, supp) pair build is materialized ONCE, before the
    symmetrizing union: un-checkpointed, the join+distinct subtree is
    evaluated once per union branch and again per consumer of the
    union (pagerank's outdeg aggregate, each BFS round; ~1.2 s per
    evaluation at sf0.1), while the union over the materialized pairs
    is two projections of in-memory blocks.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .localCheckpoint()
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def _trade_node_label() -> Column:
    """The display id of a trade-graph ``node``: 'c<custkey>' or
    's<suppkey>' (the raw key spaces overlap numerically)."""
    return F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))


def supplier_influence_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph
    (edge iff the customer ordered a line item from the supplier;
    node ids namespaced 'c<key>' / 's<key>' — the raw key spaces
    overlap numerically). Returns the top 20 nodes by influence.

    The graph build is the scale-relevant part: one orders⋈lineitem
    natural-key join, DISTINCT on the (cust, supp) pair — edge count
    is bounded by distinct trading relationships, not fact rows.
    """
    # the display string materializes BEFORE the top-k cut so rank
    # ties break on the same string order as the oracle (the
    # TakeOrderedAndProject runs over #nodes rows — negligible)
    return (
        pagerank(_trade_edges(spark, sf_dir))
        .select(_trade_node_label().alias("node"), F.col("rank").alias("pr"))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(20)
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Enumerate triangles in an undirected graph given canonical
    (u < v) edges: wedge join (u,v)⋈(v,w) + closing-edge join — the
    standard distributed formulation. The u<v<w orientation means each
    triangle materializes exactly once and every join shrinks the
    candidate set; at scale, orient by (degree, id) instead of raw id
    so high-degree hubs don't own every wedge."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("c").alias("id_c"),
        )
    )


def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the near-duplicate document graph (edges =
    ngram_jaccard_pairs): triples of MUTUALLY similar documents — the
    transitivity evidence behind clustering near-dups into components
    (a pair graph with many open wedges but few triangles would make
    single-linkage clustering over-merge).

    The pair list is localCheckpointed before the three-way self-join:
    each join branch would otherwise re-run the whole shingle
    pipeline (the minhash-barrier lesson); the checkpointed edge list
    is pairs-sized, tiny next to the corpus."""
    from .dedup import ngram_jaccard_pairs

    pairs = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .localCheckpoint()
    )
    return triangles(pairs)


def bfs_levels(
    edges: DataFrame, source: DataFrame, max_depth: int = 3
) -> DataFrame:
    """Frontier-expansion BFS over directed (src, dst) edges from the
    `source` (node) rows: returns (node, dist) for every node within
    ``max_depth`` hops. The textbook distributed formulation — each
    round is one frontier⋈edges join (the frontier is node-bounded and
    BROADCAST; the edge table never re-shuffles), a DISTINCT on the
    new frontier, and an anti-join against the visited set. Rounds are
    a fixed unroll (no driver probe): an empty frontier makes the
    remaining rounds no-op joins, which AQE collapses at runtime.

    At 1000-executor scale the same loop holds until the frontier
    outgrows the broadcast budget (a high-diameter graph's middle
    rounds); past that, drop the hint and the join degrades to the
    shuffle formulation — the visited anti-join is already keyed for
    it."""
    visited = source.select("node").withColumn(
        "dist", F.lit(0)
    ).localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            edges.join(
                F.broadcast(frontier.select(F.col("node").alias("src"))),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint()
        )
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def trade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distances (≤ 3 hops) from the lowest-keyed customer over
    the symmetrized customer↔supplier trade graph — supply-chain blast
    radius: hop 1 = the customer's suppliers, hop 2 = those suppliers'
    other customers, hop 3 = their suppliers. Returns (node, dist)
    with the same namespaced display ids as supplier_influence_rank.

    Graph build and node encoding are shared with PageRank (LONG ids,
    parity namespace); the DuckDB twin unrolls the three frontier
    rounds as chained anti-joined CTEs — level sets are DISTINCT, so
    the unroll can't blow up on cycles the way a naive recursive
    path-enumeration CTE would.
    """
    edges = _trade_edges(spark, sf_dir)
    source = edges.agg(F.min("src").alias("node"))
    out = bfs_levels(edges, source, max_depth=3)
    return out.select(_trade_node_label().alias("node"), "dist")


def hits_part_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the bipartite customer→part
    purchase graph, reported as the top-20 authority parts: (p_partkey,
    n_buyers, auth_score, auth_norm). Completes the link-analysis
    family next to PageRank (supplier_influence_rank) — authority here
    means "bought by the customers who buy the widely-bought parts",
    the mutual-reinforcement signal a raw purchase count misses.

    Oracle-pairable by the same trick as PageRank, but stronger: the
    power iteration runs entirely in INTEGER arithmetic. With h0 = 1
    for every customer, two half-steps unroll to
        a1(p) = |buyers(p)|            (in-degree),
        h1(c) = Σ_{p∈bought(c)} a1(p),
        a2(p) = Σ_{c∈buyers(p)} h1(c),
    all exact BIGINT sums — order-free on any engine, no float seam.
    The usual L2 normalization only rescales (HITS rankings are
    scale-invariant), so it is deferred to ONE final division by the
    max authority — a single deterministic IEEE op. Score growth is
    bounded by (max degree)³, far inside BIGINT at any SF.

    Scale shape: the distinct (cust, part) edge set is built with one
    orderkey exchange and localCheckpointed; each half-step joins the
    edges to a node-bounded score table (BROADCAST — customers/parts
    ≪ edges) and aggregates with map-side combine, so the edge table
    is shuffled zero times after the build — the PageRank plan shape.
    Past the broadcast budget the joins degrade to shuffles on keys
    the edges already have. Top-20 is TakeOrderedAndProject.

    Reference analog: none — extension surface.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    a1 = edges.groupBy("p").agg(F.count(F.lit(1)).alias("a1"))
    h1 = (
        edges.join(F.broadcast(a1), "p")
        .groupBy("c")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        edges.join(F.broadcast(h1), "c")
        .groupBy("p")
        .agg(F.sum("h1").alias("auth_score"), F.count(F.lit(1)).alias("n_buyers"))
    )
    # single-row global max joined back by broadcast — avoids the
    # all-rows-one-partition global window at large part counts
    max_a = a2.agg(F.max("auth_score").alias("max_a"))
    return (
        a2.crossJoin(F.broadcast(max_a))
        .select(
            F.col("p").alias("p_partkey"),
            F.col("n_buyers"),
            F.col("auth_score"),
            (
                F.col("auth_score").cast("double")
                / F.col("max_a").cast("double")
            ).alias("auth_norm"),
        )
        .orderBy(F.desc("auth_score"), F.asc("p_partkey"))
        .limit(20)
    )


K_CORE_K = 100
K_CORE_ROUNDS = 4


def kcore_peel_ledger(
    edges: DataFrame, k: int, rounds: int
) -> DataFrame:
    """Iterative k-core peeling over symmetrized (src, dst) edges,
    reported as a per-round collapse ledger: (round, n_nodes,
    n_edges) for round 0 (the input graph) through ``rounds`` — each
    round drops every node whose current degree is below ``k`` and
    restricts the edge set to survivors. The ledger IS the product:
    near the core-collapse threshold the cascade takes several rounds
    (peeling a node demotes its neighbors), and the round-by-round
    shrink curve is the standard diagnostic for how cohesive the
    graph's dense region is. Degrees, node and edge counts are exact
    integers, so the DuckDB twin (the same rounds unrolled as chained
    CTEs) is bit-identical — no float seam at all.

    Shape per round: ONE src-keyed degree aggregate (map-side
    combined) + two semi-joins of the edge table against the
    BROADCAST survivor set (node-bounded, ≪ edges); the edge table is
    localCheckpointed between rounds so the lazy plan doesn't re-peel
    from scratch each iteration (the connected-components lesson).
    The per-round ledger rows are single-row aggregates. At
    1000-executor scale the survivor set stays broadcastable while
    #nodes fits the budget; past that the semi-joins degrade to
    shuffle joins on the same keys — the plan is already keyed for
    it. Fixed unroll, no driver probe: once the core stabilizes (or
    empties) the remaining rounds are no-op joins AQE collapses.

    Reference analog: none — extension surface (graph cohesion
    analytics over the co-purchase graph).
    """

    def _row(r: int, e: DataFrame) -> DataFrame:
        return e.agg(
            F.lit(r).cast("int").alias("round"),
            F.count_distinct(F.col("src")).alias("n_nodes"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        )

    # r10 (r9 verdict #4 — the peel was scheduling-bound at small SF:
    # 2 eager driver-blocking jobs per round): the edge checkpoints
    # are now LAZY — each round's eager survivor job is the first
    # consumer of the previous round's edge set, so it materializes
    # that checkpoint in-line (local checkpoint partitions cache as
    # computed); the ledger rows and semi-joins then read the cached
    # blocks. One driver-blocking job per round instead of two, same
    # per-round evaluate-once materialization at any scale. `keep`
    # stays EAGER: lazy, its two broadcast builds (src/dst sides) race
    # on the driver's broadcast pool and would re-run the full-edge
    # degree aggregate twice per round (the exact r9 fix).
    e = edges.localCheckpoint(eager=False)
    ledger = _row(0, e)
    for r in range(1, rounds + 1):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            # r9: the survivor set feeds TWO broadcast builds (src and
            # dst semi-joins) — un-materialized, the degree aggregate
            # over the full edge table ran twice per round. (r10: an
            # AQE-noop persist was tried here and REVERTED — measured
            # 3.99 vs 7.69 s against the eager checkpoint; the
            # survivor job is entangled with the prior round's lazy
            # edge checkpoint and re-plans it adaptively per round.)
            .localCheckpoint(eager=True)
        )
        e = e.join(
            F.broadcast(keep.select(F.col("node").alias("src"))),
            "src",
            "left_semi",
        ).join(
            F.broadcast(keep.select(F.col("node").alias("dst"))),
            "dst",
            "left_semi",
        )
        # the final round's edge set feeds exactly ONE consumer (its
        # ledger aggregate) — materializing it would be a pure extra
        # job; every earlier round's feeds three (ledger + next
        # round's degree aggregate and semi-join input)
        if r < rounds:
            e = e.localCheckpoint(eager=False)
        ledger = ledger.unionByName(_row(r, e))
    return ledger


def copurchase_core_collapse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-core collapse profile of the part co-purchase graph (parts
    are adjacent iff some order contains both): peel at k=100 for 4
    rounds and report (round, n_nodes, n_edges). On this corpus the
    100-core collapses over 3 rounds — the first cut drops ~25% of
    parts, which demotes enough survivors that the rest cascade —
    the signature of a graph whose density is uniform rather than
    clustered (no community survives its own periphery being peeled).

    Graph build is the scale-relevant part: baskets dedup to
    (order, part) first, the pair self-join fans out by C(basket,2)
    ≤ C(7,2) per order (never fact×fact), and the distinct pair set
    bounds edges by realized co-purchases. One orderkey-keyed
    exchange for the basket join; everything after runs on the edge
    table.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r9: build the canonical (u < v) pair set MAP-SIDE from each
    # order's sorted part set instead of distinct + self-join — ONE
    # fact-sized exchange (the groupBy(l_orderkey)) instead of three
    # (the dedup exchange, evaluated twice through the un-checkpointed
    # join sides, plus the join's own), with the identical pair set
    # (basket_pairs). Materialized once for the symmetrizing union
    # below (no subtree sharing across union branches — the
    # item_item_cosine/pagerank lesson).
    pairs = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select(basket_pairs("u", "v"))
        .select("p.u", "p.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return kcore_peel_ledger(edges, K_CORE_K, K_CORE_ROUNDS).orderBy(
        "round"
    )


AA_TOP = 25  # reported strongest predicted links


def adamic_adar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the bipartite order-part
    graph: for each part pair, score = Σ over shared orders of
    1/ln(basket size) — co-occurrence evidence discounted by how
    promiscuous the witnessing order is (a 2-item basket says far more
    about affinity than a 7-item one). Completes the link-analysis
    family next to PageRank and HITS: those rank NODES, this ranks
    candidate EDGES — the "customers also buy" recommender primitive.
    Returns the top-25 pairs (part_a, part_b, n_common_orders,
    aa_score).

    Bipartite AA over ORDER intermediaries keeps the fan-out bounded:
    the pair explosion is C(basket,2) per order (TPC-H baskets ≤ 7),
    never neighbor-degree-squared of a hot part — the same bound that
    makes market_basket_lift scale-safe. Single-item baskets drop
    before the self-join (no pairs, and ln(1)=0 would divide by
    zero).

    Determinism: ln is libm, so each order's 1/ln(s) weight quantizes
    to DECIMAL(18,9) BEFORE the per-pair order-free sum; one 6dp
    rounding at the seam. Top-k is TakeOrderedAndProject with the
    (score, pair) total order.

    Reference analog: none — extension surface (graph family).
    """
    # r9: one basket aggregate + map-side pair enumeration (the
    # copurchase_edges rewrite) replaces distinct + sizes-join +
    # self-join — ONE fact-sized exchange instead of four. Identical
    # pairs and weights: size(array_sort(collect_set(part))) is the
    # former per-order distinct-part count s (same int → double →
    # 1/ln dag, same 9-dp decimal quantum), basket_pairs enumerates
    # exactly the part_a < part_b combinations, and single-part
    # baskets enumerate no pairs (the former s >= 2 cut).
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        # single-part baskets enumerate no pairs anyway; the explicit
        # cut keeps 1/ln(1) = inf out of the decimal cast (the former
        # shape filtered s >= 2 before computing the weight too)
        .where(F.size("parts") >= 2)
    )
    # r9 opt: the weight rides the exact 9-dp long lattice (m =
    # floor(round(1/ln s, 9)·1e9 + 0.5) ≤ 1.45e9 — the pagerank
    # lattice-alignment lemma), so the C(basket,2)-grain exchange
    # carries a LONG and the per-pair sum runs on primitive buffers;
    # the decimal total is reconstructed per output pair
    # (value-identical to the former decimal(18,9) quantize-sum).
    pairs = baskets.select(
        F.floor(
            F.round(
                F.lit(1.0) / F.log(F.size("parts").cast("double")), 9
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("aa_m"),
        basket_pairs("part_a", "part_b"),
    ).select("p.part_a", "p.part_b", "aa_m")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(
            F.count(F.lit(1)).alias("n_common_orders"),
            F.round(
                lattice_split_sum(
                    F.col("aa_m"), 9, "decimal(28,9)"
                ).cast("double"),
                6,
            ).alias("aa_score"),
        )
        .orderBy(
            F.desc("aa_score"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(AA_TOP)
    )


LPA_ROUNDS = 3
LPA_TOP = 25


_LPA_STATE_CACHE: dict = session_cache.register({})


def lpa_labels(spark: SparkSession, sf_dir: str):
    """The copurchase edge set (both directions, persisted) and the
    node labeling after LPA_ROUNDS synchronous label-propagation
    rounds — shared by label_propagation_communities (sizes) and
    community_modularity (quality). Deterministic: see
    label_propagation_communities.

    Cached per (session, dataset): a detected partition is ONE
    derived state with two registry readouts (sizes and quality) —
    recomputing the propagation per face ran the identical fixed-
    point twice. Deterministic by the synchronous-update contract,
    so caching is observationally pure. The memo owns both frames."""
    return session_cache.memo(
        _LPA_STATE_CACHE, spark, sf_dir, lambda: _propagate(spark, sf_dir)
    )


def _propagate(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r9: canonical (u < v) pairs via the basket enumerator (ONE
    # orderkey exchange + one pair-grain distinct instead of the
    # distinct + self-join + both-direction distinct chain), then a
    # cheap mirrored union for symmetry — identical edge set
    # r10 (guide §2.4 + §2.6): three structural changes, values
    # untouched.
    # (1) The edge table is MATERIALIZED pre-partitioned and
    #     pre-sorted on src (the key every round joins on), so the
    #     per-round edge-to-label SortMergeJoin needs NO edge-side
    #     exchange and NO edge-side sort — only the node-grain label
    #     table (orders of magnitude smaller than the pair-grain edge
    #     table) moves each round. community_modularity's two edge
    #     joins and its degree aggregate reuse the same partitioning.
    # (2) Per-round label state persists lazily instead of eagerly
    #     checkpointing: evaluate-once still holds (each round's cache
    #     fills on first use), but the whole 3-round propagation runs
    #     inside the consumer's ONE job instead of 4+ sequential
    #     driver-blocking jobs (the copurchase scheduling lesson).
    # (3) The initial-labels build and the pairs->edges chain are
    #     independent fact scans — overlapped.
    def _edges():
        pairs = (
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
            .select(basket_pairs("src", "dst"))
            .select("p.src", "p.dst")
            .distinct()
            .persist()
        )
        # both directions so adoption is symmetric; materialized
        # in-thread so the overlap does the work and the rounds start
        # from a hot, partitioned cache. The half-size canonical pair
        # cache only feeds this build — drop it once the mirrored
        # partitioned edge cache is hot
        ed = session_cache.materialize(
            pairs.unionByName(
                pairs.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .repartition("src")
            .sortWithinPartitions("src")
        )
        pairs.unpersist(False)
        return ed

    def _labels():
        return session_cache.materialize(
            li.select(F.col("l_partkey").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )

    edges, labels = each_table(spark, operator.call, [_edges, _labels])
    cached = [labels]  # label caches no checkpoint has superseded yet
    for i in range(LPA_ROUNDS):
        votes = (
            edges.join(
                labels.withColumnRenamed("node", "src"), "src"
            )
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax as one aggregate (was a row_number window over the
        # same partitioning — an extra sort): min over struct(-cnt,
        # label) = highest count, ties -> smallest label, on exact
        # ints; identical winner per node
        winners = votes.groupBy("dst").agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            )["label"].alias("new_label")
        ).withColumnRenamed("dst", "node")
        stepped = labels.join(winners, "node", "left").select(
            "node",
            F.coalesce("new_label", "label").alias("label"),
        )
        # Alternating barrier: labels feeds TWO branches per round, so
        # unbarriered lineage doubles the logical plan per round
        # (2^rounds Catalyst re-analysis — the dedup CC lesson), while
        # a barrier EVERY round pays a driver-blocking non-AQE
        # Dataset.rdd job each time. Checkpointing every other round
        # bounds plan growth to <=2 copies AND halves the blocking
        # jobs; odd rounds persist lazily and their cache fills inside
        # the next barrier's (or the consumer's) job. The partitioned
        # edge CACHE stays a persist — that is what the planner must
        # SEE to skip the edge-side exchange/sort every round.
        if i % 2 == 1:
            labels = stepped.localCheckpoint()
            # the checkpoint holds every earlier round's result, so
            # their label caches are dead weight
            for done in cached:
                done.unpersist()
            cached = []
        else:
            labels = stepped.persist()
            cached.append(labels)
    return edges, labels


def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    part copurchase graph: every part starts as its own label; each of
    3 fixed rounds, a part adopts the label most frequent among its
    copurchase neighbors (ties -> smallest label; isolated parts keep
    their own). Completes the graph family: PageRank/HITS rank nodes,
    Adamic-Adar ranks candidate edges, connected components find
    reachability classes — LPA finds DENSITY classes (two cliques
    joined by one bridge edge are one component but two communities).
    Returns the top-25 communities: (community, n_members).

    Determinism (the PageRank/k-means fixed-iteration oracle class):
    synchronous updates, integer neighbor-label counts, and the total
    (count DESC, label ASC) order make every round a pure function of
    the previous labeling — no RNG, no float, no visit order. Fixed
    round count = fixed plan.

    Scale shape: edges build once from the distinct basket table
    (fan-out bounded by C(basket,2) per order) and localCheckpoint;
    each round = one edge-to-label join (label table is node-grain)
    + one (dst, label) map-side-combined count + one node-partitioned
    argmax window — the edge table shuffles on the SAME dst key every
    round. Label state is a DataFrame, never driver-collected.

    Reference analog: none — extension surface (graph family).
    """
    edges, labels = lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(LPA_TOP)
    )


def community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition over the copurchase
    graph — the eval metric that says whether the detected communities
    are REAL structure or noise (Q near 0 = no better than random;
    the retrieval family got nDCG, embeddings got the triplet test,
    community detection gets this). Per community (top-25 by size):
    n_members, internal_edges, degree_sum, q_term — plus q_total
    (the full-partition modularity, including communities below the
    display cut) replicated on every row.

    With the both-direction edge table E2 (|E2| = 2m),
    Q = Σ_c [ W_c/|E2| − (D_c/|E2|)² ] where W_c counts both-direction
    within-community edges and D_c the community's degree sum — all
    exact BIGINTs from two aggregates; each q_term is one IEEE dag
    quantized at 9dp before the order-free total (the entropy seam).

    Shape: rides lpa_labels' checkpointed state; ONE edge-to-label
    join per endpoint (same dst-key shuffle LPA already uses) for
    W_c, one node-grain degree aggregate for D_c. Nothing fact-scale
    beyond LPA itself.

    Reference analog: none — extension surface (graph family).
    """
    edges, labels = lpa_labels(spark, sf_dir)
    lab_src = labels.select(
        F.col("node").alias("src"), F.col("label").alias("lsrc")
    )
    lab_dst = labels.select(
        F.col("node").alias("dst"), F.col("label").alias("ldst")
    )
    tagged = edges.join(lab_src, "src").join(lab_dst, "dst")
    within = (
        tagged.where(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("community"))
        .agg(F.count(F.lit(1)).alias("w_c"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dsum_c = (
        labels.join(deg, labels.node == deg.src, "left")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.sum(F.coalesce("deg", F.lit(0))).alias("d_c"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    e2 = edges.agg(F.count(F.lit(1)).alias("e2"))
    per_c = (
        dsum_c.join(within, "community", "left")
        .crossJoin(F.broadcast(e2))
        .select(
            "community",
            "n_members",
            # w_c is even by symmetry; floor on both engines (a bare
            # cast of x/2 truncates in Spark but rounds in DuckDB)
            F.floor(F.coalesce("w_c", F.lit(0)) / 2).cast("long").alias(
                "internal_edges"
            ),
            F.col("d_c").alias("degree_sum"),
            F.round(
                F.coalesce("w_c", F.lit(0)).cast("double")
                / F.col("e2").cast("double")
                - (
                    F.col("d_c").cast("double")
                    / F.col("e2").cast("double")
                )
                * (
                    F.col("d_c").cast("double")
                    / F.col("e2").cast("double")
                ),
                9,
            ).alias("q_term"),
        )
        .localCheckpoint()
    )
    q_tot = per_c.agg(
        F.round(
            F.sum(F.col("q_term").cast("decimal(18,9)")).cast("double"), 6
        ).alias("q_total")
    )
    return (
        per_c.crossJoin(F.broadcast(q_tot))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(LPA_TOP)
    )


MIN_COPURCHASE_ORDERS = 2


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) support-2 copurchase edges, checkpointed —
    the shared graph substrate for copurchase_clustering and
    copurchase_assortativity. r9: built MAP-SIDE from each order's
    array_sort(collect_set(part)) via basket_pairs — ONE fact-sized
    exchange (the groupBy(l_orderkey)) instead of three (the dedup
    exchange evaluated twice through the un-checkpointed self-join
    sides plus the join's own), identical pair set and per-pair order
    counts (collect_set ≡ the former distinct)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .select(basket_pairs("u", "v"))
        .groupBy("p.u", "p.v")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= MIN_COPURCHASE_ORDERS)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )


def copurchase_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the part copurchase graph
    (edge iff two parts were co-bought in ≥ 2 DISTINCT orders — one
    shared basket is noise; the support-2 cut is market_basket_lift's
    evidence bar and shrinks the edge set from ~1.2M one-off pairs to
    ~3.5k recurring ones at sf0.1): C =
    3·triangles / wedges — are my co-purchase neighborhoods CLIQUES
    (coherent product communities, C high) or hub-and-spoke stars
    (one staple bridging unrelated items, C low)? The one-number
    transitivity summary behind community detection: high modularity
    partitions only exist when C is meaningfully above the random
    expectation ≈ mean_degree/n. Returns one row: (n_nodes, n_edges,
    n_wedges, n_triangles, global_cc, random_cc).

    Shape: the edge list is C(basket,2)-bounded per order (the
    market_basket/adamic-adar bound), deduped and checkpointed once
    for its three consumers; wedges are an algebraic Σ deg(deg−1)/2
    over the degree table (no wedge materialization); triangles use
    the shared wedge-join kernel (u<v<w orientation, each triangle
    counted once). Exact integers end-to-end except the two closing
    ratios.

    Reference analog: none — extension surface (graph family).
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    wedges = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
    )
    # DEGREE-ORIENTED triangle count: orient every edge from its
    # lower-(degree, id) endpoint to the higher one (key = d·10^12+id,
    # a total order) — each triangle materializes exactly once and
    # the wedge fan-out is bounded by the ORIENTED out-degree
    # (≤ O(√m) after orientation) instead of hub-degree², the
    # classic fix that makes triangle counting survive skewed
    # copurchase graphs. The count is orientation-invariant, so the
    # oracle keeps the simple u<v formulation.
    key = lambda c: F.col(f"d_{c}") * F.lit(10**12) + F.col(c)  # noqa: E731
    keyed = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("d_u")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("d_v")), "v")
        .select(
            F.when(key("u") < key("v"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(key("u") < key("v"), key("v")).otherwise(key("u")).alias("dst_key"),
            F.when(key("u") < key("v"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_key").alias("kb"))
    w2 = keyed.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_key").alias("kc"))
    closing = keyed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = (
        w1.join(w2, "a")
        .where(F.col("kb") < F.col("kc"))
        .join(closing, ["b", "c"], "left_semi")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    ne = edges.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    j = wedges.crossJoin(F.broadcast(tri)).crossJoin(F.broadcast(ne))
    w = F.col("n_wedges").cast("double")
    t = F.col("n_triangles").cast("double")
    nn = F.col("n_nodes").cast("double")
    mean_deg = F.lit(2.0) * F.col("n_edges").cast("double") / nn
    return j.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(w > 0, F.round(F.lit(3.0) * t / w, 9)).alias("global_cc"),
        F.round(mean_deg / (nn - F.lit(1.0)), 9).alias("random_cc"),
    )


def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the support-2 copurchase
    graph: the Pearson correlation of endpoint degrees over all
    (symmetrized) edges — do popular parts co-sell with other popular
    parts (r > 0, hub club) or with niche ones (r < 0, hub-and-spoke,
    the typical retail shape)? The one-number mixing summary that,
    with copurchase_clustering's transitivity, pins down the graph's
    character before any community detection is trusted. Returns one
    row: (n_nodes, n_directed_edges, assortativity).

    Determinism: degrees are exact BIGINTs; the five edge-level
    moments (Σx, Σy, Σx², Σy², Σxy over directed edges) stay in
    integer/decimal space (degree products < 2^53 by construction at
    the support-2 scale) and the closing Pearson is a fixed double
    dag, rounded at 9 dp.

    Shape: shares copurchase_edges' checkpointed build; the degree
    table broadcasts onto the edge list twice; one single-row reduce.
    """
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    both = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    j = (
        both.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("y"))),
            "v",
        )
    )
    m = j.groupBy().agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nn = deg.groupBy().agg(F.count(F.lit(1)).alias("n_nodes"))
    moments = ("m", "sx", "sy", "sxx", "syy", "sxy")
    r = pearson_r(*[F.col(c).cast("double") for c in moments])
    return m.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_directed_edges"),
        F.round(r, 9).alias("assortativity"),
    )
