"""Plan-regression tests: the one home of the engine's physical-plan
claims — pushdown, pruning, broadcast choice, exchange counts,
single-explode and checkpoint shapes. A claim that is not asserted
here is not a claim.

Every plan is the face's ``explain("formatted")`` at the test fixture
(sf0.001, 8 shuffle partitions, AQE on), taken before execution. It is
built once per session and shared by every check on that face. The
named tests below carry claims that need custom parsing; the
``GUARDS`` table at the end carries the rest, one entry per face.
To look at a plan by hand, dump it with tools/plandump.py.
"""

import io
import re
import contextlib

import pytest

import __spark_entry__ as m

QUERIES = m.queries()

_PLANS: dict[tuple[str, str], str] = {}


def _plan(spark, sf_dir, name: str) -> str:
    key = (name, sf_dir)
    if key not in _PLANS:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        _PLANS[key] = buf.getvalue()
    return _PLANS[key]


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p  # predicate reached the scan
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]  # pruned
    assert p.count("HashAggregate") >= 2  # partial + final


def test_user_activity_broadcasts_dimension(spark, sf_dir):
    p = _plan(spark, sf_dir, "user_activity")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dedup_window_single_exchange(spark, sf_dir):
    p = _plan(spark, sf_dir, "dedup_latest_event")
    # one hash-partitioning exchange feeding the ranking window, with
    # WindowGroupLimit pushing the rn==1 top-k below the shuffle
    assert p.count("+- Exchange") == 1
    assert "hashpartitioning" in p
    assert "WindowGroupLimit" in p
    assert "row_number" in p


def test_simple_filter_agg_all_predicates_pushed(spark, sf_dir):
    p = _plan(spark, sf_dir, "simple_filter_agg")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = _plan(spark, sf_dir, "customers_with_orders")
    anti = _plan(spark, sf_dir, "customers_without_orders")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_volume_shipping_no_sort_merge(spark, sf_dir):
    # both nation-filtered dims broadcast; shipdate window pushed down
    p = _plan(spark, sf_dir, "volume_shipping")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, "shipdate range should reach the lineitem scan"


def test_promo_part_suppliers_single_fact_scan(spark, sf_dir):
    # threshold-as-window formulation: lineitem must be scanned ONCE
    # (the agg+crossJoin shape re-evaluates the subtree and scans twice)
    p = _plan(spark, sf_dir, "promo_part_suppliers")
    scans = p.count("lineitem.parquet")
    assert scans == 1, f"expected 1 lineitem scan, plan has {scans}"
    assert "LeftSemi" in p


def test_sliding_hourly_expand_single_exchange(spark, sf_dir):
    # F.window with slide = Expand fan-out map-side + one agg shuffle
    p = _plan(spark, sf_dir, "sliding_hourly")
    assert "Expand" in p
    assert p.count("+- Exchange") == 1


def test_bracket_revenue_pushes_implied_bounds(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs must not block pushdown of the
    per-side implied ranges; part broadcasts onto lineitem."""
    p = _plan(spark, sf_dir, "bracket_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # implied single-side bounds reach the scans
    assert "l_quantity" in p and "PushedFilters" in p


def test_part_value_concentration_single_row_broadcast(spark, sf_dir):
    """Q11 shape: the global-total threshold must arrive as a broadcast
    (nested-loop of a 1-row relation), never a shuffle join."""
    p = _plan(spark, sf_dir, "part_value_concentration")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_top_supplier_revenue_window_pushed(spark, sf_dir):
    """Q15 shape: the 3-month shipdate window must be scan-pushed."""
    p = _plan(spark, sf_dir, "top_supplier_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p


def test_tfidf_no_raw_token_rejoin(spark, sf_dir):
    """tfidf's df-count and rank windows run over the (doc,term)
    counts — the exploded raw token stream must be generated exactly
    once (a df re-aggregate + join-back would re-evaluate the explode
    subtree; each plan node appears twice in formatted output)."""
    p = _plan(spark, sf_dir, "tfidf_topk")
    assert p.count("Generate") == 2  # one node: tree line + detail line


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle set (small eval data) must be the
    broadcast build side; the corpus stream joins it map-side with no
    shuffle of the exploded corpus shingles."""
    p = _plan(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in p
    # exactly one shingle-keyed exchange: the bench-side distinct.
    # The corpus shingle stream reaches the join map-side — a second
    # shingle exchange would mean the big side is being shuffled.
    assert len(re.findall(r"hashpartitioning\(shingle", p)) == 1


def test_source_mix_sample_is_pure_scan(spark, sf_dir):
    """Deterministic sampling is a per-row expression: no exchange,
    no aggregate — scan-bound at any scale."""
    p = _plan(spark, sf_dir, "source_mix_sample")
    assert "Exchange" not in p
    assert "HashAggregate" not in p


def test_pack_sequences_single_exchange_window(spark, sf_dir):
    """Prefix-sum packing = one hash exchange on the shard key plus
    one window; no joins, no second shuffle."""
    p = _plan(spark, sf_dir, "pack_sequences")
    assert p.count("+- Exchange") == 1
    assert "Join" not in p


def test_chunk_documents_is_shuffle_free_flatmap(spark, sf_dir):
    """Chunking is per-row: one Generate, no hash exchange, no join —
    it must parallelize as a flatMap over the scan."""
    p = _plan(spark, sf_dir, "chunk_documents")
    assert p.count("Generate") == 2  # one node: tree line + detail line
    assert "hashpartitioning" not in p
    assert "Join" not in p


def test_scd2_single_exchange_for_whole_pipeline(spark, sf_dir):
    """lag-window, island running-sum, (key, island) groupBy, and the
    closing lead-window all reuse the one custkey hash partitioning —
    HashPartitioning(key) satisfies ClusteredDistribution(key, island),
    so the gaps-and-islands pipeline is a single shuffle end to end."""
    p = _plan(spark, sf_dir, "scd2_customer_priority")
    assert p.count("+- Exchange") == 1
    assert p.count("Window") >= 3  # lag + running-sum + lead
    assert p.count("+- HashAggregate") == 2  # partial+final island agg


def test_stratified_sample_single_exchange_with_group_limit(spark, sf_dir):
    """One shuffle on source; WindowGroupLimit pre-truncates each
    class below the shuffle so only ~n rows per class cross it."""
    p = _plan(spark, sf_dir, "stratified_sample")
    assert p.count("+- Exchange") == 1
    assert "WindowGroupLimit" in p


def test_bigram_lm_shares_one_content_shuffle(spark, sf_dir):
    """Exchange (a): round-robin spread for the explode. Exchange (b):
    the single w1 hash that the (w1,w2) aggregate AND both w1 windows
    reuse (subset-clustering rule) — no per-stage re-exchange."""
    p = _plan(spark, sf_dir, "bigram_lm")
    assert p.count("+- Exchange") == 2
    assert p.count("hashpartitioning(w1") == 1


def test_zscore_outliers_broadcasts_stats(spark, sf_dir):
    """The per-type stats table is a handful of rows — it must come
    back over the fact as a broadcast, never a second fact shuffle."""
    p = _plan(spark, sf_dir, "value_zscore_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_price_histogram_no_sort(spark, sf_dir):
    """min/max broadcast (nested-loop over a 1-row build side) + a
    codegen'd bucket expression — a histogram never needs a sort."""
    p = _plan(spark, sf_dir, "price_histogram")
    assert "BroadcastNestedLoopJoin" in p
    assert "Sort " not in p
    assert "SortMergeJoin" not in p


def test_unpivot_is_shuffle_free_expand(spark, sf_dir):
    """unpivot compiles to Expand: each row emits one output row per
    measure map-side — zero exchanges in the whole plan."""
    p = _plan(spark, sf_dir, "part_metrics_unpivot")
    assert "Expand" in p
    assert "Exchange" not in p


def test_gapfill_pushes_priority_filter(spark, sf_dir):
    """The urgent-orders predicate must reach the parquet scan; the
    forward-fill window exists only above the day-grain aggregate."""
    p = _plan(spark, sf_dir, "daily_revenue_gapfilled")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "o_orderpriority" in l]
    assert pushed, "o_orderpriority filter did not reach the scan"
    assert "Window" in p


def test_boilerplate_fraction_single_explode(spark, sf_dir):
    """The shingle df must come from a window over the exploded rows —
    a groupBy+join-back formulation re-evaluates the explode (two
    Generate nodes), doubling the corpus-scale work."""
    p = _plan(spark, sf_dir, "boilerplate_fraction")
    # formatted explain mentions each node twice (tree + details):
    # 2 occurrences == ONE Generate node
    assert p.count("Generate") == 2
    assert "Window" in p


def test_value_drift_single_fact_agg(spark, sf_dir):
    """Both cohorts count in ONE conditional hash agg over the shared
    grid — not one scan per cohort; the range and totals attach as
    broadcast single-row builds."""
    p = _plan(spark, sf_dir, "value_drift_by_bucket")
    # ONE join node (the rng attach; ×2 formatted mentions); TWO event
    # scans (min/max pass + bucket pass — the histogram shape), NOT a
    # third for totals: those come from a window over the bucket table
    assert p.count("BroadcastNestedLoopJoin") == 2
    assert p.count("Scan parquet") == 4
    assert "SortMergeJoin" not in p


def test_temperature_mix_single_corpus_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "temperature_mix_weights")
    # ONE corpus scan (×2 formatted mentions): the weight denominator
    # is a window over the source-cardinality table, never a second
    # aggregate branch re-reading documents
    assert p.count("Scan parquet") == 2
    assert "SortMergeJoin" not in p


def test_peak_concurrency_no_global_sort(spark, sf_dir):
    # two-level sweep-line: every Sort in the plan must be partition-
    # local (window partitionBy day / session_window grouping) — a
    # global Sort would serialize the fact through one task
    p = _plan(spark, sf_dir, "peak_concurrent_sessions")
    assert "Sort " in p  # local sorts exist (windows need them)
    sort_args = [
        l for l in p.splitlines()
        if re.match(r"^\s*Arguments: \[.*(ASC|DESC).*\], (true|false), \d", l)
    ]
    assert sort_args, "expected Sort argument lines in formatted plan"
    global_sorts = [l for l in sort_args if re.search(r"\], true, \d", l)]
    assert not global_sorts, f"global sort in sweep plan: {global_sorts}"


def test_bm25_broadcasts_df_and_topk(spark, sf_dir):
    # r9 shape: per-row array tf/dl counts — NO token explode
    # (Generate) and no fact-sized join at all; the 1-row (N, avgdl,
    # df…) reduce broadcasts back onto the doc-grain table (single-row
    # build → BroadcastNestedLoopJoin); top-k is
    # TakeOrderedAndProject, never a global sort
    p = _plan(spark, sf_dir, "bm25_search")
    assert "Generate" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_media_seams_scan_bound_no_shuffle(spark, sf_dir):
    # synth-build -> real-parse -> summarize is one mapInPandas chain
    # per operator: zero exchanges, a single documents scan
    for name in ("audio_pcm_metrics", "image_ppm_metrics"):
        p = _plan(spark, sf_dir, name)
        assert "Exchange" not in p, name
        assert p.count("Scan parquet") == 2, name  # one scan, 2 mentions


def test_promo_lift_broadcasts_part_dim(spark, sf_dir):
    p = _plan(spark, sf_dir, "promo_lift_slope")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_gini_windows_are_nation_partitioned(spark, sf_dir):
    # the rank window must be partitioned by nation — a global
    # ORDER BY over all customers would single-task the rank
    p = _plan(spark, sf_dir, "revenue_gini_by_nation")
    sort_args = [
        l for l in p.splitlines()
        if re.match(r"^\s*Arguments: \[.*(ASC|DESC).*\], (true|false), \d", l)
    ]
    global_sorts = [l for l in sort_args if re.search(r"\], true, \d", l)]
    assert not global_sorts, f"global sort in gini plan: {global_sorts}"


def test_corr_matrix_long_backed_single_agg(spark, sf_dir):
    # the int64-lattice rework: one scan, one partial+final agg pair,
    # and NO decimal(28+) sum buffers (those force the object path)
    p = _plan(spark, sf_dir, "numeric_corr_matrix")
    assert p.count("Scan parquet") == 2  # one scan, 2 mentions
    assert p.count("HashAggregate") >= 2
    assert "decimal(28" not in p and "decimal(38" not in p


def test_leadtime_median_window_over_grid_not_fact(spark, sf_dir):
    # the weighted-median windows are n_name-partitioned over the
    # (nation, delay) grid — no global sort anywhere in the plan
    p = _plan(spark, sf_dir, "leadtime_weighted_median")
    assert "Window" in p
    sort_args = [
        l for l in p.splitlines()
        if re.match(r"^\s*Arguments: \[.*(ASC|DESC).*\], (true|false), \d", l)
    ]
    global_sorts = [l for l in sort_args if re.search(r"\], true, \d", l)]
    assert not global_sorts, f"global sort in median plan: {global_sorts}"
    # dims broadcast; the one real exchange family is the orderkey join
    assert "BroadcastHashJoin" in p


def test_bootstrap_is_hash_arithmetic_not_md5(spark, sf_dir):
    # the 14x fix: weights come from integer universal hashing; an md5
    # reappearing in this plan is the regression we measured at 25 s
    p = _plan(spark, sf_dir, "bootstrap_mean_ci")
    assert "md5" not in p.lower()
    assert "Generate" in p  # the xB fan-out is map-side explode


def test_window_funnel_single_user_shuffle(spark, sf_dir):
    # chain state rides ONE user-partitioned window family; the naive
    # two fact-fact range joins would show joins here
    p = _plan(spark, sf_dir, "window_funnel_depth")
    assert "Window" in p
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange") // 2 <= 3


def test_spearman_no_global_sort_of_fact(spark, sf_dir):
    # ranks come from domain-sized frequency maps; the fact is hashed,
    # never sorted — windows exist only over the tiny maps
    import re as _re
    p = _plan(spark, sf_dir, "spearman_rank_corr")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jw_pairs_inherit_probe_partitioning(spark, sf_dir):
    # the dimension repartitions BEFORE the self-join; repartitioning
    # the pair table AFTER would put an Exchange above the join
    p = _plan(spark, sf_dir, "jw_blocked_match")
    # the formatted plan's node tree, root first: no Exchange node
    # between the BroadcastHashJoin and the root-most ArrowEvalPython,
    # so every Arrow pass over the pairs runs on the probe partitions
    # (a repartition of the pairs lands above the pushed-down filter)
    tree = p.split("\n\n", 1)[0].splitlines()
    join_at = next(i for i, line in enumerate(tree) if "BroadcastHashJoin" in line)
    udf_at = min(i for i, line in enumerate(tree[:join_at]) if "ArrowEvalPython" in line)
    assert not [line for line in tree[udf_at + 1 : join_at] if "Exchange" in line]
    assert p.count("ArrowEvalPython") >= 1  # the Arrow kernel runs distributed


def test_skyline_windows_over_price_grid_not_parts(spark, sf_dir):
    # the dominance windows run over the price-GROUP grid; the part
    # table joins back via broadcast — no global sort of parts
    p = _plan(spark, sf_dir, "part_skyline")
    assert "BroadcastHashJoin" in p
    # exactly one scan of part feeds the grid aggregate and one the
    # probe side (self-consumption), never a cartesian
    assert "CartesianProduct" not in p


def test_textrank_edges_never_reshuffle(spark, sf_dir):
    # pagerank attaches outdeg once and checkpoints: iterations show
    # NO Exchange over the edge relation (checkpointed scan), only
    # the per-iteration dst aggregate exchanges
    p = _plan(spark, sf_dir, "textrank_keywords")
    assert "Scan ExistingRDD" in p  # the checkpointed edge table
    assert "TakeOrderedAndProject" in p  # top-k never a global sort


def test_hurst_block_windows_are_partitioned(spark, sf_dir):
    # per-(m, blk) windows must be hash-partitioned, not single-slot
    p = _plan(spark, sf_dir, "hurst_rs_daily")
    assert "Window" in p
    # Catalyst folds (m, blk) into a grouping expression — either
    # spelling proves the block windows shuffle on a hash key
    assert ("hashpartitioning(m" in p
            or "hashpartitioning(_groupingexpression" in p)


def test_cf_holdout_score_sum_is_lattice_long(spark, sf_dir):
    # the (user, candidate) score aggregate sums the 6-dp LATTICE
    # integers floor(sim*1e6+0.5) (order-free, exact — r9: the long
    # fast path replaced the value-identical DECIMAL(18,6) cast + sum;
    # sim = round(x,6) is lattice-aligned so the floor recovers the
    # unscaled decimal exactly), never raw doubles. Asserted on the
    # PRE-checkpoint construction path (_cf_recs): the registry face
    # materializes recs before the hits join (r6 — an inline window
    # output forced an SMJ over the whole cand subtree), which hides
    # the aggregate from the final face plan.
    from pyspark.sql import functions as F

    from doeecommerce_datapipeline_spark.io import table
    from doeecommerce_datapipeline_spark.operators.retail import (
        _cf_recs,
        item_neighbors,
    )

    li = table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    profile = (
        li.join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    df = _cf_recs(item_neighbors(baskets), profile)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert re.search(r"sum\(FLOOR\(\(\(sim", p, re.I)
    assert not re.search(r"sum\(cast\(sim.* as decimal", p, re.I)
    assert "Window" in p  # the rank cap rides a per-user window


def test_clustering_triangle_join_is_oriented(spark, sf_dir):
    # the wedge join runs over the checkpointed ORIENTED edge table
    # (Scan ExistingRDD), and the closing edge check is a semi join
    p = _plan(spark, sf_dir, "copurchase_clustering")
    assert "Scan ExistingRDD" in p
    assert "LeftSemi" in p


def test_intrinsic_dim_no_pair_explosion(spark, sf_dir):
    """embedding_intrinsic_dim's pair matrix computes driver-side
    within its ≤1000-vector contract (r5): the plan must never
    regress to the 64·n²-row per-dim explode-join — no Generate,
    no join of any strategy, and only the tiny reduce exchanges."""
    p = _plan(spark, sf_dir, "embedding_intrinsic_dim")
    assert "Generate" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("+- Exchange") <= 2


def test_markov_chain_not_in_plan(spark, sf_dir):
    """markov_removal_attribution's absorption chain runs driver-side
    on the vocabulary-bounded edge table (r5): the returned plan is
    the ≤4-row result frame — no joins, no windows, at most the
    closing sort's exchange."""
    p = _plan(spark, sf_dir, "markov_removal_attribution")
    assert "Join" not in p
    assert "Window" not in p


def test_ann_scoreboard_single_scan_per_method(spark, sf_dir):
    """ann_recall_eval (r5 batched): per-query rank windows over one
    scored scan per method — no per-query TakeOrdered mini-jobs
    (the plan has zero TakeOrderedAndProject nodes) and the grid
    joins stay broadcast."""
    p = _plan(spark, sf_dir, "ann_recall_eval")
    assert "TakeOrderedAndProject" not in p
    assert "SortMergeJoin" not in p


def test_bloom_filter_probe_below_the_join(spark, sf_dir):
    """bloom_filter_revenue (r6): the k-hash probe must evaluate as a
    Filter directly over the fact scan — BELOW the broadcast join —
    so non-matching lineitems die before any exchange; the join that
    follows stays broadcast (never SortMergeJoin)."""
    p = _plan(spark, sf_dir, "bloom_filter_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "shiftrightunsigned" in p  # the bit test is JVM expressions
    # node (1) is the fact scan and node (2) — its direct parent — is
    # the Filter carrying the xxhash64 probes: bloom over the scan,
    # nothing (no exchange, no join) in between
    assert "(1) Scan parquet" in p
    filt = p.split("(2) Filter", 1)[1].split("\n(3)", 1)[0]
    assert "xxhash64" in filt


# --- table-driven guards -------------------------------------------------
#
# face -> checks on its formatted plan. A check is one of:
#   "Op==n" / "Op<=n" / "Op>=n"  count of plan nodes named Op (each node
#                                 has one "(k) Op" detail header)
#   "~text==n"                    raw occurrences of text (e.g. the
#                                 "hashpartitioning(col" of one Exchange)
#   "!text"                       text absent from the plan
#   "no global sort"              no Sort node with global=true
#   "text"                        text present in the plan
# The comment above each entry states the claim the checks pin.

GUARDS = {
    # Q1: shipdate bound in the scan (named test), vectorized scan, one
    # exchange between the partial and final aggregate, two codegen stages
    "pricing_summary": ("Exchange==1", "HashAggregate==2", "Batched: true", "!codegen id : 3"),
    # orders pre-aggregate on custkey; the small aggregate broadcasts
    "user_activity": ("BroadcastHashJoin==1", "HashAggregate==4", "!SortMergeJoin"),
    "order_count_histogram": ("BroadcastHashJoin==1", "HashAggregate==4", "!SortMergeJoin"),
    # all four dimension joins broadcast; one exchange (the final agg)
    "revenue_by_region": ("BroadcastHashJoin==4", "Exchange==1", "!SortMergeJoin"),
    # the row_number window sorts per user, never globally
    "dedup_latest_event": ("no global sort",),
    # busiest-day subquery broadcasts; the date equality is join-derived,
    # so the scan pushes IsNotNull only
    "daily_slice": ("BroadcastHashJoin==1", "PushedFilters: [IsNotNull(l_shipdate)]"),
    # hash agg on (month, partkey), then the window on month: two exchanges
    "top_products_daily": ("Exchange==2", "Window==1"),
    # norms sit behind a repartition barrier on both sides of the
    # nested-loop join, which parallelizes across the partitions
    "embedding_near_dups": (
        "BroadcastNestedLoopJoin==1", "~RoundRobinPartitioning(==2", "!SortMergeJoin",
    ),
    # both nation-filtered dims broadcast; a single exchange (final agg)
    "volume_shipping": ("BroadcastHashJoin==5", "Exchange==1"),
    # max_by(struct) = one partial+final SortAggregate on broadcast pairs
    "best_supplier_per_part": (
        "SortAggregate==2", "Exchange==1", "BroadcastHashJoin==3", "!SortMergeJoin",
    ),
    # the relative threshold is a window over the per-supplier aggregate
    "promo_part_suppliers": ("Window==1", "!SortMergeJoin"),
    # Expand fan-out, then one two-phase hash aggregate
    "sliding_hourly": ("HashAggregate==2",),
    # pre-agg, then the unordered windows share the orderkey exchange:
    # both correlated subqueries decorrelate without a fact self-join
    "last_shipper_wins": ("Window==2", "Exchange==3", "!SortMergeJoin"),
    # three conditional-min window passes share one user_id exchange
    "funnel_conversion": ("Window==3", "~hashpartitioning(user_id==1"),
    # the fix-point labels come back as one checkpointed scan
    "dedup_components": ("Scan ExistingRDD==1", "!Exchange"),
    # the hot-shingle cap is a broadcast left-anti join before the
    # inverted-index self-join
    "ngram_jaccard_pairs": ("BroadcastHashJoin LeftAnti", "!SortMergeJoin"),
    # Q5: region filter resolved before broadcast; one fact exchange
    "local_supplier_revenue": (
        "BroadcastHashJoin==5", "Exchange==1", "EqualTo(r_name,REGION_1)",
    ),
    # Q11: per-part rollup and 1-row global total, two aggregate pairs
    "part_value_concentration": ("HashAggregate==4",),
    # Q15: the MAX and the supplier dim join by broadcast
    "top_supplier_revenue": ("BroadcastHashJoin==2", "!SortMergeJoin"),
    # Q19: the OR-of-ANDs quantity bounds reach the lineitem scan
    "bracket_revenue": ("Exchange==1", "Or(Or(And(GreaterThanOrEqual(l_quantity"),
    # df is a COUNT window over the tf aggregate, then the rank window
    "tfidf_topk": ("Window==2",),
    # per-row hashing: scan-bound, zero exchanges
    "hash_split": ("!Exchange", "md5("),
    "pseudonymize_events": ("!Exchange", "md5("),
    "collapse_adjacent_repeats": ("!Exchange", "md5("),
    # per-row fingerprint bucket: one scan
    "source_mix_sample": ("Scan parquet==1",),
    # stride-spaced token windows via posexplode
    "chunk_documents": ("posexplode",),
    # RANGE frame on epoch seconds over one custkey exchange
    "moving_avg_7d": (
        "Exchange==1", "~hashpartitioning(o_custkey==1", "RangeFrame", "no global sort",
    ),
    # numerator and denominator fold in ONE aggregate (CASE inside the sum)
    "market_share": ("HashAggregate==2", "Exchange==1", "CASE WHEN"),
    "promo_revenue_pct": ("HashAggregate==2", "Exchange==1", "CASE WHEN"),
    # EXISTS -> broadcast LeftSemi; the quarter filter reaches the scan
    "late_ship_priority_counts": ("BroadcastHashJoin LeftSemi", "GreaterThanOrEqual(o_orderdate"),
    # aggregate-then-broadcast dims; top-20 is TakeOrderedAndProject
    "returned_top_customers": ("BroadcastHashJoin==3", "Exchange==1", "TakeOrderedAndProject==1"),
    # gaps-and-islands windows never sort globally
    "scd2_customer_priority": ("no global sort",),
    # one source-keyed exchange under the group limit
    "stratified_sample": ("~hashpartitioning(source==1",),
    # reuses the checkpointed fix-point labels; no ranking window
    "near_dedup_corpus": ("Scan ExistingRDD>=1", "!Window"),
    # the pair-set cell is max(), not avg(): order-free
    "source_overlap_matrix": ("max(", "!avg("),
    # adjacent pairs from one explode of the token array, no self-join
    "bigram_lm": ("Generate==1", "!Join"),
    # per-type stats broadcast back; the fact shuffles once
    "value_zscore_outliers": ("Exchange==1", "BroadcastHashJoin==1"),
    # min/max single-row build + 20-bucket agg: two exchanges
    "price_histogram": ("Exchange==2",),
    # unpivot is one Expand over one scan
    "part_metrics_unpivot": ("Scan parquet==1",),
    # per-user min cohort table broadcasts back over the activity set
    "user_retention_cohorts": ("BroadcastHashJoin==1", "Exchange==3", "min("),
    # distinct (user, type) before the broadcast self-join
    "event_type_cooccurrence": ("BroadcastHashJoin==1", "HashAggregate==6", "!SortMergeJoin"),
    # sequence() spine from a 1-row aggregate; fill window at day grain
    "daily_revenue_gapfilled": ("Generate==1", "Window==1", "sequence("),
    # INTERSECT/EXCEPT as semi/anti joins over distinct ids
    "user_set_ops": ("LeftSemi", "LeftAnti", "Union==2"),
    # exact percentile per bounded group in one object aggregate
    "returnflag_price_quartiles": ("ObjectHashAggregate==2", "Exchange==1", "percentile("),
    # signatures are checkpointed before the band/chunk self-joins, so the
    # explode/hash pipeline never re-runs from parquet
    "simhash_dedup_docs": ("Scan ExistingRDD>=1", "!Scan parquet"),
    "minhash_dedup_docs": ("Scan ExistingRDD>=1", "!Scan parquet"),
    # each (user, day) fans to its window anchors map-side; no window
    "active_users_trailing_7d": ("Generate==1", "BroadcastHashJoin==1", "!Window"),
    # window + two-level agg reuse the user_id partitioning: two exchanges
    "activity_streaks": ("Exchange==2", "Window==1"),
    # global windows run over aggregated grains only
    "revenue_pareto": ("Window==1", "BroadcastNestedLoopJoin==1"),
    "session_event_paths": ("TakeOrderedAndProject==1", "WindowGroupLimit==1"),
    # per-day HLL sketches union-merge to month
    "sketch_rollup_daily_users": ("hll_union_agg",),
    # one shingle explode (named test); df window, doc agg: three exchanges
    "boilerplate_fraction": ("Exchange==3",),
    # top-V vocabulary is TakeOrderedAndProject, broadcast as a left join
    "oov_ratio": ("TakeOrderedAndProject==1", "BroadcastHashJoin LeftOuter"),
    # anti-join against the distinct base fingerprints, broadcast
    "incremental_dedup_new_docs": ("BroadcastHashJoin LeftAnti",),
    # denominator is a window; the budget split is FLOOR
    "temperature_mix_weights": ("Window==1", "FLOOR("),
    # the merge loop runs driver-side under the vocab cap: the returned
    # plan is the materialized result
    "bpe_merges": ("Scan ExistingRDD==1", "!Exchange"),
    # one conditional-count aggregate over the bucket grid + a window
    "value_drift_by_bucket": ("HashAggregate==4", "Window==1"),
    # PageRank iterates on checkpointed state; top-k over it, no exchange
    "supplier_influence_rank": ("TakeOrderedAndProject==1", "!Exchange"),
    # oriented wedge join + closing-edge semi-join over checkpointed pairs
    "near_dup_triangles": ("LeftSemi", "Scan ExistingRDD==3", "!Scan parquet"),
    # null counts + distincts in one aggregate (Expand); map-side unpivot
    "profile_events": ("Expand==1", "Generate==1", "Exchange==2"),
    # one bigram explode; both COUNT windows share one w1 exchange
    "doc_perplexity": ("Generate==1", "Window==2", "~hashpartitioning(w1==1"),
    # survivors via left-anti on the dropped-id set
    "semdedup_keep": ("LeftAnti",),
    # verification joins broadcast the per-doc hashed sets
    "jaccard_prefix_join": ("BroadcastHashJoin==3", "!SortMergeJoin"),
    # percentile bounds in one object agg, broadcast back over the fact
    "winsorized_value_stats": ("BroadcastHashJoin==1", "Exchange==2", "ObjectHashAggregate==2"),
    # rank/percent_rank/cume_dist/ntile share one window and one exchange
    "order_rank_metrics": ("Window==1", "Exchange==1", "ntile(", "cume_dist("),
    # union-timeline as-of: one window, zero joins
    "revenue_attribution": ("!Join", "Window==1", "Union==1"),
    # ignorenulls windows at day grain over the broadcast-joined spine
    "daily_revenue_interpolated": ("Window==1", "BroadcastHashJoin LeftOuter"),
    # basket table checkpointed once; counts broadcast onto survivors
    "market_basket_lift": (
        "!Scan parquet", "BroadcastHashJoin==2", "BroadcastNestedLoopJoin==1",
    ),
    # three ntile windows; the reference date is a 1-row nested-loop build
    "rfm_segments": ("Window==3", "BroadcastNestedLoopJoin==1", "ntile("),
    # six exchanges incl. the countDistinct expand; one cumulative window
    "cohort_ltv": ("Exchange==6", "Window==1", "BroadcastHashJoin==2"),
    # one fact scan, two exchanges: (priority, day) rollup, OLS reduce
    "revenue_trend_ols": ("Exchange==2", "Scan parquet==1"),
    # daily rollup -> posexplode fan-out -> target-day agg; broadcast back
    "ewma_daily_revenue": ("posexplode", "BroadcastHashJoin==1", "Exchange==3"),
    # percentile aggs broadcast back; the fact never shuffles for a join
    "value_mad_outliers": ("BroadcastHashJoin==3", "!SortMergeJoin"),
    # sketch posexplode + cell agg; exact top-20; broadcast probes
    "heavy_hitters_cms": (
        "Exchange==2", "TakeOrderedAndProject==1", "BroadcastHashJoin==1", "posexplode",
    ),
    # percentile row x top-1 row is a single-row nested-loop join
    "key_skew_profile": ("BroadcastNestedLoopJoin==1", "TakeOrderedAndProject==1"),
    # BFS rounds run on the checkpointed edge table: no exchange after it
    "trade_reach": ("Scan ExistingRDD==1", "!Exchange"),
    # Q21: one (okey, suppkey) agg + okey window; supplier dim broadcasts
    "blamed_suppliers": (
        "Window==1", "TakeOrderedAndProject==1", "BroadcastHashJoin==2", "!SortMergeJoin",
    ),
    # lag window over the daily rollup
    "revenue_day_over_day": ("Window==1", "Exchange==2", "lag("),
    # one trigram explode; hot set broadcasts; rebuild is an array filter
    "boilerplate_removed": ("Generate==1", "BroadcastHashJoin==2", "filter("),
    # one source-keyed exchange under WindowGroupLimit
    "weighted_doc_sample": ("Exchange==1", "WindowGroupLimit==2", "~hashpartitioning(source==1"),
    # cumulative window + 1-row stats broadcast; argmax is a 1-row top-k
    "revenue_changepoint": (
        "BroadcastNestedLoopJoin==1", "TakeOrderedAndProject==1", "Window==1",
    ),
    # blocking equi-join broadcasts; thresholded levenshtein
    "part_match_blocking": ("BroadcastHashJoin==1", "levenshtein(", "!SortMergeJoin"),
    # scoring reads the shared featurized cache (JVM transform, no Python)
    # and reduces to a hash aggregate on is_holdout
    "quality_classifier_scores": (
        "InMemoryTableScan", "Keys [1]: [is_holdout", "!ArrowEvalPython", "!BatchEvalPython",
    ),
    # per-day session sweeps (global-sort check is a named test)
    "peak_concurrent_sessions": ("MergingSessions",),
    # the seasonal frame partitions by weekday: nothing sorts globally
    "dow_baseline_anomalies": ("no global sort", "Window==1", "Exchange==2"),
    # frequency-map ranks attach by three broadcasts, no global sort
    "spearman_rank_corr": ("BroadcastHashJoin==3", "no global sort"),
    # one orderkey join; +/- flows fan out map-side before the windows
    "order_backlog_sweep": ("BroadcastHashJoin==1", "Generate==1", "Window==3"),
    # the day-grain series is checkpointed; lags from one spine join
    "view_purchase_xcorr": ("Scan ExistingRDD==2", "!Scan parquet", "BroadcastHashJoin==1"),
    # the xB weight fan-out is one map-side explode
    "bootstrap_mean_ci": ("Generate==1",),
    # the build side broadcasts; pairs keep the probe partitioning, and
    # the Jaro-Winkler kernel runs once per pair (filter and output share it)
    "jw_blocked_match": ("BroadcastHashJoin==1", "!SortMergeJoin", "ArrowEvalPython==1"),
    # fusion is a small full-outer join of top-k components
    "rrf_fusion_search": ("FullOuter", "TakeOrderedAndProject==3"),
    # chain state rides one user-partitioned window family
    "window_funnel_depth": ("Window==2", "Exchange==2"),
    # LEADs over one per-user sort; no self-joins
    "event_trigram_paths": ("!Join", "Window==1", "lead("),
    "markov_transitions": ("!Join", "lead("),
    # holding times from one LEAD
    "twap_user_day": ("Window==1", "lead("),
    # per-term top-10 is a bounded word-partitioned window
    "inverted_index_postings": ("WindowGroupLimit==2", "no global sort"),
    # the vocab-sized rank table is checkpointed, never re-tokenized
    "vocab_coverage_curve": ("!Scan parquet", "Scan ExistingRDD==5"),
    # basket table materialized once; bounded per-part neighbor window
    "item_item_cosine": ("WindowGroupLimit", "InMemoryTableScan"),
    # one partial-aggregated pass over the fact to the stats row
    "chi2_independence_test": ("Scan parquet==1",),
    "ab_conversion_ztest": ("Scan parquet==1",),
    # ... and so do these: the two-type stats fold to one row by
    # conditional aggregates, the day range comes off the (type, day)
    # counts, and p-bar off the monthly counts — one scan per table
    "welch_value_ttest": ("Scan parquet==1", "~/events.parquet]==1", "!Join"),
    "event_fano_factor": ("Scan parquet==1", "~/events.parquet]==1", "!Join"),
    "ship_sla_pchart": (
        "Scan parquet==2", "~/lineitem.parquet]==1", "~/orders.parquet]==1",
        "BroadcastHashJoin==1",
    ),
    # the bounds pass and the one binning pass; the half totals are a
    # window over the bin counts, not a second binning joined back
    "value_psi_drift": ("Scan parquet==2", "Window==1", "!BroadcastHashJoin"),
    # PAVA is one grouped-map over the calibration sample
    "isotonic_calibration": ("FlatMapGroupsInPandas==1",),
    # checkpointed (customer, month) table full-outer self-joined
    "revenue_bridge_monthly": ("FullOuter", "!Scan parquet"),
    # no sliding countDistinct: bounded day fan-out per horizon
    "dau_wau_stickiness": ("Generate==2", "!Window"),
    # shares quantize to DECIMAL(18,9) before the per-group sum
    "supplier_hhi_by_nation": ("BroadcastHashJoin==2", "decimal(18,9)"),
    "priority_mix_shift": ("decimal(18,9)",),
    # per-user counts checkpointed; the Beta prior is one broadcast row
    "eb_shrunk_user_conversion": ("BroadcastNestedLoopJoin==1", "!Scan parquet"),
    # one orderkey join; period bounds arrive as a 1-row broadcast
    "promo_did_estimate": ("BroadcastNestedLoopJoin==1", "BroadcastHashJoin==2"),
    # bigram explode + one map-side fan-out over the cutoffs
    "ppl_filter_sweep": ("Generate==2",),
    # the temperature_mix_weights shape: one scan, one window
    "mix_epochs_plan": ("Scan parquet==1", "Window==1"),
    # eval over the component top-k tables
    "retrieval_ndcg_eval": ("TakeOrderedAndProject==5",),
    # one scan, one user-grain exchange, single-row moment rollup
    "cuped_adjusted_ab": ("Exchange==2", "Scan parquet==1", "!Join"),
    # one scan; the recursion is one grouped-map over the daily series
    "holt_winters_weekly": ("FlatMapGroupsInPandas==1", "Scan parquet==1"),
    # the integer recursion is an F.aggregate fold: JVM only
    "inventory_ss_policy": (
        "aggregate(", "!ArrowEvalPython", "!FlatMapGroupsInPandas", "Exchange==2",
    ),
    # model table broadcasts back over the checkpointed bucket counts
    "dsir_importance_weights": ("BroadcastHashJoin==1", "!Scan parquet"),
    # composition adds doc-grain left joins onto the parents
    "corpus_health_by_source": ("BroadcastHashJoin LeftOuter",),
    # pair table checkpointed; the 1-row total broadcasts
    "kneser_ney_bigrams": ("BroadcastNestedLoopJoin==1", "!Scan parquet"),
    # coalition and marginal tables are constant-size broadcasts
    "shapley_attribution": ("BroadcastHashJoin==3", "!SortMergeJoin"),
    # score tables broadcast onto the checkpointed edges; scalar norm
    "hits_part_authorities": (
        "BroadcastHashJoin==4", "!SortMergeJoin", "TakeOrderedAndProject==1",
        "BroadcastNestedLoopJoin==1",
    ),
    # bitset probe is JVM bit ops; the join stays broadcast
    "bitmap_filter_revenue": ("BroadcastHashJoin==1", "!SortMergeJoin", "shiftright"),
    # spend agg broadcast onto the dimension; no sorts or windows
    "k_anonymity_classes": ("BroadcastHashJoin==1", "Window==0", "Sort==0"),
    # md5-lattice draws (2 rows per doc); one equi-join back
    "contrastive_negatives": ("BroadcastHashJoin==1", "Generate==1", "md5("),
    # fingerprint-bucketed pair join, never all-pairs
    "winnowing_fingerprints": ("!BroadcastNestedLoopJoin", "!CartesianProduct"),
    # (part, month) collapse + the ABC cumulative window
    "abc_xyz_inventory": ("Exchange==3", "Window==2"),
    # exact power-of-two decay weights, no transcendental pow
    "time_decay_attribution": ("BroadcastHashJoin==1", "!pow("),
    # one checkpointed doc aggregate feeds the scorer; top-k
    "query_likelihood_search": ("TakeOrderedAndProject==1", "!Scan parquet"),
    # checkpointed rollup; each IRLS step broadcasts the coefficients
    "huber_trend_by_type": ("BroadcastHashJoin==2", "!Scan parquet"),
    # one scan; top-k is TakeOrderedAndProject
    "adamic_adar_parts": ("TakeOrderedAndProject==1", "Scan parquet==1"),
    # two broadcast semi-joins peel the survivor set; checkpointed edges
    "copurchase_core_collapse": ("~BroadcastHashJoin LeftSemi==2", "!Scan parquet"),
    # entropy over the checkpointed transition table
    "markov_entropy_rate": ("!Scan parquet",),
    # the recursion runs over the checkpointed date-grain series
    "haar_energy_daily": ("!Scan parquet", "Union==1"),
    # checkpointed customer grain; nation stats broadcast back
    "theil_inequality_by_nation": ("BroadcastHashJoin==2", "!Scan parquet"),
    # order-free first-seen: MIN(doc_id) over the gram postings
    "ngram_novelty_by_source": ("min(doc_id",),
    # LOSO means from the checkpointed source rollup + 1-row totals
    "loso_source_impact": ("!Scan parquet", "BroadcastNestedLoopJoin==1"),
    # one letter explode into the (doc, char) count
    "char_entropy_flags": ("Generate==1",),
    # trailing RANGE frame + per-user argmax; user-grain totals broadcast
    "rage_burst_users": ("Window==2", "BroadcastHashJoin==1", "RangeFrame"),
    # lead-with-wrap window; two dense-id equi-joins
    "triplet_violation_rate": ("Window==1", "BroadcastHashJoin==2", "lead("),
    # entropy + ntile at customer grain
    "brand_diversity_deciles": ("Window==2", "BroadcastHashJoin==2", "ntile("),
    # MAX per click collapses fan-out before the hour rollup
    "click_conversion_by_hour": ("BroadcastHashJoin==1", "HashAggregate==4"),
    # rides the checkpointed LPA state
    "community_modularity": ("!Scan parquet",),
    # baked cos/sin literals, no engine trig; one (user, hour) aggregate
    "circadian_concentration": ("Exchange==2", "Scan parquet==1", "!COS(", "!SIN("),
    # pooled rate is a 1-row broadcast; one cumulative window
    "sprt_daily_monitor": ("Window==1", "BroadcastNestedLoopJoin==1"),
    # scan-bound decode/pool mapInPandas chain
    "image_downsample_metrics": ("!Exchange", "MapInPandas==2"),
    # one dimension aggregate + per-row noise expressions
    "dp_noisy_counts": ("HashAggregate==2", "!Join"),
    # forward as-of: union both timelines, one DESC window, no join
    "asof_next_purchase": ("!Join", "Union==1", "Window==1"),
    # one quantile window partitioned by brand
    "inventory_order_policies": ("Window==1",),
    # dims broadcast; 625-cell aggregate + row-normalizer window
    "trade_flow_matrix": ("BroadcastHashJoin==5", "Window==1", "!SortMergeJoin"),
    # one panel aggregate via max_by on the (score, -doc_id) struct
    "best_of_n_selection": ("max_by(", "SortAggregate==2", "!Join"),
    # the (source, word) counts are checkpointed
    "burrows_delta_sources": ("!Scan parquet",),
    # banded self-join: side A explodes to bucket +/- 1
    "similar_payment_screen": ("Generate==1", "BroadcastHashJoin==1"),
    # members join + canonical-split broadcast
    "split_repair_assignments": ("BroadcastHashJoin==3",),
    # weekday closed form: no calendar explode
    "business_days_latency": ("!Generate", "BroadcastHashJoin==1"),
    # leftover scalar broadcasts over the source rows
    "budget_allocation_plan": ("BroadcastNestedLoopJoin==1",),
    # exclusive-mass identity keeps the pair join inner
    "source_js_divergence": ("!FullOuter", "BroadcastHashJoin==3"),
    # dominance windows over the price grid, no O(n^2) anti-join
    "part_skyline": ("Window==1", "!LeftAnti"),
    # order statistics via calendar-bounded windows
    "runs_test_revenue": ("Window==2", "BroadcastNestedLoopJoin==2"),
    # the LB extension is one cumulative window
    "ljung_box_revenue": ("Window==1",),
    # the pair blow-up is over the checkpointed daily spine only
    "kendall_tau_daily": ("BroadcastNestedLoopJoin==2", "!Scan parquet"),
    # W-offset explode, not n^2; thresholded levenshtein
    "sorted_neighborhood_pairs": ("Generate==1", "levenshtein(", "!BroadcastNestedLoopJoin"),
    # the polish sweeps are constant-size; the result is materialized
    "median_polish_dow_hour": ("Scan ExistingRDD==1",),
    # one partial-aggregated exchange to k rows; no join
    "anova_value_by_type": ("Exchange==2", "Scan parquet==1", "!Join"),
    # checkpointed series; one exchange left in the returned plan
    "adf_daily_revenue": ("!Scan parquet", "Exchange==1"),
    # one lineitem scan and one orders scan serve all three split tables;
    # the split is a customer-keyed window
    "cf_holdout_hitrate": ("Scan parquet==2", "Window>=1"),
    # 5x5 self-join of the 1-row stats; BH windows
    "pairwise_welch_fdr": ("BroadcastNestedLoopJoin==1", "Window==3"),
    # checkpointed daily rollup
    "granger_count_to_revenue": ("!Scan parquet", "BroadcastHashJoin==1"),
    # one (doc, term) explode; top-k
    "term_burstiness": ("Generate==1", "TakeOrderedAndProject==1"),
    # pooled moments from the checkpointed brand rollup
    "simpson_slope_check": ("!Scan parquet",),
    # one checkpointed tf table feeds both passes; top-k cuts
    "bm25_prf_search": ("!Scan parquet", "TakeOrderedAndProject==5"),
    # one CDF window over the distinct-value grid
    "value_emd_drift": ("Window==1",),
    # checkpointed id-pair tables; verdict from one full-outer join
    "lsh_recall_eval": ("FullOuter", "!Scan parquet"),
    # rides the checkpointed decomposition; one rank window
    "stl_residual_anomalies": ("!Scan parquet", "Window==1"),
    # (type, side)-partitioned rank windows
    "value_qte_deciles": ("Window==4",),
    # both features from one scan, no explode; moments broadcast back
    "doc_mahalanobis_outliers": ("!Generate", "BroadcastNestedLoopJoin==1"),
    # checkpointed (part, month) grain; base month broadcasts
    "price_indices_monthly": ("BroadcastHashJoin==2", "!Scan parquet"),
    # shares the checkpointed edge build; degree table broadcasts twice
    "copurchase_assortativity": ("BroadcastHashJoin==2", "!Scan parquet"),
    # matching as a GROUP BY, no nearest-neighbor pair join
    "cem_promo_att": ("!SortMergeJoin",),
    # checkpointed pair counts; marginals broadcast back; top-k
    "collocations_g2": ("BroadcastHashJoin==2", "TakeOrderedAndProject==1", "!Scan parquet"),
    # checkpointed grain; national rates are broadcast scalars
    "revenue_shift_share": ("!Scan parquet", "BroadcastNestedLoopJoin==2"),
    # one lag join on the day index
    "durbin_watson_trend": ("BroadcastHashJoin==1",),
    # spectrum identity: one explode, no second-pass join
    "yule_k_by_source": ("Generate==1", "!Join"),
    # bounded probe x sample nested-loop builds, never a cartesian
    "hopkins_statistic": ("BroadcastNestedLoopJoin==5", "!CartesianProduct"),
    # one broadcast orderkey join; single-row reduce
    "catalog_size_estimates": ("BroadcastHashJoin==1", "BroadcastNestedLoopJoin==1"),
    # one broadcast lineitem-part join into a 4-cell aggregate
    "promo_return_odds": ("BroadcastHashJoin==1", "Exchange==1", "HashAggregate==2"),
    # at-risk prefix sums over the checkpointed duration grid
    "churn_logrank_test": ("!Scan parquet", "Window==1"),
    # the two gates join at doc grain
    "filter_mcnemar_test": ("BroadcastHashJoin==1",),
    # the O(n^2) pairs live on the calendar spine
    "distance_correlation_daily": ("BroadcastNestedLoopJoin==2",),
    # codegen regex + Luhn fold, no Python UDF; one segment exchange
    "pii_scan_report": (
        "Exchange==1", "regexp_extract_all", "!ArrowEvalPython", "!BatchEvalPython",
    ),
    # zero exchanges: per-row regexp_replace + md5
    "pii_redaction_audit": ("!Exchange", "regexp_replace", "md5("),
    # repartition, then two chained mapInPandas stages; no joins
    "jpeg_roundtrip_audit": ("MapInPandas==2", "Exchange==1", "!Join"),
    "png_roundtrip_audit": ("MapInPandas==2", "Exchange==1", "!Join", "IsNotNull(doc_id)"),
}

_COUNT = re.compile(r"(~?)(.+?)(==|<=|>=)(\d+)")


def _global_sorts(p: str) -> list[str]:
    return [
        line for line in p.splitlines()
        if re.match(r"^\s*Arguments: \[.*(ASC|DESC).*\], true, \d", line)
    ]


def _violations(p: str, checks: tuple[str, ...]) -> list[str]:
    bad = []
    for check in checks:
        m = _COUNT.fullmatch(check)
        if check == "no global sort":
            ok = not _global_sorts(p)
        elif m:
            got = (
                p.count(m[2]) if m[1]
                else len(re.findall(rf"^\(\d+\) {re.escape(m[2])}\b", p, re.M))
            )
            want = int(m[4])
            ok = {"==": got == want, "<=": got <= want, ">=": got >= want}[m[3]]
        elif check.startswith("!"):
            ok = check[1:] not in p
        else:
            ok = check in p
        if not ok:
            bad.append(check)
    return bad


@pytest.mark.parametrize("name", sorted(GUARDS))
def test_plan_claims(spark, sf_dir, name):
    assert not _violations(_plan(spark, sf_dir, name), GUARDS[name])
