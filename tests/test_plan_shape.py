"""Plan-shape assertions: the optimizations we rely on at scale must be
visible in the physical plan (pushdown, pruning, broadcast)."""

from cassandra_log_analyzer_mcp_spark.operators import (
    analytics,
    curation,
    similarity,
    textops,
)


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_dir):
    plan = _plan(analytics.pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: unused columns don't reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    plan = _plan(analytics.regional_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    # the only shuffle joins are fact-fact
    assert plan.count("SortMergeJoin") <= 1


def test_shipping_priority_broadcasts_customer(spark, sf_dir):
    plan = _plan(analytics.shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan


def test_late_shipment_priority_is_semi_join(spark, sf_dir):
    """The EXISTS lowers to a LeftSemi join — lineitem multiplicity
    never materializes, so there is no row explosion and no dedup."""
    plan = _plan(analytics.late_shipment_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    # both sides prune to key + date columns only
    assert "l_extendedprice" not in plan


def test_customer_order_distribution_preaggregates_orders(spark, sf_dir):
    """orders must roll up to (custkey, n) BEFORE the customer join —
    two HashAggregates below/above one join, never a raw-orders join."""
    plan = _plan(analytics.customer_order_distribution(spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert "o_orderdate" not in plan  # column pruning on orders


def test_top_suppliers_no_second_scan(spark, sf_dir):
    """The max-revenue filter rides a window over the rollup — exactly
    one lineitem scan, with the quarter filter pushed to it."""
    plan = _plan(analytics.top_suppliers(spark, sf_dir))
    # lineitem + supplier, scanned once each
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "BroadcastHashJoin" in plan


def test_returned_item_customers_broadcasts_dims(spark, sf_dir):
    """customer and nation broadcast onto the rollup; the only shuffle
    join is the filtered fact-fact orders⋈lineitem."""
    plan = _plan(analytics.returned_item_customers(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(l_returnflag)" in plan


def test_large_orders_filters_rollup_before_joins(spark, sf_dir):
    """The HAVING filter must apply to the quantity rollup BEFORE any
    join — the join-back touches only surviving orderkeys."""
    plan = _plan(analytics.large_orders(spark, sf_dir))
    agg_end = plan.find("HashAggregate")
    assert agg_end != -1
    assert "BroadcastHashJoin" in plan
    # lineitem scan reads exactly the two rollup columns
    assert "l_extendedprice" not in plan


def test_idle_customers_is_anti_join_with_pruned_probe(spark, sf_dir):
    """Anti-join probes only the date-filtered orders keys; the scalar
    average broadcasts back (nested-loop on ONE row is fine)."""
    plan = _plan(analytics.idle_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
    assert "o_totalprice" not in plan


def test_ann_ivf_probe_join_is_broadcast(spark, sf_dir):
    """The probe list must broadcast: a shuffle join there would
    repartition the whole corpus per query batch."""
    plan = _plan(similarity.ann_ivf_cosine(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # argmax assignment is an aggregate (struct-max lowers to
    # SortAggregate — partial combine still collapses the 16 candidate
    # rows per vector before any shuffle), never a per-vector window
    assert "SortAggregate" in plan or "HashAggregate" in plan


def test_corpus_curation_filters_before_join(spark, sf_dir):
    plan = _plan(curation.corpus_curation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # quality/token gates are plain Filters above the scan, not
    # post-join — the join input is the curated subset
    join_pos = plan.find("Join")
    filt_pos = plan.find("Filter")
    assert filt_pos != -1 and (join_pos == -1 or filt_pos > 0)
    assert "PushedFilters" in plan


def test_vocab_top_k_never_global_sorts(spark, sf_dir):
    plan = _plan(textops.vocab_top_tokens(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_event_funnel_single_user_shuffle(spark, sf_dir):
    """All three stage windows and the per-user collapse must share
    ONE user_id Exchange; the only other exchange is the tiny
    SinglePartition for the 3-value global agg."""
    plan = _plan(analytics.event_funnel(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("Arguments: SinglePartition") == 1
    assert plan.count(") Window") == 3  # detail header per Window node


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The training corpus must never shuffle — the (tiny) eval
    shingle set broadcasts to it."""
    plan = _plan(curation.decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_doc_repetition_is_shuffle_free(spark, sf_dir):
    """The repetition gates are per-doc array expressions — any HASH
    shuffle here means someone broke the scan-speed property (the one
    round-robin Exchange is the documented single-split testdata
    spread in sources.tables.documents)."""
    plan = _plan(textops.doc_repetition(spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_bm25_stats_broadcast_and_single_agg(spark, sf_dir):
    """One global stats row, broadcast back; scoring never shuffles
    the corpus."""
    plan = _plan(textops.bm25_search(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    """The per-vector argmin must stay a map expression: no join, no
    window, no per-iteration shuffle of the corpus."""
    from cassandra_log_analyzer_mcp_spark.operators.similarity import (
        _kmeans_assign,
        _quantized,
    )

    quant = _quantized(spark, sf_dir)
    cent = [(i, [1] * 64, 1) for i in range(8)]
    plan = _plan(_kmeans_assign(quant, cent))
    # the only allowed Exchange is _emb_table's ONE-TIME round-robin
    # spread of the single-split testdata scan (round 10 — paid once
    # at quant-cache build, never per iteration); keyed shuffles and
    # windows would mean the argmin stopped being a map expression
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    # tree lines only ("+- Exchange (n)"); the formatted detail
    # section repeats each node as "(n) Exchange"
    assert plan.count("+- Exchange") <= 1
    assert "Window" not in plan


def test_cluster_sizes_avoid_low_cardinality_window(spark, sf_dir):
    """Cluster sizes come from an agg broadcast-joined back — a window
    partitioned by the 8 cluster ids would funnel the corpus through 8
    tasks at scale."""
    plan = _plan(similarity.kmeans_embeddings(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def _window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition(...) argument list in the plan."""
    import re

    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_search_logs_has_no_per_node_global_window(spark, sf_dir):
    """Line numbering must be two-stage: every window partitions on
    (node, bucket) — a window partitioned by node alone funnels a
    node's entire history through one task at scale (the r1 verdict's
    named scale-killer)."""
    from cassandra_log_analyzer_mcp_spark.operators import analysis
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged

    logs = logs_flagged(spark, sf_dir)
    for df in (
        analysis.search_logs(logs, "tombstone"),
        analysis.search_context(logs, "tombstone"),
    ):
        plan = _plan(df)
        specs = _window_specs(plan)
        assert specs, "expected window expressions in the plan"
        for spec in specs:
            # raw-line windows must carry the bucket key; the rollup
            # windows (offset/lag over node×bucket rows) order BY
            # bucket — either way 'bucket' appears in the spec.
            assert "bucket" in spec, f"per-node global window: {spec}"
        # the numbered side joins the tiny offsets rollup by broadcast
        assert "BroadcastHashJoin" in plan


def test_get_errors_global_windows_only_its_top_k_survivors(spark, sf_dir):
    """The cross-node first-N is a per-partition top-k plus a merge
    (TakeOrderedAndProject); the one window, which numbers ``rn``, sits
    directly on its ≤ limit survivors and never on the error stream."""
    from cassandra_log_analyzer_mcp_spark.operators import analysis
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged

    plan = _plan(analysis.get_errors_global(logs_flagged(spark, sf_dir)))
    tree = plan.split("\n\n", 1)[0]
    assert "TakeOrderedAndProject" in tree
    assert len(_window_specs(plan)) == 1
    windows = [ln for ln in tree.splitlines() if ln.lstrip("+- ").startswith("Window ")]
    assert len(windows) == 1
    below = tree.splitlines()[tree.splitlines().index(windows[0]) + 1]
    assert "TakeOrderedAndProject" in below, tree


def test_error_bursts_has_no_per_node_history_window(spark, sf_dir):
    """Burst detection must sessionize via the native session_window
    aggregate (map-side combinable); the only window function allowed
    is the burst_id numbering over the burst-cardinality ROLLUP —
    its spec orders by start_s (a rollup field), never by the raw
    event time. A lag/running-sum over (node ORDER BY ts) would
    funnel a node's entire error history through one task (the r2
    verdict's last remaining scale-killer)."""
    from cassandra_log_analyzer_mcp_spark.operators import analysis
    from cassandra_log_analyzer_mcp_spark.sources.tables import logs_flagged

    logs = logs_flagged(spark, sf_dir)
    for df in (
        analysis.error_bursts(logs),
        analysis.error_recovery(logs),
    ):
        plan = _plan(df)
        assert "session_window" in plan
        for spec in _window_specs(plan):
            assert "start_s" in spec, f"raw-stream window: {spec}"


def test_parse_multiline_segmentation_is_blocked(spark, sf_dir):
    """Segmentation's running header count must partition on
    (node, block), with the cross-block offset coming from the rollup
    — no per-node global running-sum window."""
    from cassandra_log_analyzer_mcp_spark.functions.parsing import (
        parse_multiline,
        synth_multiline_lines,
    )
    from cassandra_log_analyzer_mcp_spark.sources.tables import table

    lines = synth_multiline_lines(table(spark, sf_dir, "events"))
    plan = _plan(parse_multiline(lines))
    specs = _window_specs(plan)
    assert specs
    for spec in specs:
        assert "block" in spec, f"per-node global window: {spec}"
    assert "BroadcastHashJoin" in plan


def test_silver_node_errors_prunes_partitions(spark, sf_dir):
    """The silver consumer's node predicate must land in the scan's
    PartitionFilters — whole (log_date, node) directories skipped at
    the source, the mechanism that makes 'errors on node3' not a
    100 TB scan."""
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        silver_node_errors,
    )

    plan = _plan(silver_node_errors(spark, sf_dir))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "node" in seg and "node1" in seg


def test_discount_band_revenue_is_pure_scan(spark, sf_dir):
    """Q6 shape: no joins, every predicate pushed to the scan, the
    only exchange is the SinglePartition final-agg gather."""
    plan = _plan(analytics.discount_band_revenue(spark, sf_dir))
    assert "Join" not in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    # one Exchange node (header line per node): the final-agg gather
    assert plan.count(") Exchange") == 1 and "SinglePartition" in plan
    # scan reads only the four referenced columns
    assert "l_tax" not in plan and "l_partkey" not in plan


def test_node_summary_silver_prunes_partitions(spark, sf_dir):
    """The B-section-on-silver variant must push its node subset into
    the scan's PartitionFilters — the read skips whole (log_date,
    node) directories instead of re-parsing raw lines per query."""
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        node_summary_silver,
    )

    plan = _plan(node_summary_silver(spark, sf_dir))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "node" in seg and "node1" in seg


def test_nation_volume_broadcasts_dims_and_pushes_dates(spark, sf_dir):
    """Q7 shape: nation-filtered supplier/customer maps broadcast;
    the shipdate window reaches the lineitem scan; the only
    sort-merge-eligible shuffle join is lineitem⋈orders."""
    plan = _plan(analytics.nation_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert plan.count("SortMergeJoin") <= 1


def test_small_quantity_revenue_broadcasts_rollup(spark, sf_dir):
    """Q17 shape: the per-part quantity rollup broadcasts back onto
    the brand-filtered lines — no fact-fact shuffle join at all."""
    plan = _plan(analytics.small_quantity_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_map_only(spark, sf_dir):
    """The scrubber must stay a pure map stage: no shuffle besides the
    documented single-split testdata spread."""
    from cassandra_log_analyzer_mcp_spark.operators.textops import pii_scrub

    plan = _plan(pii_scrub(spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_min_cost_supplier_takeordered_no_global_window(spark, sf_dir):
    """Q2 shape: region/part dims broadcast, the final top-100 is a
    distributed TakeOrderedAndProject — never a single-partition
    global window over part-cardinality rows."""
    plan = _plan(analytics.min_cost_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_profit_by_nation_single_fact_shuffle(spark, sf_dir):
    """Q9 shape: part/supplier/nation broadcast after filters; the
    only fact-fact shuffle join is lineitem⋈orders."""
    plan = _plan(analytics.profit_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1


def test_important_parts_scalar_total_is_broadcast(spark, sf_dir):
    """Q11 shape: the grand-total scalar subquery re-joins as a
    one-row broadcast (BroadcastNestedLoopJoin), never a second
    scan-and-shuffle of the probe side."""
    plan = _plan(analytics.important_parts(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # both consumers (total + probe) read the cached pv rollup — the
    # lineitem scan and part rollup execute once, not per branch
    assert "InMemoryTableScan" in plan


def test_supplier_part_counts_anti_join_is_broadcast(spark, sf_dir):
    """Q16 shape: the supplier blacklist NOT-IN runs as a broadcast
    anti-join over the distinct (part, supplier) pair set."""
    plan = _plan(analytics.supplier_part_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_dominant_part_suppliers_window_over_rollup(spark, sf_dir):
    """Q20 shape: the share window runs over the (part, supplier)
    rollup — the Window's child must be the aggregate, not a raw
    lineitem scan — and dims broadcast."""
    plan = _plan(analytics.dominant_part_suppliers(spark, sf_dir))
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_corpus_shuffle_rank_is_two_stage(spark, sf_dir):
    """The global shuffle position must come from the two-stage
    numbering: every window over corpus rows partitions on the key's
    prefix block (massively parallel), with the 256-row offset rollup
    broadcast back — never a row_number over a single global
    partition of the corpus."""
    plan = _plan(curation.corpus_shuffle(spark, sf_dir))
    specs = _window_specs(plan)
    assert specs, "expected window expressions in the plan"
    # corpus-row windows carry the block key; the only block-free spec
    # is the running offset over the 256-row block rollup (orders by
    # block) — either way 'block' appears in every spec.
    for spec in specs:
        assert "block" in spec, f"global corpus window: {spec}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_pruned_join_prunes_before_shuffle(spark, sf_dir):
    """The three Bloom-position semi-joins must sit in the probe
    subtree BELOW the final orderkey join — the fact rows are pruned
    before they are shuffled (or broadcast-joined) against orders."""
    plan = _plan(analytics.bloom_pruned_join(spark, sf_dir))
    tree = plan.split("(1) ")[0]
    semi = [ln for ln in tree.splitlines() if "LeftSemi" in ln]
    assert len(semi) == 3
    # every semi join is DEEPER in the tree (more indented) than the
    # final exact join — pruning happens on the probe side, upstream
    exact = [
        ln for ln in tree.splitlines()
        if ("BroadcastHashJoin Inner" in ln or "SortMergeJoin" in ln)
    ]
    assert exact, tree
    exact_indent = min(len(ln) - len(ln.lstrip(" :+-")) for ln in exact)
    assert all(
        len(ln) - len(ln.lstrip(" :+-")) > exact_indent for ln in semi
    )


def test_interval_overlap_join_is_equi_not_nested_loop(spark, sf_dir):
    """The range join must lower to an EQUI-join on the time bin —
    never a BroadcastNestedLoopJoin evaluating the inequality over the
    cross product."""
    plan = _plan(analytics.interval_overlap_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_revenue_cube_is_single_expand_pass(spark, sf_dir):
    """The 4-level cube lattice computes in ONE scan: a single Expand
    node feeding partial hash aggregation — not a job per level."""
    tree = _plan(analytics.revenue_cube(spark, sf_dir)).split("(1) ")[0]
    assert tree.count("Expand") == 1
    assert tree.count("Scan parquet") == 1


def test_quality_classifier_single_doc_shuffle(spark, sf_dir):
    """Hashed linear scoring: md5 + weight arithmetic in codegen, one
    doc_id-keyed exchange (partial agg collapses docs map-side), no
    window, no interpreted higher-order fold."""
    plan = _plan(textops.quality_classifier(spark, sf_dir))
    # exactly one hash shuffle: the partially-aggregated doc_id rollup
    # (the round-robin exchanges are the documented single-split
    # testdata spread in sources.tables.documents)
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Window" not in plan


def test_domain_mixture_broadcasts_totals(spark, sf_dir):
    """The 1-row totals frame joins back broadcast — never a shuffle
    keyed on a constant."""
    tree = _plan(curation.domain_mixture(spark, sf_dir)).split("(1) ")[0]
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastExchange" in tree


def test_silver_dpp_join_prunes_at_runtime(spark, sf_dir):
    """The rack-filtered dim must drive a RUNTIME partition filter on
    the silver fact scan (dynamicpruningexpression) — join-time
    directory skipping, not a full-fact scan followed by a join."""
    from cassandra_log_analyzer_mcp_spark.sources.silver import (
        silver_dpp_join,
    )

    plan = _plan(silver_dpp_join(spark, sf_dir))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "dynamicpruningexpression" in seg
    # and the dim side rides a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan


def test_grouping_sets_is_single_expand_single_scan(spark, sf_dir):
    """The whole 3-level report must be ONE Expand into one
    aggregation over one fact scan — not a job per level."""
    plan = _plan(analytics.revenue_grouping_sets(spark, sf_dir))
    assert plan.count(") Expand") == 1
    assert plan.count(") Scan parquet") == 1  # tree + detail = 1 node


def test_decimal_pricing_aggregates_partially(spark, sf_dir):
    """Decimal sums must partial-aggregate like any long sum: a
    map-side HashAggregate before the single grouped exchange."""
    plan = _plan(analytics.pricing_summary_decimal(spark, sf_dir))
    assert plan.count(") HashAggregate") == 2
    assert "partial_sum" in plan  # map-side combine of decimal sums
    assert plan.count(") Exchange") == 1


def test_audio_energy_is_map_only(spark, sf_dir):
    """The PCM kernel is a pure map pipeline: scan → project →
    Arrow eval, zero exchanges before the gate's collect."""
    from cassandra_log_analyzer_mcp_spark.operators.multimodal import (
        multimodal_audio_energy,
    )

    plan = _plan(multimodal_audio_energy(spark, sf_dir))
    # the only exchange is the loader's round-robin input spread —
    # no hash shuffle, no aggregation before the kernel
    assert "hashpartitioning" not in plan
    assert ") HashAggregate" not in plan
    assert plan.count(") MapInPandas") == 1


def test_open_orders_window_runs_on_day_rollup(spark, sf_dir):
    """The single-partition running sum must consume the per-day
    rollup, not raw rows: exactly one SinglePartition exchange, fed
    by a grouped aggregate."""
    plan = _plan(analytics.open_orders_timeline(spark, sf_dir))
    assert plan.count("SinglePartition") == 1
    assert plan.count(") HashAggregate") >= 2  # partial+final day rollup


def test_phrase_probe_prunes_postings_partitions(spark, sf_dir):
    """The phrase terms' first letters must land in the postings
    scan's PartitionFilters — a term lookup reads its letter
    directory, not the index."""
    from cassandra_log_analyzer_mcp_spark.operators.textops import (
        phrase_search_positional,
    )

    plan = _plan(phrase_search_positional(spark, sf_dir))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert "pfx" in seg


def test_excess_inventory_scans_lineitem_once_all_broadcast(spark, sf_dir):
    """Q20 shape: the year split is a conditional sum inside ONE
    (part, supplier) aggregate — no lineitem self-join — and both
    dims broadcast, so the pair groupBy is the only real shuffle."""
    plan = _plan(analytics.excess_inventory_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
