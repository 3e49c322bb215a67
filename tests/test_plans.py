"""Physical-plan regression guards: the scale properties SCALE.md claims
(broadcast joins, column pruning, semi/anti strategies, single-Window
rolling) must be visible in the optimized plans, not just intended.
"""

from __future__ import annotations

import re

import pytest

from uk_housing_dashboard_etl_spark import contract
from uk_housing_dashboard_etl_spark.plans.pipeline import PipelineConfig

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = contract.QUERIES[name](spark, SF)
    jdf = df._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def test_weekly_mart_broadcasts_lookup_and_prunes_columns(spark):
    plan = plan_of(spark, "weekly_by_la")
    # the dimension lookup joins by broadcast (fact side never shuffles
    # for it); the stats⋈counts join at mart grain may legitimately be a
    # sort-merge join over the already-shuffled group keys
    assert "BroadcastHashJoin" in plan
    # events scan pruned: props/event_type are not referenced
    events_scan = next(
        s for s in plan.split("(") if "events.parquet" in s
    )
    assert "props" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_pricing_summary_prunes_and_partial_aggregates(spark):
    plan = plan_of(spark, "pricing_summary")
    # two-phase hash aggregation (partial before the exchange)
    assert plan.count("HashAggregate") >= 2
    # only the referenced lineitem columns are read
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_semi_and_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "order_priority")
    assert "LeftAnti" in plan_of(spark, "customers_without_orders")


def test_rolling_windows_single_window_operator(spark):
    plan = plan_of(spark, "rolling_windows")
    tree, details = plan.split("\n\n", 1)
    # the rolling sums are the Window nodes framed by a bounded RowFrame
    # ending at the current row (the anomaly z-scores span the whole
    # partition). An executed AQE plan is printed twice (final and
    # initial plan) with the same node arguments: count distinct nodes.
    rolling = set()
    for block in details.split("\n\n"):
        lines = block.strip().splitlines()
        if lines and re.fullmatch(r"\(\d+\) Window", lines[0]):
            args = next(ln for ln in lines if ln.startswith("Arguments: "))
            if re.search(r"RowFrame, -\d+, currentrow", args):
                rolling.add(args)
    # all window lengths in ONE Window node; fan-out is a Generate
    assert len(rolling) == 1, tree
    (args,) = rolling
    for n in PipelineConfig().windows:
        assert f"RowFrame, -{n - 1}, currentrow" in args, n
    assert "Generate" in tree
    # the weekly mart is computed once and reused from cache
    assert "InMemoryRelation" in tree


def test_similarity_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_exact_shuffles_hash_not_text(spark):
    plan = plan_of(spark, "dedup_exact")
    # the exchange key is the md5 hash column, never the document body
    exchange_lines = [
        ln for ln in plan.splitlines() if "hashpartitioning" in ln.lower()
    ]
    assert exchange_lines and all("content_hash" in ln for ln in exchange_lines)


def test_global_topk_never_single_partition_window(spark):
    # global top-k must compile to TakeOrderedAndProject (per-partition
    # k-row heaps), NEVER a row_number window over one partition pulling
    # the whole frame through a single reducer
    for name in ["top_customers", "shipping_priority", "top_ngrams"]:
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_decontaminate_broadcasts_benchmark(spark):
    plan = plan_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan


def test_nation_pair_trade_double_role_dims_broadcast(spark):
    plan = plan_of(spark, "nation_pair_trade")
    # supplier→nation and customer→nation role joins both broadcast;
    # the lineitem scan only reads the 5 referenced columns
    assert plan.count("BroadcastHashJoin") >= 2
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_partkey" not in read_schema and "l_tax" not in read_schema


def test_late_shipments_pushes_nothing_but_prunes(spark):
    plan = plan_of(spark, "late_shipments")
    # the lateness predicate spans both join sides, so it must appear as
    # a post-join Filter, never lost; scans stay pruned to 2-3 columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_quantity" not in read_schema and "l_extendedprice" not in read_schema
    assert "HashAggregate" in plan


def test_order_count_distribution_keeps_outer_join(spark):
    plan = plan_of(spark, "order_count_distribution")
    # the zero-order bucket requires the outer join to survive
    # optimization (no rewrite to inner)
    assert "LeftOuter" in plan


def test_slow_suppliers_single_order_shuffle(spark):
    plan = plan_of(spark, "slow_suppliers")
    # groupBy(orderkey, suppkey) + both window passes must reuse ONE
    # hash partitioning by l_orderkey (the explicit repartition); only
    # the final nation-grain agg may add its own tiny exchange
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan


def test_small_qty_revenue_broadcasts_thresholds(spark):
    plan = plan_of(spark, "small_qty_revenue")
    # per-part avg-qty thresholds join back by broadcast (dim-sized)
    assert "BroadcastHashJoin" in plan


def exec_plan_of(spark, name: str) -> str:
    """Raw executed-plan tree (inline operator args, unlike formatted
    mode which moves them to a detail section)."""
    df = contract.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_curate_corpus_single_scan_no_joins(spark):
    plan = exec_plan_of(spark, "curate_corpus")
    # one corpus scan, verdict + hash in the same projection, canonical
    # pick via window — no join operator anywhere
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_robust_anomalies_single_group_exchange(spark):
    plan = exec_plan_of(spark, "robust_anomalies")
    # med and MAD are stacked Window aggregates over ONE la-partitioning:
    # exactly one exchange hashpartitions on local_authority alone
    la_only = [
        seg for seg in plan.split("Exchange hashpartitioning(")[1:]
        if seg.split(")")[0].count("#") == 1
        and "local_authority" in seg.split(")")[0]
    ]
    assert len(la_only) == 1


def test_price_deciles_window_and_agg_share_partitioning(spark):
    plan = exec_plan_of(spark, "price_deciles")
    # the ntile window shuffles on la; the (la, decile) groupBy must ride
    # that same partitioning (subset rule), adding no second exchange
    segs = [
        s.split(")")[0] for s in plan.split("Exchange hashpartitioning(")[1:]
    ]
    assert segs and not any("decile" in s for s in segs)


def test_registry_wide_plan_invariants(spark, sf_small):
    """Every registered query's physical plan must be free of the two
    unconditional scale-killers: row-at-a-time Python UDFs
    (BatchEvalPython) and non-broadcast cartesian products. mapInPandas
    (Arrow-batched) and broadcast nested-loop joins over scalar/dim
    frames are allowed by design."""
    from uk_housing_dashboard_etl_spark import contract

    violations = {}
    for name, fn in contract.QUERIES.items():
        plan = fn(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
        bad = []
        if "BatchEvalPython" in plan:
            bad.append("row-at-a-time Python UDF")
        if "CartesianProduct" in plan:
            bad.append("non-broadcast cartesian product")
        if bad:
            violations[name] = bad
    assert not violations, f"plan invariant violations: {violations}"


def executed_plan_of(spark, name: str) -> str:
    """Final ADAPTIVE plan: collect() the query's own QueryExecution so
    AQE materializes stages (exchange reuse only appears at runtime)."""
    df = contract.QUERIES[name](spark, SF)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_lm_scorers_reuse_the_tf_exchange(spark):
    # the corpus-total branch must reuse the (doc_id, term) exchange at
    # runtime — not rescan the corpus — and the total must broadcast
    for name in ["lm_scores", "dsir_scores"]:
        plan = executed_plan_of(spark, name)
        assert "ReusedExchange" in plan, name
        assert "BroadcastQueryStage" in plan, name


def test_source_overlap_never_self_joins_on_shingle(spark):
    plan = executed_plan_of(spark, "source_overlap")
    final = plan.split("== Initial Plan ==")[0]
    # pair generation is row-local (Generate over the per-shingle source
    # set): no shingle-keyed join of any strategy may appear
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    # the per-source totals ride broadcast joins onto the pair rows
    assert final.count("BroadcastHashJoin") == 2
    # the vocab exchange is computed once and reused by the other branches
    assert "ReusedExchange" in final


def test_semantic_dedup_single_cell_shuffle(spark):
    plan = plan_of(spark, "semantic_dedup")
    tree = plan.split("\n\n")[0]
    # centroids attach by broadcast (zero-shuffle assignment)...
    assert "BroadcastNestedLoopJoin Cross" in tree
    # ...and the Arrow pair kernel sits behind exactly one cell-keyed
    # exchange; nothing may degenerate into a cartesian pair join
    assert "FlatMapGroupsInPandas" in tree
    assert "CartesianProduct" not in tree
    # between the kernel and the broadcast assignment there is exactly
    # the one cell-keyed exchange (the kmeans/centroid exchanges sit
    # inside the broadcast branch, not on the corpus path)
    corpus_path = tree.split("FlatMapGroupsInPandas")[1].split(
        "BroadcastNestedLoopJoin"
    )[0]
    assert corpus_path.count("Exchange") == 1


def test_heavy_hitters_topk_never_full_sort(spark):
    plan = plan_of(spark, "heavy_hitters")
    # global top-N compiles to the per-task-heap operator, and the final
    # rank window runs on the N survivors only
    assert "TakeOrderedAndProject" in plan


def test_scd2_single_key_exchange(spark):
    plan = contract.QUERIES["scd2_history"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    # the lead/row_number window re-sorts the lag window's filtered
    # output without reshuffling: 2 Window ops share 1 Exchange
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 1


def test_zorder_cells_pure_codegen_bitmath(spark):
    plan = contract.QUERIES["zorder_cells"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one partial+final aggregate pair over the cell key
    assert plan.count("HashAggregate") == 2


def test_incremental_dedup_broadcasts_batch_probes(spark):
    # the index side must never shuffle: every probe joins via broadcast
    plan = plan_of(spark, "incremental_dedup")
    assert "BroadcastHashJoin" in plan


def test_trimmed_stats_one_exchange_for_both_windows(spark):
    plan = plan_of(spark, "trimmed_stats")
    tree = plan.split("\n\n")[0]
    # row_number and the per-group count share one Sort+Exchange; the
    # only other exchange is the final aggregation's
    assert tree.count("Exchange") <= 2, tree
    assert "CartesianProduct" not in tree


def test_quality_calibrate_single_window_pass(spark):
    plan = plan_of(spark, "quality_calibrate")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    window_nodes = [ln for ln in tree.splitlines() if "Window" in ln]
    assert len(window_nodes) == 1, tree


def test_fuzzy_matches_blocked_equi_join_not_cartesian(spark):
    plan = plan_of(spark, "fuzzy_matches")
    # blocking makes the self-join an equi join on the block key — a
    # hash/sort-merge join, never a nested-loop over all pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rrf_fusion_topk_never_global_window_over_corpus(spark):
    plan = plan_of(spark, "rrf_fusion")
    # every rank cut (per list and fused) is TakeOrderedAndProject:
    # per-partition k-row heaps, windows only over the k survivors
    assert plan.count("TakeOrderedAndProject") >= 3


def test_vocab_growth_no_cross_join_for_max_id(spark):
    plan = plan_of(spark, "vocab_growth")
    # max_id is a collected scalar, not a per-branch broadcast cross
    # join — the documents scan appears once per aggregation branch only
    assert "BroadcastNestedLoopJoin" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") <= 2, tree


def test_strip_boilerplate_broadcasts_boiler_set_only(spark):
    # the anti-join against the boilerplate chunk set carries NO static
    # broadcast hint (a template-heavy corpus makes the set unbounded);
    # AQE must convert it to a broadcast at runtime when it IS small —
    # so the assertion reads the executed plan after an action
    df = contract.QUERIES["strip_boilerplate"](spark, SF)
    df.count()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in executed
    assert "Broadcast" in executed


def test_interarrival_single_exchange_for_window_and_agg(spark):
    plan = plan_of(spark, "interarrival_stats")
    # the lag window and the per-user aggregate share the user_id
    # partitioning: exactly one shuffle of fact rows (plus AQE reads)
    assert plan.count("Arguments: hashpartitioning") == 1


def test_benford_is_single_scan_two_phase_agg(spark):
    plan = plan_of(spark, "benford_prices")
    # partial aggregate before the 9-group exchange; only the price
    # column is read
    assert plan.count("HashAggregate") >= 2
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def test_cusum_single_key_exchange(spark):
    plan = plan_of(spark, "cusum_weekly")
    # the fold itself adds no exchange beyond the groupBy(la) that
    # builds the series (upstream weekly-mart exchanges are its own)
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_phash_pairs_banded_join_is_equi_not_nlj(spark):
    plan = plan_of(spark, "multimodal_phash_pairs")
    # the candidate join must hash on (chunk, band) — a nested-loop
    # cross of hashes would be the quadratic mistake banding avoids
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and it must be the hinted SHUFFLE_HASH self-join, whose identical
    # per-side exchanges let ReuseExchange run the Python decode once —
    # a broadcast join would recompute the whole lineage to build
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan.split("== Physical Plan ==")[1]


def test_basket_lift_has_no_basket_self_join(spark):
    plan = plan_of(spark, "basket_lift")
    # pairs fan out row-locally via Generate (explode of the nested
    # transform), never via a self-join of the basket table
    assert "Generate" in plan
    body = plan.split("== Physical Plan ==")[1]
    # joins present are only the aggregated singles/totals attachments
    assert body.count("SortMergeJoin") == 0


def test_peak_sessions_single_linear_lineage(spark):
    plan = exec_plan_of(spark, "peak_sessions")
    # explode-based endpoints + day-grain carry folded back at day
    # grain: ONE fact scan, no join anywhere (SCALE.md round-5 claim)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_weekly_churn_single_scan_no_join(spark):
    plan = exec_plan_of(spark, "weekly_churn")
    # lead()-window retention instead of the set-difference self-join
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_chi2_single_scan(spark):
    plan = exec_plan_of(spark, "chi2_type_split")
    # marginals are windows over the contingency frame, not groupBy+join
    # branches that would re-derive the fact scan per consumer
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_mannwhitney_single_scan(spark):
    plan = exec_plan_of(spark, "mannwhitney_values")
    assert plan.count("Scan parquet") == 1


def test_cdc_replay_one_exchange_no_join(spark):
    plan = exec_plan_of(spark, "cdc_replay")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    # exactly one key Exchange feeds the row_number window
    assert plan.count("Exchange hashpartitioning") == 1


def test_pq_adc_dense_table_built_once_outside_query_projection(spark):
    """The ADC distance table must be computed from a dense codebook
    layout built on the CODEBOOK side of the broadcast (r15, VERDICT
    r14 item 3): the r14 shape constructed a sparse map inside the
    query-side projection, and Catalyst inlined the whole map build —
    its m·k subspace-distance aggregates included — into every one of
    the m·kpack dense slots (correct and fast only because codegen
    subexpression elimination deduped it at runtime). Pin the
    structural fix: no sparse map anywhere, and the per-query dtab
    projection references the broadcast __dense attribute, never the
    __cents/__cbs construction it is derived from."""
    for q in ("similarity_pq", "similarity_ivfpq"):
        plan = plan_of(spark, q)
        assert "map_from_entries" not in plan, q
        dtab_lines = [
            ln for ln in plan.splitlines() if " AS dtab#" in ln
        ]
        assert dtab_lines, q
        for ln in dtab_lines:
            assert "__dense" in ln, q
            assert "__cents" not in ln and "__cbs" not in ln, q
            # each slot evaluates exactly one subspace-distance fold
            assert ln.count("zip_with") == 1, q
