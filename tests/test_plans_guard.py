"""Plan-property regression guards: the physical plans we designed for
must survive refactors (broadcasts stay broadcasts, pushdown reaches the
scan, no Python nodes sneak into expression-only operators)."""

from __future__ import annotations

import contextlib
import io

from db_migration_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


def test_x6_broadcasts_dims(spark):
    plan = _plan(spark, "x6_qa_report")
    # the two nation dim joins against the fact side must be broadcast;
    # the final full-outer reconcile of the two tiny aggregates is
    # legitimately a sort-merge join (Spark can't broadcast full outer)
    assert plan.count("BroadcastHashJoin") >= 2


def test_q1_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: shipdate filter + 5 referenced columns, not all 11
    assert "l_comment" not in plan


def test_expression_only_operators_have_no_python_nodes(spark):
    for name in (
        "dedup_minhash",
        "dedup_simhash",
        "ann_cosine_topk",
        "text_stats",
        "text_lang_id",
        "x1_eav_melt",
    ):
        plan = _plan(spark, name)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_topk_uses_takeordered(spark):
    plan = _plan(spark, "t2_top_nations")
    assert "TakeOrderedAndProject" in plan


def test_q5_broadcasts_all_dims(spark):
    # supplier/nation/region must all broadcast; only the two fact joins
    # (customer⋈orders, orders⋈lineitem) may shuffle
    plan = _plan(spark, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3


def test_q6_predicates_reach_scan(spark):
    plan = _plan(spark, "q6_selective_sum")
    assert "PushedFilters:" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or f"GreaterThan({col}" in plan or f"LessThan({col}" in plan
    # pruning: only the 4 referenced columns reach the reader
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_w4_single_window_exchange(spark):
    # lag/lead/delta over the same (partition, order) spec must share one
    # Window node and one hash exchange
    plan = _plan(spark, "w4_lag_delta")
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_blocked_cosine_has_no_cartesian(spark):
    # the declared embedding near-dup query must run the LSH-blocked
    # equi-join plan — a CartesianProduct / nested-loop node would mean the
    # exact O(n^2) tier leaked back into the declared path
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_seeding_uses_takeordered(spark):
    # centroid seeding must compile to TakeOrderedAndProject (per-partition
    # top-n + driver merge), not a global single-task Window sort of the corpus
    plan = _plan(spark, "ann_ivf_topk")
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_equi_not_nested_loop(spark):
    # the bucketed range join must compile to a hash equi-join on the
    # bucket key; a raw range predicate would be a nested-loop node
    plan = _plan(spark, "range_join_campaigns")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_q4_exists_is_semi_join(spark):
    # EXISTS must stay a left-semi join (no fact-row duplication, no
    # distinct-after-inner-join workaround)
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_q7_both_nation_roles_broadcast(spark):
    # nation appears in two roles plus supplier — all three broadcast;
    # only the lineitem⋈orders⋈customer fact joins may shuffle
    plan = _plan(spark, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 3


def test_q10_topk_uses_takeordered(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_stays_equi_join(spark):
    # the OR of range bundles must remain a residual filter on the
    # broadcast equi-join, never a nested-loop fallback
    plan = _plan(spark, "q19_disjunctive")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    # NOT EXISTS → left-anti; the one-row threshold aggregate broadcasts
    plan = _plan(spark, "q22_idle_customers")
    assert "LeftAnti" in plan


def test_bucketed_join_has_no_shuffle(spark):
    # both sides bucketed+sorted on the join key: the join itself must
    # not introduce an Exchange above either scan (only the final
    # aggregate may shuffle)
    import contextlib
    import io

    from db_migration_spark.queries import QUERIES

    df = QUERIES["bucketed_join"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the scans feeding the join carry no Exchange; bucketed scan shows
    # "SelectedBucketsCount" in the formatted plan
    assert "SelectedBucketsCount" in plan
    sm = plan.find("SortMergeJoin")
    agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    # any Exchange in the plan must belong to the post-join aggregate,
    # not sit between the bucketed scans and the join
    if first_exchange != -1 and sm != -1:
        assert first_exchange > sm, "shuffle crept below the bucketed join"


def test_partitioned_scan_prunes_directories(spark):
    plan = _plan(spark, "partitioned_scan")
    # the lang predicate must land in PartitionFilters (directory-level
    # pruning), not merely PushedFilters (row-group level)
    assert "PartitionFilters" in plan
    i = plan.find("PartitionFilters")
    assert "lang" in plan[i : i + 200]


def test_as_of_single_window_exchange(spark):
    # the as-of view is one pushed tx filter + ONE (e,a,v) window — the
    # grouped profile afterwards may add its own agg exchange, but the
    # time-travel resolution itself must not multiply exchanges.  (The
    # WindowGroupLimit pair around the exchange is Spark's partial
    # rank-limit pushdown — rows beyond rank 1 drop BEFORE shuffling,
    # exactly what a 100 TB as-of wants.)
    plan = _plan(spark, "eav_as_of")
    assert plan.count(") Window\n") == 1
    assert "WindowGroupLimit" in plan  # partial top-1 before the exchange
    assert "CartesianProduct" not in plan


def test_pull_is_equi_join_shaped(spark):
    # pull compiles to hash aggregations + ref-edge equi-joins: no
    # nested-loop anywhere, and the datoms scan is attribute-filtered
    # (pushed), not a full-store scan per level
    plan = _plan(spark, "datalog_pull")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q13_left_outer_then_two_aggs(spark):
    # count-of-counts: left-outer join + per-customer agg + histogram agg;
    # no nested loop, and the order-side filter is pushed below the join
    plan = _plan(spark, "q13_order_distribution")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_semantic_dedup_is_equi_join_shaped(spark):
    # the SemDeDup pair space must be the within-cluster equi-join —
    # never an all-pairs nested loop
    plan = _plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_passage_chunks_is_map_only(spark):
    # split -> sequence/explode -> slice: no shuffle beyond the fixture
    # loader's round-robin spread, no Python nodes
    plan = _plan(spark, "passage_chunks")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # only the loader's REPARTITION_BY_NUM exchange may appear
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all("RoundRobin" in e for e in exchanges), exchanges


def test_q16_anti_join_is_broadcast(spark):
    plan = _plan(spark, "q16_supplier_count")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q2_single_scan_window_decorrelation(spark):
    # the window rewrite must keep ONE lineitem scan (the aggregate
    # join-back form would re-evaluate the supply relation)
    plan = _plan(spark, "q2_min_cost_supplier")
    assert plan.count("file:/root/testdata/sf0.001/lineitem.parquet") == 1


def test_avet_lookup_prunes_partitions(spark):
    # the attribute equality must reach the hive layout as a
    # PartitionFilter (one directory read), with the v-range pushed
    plan = _plan(spark, "eav_avet_lookup")
    assert "PartitionFilters" in plan and "cust/name" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(v" in plan


def test_vaet_reads_only_ref_partition(spark):
    plan = _plan(spark, "eav_vaet_reverse")
    # the vaet layout holds ONLY ref datoms; the scan must not touch
    # the eavt/aevt/avet trees
    assert "/vaet" in plan and "/aevt" not in plan and "/avet" not in plan


def test_dpp_fact_scan_has_dynamic_pruning(spark):
    # the partition filter is only knowable at runtime (dim is derived
    # from data), so the fact scan must carry a dynamicpruning subquery
    # in its PartitionFilters — directory-level pruning at 100 TB
    plan = _plan(spark, "dpp_pruned_join")
    assert "dynamicpruning" in plan.lower()


def test_bloom_filter_join_injects_runtime_filter(spark):
    # with broadcast off, the runtime-filter optimizer must build a
    # bloom over the filtered creation side and push might_contain onto
    # the lineitem (application) side — shuffle volume drops pre-exchange
    plan = _plan(spark, "bloom_filter_join")
    assert "might_contain" in plan.lower(), plan
    # and the thresholds must be restored after the query builds
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
        != "0"
    )


def test_containment_no_cartesian(spark):
    plan = _plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_stats_moments_single_aggregation_pass(spark):
    # sufficient statistics accumulate in ONE partial+final HashAggregate
    # pair: exactly one exchange (the groupBy), nothing downstream
    plan = _plan(spark, "stats_moments")
    # one hash exchange (the groupBy); the only other allowed exchange is
    # the fixture loader's round-robin spread
    assert plan.count("hashpartitioning(") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_bpe_encode_no_python_nodes(spark):
    plan = _plan(spark, "bpe_encode")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lateral_topk_decorrelates_to_window_limit(spark):
    # the correlated ORDER BY..LIMIT must become a WindowGroupLimit
    # (rank-limit pushdown), never a per-row nested-loop re-execution
    plan = _plan(spark, "lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_ts_anomaly_single_window_pass(spark):
    # n, Σ, Σ² must share one window frame: exactly one Window node
    plan = _plan(spark, "ts_anomaly_flags")
    assert plan.count("()") == plan.count("()")  # noop sanity
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_attribution_single_pass_no_self_join(spark):
    # last-touch credit must ride ONE window carry-forward — a
    # purchase⋈touches self-join would be quadratic in hot users
    plan = _plan(spark, "attribution_last_touch")
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "Join" not in plan


def test_scd2_single_window(spark):
    plan = _plan(spark, "scd2_intervals")
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_recursive_cte_anchor_is_hash_anti_join(spark):
    # the NOT EXISTS root detection must stay a hash anti join; the
    # NOT IN spelling regressed to a null-aware BroadcastNestedLoopJoin
    # (every key × every key) — 16s → 6s at sf0.1 when fixed
    plan = _plan(spark, "sql_recursive_cte")
    assert "BroadcastNestedLoopJoin" not in plan


def test_assoc_rules_no_cartesian_and_broadcast_counts(spark):
    plan = _plan(spark, "assoc_rules")
    assert "CartesianProduct" not in plan
    # item-support dim and the 1-row n_orders both ride as broadcasts
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row literal join only


def test_image_phash_candidates_are_equi_join(spark):
    plan = _plan(spark, "dedup_image_phash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_single_exchange_for_both_window_orders(spark):
    # rn ascending + descending share the (bar_ts, event_type) partition:
    # one Exchange, two sorts — not two shuffles
    plan = _plan(spark, "ts_ohlc_bars")
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("Exchange hashpartitioning") <= 2  # window + final agg


def test_kcore_joins_stay_hash_shaped(spark):
    plan = _plan(spark, "graph_kcore")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mv_rollup_reuses_one_exchange_at_runtime(spark):
    # AQE resolves the shared daily subtree to ONE exchange + a
    # ReusedExchange for the weekly re-aggregation branch — the fact
    # scan and its shuffle must not run twice
    df = QUERIES["mv_reuse_rollup"](spark, SF)
    df.collect()
    jplan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in jplan
    assert "ReusedExchange" in jplan


def test_datalog_indexed_prunes_aevt_partitions(spark):
    # each constant-attribute clause must become a pruned directory scan
    # on the AEVT layout, not a full-store scan
    plan = _plan(spark, "datalog_indexed")
    assert "PartitionFilters" in plan
    import re

    # both clauses show attribute partition filters on their scans
    assert len(re.findall(r"PartitionFilters: \[[^\]]*a#", plan)) >= 2


def test_spearman_windows_stay_partitioned(spark):
    # both rank windows partition by nation — no global single-partition
    # window (the WindowExec "No Partition Defined" trap)
    plan = _plan(spark, "stats_spearman")
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan


def test_linreg_single_aggregation_pass(spark):
    # five sufficient statistics in ONE partial+final aggregate pair:
    # exactly one hash exchange, no join anywhere
    plan = _plan(spark, "stats_linreg")
    assert plan.count("hashpartitioning(") == 1, plan
    assert "Join" not in plan


def test_mann_whitney_window_runs_on_collapsed_values(spark):
    # the cumulative window must consume the (segment, value) AGGREGATE,
    # never raw orders: exactly one Window node, downstream of a
    # HashAggregate, and no global sort of the raw join output
    import re

    plan = _plan(spark, "stats_mann_whitney")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "SinglePartition" not in plan


def test_graph_session8_no_cartesian(spark):
    for name in ("graph_clustering_coeff", "graph_jaccard_linkpred"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_ewma_single_window_pass(spark):
    # eight lags share one (user, ts) window — one Window node, one sort
    import re

    plan = _plan(spark, "ts_ewma")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "SinglePartition" not in plan


def test_gazetteer_join_is_broadcast(spark):
    # the token stream must never shuffle for the gazetteer join
    plan = _plan(spark, "text_gazetteer_tag")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_census_no_python_nodes(spark):
    plan = _plan(spark, "corpus_ngram_counts")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sql_join_hint_forces_broadcast(spark):
    # the BROADCAST hint must pin the dim side even if stats wouldn't
    plan = _plan(spark, "sql_join_hint")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_apply_single_window_no_join(spark):
    import re

    plan = _plan(spark, "cdc_apply")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "Join" not in plan


def test_temporal_reach_banded_no_nested_loop(spark):
    # both temporal joins must stay banded equi-joins; a raw range
    # predicate would compile to a nested loop
    plan = _plan(spark, "graph_temporal_reach")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_wedge_joins_never_broadcast(spark):
    """×100 scale find: AQE's size estimate let the oriented edge list
    slip under the broadcast threshold and the deserialized build blew
    the driver.  The wedge self-joins and degree joins carry graph-scale
    relations on BOTH sides, so the plan must pin shuffled hash joins —
    no BroadcastHashJoin anywhere in the triangle pipeline."""
    plan = _plan(spark, "graph_clustering_coeff")
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_txlog_read_is_plain_parquet_scan(spark):
    """The ACID table's read path must stay an explicit-file-list Parquet
    scan: log replay on the driver, zero extra exchanges or Python nodes
    added by the format layer."""
    plan = _plan(spark, "txlog_time_travel")
    assert "Scan parquet" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sql_udf_decorrelates_to_hash_join(spark):
    """SQL-defined functions must vanish into Catalyst: the scalar UDF
    inlines (no Python eval node) and the correlated LATERAL table
    function decorrelates to a hash equi-join (never a nested loop)."""
    plan = _plan(spark, "sql_udf_functions")
    assert "Python" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_k_anonymity_no_window_partial_agg(spark):
    """Group-size annotation must partial-aggregate (groupBy+join), not
    sort every partition under a count() window."""
    plan = _plan(spark, "privacy_k_anonymity")
    assert "Window" not in plan
    assert "partial_count" in plan


def test_ivf_assign_corpus_never_shuffles(spark):
    """Round-6 shape: assignment is a map over a 1-row broadcast
    centroid array.  The corpus side must reach the BNLJ without any
    hash/range exchange (the loader's round-robin fixture spread is the
    only allowed Exchange), and no Window/sort may reappear."""
    import contextlib as _ctx
    import io as _io

    from db_migration_spark.catalog import load_table
    from db_migration_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    cents = similarity.deterministic_centroids(emb, 8)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        similarity.ivf_assign(emb, cents).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid build side
    assert "hashpartitioning" not in plan, "corpus must not shuffle"
    # exactly one Window — the row_number over the 16 already-selected
    # seeds inside deterministic_centroids; the r5 shape had a second
    # Window.partitionBy(vec_id) doing the argmax over the whole corpus
    import re as _re

    assert len(set(_re.findall(r"\((\d+)\) Window", plan))) == 1, plan


def test_hll_registers_combine_map_side(spark):
    plan = _plan(spark, "sketch_hll_rollup")
    # three aggregate levels (shred, merge, estimate) — every Exchange
    # must sit above a partial HashAggregate so raw rows collapse to
    # ≤ dims×512 registers before any shuffle
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the shred aggregate must run a partial max on rho BEFORE its
    # exchange (raw rows collapse to ≤ dims×512 registers map-side)
    assert "partial_max(rho" in plan, "map-side combine must precede shuffle"


def test_ivf_pruned_store_scans_subset_of_groups(spark):
    """The probe plan must read strictly fewer store files than live
    groups (or legitimately cover all lists at toy scale) — asserted
    via the same prune_groups planner the query uses."""
    from db_migration_spark.queries_lakehouse import _ensure_ivf_store

    t, _cents = _ensure_ivf_store(spark, SF)
    total = len(t.active_groups())
    sel, tot = t.prune_groups("list_id", lo=0, hi=0)
    assert tot == total and len(sel) <= 1


def test_theta_build_salted_two_level_truncation(spark):
    """kmv_sketch must keep BOTH window levels: the 64-slice salted
    dense_rank (parallelizes a hot group's sort) and the tiny global
    row_number truncation — a refactor that collapses them would put a
    hot group's full distinct set on one reducer."""
    import re

    plan = _plan(spark, "sketch_theta_build")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # ≥ 4 distinct Window nodes: (salt, global) × (fine build, merge)
    assert len(set(re.findall(r"\((\d+)\) Window", plan))) >= 4, plan


def test_theta_set_ops_no_data_path_cartesian(spark):
    """Intersect/diff join k-row sketches — the only unconditioned
    join may be the 5×5 segment-pair cross (broadcast, dim×dim); the
    CartesianProduct operator must never appear."""
    for name in ("sketch_theta_intersect", "sketch_theta_diff"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_round8_queries_no_cartesian_no_python(spark):
    """The round-8 serving surface stays JVM-side and never falls back
    to a cartesian: store-served graph/IVF-PQ probes, Block-Max
    candidate generation, fact-scale reporting twins, the governance
    disclosure tier."""
    for name in (
        "ann_nsw_store_topk",
        "stream_nsw_mv",
        "ann_ivfpq_store_topk",
        "stream_ivfpq_mv",
        "search_bm25_blockmax",
        "rfm_segments_factscale",
        "orders_abc_factscale",
        "privacy_dp_counts",
        "privacy_randomized_response",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert (
            "ArrowEvalPython" not in plan
            and "BatchEvalPython" not in plan
        ), name


def test_blockmax_candidates_join_broadcast_allowlist(spark):
    plan = _plan(spark, "search_bm25_blockmax")
    # the (query, term, group) allow-list joins broadcast — candidate
    # generation must never shuffle the store side by the tiny list
    assert "BroadcastHashJoin" in plan


def test_release_dump_write_is_class_tx_range_sorted(spark, tmp_path):
    # the release store's T1 layout (eav.tx_sorted over class, tx): the
    # dump-to-datoms write must range-partition and sort on (class, tx)
    # — per-file-parallel, never a single-partition global sort
    import re

    from db_migration_spark.migrate import MigrationJob

    (tmp_path / "dumps").mkdir()
    (tmp_path / "dumps" / "d.ace").write_text(
        'Gene : "G1"\nIdentity "g-one" -O "2010-01-01_10:00:00"\n\n'
        'Gene : "G2"\nIdentity "g-two" -O "2010-01-02_10:00:00"\n'
    )
    (tmp_path / "models").write_text("?Gene\n  Identity UNIQUE Text\n")
    job = MigrationJob(
        spark, str(tmp_path / "ws"), dumps_path=str(tmp_path / "dumps"),
        models_path=str(tmp_path / "models"), catalog_path="", release="R",
    )
    job.install_schema()
    status = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = status.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.length())}

    before = set(executions())
    job.dump_to_datoms()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    writes = [
        e.physicalPlanDescription()
        for eid, e in executions().items()
        if eid not in before
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]
    assert len(writes) == 1, writes
    plan = writes[0]
    key = r"class#\d+ ASC NULLS FIRST, tx#\d+ ASC NULLS FIRST"
    assert re.search(rf"Arguments: rangepartitioning\({key}", plan), plan
    assert re.search(rf"\) Sort\nInput \[.*\]\nArguments: \[{key}\]", plan), plan
    assert "SinglePartition" not in plan, plan
