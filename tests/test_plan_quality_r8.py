"""Physical-plan assertions for the round-8 catalog entries: the
scale-critical shapes (distributed rank instead of a global window,
hashed-key shuffles, bounded nested-loop builds, single shared
exchanges) must be visible in explain output, not assumed."""

from __future__ import annotations

from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = CATALOG[name].spark(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_snm_rank_is_distributed_not_global_window(spark):
    """The sorted-neighborhood rank must come from the distributed
    sequence operator (range exchange + native partition/index stamp), NOT a
    single-partition ROW_NUMBER window over the whole vocabulary; the
    stamped relation must be persisted (InMemoryRelation) so the
    probe and neighbor sides reuse one stamping pass; and the
    neighbor match must be an equi hash join, never a nested loop."""
    plan = _plan(spark, "sorted_neighborhood_pairs")
    assert "rangepartitioning" in plan
    assert "monotonically_increasing_id() AS __seq_local" in plan
    assert "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_revenue_share_window_runs_on_aggregate_not_fact(spark):
    """The ratio-to-report window may be unpartitioned ONLY because it
    runs over the |nations|-row aggregate: exactly one hash exchange
    (the groupBy) feeds it, and the dimension joins broadcast so the
    orders fact never shuffles for the join."""
    plan = _plan(spark, "nation_revenue_share")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_chi2_collapses_stream_before_joining_marginals(spark):
    """The contingency table must be a partial+final hash aggregation
    of the raw stream BEFORE any join (the joins then run on
    |types| x 7 rows). The only nested-loop allowed is the cross join
    against the single-row grand total."""
    plan = _plan(spark, "chi2_independence")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    # formatted output lists each node twice (tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_containment_shuffles_hashed_keys_not_shingles(spark):
    """The inverted-index self-join must key on the 60-bit md5-derived
    BIGINT (gk) so only 8-byte keys cross the wire, with the raw
    shingle strings staying executor-local, and must never degrade to
    a nested-loop or cartesian pair expansion."""
    plan = _plan(spark, "containment_pairs")
    assert "gk" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryRelation" in plan  # grams computed once, reused 3x


def test_rolling_zscore_windows_share_one_exchange(spark):
    """All three windowed accumulators (count, sum, sum of squares)
    must run off ONE hash exchange on user_id - they share the same
    partitioning and frame, so Spark plans a single Window node."""
    plan = _plan(spark, "rolling_zscore")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Window" in plan


def test_twap_lead_and_aggregate_share_user_partitioning(spark):
    """The LEAD window shuffles on user_id once; the follow-up
    per-user aggregation must reuse that partitioning (partial agg
    allowed, but no second hashpartitioning exchange on user_id of
    the full segment stream)."""
    plan = _plan(spark, "twap_user_value")
    assert plan.count("Arguments: hashpartitioning") <= 2
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_gini_rank_is_distributed_sequence(spark):
    """The Gini global rank must come from the range-shuffled
    distributed sequence (composite (x, custkey) key), never a bare
    unpartitioned ROW_NUMBER window over the spend table: the only
    single-partition exchanges sit over k-row aggregates (the
    sequence operator's offsets and the final 1-row Gini), never over
    a scan or the stamping pass."""
    df = CATALOG["gini_spend"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "monotonically_increasing_id() AS __seq_local" in plan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            assert "HashAggregate" in lines[i + 1], lines[i : i + 2]


def test_cluster_quality_broadcasts_centroids(spark):
    """The (label, idx) centroid join and the per-label norm join must
    broadcast their label-dimension-sized build sides; the exploded
    vector table must be computed once and reused (persisted)."""
    plan = _plan(spark, "embedding_cluster_quality")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "InMemoryRelation" in plan


def test_hdf_prune_rebuilds_without_window(spark):
    """The order-preserving text rebuild must be collect_list(struct)
    + array_sort, NOT a window over positions: no Window node; the
    frequency join keys on the token so no cartesian/nested-loop
    appears."""
    plan = _plan(spark, "hdf_token_prune")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_q21_exists_pair_becomes_semi_and_anti_joins(spark):
    """EXISTS must lower to a left-semi and NOT EXISTS to a left-anti
    join on the order key - set-based decorrelation, never per-row
    subquery execution or a cartesian expansion."""
    plan = _plan(spark, "sql_surface_q21")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_threshold_is_subquery_not_join_explosion(spark):
    """The above-average balance threshold must compile to a scalar
    subquery (single-row reuse) with the NOT EXISTS as a left-anti
    join - no cartesian, no nested loop against the fact."""
    plan = _plan(spark, "sql_surface_q22")
    assert "Subquery" in plan or "ReusedSubquery" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_ewma_fold_stays_jvm_side(spark):
    """The EWMA left fold is F.aggregate - JVM whole-stage codegen,
    never a Python row UDF (BatchEvalPython) or pandas UDF
    (ArrowEvalPython) in the plan."""
    plan = _plan(spark, "ewma_user_value")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_contract_check_runs_all_rules_in_one_scan_per_table(spark):
    """Every rule for a table folds into ONE conditional aggregate over
    one scan: exactly two parquet scans (orders, lineitem) appear in
    the plan, not one scan per rule."""
    plan = _plan(spark, "data_contract_check")
    # formatted output lists each node twice (tree + detail)
    assert plan.count("Scan parquet") <= 4


def test_event_paths_expand_without_join(spark):
    """Trigram expansion happens inside the per-session array
    (transform over an index sequence + explode): no Join node
    anywhere, and the top-20 lowers to TakeOrderedAndProject."""
    plan = _plan(spark, "top_event_paths")
    assert "Join" not in plan
    assert "Generate" in plan
    assert "TakeOrderedAndProject" in plan


def test_topn_other_ranks_aggregate_not_fact(spark):
    """The rank window must consume the (nation, part) aggregate, and
    the dimension joins must broadcast at this sf - the fact side
    never sort-merge shuffles for them."""
    plan = _plan(spark, "topn_with_other")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_struct_min_argmin_has_no_window_or_sort(spark):
    """The struct-MIN argmin is one partial+final hash aggregation:
    no Window, no Sort, exactly one hash exchange (on l_partkey)."""
    plan = _plan(spark, "cheapest_supplier_per_part")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert plan.count("Arguments: hashpartitioning") == 1
