"""Physical-plan assertions (SURVEY §4): the scale-critical properties —
dim broadcasts, predicate pushdown, column pruning, map-side partial
aggregation — must actually appear in the executed plan, not just be
hoped for. These tests pin them so a regression (e.g. a lost broadcast
hint or a cast that blocks pushdown) fails loudly."""

from __future__ import annotations

import pytest

from gcp_etl_pipeline_spark import registry


def _plan(df, execute: bool = False) -> str:
    if execute:
        # AQE finalizes the plan (and inserts codegen stages) at execution;
        # collect() drives THIS DataFrame's QueryExecution (a .write would
        # plan a separate one)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return registry.queries()


def test_sales_fact_broadcasts_all_dims(spark, sf_dir, queries):
    plan = _plan(queries["gosales_sales_fact"](spark, sf_dir))
    # 4 dim-side joins (retailer_hlp, product_lkp, go_methods, method_hlp):
    # every one must be a broadcast join — the fact side is the 100 TB
    # table and must never shuffle for enrichment
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, sf_dir, queries):
    plan = _plan(queries["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 5 referenced columns
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_quantity" in rs and "l_returnflag" in rs


def test_pricing_summary_partial_aggregation(spark, sf_dir, queries):
    plan = _plan(queries["pricing_summary"](spark, sf_dir))
    # map-side combine before the exchange: two HashAggregates with the
    # shuffle between them
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_ingest_scan_prunes_to_projection(spark, sf_dir, queries):
    plan = _plan(queries["ingest_cast_ladder"](spark, sf_dir))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_address" not in rs and "c_comment" not in rs


def test_scalar_max_crossjoin_broadcasts_one_row(spark, sf_dir, queries):
    plan = _plan(queries["scalar_max_crossjoin"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_on_relational_core(spark, sf_dir, queries):
    plan = _plan(queries["pricing_summary"](spark, sf_dir), execute=True)
    # codegen stages appear as "*(n)" markers in the simple plan string
    assert "isFinalPlan=true" in plan and "*(" in plan, plan


def test_anti_join_is_not_cartesian(spark, sf_dir, queries):
    plan = _plan(queries["anti_join_new_rows"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_key_exchange(spark, sf_dir, queries):
    plan = _plan(queries["scd2_priority_history"](spark, sf_dir))
    # change compression + validity chaining share one hash exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("SortMergeJoin") == 0, plan


def test_cdc_snapshot_never_sorts(spark, sf_dir, queries):
    plan = _plan(queries["cdc_apply_changes"](spark, sf_dir))
    # the window sorts only the changes side; the snapshot goes through
    # a join (broadcast at this scale) — no sort on the customer scan side
    head = plan.split("Window")[0]
    assert "Sort" not in head.split("FileScan parquet")[0], plan


def test_zorder_stays_in_codegen(spark, sf_dir, queries):
    plan = _plan(queries["zorder_locality"](spark, sf_dir))
    # the Morton key is pure shift/mask arithmetic: no python UDF, no
    # extra exchange beyond the final aggregation
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivm_merge_is_two_level_aggregate(spark, sf_dir, queries):
    plan = _plan(queries["ivm_incremental_rollup"](spark, sf_dir))
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q4_exists_becomes_semi_join(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q4_priority_exists"](spark, sf_dir))
    # correlated EXISTS must decorrelate to one semi join on l_orderkey,
    # with the ship-lag predicate carried as the join condition — never a
    # per-row subquery or cartesian product
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2, plan


def test_q19_disjunction_stays_in_join_filter(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q19_disjunctive"](spark, sf_dir))
    # part is the small side: must broadcast; both scans keep pushed
    # filters (IsNotNull at minimum; quantity/size residuals when the
    # planner extracts the common ranges)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("PushedFilters: [Is") >= 2 or plan.count("PushedFilters: [") >= 2, plan


def test_q21_double_correlation_is_semi_plus_anti(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q21_last_shipper"](spark, sf_dir))
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both keyed on
    # l_orderkey against lineitem — three key-aligned legs, no cartesian
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q22_stats_side_broadcasts(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q22_dormant_customers"](spark, sf_dir))
    # the 1-row stats aggregate must broadcast (nested-loop over 1 row is
    # O(n)); the NOT EXISTS must be a LeftAnti on o_custkey
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q7_nation_pair_filter_prunes_before_fact(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q7_volume_shipping"](spark, sf_dir))
    # nation joined twice, both broadcast; the symmetric pair predicate
    # lives in a join condition, not a post-join filter over the fact
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_decorrelates(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q2_min_cost_supplier"](spark, sf_dir))
    # the correlated MIN must become an aggregate joined back on
    # l_partkey — never a per-row subquery or cartesian product
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_q16_not_in_is_anti_join(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q16_supplier_cnt"](spark, sf_dir))
    # NOT IN on a non-null key must plan as an anti join (broadcast: the
    # overdrawn-supplier list is tiny), not a nested-loop filter
    assert "Anti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q17_double_scalar_agg_decorrelates(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q17_small_qty_revenue"](spark, sf_dir))
    # both correlated aggregates decorrelate to per-part aggregate legs
    # joined on l_partkey; part is the small side and broadcasts
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q20_nested_in_is_stacked_semi_joins(spark, sf_dir, queries):
    plan = _plan(queries["tpch_q20_promotion_suppliers"](spark, sf_dir))
    # supplier IN (... l_partkey IN (...)) — two stacked semi joins after
    # decorrelation
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan


def test_decontaminate_bench_side_broadcasts(spark, sf_dir, queries):
    # the benchmark shingle set is eval-suite-sized; the corpus side must
    # not shuffle for the overlap join — AQE/Catalyst should broadcast the
    # bench side after the distinct
    plan = _plan(queries["decontaminate_overlap"](spark, sf_dir), execute=True)
    assert "BroadcastHashJoin" in plan, plan


def test_mixture_sample_is_pure_scan_filter(spark, sf_dir, queries):
    # mixture sampling must add no exchange before the (tiny) final agg:
    # the md5-bucket membership test is a scan-level filter
    from gcp_etl_pipeline_spark.operators import curation
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    sampled = curation.mixture_sample(
        docs, "lang", {"en": 0.5}, key_col="doc_id"
    )
    plan = _plan(sampled)
    assert "Exchange" not in plan, plan
    assert "Filter" in plan, plan


def test_compaction_write_plan_has_single_exchange(spark, tmp_path):
    # the compaction rewrite is exactly one round-robin exchange (the
    # repartition) over the scan — no accidental sort or extra shuffle
    from pyspark.sql import functions as F

    path = str(tmp_path / "cfrag")
    spark.range(1000).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).repartition(2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_expectations_check_single_scan(spark, sf_dir, queries):
    """All rules evaluate in ONE pass: exactly one scan of lineitem in the
    plan (a per-rule pass would show N scans)."""
    plan = _plan(queries["expectations_check"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan


def test_semantic_dedup_no_cartesian(spark, sf_dir, queries):
    """Candidate generation is a bucket equi-join on list_id — never an
    all-pairs product."""
    plan = _plan(queries["semantic_dedup_keep"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_take_single_exchange(spark, sf_dir, queries):
    """One hash exchange on the stratum feeds the ranking window; no
    global (single-partition) sort of the corpus."""
    plan = _plan(queries["stratified_take_quota"](spark, sf_dir))
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_scd2_lookup_broadcasts_dim(spark, sf_dir, queries):
    """PIT lookup: the version table is a dimension — the probe (fact)
    side must join it via broadcast hash, never shuffle."""
    plan = _plan(queries["scd2_point_in_time_lookup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_lookup_big_dim_falls_back_to_sort_merge(spark, monkeypatch):
    """Above the row ceiling the lookup must plan a key-partitioned
    sort-merge join with the range residual — never a broadcast, never
    a nested-loop."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators import scd2
    from gcp_etl_pipeline_spark.operators.scd2 import scd2_lookup

    dim = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
        F.lit("x").alias("attr"),
    )
    probes = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(5).alias("ts")
    )
    # neutralize Catalyst's own small-table auto-broadcast so the test
    # sees the shape a genuinely big dim would get (stats put this tiny
    # fixture under the 10MB threshold; a billion-row dim would not be)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # a tiny ceiling: the bounded probe says the dim is too big
        monkeypatch.setattr(scd2, "BROADCAST_DIM_MAX_ROWS", 10)
        plan = _plan(scd2_lookup(probes, dim, ["k"], "ts"))
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_temperature_mixture_filter_is_shuffle_free(spark, sf_dir):
    """The sampled side is a pure scan-level hash filter: no Exchange in
    its plan (the per-stratum counts run as a separate tiny job)."""
    from gcp_etl_pipeline_spark.operators.curation import temperature_mixture
    from gcp_etl_pipeline_spark.sources.files import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    sampled, _ = temperature_mixture(docs, "lang", "doc_id", tau=2.0)
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_knn_bucketed_no_hardwired_broadcast_no_cartesian(spark, sf_dir, queries):
    """The unbounded-query-side IVF search must keep working when
    nothing fits a broadcast: with auto-broadcast disabled the list_id
    join becomes a shuffle join (AQE may pick broadcast at small SF —
    a runtime size decision, not a hardwired hint) and there is never a
    cartesian/nested-loop stage or a driver collect of query vectors."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(queries["similarity_knn_bucketed"](spark, sf_dir), execute=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_token_budget_take_shape(spark, sf_dir, queries):
    """Cutoff join is the (intended, tiny) broadcast; the corpus never
    cartesians and the global window is stratum-partitioned, not a
    single-partition sort of the corpus."""
    plan = _plan(queries["token_budget_take"](spark, sf_dir), execute=True)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(source" in plan, plan


def test_grouped_and_cogrouped_pandas_single_exchange(spark, sf_dir, queries):
    """Grouped-map: exactly one hash exchange on the group key feeding
    FlatMapGroupsInPandas. Cogroup: one exchange per side feeding
    FlatMapCoGroupsInPandas — never a join or cartesian before the
    pandas stage."""
    p1 = _plan(queries["grouped_pandas_gap_stats"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p1, p1
    assert p1.count("Exchange hashpartitioning") == 1, p1
    p2 = _plan(queries["cogrouped_attribution"](spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in p2, p2
    assert p2.count("Exchange hashpartitioning") == 2, p2
    assert "CartesianProduct" not in p2 and "Join" not in p2, p2


def test_dpp_runtime_partition_filter(spark, sf_dir, queries):
    """The partitioned fact scan must carry a dynamicpruning runtime
    filter injected from the dim side — a static plan would list and
    read every month partition."""
    plan = _plan(queries["dpp_partitioned_fact_join"](spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Spark's runtime row-group filtering: with the size thresholds
    lowered to fixture scale, a selective dim join must inject a bloom
    filter on the fact side's join key (the shuffle-join analogue of
    dynamic partition pruning — rows that can't match are dropped at the
    scan before the exchange)."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.queries_relational import ensure_views

    ensure_views(spark, sf_dir)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.table("lineitem").select("l_orderkey", "l_quantity")
        sel = spark.table("orders").where("o_totalprice > 500000").select(
            "o_orderkey"
        )
        plan = _plan(li.join(sel, li.l_orderkey == sel.o_orderkey))
        assert "bloomfilter" in plan.lower() or "BloomFilter" in plan, plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_dataset_split_no_shuffle(spark, sf_dir, queries):
    """Split assignment is a pure per-row projection: it must fuse into
    the scan with no exchange anywhere in the plan."""
    plan = _plan(queries["dataset_split_assign"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "WholeStageCodegen" in plan or "*(1)" in plan, plan
