"""Physical-plan discipline: these assertions keep the 100 TB story
honest — broadcasts stay broadcasts, filters reach the scan, and the
hot path never drops into row-at-a-time Python."""

from __future__ import annotations

import pytest

from doin_fine_ance__spark.queries import load_registry

QUERIES, ORACLES = load_registry()
SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str, executed: bool = False) -> str:
    import contextlib
    import io

    df = QUERIES[name](spark, SF)
    if executed:
        # AQE only shows the final plan (incl. codegen spans) post-run
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name",
    ["j1_mapping_join_disjunctive", "q3_top_unshipped_orders", "q5_region_revenue_rollup",
     "p4_exclusion_patterns_anti"],
)
def test_dimension_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:2000]
    # fact side must not sort-merge against a tiny dim
    if name in ("q5_region_revenue_rollup", "j1_mapping_join_disjunctive"):
        assert "SortMergeJoin" not in plan, plan[:2000]


def test_q1_filter_and_pruning_reach_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan, plan[:3000]
    # column pruning: the scan must not read l_partkey/l_suppkey etc.
    scan_section = plan.split("ReadSchema")[1][:400]
    assert "l_partkey" not in scan_section
    assert "l_quantity" in scan_section


def test_q1_partial_aggregation(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # map-side combine before the exchange
    assert plan.count("HashAggregate") >= 2, plan[:3000]


@pytest.mark.parametrize(
    "name",
    ["a1_monthly_spend_by_category", "w1_latest_import_dedup", "f_feature_engineering",
     "q1_pricing_summary", "d_exact_dedup", "t_quality_score"],
)
def test_hot_path_stays_jvm(spark, name):
    """No row-at-a-time Python in any oracle-checked query plan."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} fell into row-Python:\n{plan[:2000]}"


def test_whole_stage_codegen_active(spark):
    plan = plan_of(spark, "q1_pricing_summary", executed=True)
    # formatted mode marks codegen stages as "[codegen id : N]"
    assert "codegen id" in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q3_top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_csv_seed_load(spark, tmp_path):
    """S4: dbt seed CSVs load with explicit schemas (no inferSchema job)."""
    from doin_fine_ance__spark import schemas

    p = tmp_path / "seed_account_mapping_simplefin.csv"
    p.write_text(
        "account_name,account_id,mapped_account_name\n"
        "Checking,,Junior Checking\n"
        'Savings (9999),ACT-9,"Rainy, Day"\n'
    )
    df = spark.read.csv(
        str(p), header=True, schema=schemas.SEED_ACCOUNT_MAPPING_SIMPLEFIN
    )
    rows = {r.account_name: r for r in df.collect()}
    assert rows["Checking"].mapped_account_name == "Junior Checking"
    assert rows["Savings (9999)"].mapped_account_name == "Rainy, Day"  # quoted comma
    assert df.schema == schemas.SEED_ACCOUNT_MAPPING_SIMPLEFIN


def test_q6_predicates_reach_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:300], plan[:3000]
    scan_section = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in scan_section  # pruned to the 4 needed cols
    assert "BatchEvalPython" not in plan


def test_q4_is_left_semi(spark):
    plan = plan_of(spark, "q4_priority_semi_join")
    assert "LeftSemi" in plan, plan[:2000]


def test_q14_dim_broadcasts(spark):
    plan = plan_of(spark, "q14_promo_revenue_ratio")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Same-bucketed tables join without an Exchange on either side —
    the write-time-shuffle contract that makes repeated fact joins
    viable at 100 TB."""
    from doin_fine_ance__spark.operators.bucketing import colocated_join, write_bucketed
    from doin_fine_ance__spark.sources.testdata import load_table

    orders = load_table(spark, SF, "orders", ["o_orderkey", "o_totalprice"])
    li = load_table(spark, SF, "lineitem", ["l_orderkey", "l_quantity"]).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    write_bucketed(li, "b_lineitem", "o_orderkey", 8)
    # sf0.001 tables fit the broadcast threshold, which would hide the
    # bucketed plan; at real scale neither side broadcasts, so pin that.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan[:3000]
        assert "SortMergeJoin" in plan, plan[:3000]
        assert "Bucketed: true" in plan, plan[:3000]
        # row parity with the plain shuffle join
        assert joined.count() == orders.join(li, "o_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The 100 TB side (training grams) must never shuffle for the
    contamination join; the eval-suite gram set is broadcast."""
    plan = plan_of(spark, "d_decontaminate")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_sequence_packing_has_no_global_sort_window(spark):
    """The packing window partitions by shard — a window with an empty
    partition spec would serialize the corpus through one task."""
    plan = plan_of(spark, "t_sequence_packing")
    # Spark renders an unpartitioned window as 'Window [...], [...ORDER...]'
    # with no partition spec list; the shard spec must be present.
    assert "hashpartitioning(shard" in plan, plan[:3000]


def test_repetition_filter_partial_aggregation(spark):
    """Both aggregation levels must map-side combine (partial_ marker)
    so the (doc, word) shuffle carries counts, not raw tokens."""
    plan = plan_of(spark, "t_repetition_filter")
    assert "partial_count" in plan or "partial_sum" in plan, plan[:3000]


def test_q19_disjunction_pushed_and_no_nested_loop(spark):
    """OR-of-ANDs residual: the join must stay a hash join on the
    equi-key, with the per-side disjunct unions pushed into BOTH scans."""
    plan = plan_of(spark, "q19_disjunctive_predicate_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # Catalyst extracts `quantity between min-of-mins and max-of-maxs`
    # (and the brand/size union) as scan-level filters
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan[:3000]
    assert "EqualTo(p_brand,Brand#1)" in plan, plan[:3000]


def test_q21_self_semi_and_anti_joins(spark):
    plan = plan_of(spark, "q21_waiting_supplier_shape")
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_q7_twin_nation_dims_broadcast(spark):
    plan = plan_of(spark, "q7_volume_shipping_pairs")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    # nation-name disjunction reaches both nation scans
    assert plan.count("EqualTo(n_name,NATION_3)") >= 2, plan[:4000]


def test_segment_dedup_no_cartesian_and_partial_agg(spark):
    """Frequency count must partial-aggregate before its exchange and
    the mark join must be a hash join on the segment key."""
    plan = plan_of(spark, "d_segment_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_interval_join_is_hash_join_on_user(spark):
    """The stream-stream twin: equi-join on user_id with the interval
    as residual — never a pure theta join."""
    plan = plan_of(spark, "st_interval_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan), plan[:2000]


def test_q11_single_pass_conditional_gate(spark):
    """Global-threshold HAVING: per-group sums in one partial-agg pass,
    the global total as a broadcast, never a re-scan of supplier."""
    plan = plan_of(spark, "q11_global_threshold_having")
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_q12_dual_conditional_sums_one_aggregate(spark):
    """Both class counts fold into a single aggregation pass."""
    import re

    plan = plan_of(spark, "q12_shipmode_priority_counts")
    # one partial + one final aggregate, not two separate agg subtrees:
    # at most 2 shuffle exchanges (agg + final order), counted from the
    # numbered operator list (the tree section repeats each node)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_collect_page_with_total_single_pass_plan_and_values(spark, monkeypatch):
    """Single-job serving page (VERDICT r2 next-round #7): the total
    rides the same global-sort window pass as the row-number, so one
    action answers a page request — vs COUNT(*) + page as two."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.operators.pagination import (
        collect_page_with_total,
        paginate,
    )

    df = spark.range(500).withColumn("v", (F.col("id") * 7) % 113)
    order = [F.col("v").asc(), F.col("id").asc()]

    # capture the frame the operator collects, to inspect its plan
    collected: list[DataFrame] = []
    real_collect = type(df).collect

    def spy(self):
        collected.append(self)
        return real_collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    total, rows = collect_page_with_total(df, order, limit=20, offset=40)
    monkeypatch.undo()
    (paged,) = collected
    total_2q = df.count()
    page_2q = paginate(df, order, limit=20, offset=40).collect()
    assert total == total_2q == 500
    assert [(r["id"], r["v"]) for r in rows] == [
        (r["id"], r["v"]) for r in page_2q
    ]
    assert all(set(r) == {"id", "v"} for r in rows)

    # plan: both window functions share ONE Window node over ONE
    # exchange — a second Exchange/Window would mean the total is a
    # separate pass over the data (AQE's toString echoes the initial
    # plan below the final one; inspect only the final section)
    plan = paged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    windows = [ln for ln in final.splitlines() if "Window [" in ln]
    assert len(windows) == 1, final
    assert "row_number()" in windows[0] and "count(1)" in windows[0]

    # job accounting: the single-pass page costs strictly fewer Spark
    # jobs than the reference's count+page pair
    sc = spark.sparkContext
    sc.setJobGroup("one_action_page", "one-pass page", False)
    collect_page_with_total(df, order, limit=20, offset=40)
    jobs_single = len(sc.statusTracker().getJobIdsForGroup("one_action_page"))
    sc.setJobGroup("two_query_page", "count + page", False)
    df.count()
    paginate(df, order, limit=20, offset=40).collect()
    jobs_two = len(sc.statusTracker().getJobIdsForGroup("two_query_page"))
    sc.setJobGroup(None, None, False)
    assert jobs_single < jobs_two, (jobs_single, jobs_two)


def test_q2_correlated_min_stays_broadcast_no_rescan(spark):
    """Q2 shape: the per-part MIN resolves as a tiny broadcast join
    back onto the pair aggregate; every dimension broadcasts; the
    lineitem scan is materialized once (localCheckpoint), so the plan
    that remains contains NO sort-merge join and no second fact scan."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_q16_not_in_compiles_to_broadcast_anti(spark):
    plan = plan_of(spark, "q16_supplier_part_type_counts")
    assert "BroadcastHashJoin LeftAnti" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    # part filters push to the part scan before its broadcast
    # (the pushed IN-list's element order is planner-chosen)
    assert "Not(EqualTo(p_brand,Brand#4))" in plan, plan[:3000]
    assert "In(p_size, [" in plan, plan[:3000]


def test_q20_nested_semis_broadcast(spark):
    """Q20 shape: both supplier-side gates are left_semi against
    broadcast sets; the pair aggregate's per-part total joins back
    broadcast. No shuffle join anywhere in the final plan."""
    plan = plan_of(spark, "q20_dominant_supplier_semi")
    assert plan.count("BroadcastHashJoin LeftSemi") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
