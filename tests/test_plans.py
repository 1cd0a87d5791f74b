"""Plan-shape assertions: the scale-survival properties, executable."""

from __future__ import annotations

import pytest

from iot_data_pipeline_spark.operators import relational
from iot_data_pipeline_spark.plans import (
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    scan_columns,
)
from iot_data_pipeline_spark.session import scoped_conf


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # Plan-shape tests assert the plan Catalyst would build from scratch;
    # cached frames left behind by other tests substitute InMemoryRelations
    # (whose printed cached plan carries its own Exchange nodes) and make
    # the shape nondeterministic w.r.t. test ordering.
    spark.catalog.clearCache()
    yield


def test_filters_reach_scan(spark, sf_dir):
    df = relational.filter_pred(spark, sf_dir)
    pf = pushed_filters(df)
    assert "o_orderstatus" in pf and "o_totalprice" in pf


def test_scan_pruned_to_projection(spark, sf_dir):
    df = relational.project_cast_arith(spark, sf_dir)
    (cols,) = scan_columns(df)
    # 11-column lineitem pruned to exactly the referenced 6
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    }


def test_dimension_joins_broadcast(spark, sf_dir):
    assert has_broadcast_join(relational.join_multiway(spark, sf_dir))


def test_theta_join_not_cartesian(spark, sf_dir):
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_theta_range(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # brand equality is the hash key, band residual


def test_interval_overlap_join_not_cartesian(spark, sf_dir):
    """The calendar-grid band join must run as an equi-join on
    (custkey, cell) — never a per-customer all-pairs nested loop."""
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_interval_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_global_topk_is_take_ordered(spark, sf_dir):
    assert has_take_ordered(relational.sort_limit(spark, sf_dir))


def test_partitioned_write_prunes(spark, sf_dir):
    from iot_data_pipeline_spark.operators import reshape
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(reshape.sink_parquet_partitioned(spark, sf_dir))
    # the status filter must prune partition DIRECTORIES at plan time,
    # not filter rows post-scan.
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or (
        "PartitionFilters: [" in plan and "o_orderstatus" in plan
    )


def test_join_strategy_hints(spark, sf_dir):
    """Planner hints are honored: merge → SortMergeJoin, shuffle_hash →
    ShuffledHashJoin, broadcast → BroadcastHashJoin, for the same query."""
    from iot_data_pipeline_spark.operators._util import table
    from iot_data_pipeline_spark.plans import executed_plan

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    for hint, node in [
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ]:
        joined = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        assert node in executed_plan(joined), hint


def test_observation_metrics(spark, sf_dir):
    """Observation API: named metrics ride along with a real action — the
    engine-ops way to count rows/sums without a second pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.operators._util import table

    obs = Observation("etl_metrics")
    li = table(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias(
            "qty"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get["rows"] == 6000
    assert obs.get["qty"] > 0


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Join a status-partitioned fact with a filtered dim on the partition
    key: the scan must carry a dynamicpruning expression so only matching
    partitions are read at runtime — at 100 TB this is what keeps a
    dim-filtered fact join from scanning the lake."""
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.operators._util import table
    from iot_data_pipeline_spark.plans import executed_plan

    out = str(tmp_path / "orders_part")
    table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "finished")], "o_orderstatus STRING, label STRING"
    )
    joined = fact.join(dim, "o_orderstatus").select(
        "o_orderkey", "o_orderstatus", "label"
    )
    plan = executed_plan(joined).lower()
    assert "dynamicpruning" in plan or "partitionfilters: [isnotnull" in plan


def test_asof_is_single_shuffle(spark, sf_dir):
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_asof_event(spark, sf_dir))
    # union-and-scan formulation: exactly one exchange (the window shuffle),
    # never a range-join row explosion.
    assert plan.count("Exchange") == 1


def test_funnel_is_single_shuffle(spark, sf_dir):
    from iot_data_pipeline_spark.operators import analytics
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(analytics.evt_funnel(spark, sf_dir))
    # window computes signup_ts after ONE hash exchange on user_id; the
    # groupBy(user_id, signup_ts) reuses that partitioning (user_id is a
    # subset of the grouping keys), so no second shuffle of events appears.
    assert plan.count("Exchange") == 1


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    from iot_data_pipeline_spark.operators import llm
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(llm.llm_decontaminate(spark, sf_dir))
    # the (tiny) eval shingle set must broadcast; the corpus shingle pass
    # must never shuffle into a sort-merge join on shingle.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q1_filter_pushdown(spark, sf_dir):
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q1(spark, sf_dir))
    # shipdate predicate reaches the parquet scan; aggregation is two-phase
    # (partial before the exchange) so the shuffle carries only group rows.
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q4(spark, sf_dir))
    # the correlated EXISTS must become a semi join (no per-row subquery,
    # no cartesian); the quarter filter must reach the orders scan.
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q21_plans_semi_and_anti(spark, sf_dir):
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q21(spark, sf_dir))
    # EXISTS -> semi, NOT EXISTS -> anti, inequality conjuncts as join
    # residuals (never a nested-loop over lineitem).
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    from iot_data_pipeline_spark.operators import maintenance
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(maintenance.dim_scd2(spark, sf_dir))
    # lag (change detection) and lead (version close) partition and order by
    # the same (user_id, ts, event_id) key, so Catalyst plans ONE hash
    # exchange and one sort feeding both Window operators.
    assert plan.count("Exchange") == 1


def test_geo_hub_join_broadcasts(spark, sf_dir):
    from iot_data_pipeline_spark.operators import maintenance
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(maintenance.geo_nearest_hub(spark, sf_dir))
    # the 5-row hub table must ship to the devices, never the reverse: the
    # cross join has to be a broadcast nested loop, not a shuffle.
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dq_audit_metrics_single_scan(spark, sf_dir):
    from iot_data_pipeline_spark.operators import maintenance
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(maintenance.dq_audit(spark, sf_dir))
    # orders is read twice total (metrics pass + ref-integrity anti join) —
    # adding constraints must not add scans.
    assert plan.count("Scan parquet") <= 3


def test_sim_topk_single_bounded_exchange(spark, sf_dir):
    """Exact similarity search: the corpus is scored in place (per-batch
    numpy top-k pre-reduction inside the Arrow scan) — the ONLY shuffle in
    the plan is the final reduce over ≤ k·n_partitions candidate rows.
    A second Exchange would mean the full corpus re-partitions at 100 TB."""
    from iot_data_pipeline_spark.operators import llm
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(llm.llm_sim_topk(spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_near_dup_candidates_are_equi_joins(spark, sf_dir):
    """MinHash→LSH banding turns near-dup candidate generation into plain
    equi-joins on (band_idx, band_hash) — never a cartesian or nested-loop
    plan, which is the difference between linear and df²-quadratic at
    scale."""
    from iot_data_pipeline_spark.operators._util import table
    from iot_data_pipeline_spark.operators.llm import (
        _word_shingles,
        near_dup_pairs,
    )
    from iot_data_pipeline_spark.plans import executed_plan

    sh = _word_shingles(table(spark, sf_dir, "documents"), 3)
    plan = executed_plan(near_dup_pairs(sh, 0.5))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_q19_disjunction_stays_equi_join_with_derived_pushdown(spark, sf_dir):
    """TPC-H Q19's OR-of-ANDs spans both join sides: Catalyst must keep the
    common p_partkey = l_partkey equi-key (no nested loop / cartesian) and
    derive the per-side disjunction (quantity bands) down to the lineitem
    scan so each side prunes before the join."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q19(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    # derived per-side filter reaches the parquet scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in plan


def test_q22_plans_anti_join_and_in_pushdown(spark, sf_dir):
    """TPC-H Q22 shape: the correlated NOT EXISTS decorrelates to a LEFT
    ANTI join (no per-row subquery), and the nationkey IN-list reaches the
    customer scan as an In pushdown."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q22(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "In(c_nationkey, [0,1,2,3,4,5,6]" in plan


def test_q5_pushes_region_and_date_filters(spark, sf_dir):
    """TPC-H Q5: the region name filter and the order-date year window must
    reach their scans (partition-pruning surrogates at 100 TB), and the
    snowflake never degrades to a cartesian."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q5(spark, sf_dir))
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_q13_left_outer_keeps_condition_filter_on_right_scan(spark, sf_dir):
    """TPC-H Q13: the priority exclusion lives in the JOIN condition; for a
    LEFT OUTER join Catalyst may push it only to the RIGHT (orders) scan —
    customers with solely urgent orders must survive with count 0."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q13(spark, sf_dir))
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_gopher_rules_is_shuffle_free(spark, sf_dir):
    """The Gopher gate is all per-row expressions (sorted-run HOF for the
    repetition rule) — any Exchange would mean per-doc stats left their
    input partition."""
    from iot_data_pipeline_spark.operators import llm
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(llm.llm_gopher_rules(spark, sf_dir))
    assert plan.count("Exchange") == 0


def test_unigram_rarity_broadcasts_vocab(spark, sf_dir):
    """The corpus-frequency scorer must join exploded tokens to the
    aggregated vocabulary with a broadcast hash join (the vocab side is
    small after aggregation) — a sort-merge join here would shuffle the
    full token stream a second time on a Zipf-skewed key."""
    from iot_data_pipeline_spark.operators import llm
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(llm.llm_unigram_rarity(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_reads_buckets_without_shuffle(spark, sf_dir):
    """Both bucketed scans must feed the SortMergeJoin directly — the plan
    shows ``Bucketed: true`` on each FileScan and no Exchange re-shuffling
    either side on the join key. That shuffle elimination is the entire
    point of pre-bucketed storage at 100 TB."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_bucketed_colocated(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan


def test_edit_distance_join_is_variant_equi_join(spark, sf_dir):
    """The deletion-neighborhood join must plan as a plain equi hash join
    on the variant key — an all-pairs nested loop here is exactly the n²
    blowup the banding exists to avoid."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_edit_distance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_q6_pushes_all_three_predicates(spark, sf_dir):
    """TPC-H Q6 is the canonical pushdown benchmark: the date range, the
    discount band, and the quantity cap must ALL reach the parquet scan
    (PushedFilters), and aggregation must be two-phase."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    # the default 100-char metadata truncation cuts the filter list off
    with scoped_conf(spark, **{"spark.sql.maxMetadataStringLength": "2000"}):
        plan = executed_plan(relational.sql_entry_tpch_q6(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThanOrEqual(l_discount,0.07)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "partial_sum" in plan


def test_q9_joins_derived_partsupp_as_hash_joins(spark, sf_dir):
    """TPC-H Q9 (derived partsupp): the fact joins the two-column-keyed
    derived dimension with HASH joins only — the sole nested-loop is the
    bounded partsupp spine (1-row count x 4-row stripes) — and the
    ``%red%`` part-name gate reaches the part scan as a Contains
    pushdown."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q9(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "StringContains(p_name,red)" in plan
    # every non-spine join is a hash join; the spine BNLJ is the justified
    # bounded build (tests/test_plan_lint.py::BNLJ_BOUNDED)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q2_decorrelates_min_cost_subquery(spark, sf_dir):
    """TPC-H Q2: the correlated scalar MIN subquery must decorrelate into a
    per-part aggregate joined back (no per-row execution), with the size
    gate pushed to the part scan."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q2(spark, sf_dir))
    assert "EqualTo(p_size,15)" in plan
    assert "min(ps_supplycost" in plan
    assert "CartesianProduct" not in plan


def test_q20_plans_semi_joins_with_date_pushdown(spark, sf_dir):
    """TPC-H Q20: the stacked INs must plan as semi joins and the shipdate
    year window must reach the lineitem scan."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q20(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "StringStartsWith(p_name,small)" in plan
    assert "CartesianProduct" not in plan


def test_q16_plans_anti_join_for_not_in(spark, sf_dir):
    """TPC-H Q16: NOT IN over the excluded-supplier list must plan as a
    (null-aware) anti join against the tiny broadcast list, with the
    bad-supplier predicate pushed to the supplier scan."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.sql_entry_tpch_q16(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "LessThan(s_acctbal,500.0)" in plan
    assert "CartesianProduct" not in plan


def test_dpp_join_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """join_dpp_partitioned must carry a dynamicpruningexpression on the
    fact scan's PartitionFilters (the dim's surviving keys injected at
    runtime), proving the other years' partitions are pruned rather than
    scanned-and-filtered; and the join must not degrade to a cartesian."""
    from iot_data_pipeline_spark.operators import relational
    from iot_data_pipeline_spark.plans import executed_plan

    plan = executed_plan(relational.join_dpp_partitioned(spark, sf_dir))
    assert "dynamicpruning" in plan
    assert "PartitionFilters" in plan
    assert "CartesianProduct" not in plan
