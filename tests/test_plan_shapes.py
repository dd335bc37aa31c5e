"""Physical-plan shape guards.

The 100-TB story rests on plan properties (.explain evidence in
PLANS.md); these tests pin the load-bearing ones so a refactor cannot
silently reintroduce a nested-loop join, a needless shuffle, or a
full-width scan. Plans are inspected at sf0.001 — shape, not timing.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as E

    return E


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_has_no_join_operator(spark, entry):
    """The as-of join lowers to union + window: ZERO join operators —
    the naive inequality-join spelling would be BroadcastNestedLoop."""
    plan = _plan(entry.queries()["asof_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_range_join_is_equi_join(spark, entry):
    """Bucket decomposition turns the interval join into an equi-join."""
    plan = _plan(entry.queries()["range_count"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_side_only(spark, entry):
    """Deterministic hash sampling must not shuffle: no Exchange beyond
    the fixture repartition the _docs helper adds (RoundRobin), i.e. no
    hash/range exchange introduced by the operator itself."""
    plan = _plan(entry.queries()["sample_strat"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_knn_join_never_cross_joins(spark, entry):
    plan = _plan(entry.queries()["knn_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pip_join_broadcasts_the_cell_index(spark, entry):
    """The polygon cell index is tiny → the big point side must join it
    map-side (broadcast), never shuffle."""
    plan = _plan(entry.queries()["pip_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q1_scan_is_column_pruned(spark, entry):
    """Column pruning must reach the parquet scan: the lineitem read
    schema carries only the handful of columns the aggregate needs, not
    the full table."""
    df = entry.queries()["tpch_q1"](spark, SF)
    scan = [ln for ln in _plan(df).splitlines() if "ReadSchema" in ln]
    assert scan, "no parquet scan with ReadSchema found"
    schema = scan[0].split("ReadSchema:")[1]
    assert "l_comment" not in schema and "l_partkey" not in schema


def test_filter_is_pushed_to_scan(spark):
    """A predicate on a scanned column must appear in PushedFilters."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_reference_network_has_no_cartesian(spark, entry):
    plan = _plan(entry.queries()["reference_network"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_pushdown_and_pruning(spark, entry):
    """Q6 is the pushdown litmus: every predicate reaches the parquet
    scan and the scan reads only the 4 referenced columns."""
    plan = _plan(entry.queries()["tpch_q6"](spark, SF))
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    assert "GreaterThanOrEqual(l_shipda" in scan       # PushedFilters
    assert "l_orderkey" not in scan                    # column pruning
    assert "ReadSchema: struct<l_quantity" in scan


def test_ann_int8_broadcasts_queries_no_cartesian(spark, entry):
    plan = _plan(entry.queries()["ann_int8"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # != join over broadcast q side
    assert plan.count("BroadcastExchange") >= 1


def test_bucketed_join_has_zero_exchanges(spark, entry):
    """The co-located join property: with both sides bucketed on the join
    key (one file per bucket), the sort-merge join plans with NO Exchange
    anywhere — the write-time shuffle is the only one that ever happens."""
    from bdtopo2refhydro_spark.sources.io import (
        bucketed_equijoin,
        write_bucketed,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet") \
            .select("l_orderkey", "l_quantity")
        od = spark.read.parquet(f"{SF}/orders.parquet") \
            .select("o_orderkey", "o_orderpriority")
        write_bucketed(li, "li_bkt_plan", "l_orderkey")
        write_bucketed(od, "od_bkt_plan", "o_orderkey")
        j = bucketed_equijoin(spark, "li_bkt_plan", "od_bkt_plan",
                              "l_orderkey", "o_orderkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == spark.read.parquet(f"{SF}/lineitem.parquet").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_chunk_docs_is_map_side_only(spark, entry):
    """Chunking must not shuffle: no hash/range exchange beyond the
    fixture repartition the _docs helper adds."""
    plan = _plan(entry.queries()["chunk_docs"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_scd2_single_exchange_single_sort(spark, entry):
    """Both SCD2 windows (change-collapse lag, validity lead) must share
    ONE hash exchange and ONE sort — the filter between them preserves
    the (key) partitioning and (ts, tiebreak) ordering."""
    plan = _plan(entry.queries()["scd2"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort ") + plan.count("+- *Sort ") <= 1 or \
        plan.count("Sort [") == 1


def test_snapshot_diff_shuffles_digests_not_text(spark, entry):
    """The full-outer join must consume pre-digested 16-byte columns:
    no Exchange row carries the text column (only the scans read it)."""
    plan = _plan(entry.queries()["snapshot_diff"](spark, SF))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_url_rules_broadcasts_the_policy_table(spark, entry):
    plan = _plan(entry.queries()["url_rules"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q18_broadcasts_customer_only(spark, entry):
    """customer is the policy-sized dim — always a BroadcastHashJoin (at
    sf0.001 AQE may broadcast the tiny big-order key set too, which is
    the right call at that size and would revert to shuffle at scale);
    never a nested loop or cartesian."""
    plan = _plan(entry.queries()["tpch_q18"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anchor_agg_partial_aggregates_before_shuffle(spark, entry):
    """The raw link table must collapse map-side: a partial HashAggregate
    appears below the first exchange."""
    plan = _plan(entry.queries()["anchor_agg"](spark, SF))
    first_exchange = plan.index("Exchange hashpartitioning")
    assert "HashAggregate" in plan[first_exchange:]
    # partial agg below (printed after) the exchange in the tree
    below = plan[first_exchange:]
    assert "partial_count" in below or "count(1)" in below


def test_exact_substr_no_pairs_no_cartesian(spark, entry):
    """Windowed span-dedup is join-on-hash + two aggregates — never a
    self-join of documents, never a nested loop."""
    plan = _plan(entry.queries()["exact_substr"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cocitation_wedge_is_equi_join(spark, entry):
    plan = _plan(entry.queries()["cocitation"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # (the per-target cap Window sits behind the ranked-table
    # localCheckpoint, so it is invisible here; the cap semantics are
    # value-tested in test_curation_extras)


def test_cms_probe_broadcasts_the_sketch(spark, entry):
    """The sketch is bounded at depth*width rows — the probe join must
    broadcast it, never shuffle the token stream against it."""
    plan = _plan(entry.queries()["cms_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_group_split_is_map_side_only(spark, entry):
    plan = _plan(entry.queries()["group_split"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_fuzzy_join_is_equi_join_on_variants(spark, entry):
    """FastSS candidate generation joins on the deletion variant — the
    whole point is that no cross join appears anywhere."""
    plan = _plan(entry.queries()["fuzzy_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q4_semi_join_and_date_pushdown(spark, entry):
    plan = _plan(entry.queries()["tpch_q4"](spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the date window reaches the orders parquet scan
    assert "PushedFilters" in plan and "o_orderdate" in plan.split(
        "PushedFilters", 1)[1][:400]


def test_tpch_q5_broadcasts_all_dims(spark, entry):
    """The 6-way star: exactly one shuffle join family (lineitem x
    orders); supplier/nation/region/customer all broadcast."""
    plan = _plan(entry.queries()["tpch_q5"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_crawl_frontier_two_window_passes(spark, entry):
    plan = _plan(entry.queries()["crawl_frontier"](spark, SF))
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_skipgrams_is_equi_join_on_positions(spark, entry):
    """Context positions are EMITTED then equi-joined — never a range
    self-join of the token stream."""
    plan = _plan(entry.queries()["skipgrams"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_sample_no_cartesian(spark, entry):
    plan = _plan(entry.queries()["graph_sample"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q13_outer_join_keeps_filter_off_scan(spark, entry):
    """Q13's priority filter lives in the JOIN condition semantics: it
    must reach the orders scan as a pushed filter (it's a plain child
    filter of the outer join's right side), while customer rows with no
    match survive — the plan keeps a LeftOuter/RightOuter join, never an
    inner one."""
    plan = _plan(entry.queries()["tpch_q13"](spark, SF))
    assert "Outer" in plan
    assert "CartesianProduct" not in plan
    assert "o_orderpriority" in plan.split("PushedFilters", 2)[-1][:400]


def test_tpch_q17_broadcasts_part_and_avg(spark, entry):
    """Both small sides (filtered part dim, per-part avg) broadcast —
    lineitem never shuffles."""
    plan = _plan(entry.queries()["tpch_q17"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_and_scalar_gate(spark, entry):
    """The no-orders gate is a genuine anti join; the global-average
    gate is a broadcast of a 1-row aggregate, not a shuffled join."""
    plan = _plan(entry.queries()["tpch_q22"](spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_scalar_max_broadcast(spark, entry):
    """The argmax-with-ties gate: Catalyst rewrites crossJoin(1-row max)
    + equality filter into a broadcast HASH join on tc = mx — pinned so
    it never degrades to a nested loop or cartesian."""
    plan = _plan(entry.queries()["tpch_q15"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # scalar gate + supplier
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_anti_join_and_broadcasts(spark, entry):
    plan = _plan(entry.queries()["tpch_q16"](spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q7_two_role_dims_broadcast(spark, entry):
    """Nation joins twice (supplier role + customer role) — all four
    dims broadcast; lineitem x orders stays the single shuffle join."""
    plan = _plan(entry.queries()["tpch_q7"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_tpch_q21_exists_and_not_exists_joins(spark, entry):
    """The waiting-supplier pair: EXISTS → LeftSemi, NOT EXISTS →
    LeftAnti, both with the non-equi different-supplier condition."""
    plan = _plan(entry.queries()["tpch_q21"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q19_single_join_no_cartesian(spark, entry):
    """The disjunctive predicate must NOT degrade the equi-join: one
    broadcast hash join on partkey, residual OR as a filter."""
    plan = _plan(entry.queries()["tpch_q19"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_funcs_share_one_window(spark, entry):
    """rank/dense_rank/ntile over the same spec must share one Window
    operator (one sort + one exchange)."""
    plan = _plan(entry.queries()["rank_funcs"](spark, SF))
    assert plan.count("Window") == 1


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime evidence for the PLANS.md skew story: a 97%-hot key in a
    shuffle join is split by AQE (skew=true in the FINAL adaptive plan).
    Thresholds are shrunk so the toy fixture crosses them; production
    relies on the same mechanism at default thresholds. The final plan
    is only observable through the DataFrame's own QueryExecution, so
    the fixture collect()s through it (df.count()/df.write use a
    separate QE whose adaptive plan never finalizes — a Spark 4
    subtlety this test documents)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 97, F.lit(7))
            .otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"))
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        j = big.join(dim, "k").select("k")
        assert len(j.collect()) == 200_000
        final = _plan(j)
        assert "isFinalPlan=true" in final
        assert final.count("skew=true") >= 1
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_tpch_q2_min_cost_without_window(spark, entry):
    """Q2's correlated min lowers to groupBy-min + equi-join back —
    no Window (no global sort), dims broadcast, no cartesian beyond
    the 1-row supplier-count broadcast inside the partsupp generator."""
    plan = _plan(entry.queries()["tpch_q2"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q8_dims_broadcast(spark, entry):
    """Q8's 6-table star: every dim side (part, ASIA customers,
    supplier-nation) broadcasts; only lineitem x orders may shuffle."""
    plan = _plan(entry.queries()["tpch_q8"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q9_partsupp_broadcasts(spark, entry):
    """The generated partsupp is 4 rows/part — it must broadcast so
    lineitem never shuffles for the (partkey, suppkey) cost lookup."""
    plan = _plan(entry.queries()["tpch_q9"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q11_single_agg_exchange(spark, entry):
    """Q11's per-part aggregate shuffles on ps_partkey only; the
    total/n_parts gate rides a 1-row broadcast. Catalyst duplicates the
    per_part branch into the total's subtree (two identical exchanges —
    both over the tiny generated partsupp, and eligible for runtime
    ReusedExchange), so the pin is <=2 and never a third."""
    plan = _plan(entry.queries()["tpch_q11"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(ps_partkey") <= 2


def test_tpch_q20_semi_join(spark, entry):
    """The nested-IN chain lowers to aggregate -> equi-join -> LeftSemi,
    never a nested-loop membership probe over lineitem."""
    plan = _plan(entry.queries()["tpch_q20"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime row-level filtering: a selective dim-side predicate must
    inject a bloom_filter_agg on the dim and a might_contain probe on
    the fact side of a shuffle join — at 100 TB this prunes fact rows
    before the exchange instead of shuffling them to die in the join.
    Thresholds are lowered because the sf0.001 scan is tiny; the
    default 10 GB application-side threshold targets exactly the scans
    this repo is designed for."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        od = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = (li.join(od, li.l_orderkey == od.o_orderkey)
               .groupBy("o_orderpriority").count())
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        # and the rewrite must not have changed the answer
        urgent = li.join(od, li.l_orderkey == od.o_orderkey).count()
        assert j.collect()[0]["count"] == urgent
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_bitmap_distinct_has_no_expand(spark, entry):
    """The bucketed-bitmap distinct count replaces count(distinct)'s
    Expand (row duplication per distinct-agg) with plain integer
    bit-set aggregation: no Expand node anywhere, and no join."""
    plan = _plan(entry.queries()["bitmap_distinct"](spark, SF))
    assert "Expand" not in plan
    assert "Join" not in plan


def test_sql_udf_inlines_into_codegen(spark, entry):
    """The SQL scalar UDF body must inline into the plan — zero Python
    boundary (no BatchEvalPython / ArrowEvalPython), the CASE visible
    to whole-stage codegen."""
    plan = _plan(entry.queries()["sql_udf"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the UDF body is gone — its CASE expression sits in a Project
    # (AQE shows isFinalPlan=false pre-execution, so assert on the
    # inlined expression rather than the codegen span)
    assert "CASE WHEN" in plan and "event_tier" in plan
    # and column pruning still reached the scan through the UDF
    assert "ReadSchema: struct<event_id:bigint>" in plan


def test_nullsafe_join_is_hash_join_not_nested_loop(spark, entry):
    """Null-safe equality is a valid hash key: the plan must be a hash
    or sort-merge join, never the nested-loop a non-equi predicate
    would force."""
    plan = _plan(entry.queries()["nullsafe_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_lateral_topk_is_decorrelated(spark, entry):
    """Spark must decorrelate the LATERAL subquery into a join — no
    per-row re-execution (which would surface as a nested loop over
    the full table)."""
    plan = _plan(entry.queries()["lateral_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    # decorrelation yields an equi-join on the correlation key
    assert ("SortMergeJoin" in plan or "BroadcastHashJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_itemset_pairs_joins_on_basket_only(spark, entry):
    """The A-priori pair pass must self-join on the basket id (fan-out
    bounded by basket width) — never a cartesian over items."""
    plan = _plan(entry.queries()["itemset_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_pred_wedge_is_equi_join(spark, entry):
    """Link prediction's candidate generation is the wedge equi-join on
    the shared middle node plus broadcastable degree joins — no
    cartesian anywhere."""
    plan = _plan(entry.queries()["link_pred"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_merge_single_exchange(spark, entry):
    """merge_intervals: both windows and the per-user rollup hash on
    user_id (HashPartitioning subset rule), so the WHOLE sweep is ONE
    Exchange — the naive spelling is an O(N^2) interval self-join."""
    plan = _plan(entry.queries()["interval_merge"](spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_cohort_retention_two_exchanges_no_join(spark, entry):
    """cohort_retention: repartition(user) feeds the (user, period)
    dedup AND the per-user min window shuffle-free; only the tiny
    (cohort, period) rollup re-shuffles. No join anywhere (the naive
    spelling joins first-period back onto the activity table)."""
    plan = _plan(entry.queries()["cohort_ret"](spark, SF))
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan


def test_rolling_outliers_one_exchange_one_window(spark, entry):
    """rolling_outliers: one hash on the key + one Window computing all
    three rolling stats in a single pass; the anomaly predicate stays
    in whole-stage codegen (all-BIGINT, no pow/floats)."""
    plan = _plan(entry.queries()["roll_anomaly"](spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan


def test_set_ops_lower_to_aggregates_not_joins(spark, entry):
    """INTERSECT ALL / EXCEPT ALL lower to replicate-and-count hash
    aggregates (plus Generate for the replay) — no join of the two
    token streams."""
    plan = _plan(entry.queries()["set_ops"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_grouping_sets_is_one_expand(spark, entry):
    """GROUPING SETS plans as ONE Expand feeding one aggregate — not
    one scan per grouping set."""
    plan = _plan(entry.queries()["grouping_sets"](spark, SF))
    assert plan.count("Expand") == 1, plan


def test_image_phash_shuffles_hashes_not_payloads(spark, entry):
    """perceptual_ahash: the only hash-partitioned Exchange is the
    dup-count window over (hash_hi, hash_lo) — 20-byte rows. Image
    payload bytes never cross a hash shuffle."""
    plan = _plan(entry.queries()["image_phash"](spark, SF))
    assert "MapInPandas" in plan
    assert plan.count("hashpartitioning") == 1, plan


def test_date_funcs_is_pure_projection(spark, entry):
    """Calendar functions are whole-stage-codegen projections: ZERO
    exchanges, zero UDFs."""
    plan = _plan(entry.queries()["date_funcs"](spark, SF))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan


def test_time_spine_joins_on_key_and_period(spark, entry):
    """Spine densification is explode + equi-join — never a calendar
    cross join."""
    plan = _plan(entry.queries()["time_spine"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # sequence+explode spine


def test_hist_bins_broadcasts_bounds(spark, entry):
    """The global min/max is a 1-row broadcast onto the scan — never a
    shuffle of the data against its own bounds."""
    plan = _plan(entry.queries()["hist_bins"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning") == 1, plan  # the bin groupBy


def test_dedup_lineage_shuffles_digests_not_text(spark, entry):
    """The lineage window hashes 16-byte digests; the text column is
    pruned before the Exchange."""
    plan = _plan(entry.queries()["dedup_lineage"](spark, SF))
    assert plan.count("hashpartitioning") == 1, plan
    ex = plan[plan.index("Exchange hashpartitioning"):]
    assert "text_hash" in ex[:200]


def test_random_walks_equi_joins_only(spark, entry):
    """Every walk step is an equi-join of the |nodes|-row frontier
    against the distinct edge table — no cartesian, no nested loop."""
    plan = _plan(entry.queries()["random_walks"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neg_samples_broadcasts_vocab(spark, entry):
    """Negative-index resolution is a broadcast hash join against the
    vocab index — the corpus never shuffles on the sample index."""
    plan = _plan(entry.queries()["neg_samples"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_never_windows_the_snapshot(spark, entry):
    """apply_cdc reduces the CHANGES with a groupBy and joins once —
    the big base snapshot gets no Window and no cartesian."""
    plan = _plan(entry.queries()["cdc_apply"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lang_profile_broadcasts_the_profiles(spark, entry):
    """The 40-row profile table broadcasts onto the doc-trigram stream;
    scoring is an equi-join on the trigram."""
    plan = _plan(entry.queries()["lang_profile"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dbscan_neighbor_join_is_equi_join(spark, entry):
    """DBSCAN's ε-neighborhood join must be the 9-cell-block EQUI-join
    — never a nested-loop distance join."""
    plan = _plan(entry.queries()["dbscan"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_welch_t_partial_aggregates_map_side(spark, entry):
    """The integer (n, Σx, Σx²) pass must partial-aggregate before the
    shuffle and never join or nested-loop."""
    plan = _plan(entry.queries()["welch_t"](spark, SF))
    assert "partial_" in plan  # map-side combine present
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_rake_keywords_no_join_operators(spark, entry):
    """RAKE lowers to explode + one per-doc Window + aggregations —
    phrase assembly must not introduce a join."""
    plan = _plan(entry.queries()["rake_keywords"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_decision_stump_shuffles_distinct_values_not_rows(spark, entry):
    """The stacked-feature groupBy must partial-aggregate map-side (the
    shuffle carries distinct (feature, value) pairs), and candidate
    scoring must not join."""
    plan = _plan(entry.queries()["stump_train"](spark, SF))
    assert "partial_count" in plan or "partial_" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # stack() generator stayed JVM-side
    assert "Window" in plan


def test_mst_round_join_is_equi_join(spark, entry):
    """One Borůvka hook round: label joins are hash equi-joins, never
    nested loops (checked on the materialized first-round selection
    inside the full run's returned plan)."""
    plan = _plan(entry.queries()["mst_boruvka"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tree_betweenness_integer_only_no_cartesian(spark, entry):
    plan = _plan(entry.queries()["tree_bet"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topn_limit_plans_as_take_ordered(spark, entry):
    """orderBy + limit must plan as TakeOrderedAndProject (per-partition
    partial top-N + one merge), NEVER a global Sort+Exchange."""
    plan = _plan(entry.queries()["topn_limit"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan
