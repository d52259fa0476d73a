"""Physical-plan contracts for the round-continuation operators.

Same discipline as test_explain_plans.py: each test pins the plan property
that makes the op scale, not just that it runs.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from dataengineeringutils_spark.registry import queries


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q17_correlated_subquery_is_decorrelated(spark, sf_dir):
    df = queries()["tpch_q17_shape"](spark, sf_dir)
    plan = _plan(df)
    # Catalyst must rewrite the correlated scalar subquery into an
    # aggregate-then-join; a surviving per-row subquery node would re-scan
    # lineitem per row.
    assert "Subquery" not in plan, plan[:1500]
    assert plan.count("Scan parquet") >= 2  # lineitem twice + part


def test_q18_in_subquery_becomes_semi_join(spark, sf_dir):
    df = queries()["tpch_q18_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan[:1500]
    assert "TakeOrderedAndProject" in plan


def test_q13_left_join_survives_condition_predicate(spark, sf_dir):
    df = queries()["tpch_q13_shape"](spark, sf_dir)
    plan = _plan(df)
    # The priority predicate lives in the join condition; the join must
    # still be an outer join (a WHERE would have made it inner).
    assert "LeftOuter" in plan or "RightOuter" in plan, plan[:1500]


def test_semi_reduction_probe_is_broadcast(spark, sf_dir):
    df = queries()["join_semi_reduction"](spark, sf_dir)
    plan = _plan(df)
    first = plan.split("\n\n")[0]
    assert "LeftSemi" in first
    assert "BroadcastHashJoin" in first


def test_timeseries_resample_single_shuffle(spark, sf_dir):
    df = queries()["timeseries_resample"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    # One hash aggregate pair around ONE exchange; no window, no join.
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree
    assert "Join" not in tree


def test_python_datasource_plans_declared_partitions(spark, sf_dir):
    from dataengineeringutils_spark.sources.python_datasource import (
        NumbersDataSource,
    )

    spark.dataSource.register(NumbersDataSource)
    df = (
        spark.read.format("numbers_synth")
        .option("n", "1000")
        .option("parts", "5")
        .load()
    )
    # partitions() is the parallelism contract: 5 InputPartitions -> 5 tasks.
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000


def test_arrow_quantize_crosses_python_once(spark, sf_dir):
    df = queries()["udf_arrow_quantize"](spark, sf_dir)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInArrow") == 1, tree
    # No pandas-path nodes: this op is the raw-Arrow crossing.
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_profile_summary_distincts_are_pruned_subtrees(spark, sf_dir):
    from dataengineeringutils_spark.operators.profiling import (
        _NUM_COLS,
        _STR_COLS,
    )

    n_distinct = len(_NUM_COLS) + len(_STR_COLS)
    df = queries()["profile_summary"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    # The invariants that matter (ADVICE r6: bounds, not exact planner
    # node counts): no Expand fan-out, one base scan PLUS one pruned
    # scan per exact-distinct column, each distinct subtree reading
    # exactly its one column.
    assert "Expand" not in tree, tree
    assert tree.count("Scan parquet") >= 1 + n_distinct, tree
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", _plan(df))
    single_col = [s for s in schemas if s.count(",") == 0]
    assert len(single_col) >= n_distinct, schemas


def test_kmeans_stays_jvm_side(spark, sf_dir):
    df = queries()["sim_kmeans_lloyd"](spark, sf_dir)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # centroid joins broadcast


def test_q2_min_is_window_not_self_join(spark, sf_dir):
    df = queries()["tpch_q2_shape"](spark, sf_dir)
    plan = _plan(df)
    # The correlated MIN must run as a window over the already-joined
    # rows: exactly one lineitem scan, no decorrelated second aggregate
    # join, and the part side broadcast.
    assert "Window" in plan, plan[:1500]
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2, tree  # part + lineitem once
    assert "BroadcastHashJoin" in tree


def test_q4_exists_is_hashed_semi_join(spark, sf_dir):
    df = queries()["tpch_q4_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan[:1500]
    # The shipdate inequality must ride the hash join as a condition,
    # not force a nested-loop plan.
    assert "NestedLoop" not in plan, plan[:1500]


def test_q11_scalar_stays_in_plan_as_broadcast(spark, sf_dir):
    df = queries()["tpch_q11_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan[:1500]
    )
    # The initial plan shows lineitem twice, but at runtime AQE dedupes
    # the identical per-suppkey shuffle stages: the global total is
    # computed from the REUSED per-supp exchange, so the base table is
    # scanned exactly once.
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final.split("\n\n")[0]


def test_q16_not_in_is_anti_join(spark, sf_dir):
    df = queries()["tpch_q16_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan[:1500]
    assert "Expand" in plan or "HashAggregate" in plan  # distinct expansion


def test_q21_has_semi_and_anti_on_same_key(spark, sf_dir):
    df = queries()["tpch_q21_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan[:1500]
    assert "LeftAnti" in plan, plan[:1500]


def test_q22_anti_join_after_broadcast_threshold(spark, sf_dir):
    df = queries()["tpch_q22_shape"](spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_cdc_apply_is_single_aggregate_no_window(spark, sf_dir):
    df = queries()["cdc_apply_changes"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    # max_by collapses the changelog in ONE hash aggregate; a row_number
    # formulation would add a Window + full sort of every key's history.
    assert "Window" not in tree, tree
    assert tree.count("Exchange") == 1, tree


def test_sketch_ops_are_two_level_aggregates(spark, sf_dir):
    for name in ("agg_sketch_hll_merge", "agg_bitmap_distinct"):
        df = queries()[name](spark, sf_dir)
        tree = _plan(df).split("\n\n")[0]
        # fine-grained partials + merge level = two aggregate pairs
        # (sketch aggs plan as ObjectHashAggregate/SortAggregate, not
        # plain HashAggregate). The exact-count side contributes the
        # HashAggregates; ≥4 aggregate nodes total pins the two levels.
        import re

        n_aggs = len(re.findall(r"\w*Aggregate", tree))
        assert n_aggs >= 4, (name, n_aggs, tree)


def test_fill_forward_single_user_shuffle(spark, sf_dir):
    df = queries()["win_fill_forward"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    # window on user_id, then groupBy user_id: Catalyst must reuse the
    # window's partitioning for the aggregate — exactly one exchange.
    assert tree.count("Exchange") == 1, tree
    assert "Window" in tree


def test_rfm_windows_run_on_aggregated_frame(spark, sf_dir):
    # round-4 shape: the fact table collapses to a CHECKPOINTED |users|
    # frame (the plan reads the materialized RDD, never re-scanning
    # events), and at fixture scale the quartiles run in ONE grouped-map
    # task (FlatMapGroupsInPandas) — no window operator at all. The
    # above-threshold two-phase path is pinned row-identical by
    # tests/test_round4_scale.py::test_rfm_two_phase_path_matches_local_path.
    df = queries()["events_rfm_segments"](spark, sf_dir)
    first = _plan(df).split("\n\n")[0]
    assert "Scan ExistingRDD" in first, first
    assert "FlatMapGroupsInPandas" in first, first
    assert "Window" not in first, first
    assert "Scan parquet" not in first, first


def test_mad_median_join_is_broadcast(spark, sf_dir):
    df = queries()["agg_mad_robust"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree


def test_basket_pairs_read_materialized_no_join(spark, sf_dir):
    # the in-basket pair generation (one shuffle, Generate, no join —
    # line-level duplicates can't multiply pairs) now lives in the
    # persisted artifact build (basket_pair_counts_cached, parquet since
    # round 8); the consuming op must READ the materialized table, not
    # re-mine baskets
    df = queries()["basket_pair_counts"](spark, sf_dir)
    tree = _plan(df).split("\n\n")[0]
    assert "Scan parquet" in tree, tree
    assert "Generate" not in tree, tree
    assert "Join" not in tree, tree
    assert "TakeOrderedAndProject" in tree


def test_win_distribution_two_pass_no_status_window(spark, sf_dir):
    df = queries()["win_distribution"](spark, sf_dir)
    plan = _plan(df)
    # The rank must come from a closed form over (rank-in-bucket + offset),
    # never a window partitioned by the cardinality-3 status column alone:
    # no ntile/percent_rank/cume_dist window functions in the plan, and the
    # heavy-side window keys include the range bucket.
    assert "ntile" not in plan and "percent_rank" not in plan, plan
    assert "cume_dist" not in plan, plan
    assert "bkt" in plan, plan
    # offsets frame joins back broadcast — the fact table is exchanged at
    # most once (by (status, bucket)) on the way to its window.
    assert "BroadcastHashJoin" in plan, plan


def test_q6_predicates_reach_scan(spark, sf_dir):
    plan = _plan(queries()["tpch_q6_shape"](spark, sf_dir))
    assert "PushedFilters: [" in plan, plan
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree  # pure scan-filter-aggregate


def test_q8_star_broadcasts_dims(spark, sf_dir):
    tree = _plan(queries()["tpch_q8_shape"](spark, sf_dir)).split("\n\n")[0]
    # every dimension hop is broadcast; the only shuffle join is the
    # lineitem⋈orders fact join
    assert tree.count("BroadcastHashJoin") >= 5, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_contamination_bench_side_broadcast(spark, sf_dir):
    tree = _plan(queries()["text_contamination_ngram"](spark, sf_dir)).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree


def test_median_twophase_no_global_window(spark, sf_dir):
    plan = _plan(queries()["agg_median_twophase"](spark, sf_dir))
    assert "median" not in plan.lower().replace("med_price", ""), plan
    assert "BroadcastHashJoin" in plan, plan


def test_weighted_median_fact_window_is_bucketed(spark, sf_dir):
    """Round-7: the weighted median's full-table running-weight window
    must partition on (group, bucket), never group alone — a 3-value
    group key would put a third of lineitem on one sorting task."""
    df = queries()["agg_weighted_median"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wt_windows = [
        line for line in plan.splitlines()
        if "Window [sum(wt#" in line
    ]
    # the running-weight window (sums wt over the price order) must
    # carry the bucket column in its windowspecdefinition
    assert wt_windows and all(
        "bkt#" in line.split("windowspecdefinition", 1)[-1].split(")")[0]
        or "bkt#" in line
        for line in wt_windows
    ), wt_windows
    # the target-bucket pruning join broadcasts the tiny offsets frame
    assert "BroadcastHashJoin" in plan, plan


def test_lsh_signatures_are_arrow_batched(spark, sf_dir):
    # the signature kernel (the INDEX build) must be a vectorized Arrow
    # mapInPandas, not a per-row Python UDF
    from dataengineeringutils_spark.operators.similarity import (
        _exact_topk_inplan,
        _lsh_signature_kernel,
        _lsh_topk,
    )
    from dataengineeringutils_spark.tables import table

    sig = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .mapInPandas(
            _lsh_signature_kernel, schema="vec_id long, t int, bucket long"
        )
    )
    plan = _plan(sig)
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # the per-call SEARCH plan serves the persisted signature index —
    # it must not re-run the signature kernel (round-12 artifact line:
    # index persists, search is timed)
    search = _plan(_lsh_topk(spark, sf_dir))
    assert "MapInPandas" not in search, search
    assert "Scan parquet" in search, search
    # candidate scoring is the np_cosine Arrow kernel, in the LSH re-rank
    # and in the exact top-k nomination: no interpreted per-row cosine
    for plan in (search, _plan(_exact_topk_inplan(spark, sf_dir, 10))):
        assert "MapInArrow" in plan, plan
        assert "zip_with" not in plan, plan
        assert "aggregate(" not in plan, plan


def test_dpp_join_prunes_partitions(spark, sf_dir):
    df = queries()["join_dpp_pruned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the fact scan must carry a runtime dynamicpruning subquery on the
    # partition column — reading every month dir would defeat the op
    assert "dynamicpruning" in plan.lower(), plan


def test_triangle_count_wedges_are_equi_joins(spark, sf_dir):
    plan = _plan(queries()["graph_triangle_count"](spark, sf_dir))
    # wedge generation and closure must be hash/merge EQUI joins — a
    # cartesian/theta wedge join would be O(m²) at scale. (The final
    # assembly of the three 1-row counters is a benign broadcast cross.)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin Inner" in plan or "BroadcastHashJoin" in plan, plan


def test_block_matmul_nominates_via_arrow(spark, sf_dir):
    plan = _plan(queries()["sim_block_matmul_topk"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # exact re-rank joins the tiny query panel broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_corpus_mixing_windows_are_bucket_partitioned(spark, sf_dir):
    plan = _plan(queries()["corpus_mixing_sample"](spark, sf_dir))
    # the per-doc running sum must be partitioned by (lang, bkt) — a
    # lang-only window would serialize a whole language per task
    assert "windowspecdefinition(lang#" in plan or "bkt" in plan, plan


def test_q7_double_dim_chain_broadcasts(spark, sf_dir):
    tree = _plan(queries()["tpch_q7_shape"](spark, sf_dir)).split("\n\n")[0]
    # supplier, customer, and both nation hops broadcast; the only
    # shuffle join is lineitem⋈orders
    assert tree.count("BroadcastHashJoin") >= 4, tree
    assert "PushedFilters" in _plan(queries()["tpch_q7_shape"](spark, sf_dir))


def test_q9_part_filter_broadcast_prunes_fact(spark, sf_dir):
    plan = _plan(queries()["tpch_q9_shape"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 3, tree
    # the LIKE predicate must sit on the part scan, not post-join
    assert "p_name" in plan and "PushedFilters" in plan, plan


def test_q15_revenue_view_feeds_max_and_filter(spark, sf_dir):
    plan = _plan(queries()["tpch_q15_shape"](spark, sf_dir))
    # the revenue view is checkpointed (|suppliers| rows) so BOTH the
    # scalar max and the equality filter read the materialized frame —
    # lineitem is scanned exactly once (inside the checkpoint build),
    # never by this plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan.split("\n\n")[0].replace(
        "supplier", ""
    ) or plan.split("\n\n")[0].count("Scan parquet") <= 1, plan


def test_q20_semi_join_chain(spark, sf_dir):
    tree = _plan(queries()["tpch_q20_shape"](spark, sf_dir)).split("\n\n")[0]
    assert "LeftSemi" in tree, tree
    assert "BroadcastHashJoin" in tree, tree


def test_nested_scan_prunes_untouched_leaves(spark, sf_dir):
    plan = _plan(queries()["scan_nested_pruned"](spark, sf_dir))
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    # the untouched lines array must be pruned out of the read schema
    assert "lines" not in m[0], m[0]
    assert "priority" in m[0] and "price" in m[0], m[0]


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    tree = _plan(queries()["sample_weighted_topk"](spark, sf_dir)).split("\n\n")[0]
    # the k smallest exponential arrivals come from a heap-merge
    # TakeOrdered over the scan — no global sort, no shuffle exchange
    assert "TakeOrderedAndProject" in tree, tree
    assert "Exchange" not in tree.replace("rangepartitioning", ""), tree


def test_shard_manifest_windows_are_bucket_partitioned(spark, sf_dir):
    plan = _plan(queries()["multimodal_shard_manifest"](spark, sf_dir))
    # the per-doc running sum must partition by the doc_id-range bucket;
    # a single global window would serialize the corpus on one task
    assert "windowspecdefinition(bkt#" in plan or "partitionBy" not in plan, plan


def test_alert_debounce_single_user_shuffle(spark, sf_dir):
    plan = _plan(queries()["events_alert_debounce"](spark, sf_dir))
    # lag window and rollup share ONE user_id hash exchange (the second
    # exchange in the tree is the presentation orderBy's range partition)
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Window" in plan, plan


def test_skyline_has_no_nested_loop(spark, sf_dir):
    plan = _plan(queries()["orders_skyline_2d"](spark, sf_dir))
    # the O(n²) NOT-EXISTS formulation must never survive into the plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_fuzzy_match_joins_are_blocked_equi(spark, sf_dir):
    tree = _plan(queries()["join_fuzzy_entity_match"](spark, sf_dir)).split("\n\n")[0]
    # candidate generation must be hash/merge equi joins on the block
    # keys; an edit-distance theta join would plan as nested-loop
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


LOW_CARD_COLS = {
    "l_returnflag", "l_linestatus", "o_orderstatus", "event_type",
    "lang", "source", "c_mktsegment", "o_orderpriority", "p_type",
    "p_brand",
}

# ops converted by the round-7 audit: every window over FACT rows must
# carry the bucket column; group-only windows may exist only over tiny
# collapsed frames (identified by an aggregate feeding them)
TWO_PHASED_OPS = [
    "agg_weighted_median",
    "agg_percentile_disc",
    "dq_outlier_iqr_fences",
    "dq_fanout_profile",
    "events_value_qq_table",
    "interval_max_concurrent",
    "dataset_interleave_shards",
    "text_pack_sequences",
    "win_range_frame",
]


@pytest.mark.parametrize("name", TWO_PHASED_OPS)
def test_no_low_card_window_over_raw_rows(spark, sf_dir, name, monkeypatch):
    """Round-7 audit pin: a window partitioned ONLY on a 3-5-value key
    directly over scanned rows puts a fixed fraction of the table on
    one sorting task — a class the task-count-floored skew gate cannot
    see. Every such window in these converted plans must either carry
    the bucket column or run over an aggregate-collapsed frame.

    The stats switch is forced to the AT-SCALE path (threshold 0): on
    the small fixture the ops legitimately choose the direct window."""
    import re

    import dataengineeringutils_spark.operators.windows as W

    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    plan = (
        queries()[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        m = re.search(r"windowspecdefinition\(([^)]*)\)", line)
        if not m:
            continue
        parts = []
        for tok in m.group(1).split(", "):
            if " ASC" in tok or " DESC" in tok or "specifiedwindowframe" in tok:
                break
            parts.append(tok.split("#")[0])
        if not parts or not all(p in LOW_CARD_COLS for p in parts):
            continue  # bucketed or high-card partition: fine
        # group-only window: must be fed by an aggregate (collapsed
        # frame), never directly by a scan
        feed = None
        for j in range(i + 1, min(i + 12, len(lines))):
            nxt = lines[j]
            if "HashAggregate" in nxt or "SortAggregate" in nxt:
                feed = "agg"
                break
            if "Scan parquet" in nxt or "Scan ExistingRDD" in nxt:
                # a scan of the persisted artifact cache IS a collapsed
                # frame (an aggregate materialized once per fixture —
                # round 8 moved those from localCheckpoint to parquet);
                # only a raw FIXTURE-table scan is the dangerous class
                feed = "agg" if ".artifacts/" in nxt else "scan"
                break
            if "windowspecdefinition" in nxt:
                feed = "window"
                break
        assert feed != "scan", (
            f"{name}: low-cardinality-only window {parts} feeds directly "
            f"from a scan:\n{line.strip()[:200]}"
        )


def test_adoption_curve_builds_plan_with_zero_extra_jobs(spark, sf_dir):
    """Round-9 VERDICT #3 pin: events_feature_adoption_curve used to run
    an eager driver-side firsts.count() while BUILDING its plan; both
    denominators now ride the 1-row broadcast totals frame, so plan
    construction must launch no job BEYOND what a bare table() load
    costs (parquet schema inference runs one job per read — measured as
    the floor below — so 'zero extra' is the invariant, not 'zero
    total')."""
    from dataengineeringutils_spark.tables import table

    sc = spark.sparkContext
    st = sc.statusTracker()
    try:
        sc.setJobGroup("adoption_probe_floor", "bare table() job floor")
        table(spark, sf_dir, "events")
        floor = len(st.getJobIdsForGroup("adoption_probe_floor"))
        sc.setJobGroup("adoption_probe_build", "plan-construction probe")
        df = queries()["events_feature_adoption_curve"](spark, sf_dir)
        built = len(st.getJobIdsForGroup("adoption_probe_build"))
        assert built <= floor, (
            f"plan construction launched {built} jobs vs table()-only "
            f"floor {floor} (eager count regressed)"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rows = df.collect()
    assert rows and all(r.cum_share_of_users is not None for r in rows)


@pytest.mark.parametrize("name", ["events_ks_two_sample", "orders_abc_migration"])
def test_global_cumsum_ops_bucket_at_scale(spark, sf_dir, name, monkeypatch):
    """Round-9 VERDICT #2: the last Window.orderBy-no-partition sites
    whose input grows with SF (KS distinct-value frame, ABC-migration
    per-part revenue halves) must switch to the bucket-cut two-phase
    plan at scale — forced here via the stats switch. The executed plan
    may then contain NO unpartitioned windowspecdefinition: every
    cumulative sum must partition on a __bkt column."""
    import re

    import dataengineeringutils_spark.operators.windows as W

    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    plan = (
        queries()[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        first = m.group(1).split(", ")[0]
        assert not first.startswith("v#") and not first.startswith("rev#"), (
            f"{name}: unpartitioned/value-ordered window survived the "
            f"two-phase switch: {m.group(0)[:160]}"
        )
        # the partition column (first token before any ASC/DESC order
        # token) must be a bucket id for the big cumulative windows
        if " ASC" not in first and " DESC" not in first:
            assert first.startswith("__bkt"), (
                f"{name}: window partitions on {first}, expected __bkt*"
            )
