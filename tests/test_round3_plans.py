"""Physical-plan contracts for the round-3 operators (B308-B329).

Same discipline as test_new_ops_plans.py / test_round2_plans.py: pin the
property that makes each op scale — broadcast direction, shuffle count,
pushed predicates, Python-crossing placement — not just that it runs.
"""

from __future__ import annotations

import contextlib
import io

from dataengineeringutils_spark.registry import queries


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> str:
    return _plan(df).split("\n\n")[0]


def test_user_entropy_single_user_exchange(spark, sf_dir):
    # counts shuffle once on (user, type); the per-user totals window and
    # the final entropy aggregate both run inside the user_id exchange
    tree = _tree(queries()["events_user_entropy"](spark, sf_dir))
    assert tree.count("Exchange") <= 2, tree
    assert "Join" not in tree, tree


def test_props_profile_json_in_scan_stage(spark, sf_dir):
    # JSON extraction must not introduce a Python crossing
    tree = _tree(queries()["events_props_numeric_profile"](spark, sf_dir))
    assert "Python" not in tree, tree
    assert "Join" not in tree, tree


def test_kaplan_meier_windows_on_day_frame_only(spark, sf_dir):
    # the running at-risk/ln windows may be single-partition ONLY because
    # they run on the |distinct days| aggregate, never the event table:
    # the plan must aggregate (user, then day) before any Window
    plan = _plan(queries()["surv_kaplan_meier"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Window" in tree, tree
    win_pos = tree.index("Window")
    agg_positions = [
        i
        for i in range(len(tree))
        if tree.startswith("HashAggregate", i) or tree.startswith("ObjectHashAggregate", i)
    ]
    # tree prints leaves last: the aggregates must appear BELOW (after)
    # the window operator in the printed tree, i.e. upstream of it
    assert any(p > win_pos for p in agg_positions), tree


def test_kfold_assign_no_join_no_python(spark, sf_dir):
    tree = _tree(queries()["ml_kfold_assign"](spark, sf_dir))
    assert "Join" not in tree, tree
    assert "Python" not in tree, tree


def test_leakage_check_train_side_broadcasts(spark, sf_dir):
    tree = _tree(queries()["ml_train_test_leakage_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_knn_eval_nominate_then_rescore(spark, sf_dir):
    # the scoring must be block-GEMM nominate (ONE Python crossing) with
    # JVM re-score of nominated pairs only — never |probes| x |corpus|
    # interpreted cosines; the 3-NN cut prunes via WindowGroupLimit and
    # the probe panel joins back broadcast
    tree = _tree(queries()["embeddings_knn_classifier_eval"](spark, sf_dir))
    assert tree.count("MapInArrow") == 1, tree
    assert "WindowGroupLimit" in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_margin_waterfall_one_scan_one_exchange(spark, sf_dir):
    # one fact scan; exchanges = the deliberate round-11 keyed spread
    # of the raw rows (parallelizes the five decimal products off the
    # single-task fixture scan) + the month agg exchange, which still
    # moves only map-combined |months|-row partials
    tree = _tree(queries()["lineitem_margin_waterfall"](spark, sf_dir))
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Exchange") <= 2, tree
    # two-phase agg: the map-side partial below the agg exchange, so
    # that exchange still moves only |months|-row combined partials
    assert tree.count("HashAggregate") == 2, tree


def test_basket_lift_supports_broadcast(spark, sf_dir):
    tree = _tree(queries()["basket_pair_lift"](spark, sf_dir))
    # reads the MATERIALIZED pair/support tables (persisted parquet
    # artifacts since round 8 — no re-mining of baskets: no Generate);
    # support joins and the scalar total broadcast, top-20 heap-merged
    assert "SortMergeJoin" not in tree, tree
    assert "Scan parquet" in tree, tree
    assert "Generate" not in tree, tree
    assert "TakeOrderedAndProject" in tree, tree


def test_window_distinct_two_level(spark, sf_dir):
    # the (window,user) collapse then |windows| agg — two exchanges max,
    # never a per-window collect_set
    tree = _tree(queries()["stream_window_distinct_users"](spark, sf_dir))
    assert tree.count("Exchange") <= 2, tree
    assert "collect_set" not in tree, tree


def test_topk_per_window_prunes_with_group_limit(spark, sf_dir):
    tree = _tree(queries()["stream_topk_per_window"](spark, sf_dir))
    assert "WindowGroupLimit" in tree, tree


def test_bytes_dedup_shuffles_digests_not_payloads(spark, sf_dir):
    # the only shuffled columns are the 32-byte digest + counts: the text
    # column must be projected away before the exchange (column pruning
    # proof: 'text' appears in the scan's ReadSchema but no Exchange
    # carries it — sha2 evaluates map-side)
    plan = _plan(queries()["multimodal_bytes_dedup_exact"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Exchange" in tree, tree
    assert "sha2" not in tree.split("Exchange")[0], (
        "digest must be computed below (before) the first exchange",
        tree,
    )


def test_benford_nine_row_broadcast(spark, sf_dir):
    tree = _tree(queries()["dq_benford_check"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_session_funnel_no_joins(spark, sf_dir):
    # sessionize + conditional-MIN collapse: windows and aggregates only
    tree = _tree(queries()["events_session_funnel_order"](spark, sf_dir))
    assert "Join" not in tree, tree


def test_threshold_components_no_corpus_broadcast(spark, sf_dir):
    # the pair scan is the block self-join kernel: corpus blocks meet in
    # a (bid_x <= bid_y) nested-loop over |blocks|^2/2 LIST rows, and the
    # Python crossing is the single mapInArrow GEMM kernel
    plan = _plan(queries()["sim_threshold_components"](spark, sf_dir))
    assert plan.count("MapInArrow") <= 1, plan


def test_runtime_bloom_filter_under_fact_scan(spark, sf_dir):
    # the whole point: might_contain must sit in the lineitem scan's
    # post-filter (rows dropped before the exchange), and the join must
    # be the sort-merge the filter exists to protect
    plan = _plan(queries()["join_runtime_bloom_filtered"](spark, sf_dir))
    assert "might_contain" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "Filter" in plan.split("\n\n")[0], plan


def test_percentile_disc_two_phase_shape(spark, sf_dir, monkeypatch):
    # Round-7: value-collapsed two-phase selection (the former
    # single-keyed-window pin put a fifth of the table on one sorting
    # task — see test_new_ops_plans.test_no_low_card_window_over_raw_rows).
    # Force the at-scale path (the small fixture legitimately selects
    # the direct window); its only joins broadcast tiny frames.
    import dataengineeringutils_spark.operators.windows as W

    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    tree = _tree(queries()["agg_percentile_disc"](spark, sf_dir))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree


def test_interleave_shards_two_phase_shape(spark, sf_dir, monkeypatch):
    # Round-7: bucketed rank + broadcast offsets instead of a per-source
    # global sort; the offsets frame is the only join and it broadcasts.
    import dataengineeringutils_spark.operators.windows as W

    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    tree = _tree(queries()["dataset_interleave_shards"](spark, sf_dir))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree


def test_weekday_seasonality_scalar_broadcast(spark, sf_dir):
    tree = _tree(queries()["orders_weekday_seasonality"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_sign_quantization_single_scan_both_rankings(spark, sf_dir):
    # cosine AND hamming rankings must rank off ONE scored frame (one
    # corpus-probe join), each pruned via WindowGroupLimit
    tree = _tree(queries()["embeddings_sign_quantization_eval"](spark, sf_dir))
    assert tree.count("WindowGroupLimit") >= 2, tree
    assert "SortMergeJoin" not in tree, tree


def test_seasonal_decompose_windows_on_month_frame(spark, sf_dir):
    # the centered-MA window runs on the |months| aggregate, never the
    # fact table: an aggregate must sit upstream of (printed after) the
    # first Window operator
    tree = _tree(queries()["orders_seasonal_decompose"](spark, sf_dir))
    win = tree.index("Window")
    assert "HashAggregate" in tree[win:], tree
