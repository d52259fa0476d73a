"""Registry-wide pin on unpartitioned WindowExec sites (round-10
VERDICT #7): the bench tail prints `WindowExec: No Partition Defined`
warnings, and each remaining site is a DELIBERATELY tiny frame — but
until now nothing pinned that. This test walks every declared batch
op's physical plan and asserts that each unpartitioned
WindowExec/WindowGroupLimitExec is

(a) on the explicit allowlist below (so a future op that plans an
    unbounded global window FAILS here loudly instead of warning
    quietly at bench time), and
(b) structurally bounded in-plan: its input subtree contains the
    declared bounding node — a full aggregate (input cardinality =
    grouping-key cardinality), a TakeOrderedAndProject (bounded top-k),
    or a constant-literal filter (udf_sql_registered's `o_orderkey <=
    500`).

Scale note: several allowlisted ops (events_ks_two_sample,
orders_abc_migration, ...) hold a DIRECT global window only below the
``two_phase_min_rows`` stats switch; their at-scale bucket-partitioned
shapes are pinned separately by
test_new_ops_plans.test_global_cumsum_ops_bucket_at_scale and
test_explain_plans.test_entity_scaled_frames_have_no_unpartitioned_window.
This test pins the complementary claim at fixture scale: nothing ELSE
plans a global window, and every one that does is fed a collapsed frame.
"""

from __future__ import annotations

import json

from dataengineeringutils_spark.registry import queries

# op -> (bound kind, human note). Kinds: "agg" = full aggregate below
# (input = grouping cardinality), "topk" = TakeOrderedAndProject below,
# "filter" = constant-literal filter below.
ALLOWLIST: dict[str, tuple[str, str]] = {
    "agg_ratio_to_report": ("agg", "|groups| frame (nation-level)"),
    "corpus_token_budget_allocation": ("agg", "|source| budget frame"),
    "customer_ltv_deciles": ("agg", "|buckets| offset frame (two-phase rank)"),
    "customer_whale_dependency": ("topk", "top-k whale pool + |nation| agg"),
    "events_power_users_pareto": (
        "agg", "|buckets| offset frame (two-phase rank)"
    ),
    "events_repeat_purchase_latency": (
        "agg", "|buckets| offset frame (two-phase rank)"
    ),
    "orders_abc_class": ("agg", "|buckets| offset frame (two-phase rank)"),
    "orders_gini_coefficient": (
        "agg", "|buckets| offset frame (two-phase rank)"
    ),
    "events_feature_adoption_curve": ("agg", "|feature,week| frame"),
    "events_hourly_seasonality": ("agg", "24-row hour frame"),
    "events_ks_two_sample": ("agg", "distinct-value frame; two-phase at scale"),
    "events_peak_detection": ("agg", "|day| frame"),
    "multimodal_shard_manifest": ("agg", "|shard| manifest frame"),
    "orders_abc_migration": ("agg", "per-part halves; two-phase at scale"),
    "orders_forecast_naive_eval": ("agg", "|day| frame"),
    "orders_lorenz_curve_points": ("agg", "|decile| curve frame"),
    "orders_monthly_zchart": ("agg", "|month| frame"),
    "orders_runs_test_randomness": ("agg", "|day| sign sequence"),
    "orders_seasonal_decompose": ("agg", "|month| frame"),
    "orders_share_of_parent_hierarchy": ("agg", "|clerk|/|month| rollup"),
    "orders_yoy_growth": ("agg", "|month| frame"),
    "sim_kmeans_lloyd": ("topk", "k-row seed frame (TakeOrderedAndProject)"),
    "surv_kaplan_meier": ("agg", "|distinct day| risk table"),
    "text_token_head_coverage": ("topk", "top-10k head of the vocab frame"),
    "topn_with_other": ("agg", "|group| frame before top-N cut"),
    "udf_sql_registered": ("filter", "constant o_orderkey <= 500 slice"),
    "win_pct_change": ("agg", "|month| frame"),
}

_BOUND_NODES = {
    "agg": (
        "HashAggregateExec",
        "ObjectHashAggregateExec",
        "SortAggregateExec",
    ),
    "topk": ("TakeOrderedAndProjectExec",),
    "filter": ("FilterExec",),
}


def _plan_spines(o):
    """Yield every flat pre-order TreeNode list embedded in a plan's
    toJSON output (the top-level list, plus nested plans such as
    AdaptiveSparkPlanExec.inputPlan and subquery fields)."""
    if isinstance(o, list):
        if o and all(
            isinstance(e, dict) and "class" in e and "num-children" in e
            for e in o
        ):
            yield o
        for v in o:
            yield from _plan_spines(v)
    elif isinstance(o, dict):
        for v in o.values():
            yield from _plan_spines(v)


def _parse_tree(nodes, i=0):
    node = nodes[i]
    children = []
    j = i + 1
    for _ in range(node.get("num-children", 0)):
        child, j = _parse_tree(nodes, j)
        children.append(child)
    return (node, children), j


def _subtree_classes(tree):
    node, children = tree
    yield node.get("class", "")
    for c in children:
        yield from _subtree_classes(c)


def _unpartitioned_windows(raw) -> list[set[str]]:
    """For each unpartitioned window node in the plan JSON, the set of
    simple class names in its input subtree."""
    hits: list[set[str]] = []
    for spine in _plan_spines(raw):
        i = 0
        while i < len(spine):
            tree, i = _parse_tree(spine, i)
            stack = [tree]
            while stack:
                node, children = stack.pop()
                cls = node.get("class", "")
                if cls.endswith(
                    ("WindowExec", "WindowGroupLimitExec")
                ) and not node.get("partitionSpec"):
                    hits.append(
                        {
                            c.split(".")[-1]
                            for ch in children
                            for c in _subtree_classes(ch)
                        }
                    )
                stack.extend(children)
    return hits


def test_every_unpartitioned_window_is_allowlisted_and_bounded(
    spark, sf_dir
):
    failures = []
    seen: set[str] = set()
    for name, fn in sorted(queries().items()):
        if name.startswith("stream_"):
            continue  # plans exist only inside a running query
        df = fn(spark, sf_dir)
        raw = json.loads(df._jdf.queryExecution().executedPlan().toJSON())
        hits = _unpartitioned_windows(raw)
        if not hits:
            continue
        seen.add(name)
        if name not in ALLOWLIST:
            failures.append(
                f"{name}: UNLISTED unpartitioned window — if the frame "
                "is provably tiny, allowlist it with its bound; "
                "otherwise partition (bucket-cut / keyed two-phase) it"
            )
            continue
        kind, note = ALLOWLIST[name]
        want = _BOUND_NODES[kind]
        for below in hits:
            if not below & set(want):
                failures.append(
                    f"{name}: window input lost its declared bound "
                    f"({kind}: {note}) — subtree has {sorted(below)[:8]}"
                )
    # the allowlist must not rot: every entry still plans its window
    # (an entry that stops hitting means the op changed — re-audit it)
    stale = set(ALLOWLIST) - seen
    assert not stale, f"allowlist entries no longer planning globals: {stale}"
    assert not failures, "\n".join(failures)
