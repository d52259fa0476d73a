"""Scale-plan pins for the size-gated scan spread (``tables.spread``).

A fixture table fits one scan split, so Spark scans it as ONE task and
every per-row expression above the scan serializes on one core.
``tables.spread`` repartitions such a scan across the cores, and it is
the only code that may repartition a fixture scan. Past one split the
spread must be the identity: at 100 TB a repartition of the fact table
is a full extra exchange, e.g. before a partial aggregate that would
otherwise move ~|groups| x |tasks| rows.

The production shape is pinned by faking every table's on-disk size past
one split (``big_tables``). Then no op's plan may repartition a fixture
scan, and the reducing aggregates run their map-side partial pass
directly over the scan. At the real fixture size the spread must fire,
or the local shape silently falls back to one-task scans.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from dataengineeringutils_spark import tables
from dataengineeringutils_spark.registry import queries

# op -> the key(s) its gated spread uses; none may appear as an
# Exchange hashpartitioning key in the at-scale plan
SPREAD_OPS = {
    "agg_group_sums": ("l_orderkey",),
    "agg_decimal_exact": ("l_orderkey",),
    "agg_weighted_avg": ("l_orderkey",),
    "lineitem_margin_waterfall": ("l_orderkey",),
    "lineitem_discount_response": ("l_orderkey",),
    "lineitem_discount_depth_mix": ("l_orderkey",),
    "supplier_price_index": ("l_suppkey",),
    "customer_supplier_switching": ("l_orderkey",),
}

# op -> the fixture table its gated spread reads (one op per spread site
# outside the reducing aggregates above, one for the documents table)
FIRES = {
    "agg_group_sums": "lineitem",
    "orders_reconciliation": "lineitem",
    "lineitem_intra_order_price_dispersion": "lineitem",
    "sample_poisson_bootstrap": "orders",
    "sim_knn_join": "embeddings",
    "join_fuzzy_entity_match": "customer",
    "text_ngram_profile": "documents",
}

# ops whose repartition of a fixture scan is their semantics, not a
# spread: it stays at any scale
NOT_A_SPREAD = {
    # TABLE(...) PARTITION BY lang: one UDTF instance sees one language
    "udtf_table_argument",
}

# plan nodes a scan's rows pass through unchanged in partitioning
_THROUGH = {
    "Project", "Filter", "ProjectExec", "FilterExec",
    "ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec",
}
_SCANS = {"LogicalRelation", "FileSourceScanExec"}


@pytest.fixture
def big_tables(monkeypatch):
    """Every fixture table past one scan split: the production shape."""
    monkeypatch.setattr(tables, "_table_bytes", lambda sf_dir, name: 1 << 40)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _nodes(plan):
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def _is_user_repartition(node) -> bool:
    """A repartition the code asked for, not one the planner inserted
    to satisfy a join or aggregate (origin ENSURE_REQUIREMENTS)."""
    kind = _kind(node)
    if kind in ("Repartition", "RepartitionByExpression"):
        return True
    return kind == "ShuffleExchangeExec" and str(
        node.shuffleOrigin().toString()
    ).startswith("REPARTITION_BY_")


def _fixture_scan_below(node, sf_dir: str) -> str | None:
    while _kind(node) in _THROUGH:
        node = node.child()
    if _kind(node) in _SCANS:
        paths = str(node.relation().location().rootPaths().toString())
        if f"{sf_dir}/" in paths:
            return paths
    return None


def spread_scans(df, sf_dir: str) -> list[str]:
    """Every user-requested repartition in ``df``'s optimized logical
    plan and its physical plan whose input is a fixture scan through
    projections and filters only. A spread under a ``localCheckpoint``
    is not in the plan and is not seen."""
    qe = df._jdf.queryExecution()
    physical = qe.executedPlan()
    if _kind(physical) == "AdaptiveSparkPlanExec":
        physical = physical.initialPlan()
    found = []
    for plan in (qe.optimizedPlan(), physical):
        for node in _nodes(plan):
            if _is_user_repartition(node):
                scan = _fixture_scan_below(node.child(), sf_dir)
                if scan is not None:
                    found.append(f"{_kind(node)} <- {scan}")
    return found


def test_no_fact_exchange_before_reducing_agg_at_scale(
    spark, sf_dir, big_tables
):
    for name, keys in SPREAD_OPS.items():
        plan = _plan(queries()[name](spark, sf_dir))
        for k in keys:
            assert f"hashpartitioning({k}" not in plan, (name, plan)
        # the reducing aggregate still does its map-side partial pass
        # directly over the scan (no exchange in between)
        assert "partial_" in plan, (name, plan)


def test_no_op_repartitions_a_fixture_scan_at_scale(
    spark, sf_dir, big_tables
):
    qs = queries()
    assert NOT_A_SPREAD <= set(qs)
    offenders = {}
    for name, fn in sorted(qs.items()):
        if name.startswith("stream_") or name in NOT_A_SPREAD:
            continue
        hits = spread_scans(fn(spark, sf_dir), sf_dir)
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_gated_spread_fires_on_fixture_scale(spark, sf_dir):
    for name, table_name in FIRES.items():
        hits = spread_scans(queries()[name](spark, sf_dir), sf_dir)
        want = f"{sf_dir}/{table_name}.parquet"
        assert any(want in h for h in hits), (name, hits)
    # part_demand_classification checkpoints its spread part-day
    # collapse, so the spread is not in the final plan; the checkpointed
    # frame keeps its width (one task once the gate is off)
    df = queries()["part_demand_classification"](spark, sf_dir)
    widths = [
        node.rdd().getNumPartitions()
        for node in _nodes(df._jdf.queryExecution().optimizedPlan())
        if _kind(node) == "LogicalRDD"
    ]
    assert widths, widths
    assert set(widths) == {spark.sparkContext.defaultParallelism}, widths


def test_spread_gate_follows_max_partition_bytes(spark, sf_dir):
    """The gate reads Spark's typed conf, so every byte-size spelling
    Spark accepts (``512KB``, ``2MB``) moves it."""
    size = tables._table_bytes(sf_dir, "lineitem")
    assert (64 << 10) < size < (2 << 20), size
    key = "spark.sql.files.maxPartitionBytes"
    try:
        spark.conf.set(key, "64KB")
        assert not spread_scans(
            tables.spread(spark, sf_dir, "lineitem"), sf_dir
        )
        spark.conf.set(key, "2MB")
        assert spread_scans(tables.spread(spark, sf_dir, "lineitem"), sf_dir)
    finally:
        spark.conf.unset(key)
