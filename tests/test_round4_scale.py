"""Round-4 scale fixes: fixed-size md5-ranked probe panels (the eval
ops' query sets must be bounded by construction, not corpus-
proportional) and engine parity of the panel definition."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dataengineeringutils_spark.operators.similarity import (
    BLOCK_TOPK_PANEL_K,
    KNN_EVAL_PANEL_K,
    SIGNQ_PANEL_K,
    collect_panel,
    probe_panel,
)
from dataengineeringutils_spark.tables import table

SF = "/root/testdata/sf0.01"


def test_probe_panel_matches_python_md5_rank(spark):
    """Spark's md5-ranked panel == a pure-Python model == (by the
    fixture check in verify_local) DuckDB's — the portability the
    oracles rely on."""
    e = table(spark, SF, "embeddings")
    got = [r["vec_id"] for r in probe_panel(e, 12).collect()]
    ids = [r["vec_id"] for r in e.select("vec_id").collect()]
    want = sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:12]
    assert got == want


def test_probe_panel_is_fixed_size(spark):
    """Panel size is K regardless of corpus size — the round-3 scale
    bug was a modulo stride growing linearly with the corpus."""
    e = table(spark, SF, "embeddings")
    for k in (BLOCK_TOPK_PANEL_K, KNN_EVAL_PANEL_K, SIGNQ_PANEL_K):
        assert probe_panel(e, k).count() == k
        q_ids, q_mat = collect_panel(e, k)
        assert len(q_ids) == k and q_mat.shape[0] == k
        # ids come back sorted so executor-side repeat/reshape is stable
        assert list(q_ids) == sorted(q_ids)


def test_probe_panel_plan_is_take_ordered(spark):
    """The panel must compile to a TakeOrderedAndProject (per-partition
    top-K, K rows to the driver) — not a global sort of the corpus."""
    e = table(spark, SF, "embeddings")
    plan = probe_panel(e, 16)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_gram_two_phase_matches_driver_merge(spark):
    """The cluster-side groupBy(i,j) pre-reduction (the 100x path) must
    be bit-identical to the driver merge (the local fast path)."""
    from dataengineeringutils_spark.operators.similarity import (
        _compute_gram_fixed,
    )

    a = _compute_gram_fixed(spark, SF, two_phase=False)
    b = _compute_gram_fixed(spark, SF, two_phase=True)
    assert a == b


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(
                st.none(),  # NULL values must rank, not vanish (ADVICE r4)
                st.integers(min_value=-50, max_value=50),
            ),
            st.integers(min_value=0, max_value=9999),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    descending=st.booleans(),
    n_cuts=st.integers(min_value=0, max_value=5),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_two_phase_global_rank_matches_window(spark, rows, descending, n_cuts):
    """The bucket-cut rank must equal ROW_NUMBER() under the same total
    order for ANY cut set — cuts may only balance buckets, never change
    the answer (ties at cut boundaries, empty buckets, duplicate
    values, cuts outside the value range are all generated here)."""
    from dataengineeringutils_spark.operators.windows import (
        two_phase_global_rank,
    )

    df = spark.createDataFrame(rows, "v int, tie int")
    vals = sorted({v for v, _ in rows if v is not None})
    # adversarial cuts: data values themselves plus out-of-range points
    pool = vals + [-1000, 1000] + (vals[:1] + vals[-1:])
    cuts = sorted(set(pool[:n_cuts]))
    got = {
        (r["tie"], r["rn"], r["n"])
        for r in two_phase_global_rank(
            df, "v", "tie", cuts, descending=descending
        ).collect()
    }
    # Spark null ordering: NULLS FIRST under asc, NULLS LAST under desc
    def key(t):
        v, tie = t
        if descending:
            return (1 if v is None else 0, 0 if v is None else -v, tie)
        return (0 if v is None else 1, 0 if v is None else v, tie)

    ordered = sorted(rows, key=key)
    want = {
        (tie, i + 1, len(rows)) for i, (_, tie) in enumerate(ordered)
    }
    assert got == want


def test_rfm_two_phase_path_matches_local_path(spark, monkeypatch):
    """events_rfm_segments picks a single-task exact rank below
    RFM_LOCAL_ROWS and the two-phase bucket-cut path above it — both
    paths must produce identical rows (the gate only exercises the
    local path at fixture scale)."""
    import dataengineeringutils_spark.operators.events_analytics as ea

    local = ea.events_rfm_segments(spark, SF)
    rows_local = {tuple(r) for r in local.collect()}
    monkeypatch.setattr(ea, "RFM_LOCAL_ROWS", 0)
    two_phase = ea.events_rfm_segments(spark, SF)
    rows_two = {tuple(r) for r in two_phase.collect()}
    assert rows_local == rows_two


def test_qte_two_phase_path_matches_local_path(spark, monkeypatch):
    """events_quantile_treatment_effect picks a 2-partition window rank
    below QTE_LOCAL_ROWS and per-variant two-phase bucket-cut ranks
    above it — both paths must produce identical rows."""
    import dataengineeringutils_spark.operators.events_analytics as ea

    local = ea.events_quantile_treatment_effect(spark, SF)
    rows_local = {tuple(r) for r in local.collect()}
    monkeypatch.setattr(ea, "QTE_LOCAL_ROWS", 0)
    two_phase = ea.events_quantile_treatment_effect(spark, SF)
    rows_two = {tuple(r) for r in two_phase.collect()}
    assert rows_local == rows_two


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    descending=st.booleans(),
    n_cuts=st.integers(min_value=0, max_value=5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_two_phase_sum_carry_matches_window(spark, rows, descending, n_cuts):
    """With ``sum_cols`` set, the helper's running sums and grand totals
    must equal SUM() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING) /
    SUM() OVER () for ANY cut set — for a DECIMAL column (exact carry
    through the in-plan prefix scan, boundary/None buckets included)
    and a BIGINT one in the same pass."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from dataengineeringutils_spark.operators.windows import (
        two_phase_global_rank,
    )

    df = (
        spark.createDataFrame(rows, "v int, tie int")
        .withColumn("amt", (F.col("tie") % 7 + 1).cast("decimal(10,2)") / 4)
        .withColumn("cnt", (F.col("tie") % 3).cast("bigint"))
    )
    vals = sorted({v for v, _ in rows if v is not None})
    pool = vals + [-1000, 1000] + (vals[:1] + vals[-1:])
    cuts = sorted(set(pool[:n_cuts]))
    got = {
        (
            r["tie"], r["rn"], Decimal(r["cum"]), Decimal(r["total"]),
            r["cum_cnt"], r["total_cnt"],
        )
        for r in two_phase_global_rank(
            df,
            "v",
            "tie",
            cuts,
            descending=descending,
            sum_cols=["amt", "cnt"],
            total_names=["total", "total_cnt"],
            cum_names=["cum", "cum_cnt"],
        ).collect()
    }

    def key(t):
        v, tie = t
        if descending:
            return (1 if v is None else 0, 0 if v is None else -v, tie)
        return (0 if v is None else 1, 0 if v is None else v, tie)

    # model the running sum from the rows Spark actually produced (the
    # engine's decimal division scale is its own business)
    by_tie = {}
    for r in df.collect():
        by_tie[r["tie"]] = Decimal(r["amt"])
    ordered = sorted(rows, key=key)
    total = sum(by_tie[t] for _, t in ordered)
    total_cnt = sum(t % 3 for _, t in ordered)
    run, run_cnt = Decimal(0), 0
    want = set()
    for i, (_, tie) in enumerate(ordered):
        run += by_tie[tie]
        run_cnt += tie % 3
        want.add((tie, i + 1, run, total, run_cnt, total_cnt))
    assert got == want
