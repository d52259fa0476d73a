"""The workloads: frozen panels of registry ops and the input scale K.

Each panel names ops from every registry module its workload covers, so
a change to any of those modules shows in that workload. Ops were chosen
for a warm latency well under a second on the workload's input (so one
timed phase runs every op more than once), for a small result (the output
check collects it to the driver) and for a DuckDB oracle that runs in
well under a second (expected results are computed once per seed).
Changing a panel changes the benchmark: it is a change of its own.
"""

from __future__ import annotations

# ``min_rounds``: the timed phase runs whole rounds over the panel until
# --seconds have passed and at least this many rounds have run, so every
# op's latency is a median of that many samples or more. On a slow host
# one round can outlast --seconds, and runs with a single round read
# about 20% lower ops_per_s than their neighbours. curation_5x takes
# three: its first timed round is still warming up (about 25% slower
# than the next two) and single executions scatter (text_token_counts
# 1.19 s against 0.57 s and 0.60 s in one run); a median of three drops
# such a sample where a median of two averages it in.

WORKLOADS: dict[str, dict] = {
    # The reference's Athena-style queries at the bench scale (sf0.1),
    # one op per module, plus the data-engineering side beside them: a
    # file sink, a data-quality op and availableNow streaming with
    # checkpoints into a txnlog table (idempotent commits). Fixed per-query cost dominates
    # (driver-side construction, Catalyst, job scheduling, one-task scans
    # of single-row-group files), so driver-side, scan-policy and
    # txnlog/streaming commit-path changes show here and kernel changes do
    # not.
    "analytics_etl": {
        "k": 1,
        "min_rounds": 2,
        "ops": [
            "scan_parquet",  # sources.scan
            "filter_predicates",  # operators.project_filter
            "join_anti",  # operators.joins
            "join_asof_forward",  # operators.asof
            "agg_rollup",  # operators.aggregates
            "win_time_range_frame",  # operators.windows
            "tpch_q6_shape",  # operators.composite
            "tpch_q22_shape",  # operators.tpch_decorrelate
            "events_peak_detection",  # operators.events_analytics
            "dq_expectations",  # operators.profiling
            "agg_count_min_sketch",  # operators.sketches
            "set_union_drift",  # operators.setops
            "agg_histogram",  # operators.relational_extra
            "fn_date_trunc_family",  # functions.scalar
            "sink_csv_roundtrip",  # sources.sinks (file sink)
            "dq_freshness_lag",  # operators.dataeng
            "stream_txn_idempotent_sink",  # streaming.windows (txnlog commits)
        ],
    },
    # The LLM-data-pipeline ops on five key-disjoint copies, big enough
    # that executor work (Python workers, Arrow, BLAS GEMM, shuffles) and
    # the cold LSH-signature artifact build dominate.
    # sim_ann_lsh scores its recall against an exact in-plan top-k, the
    # block-GEMM that cell-bound pruning would cut. Kernel and top-k
    # pruning changes show here; driver-overhead cuts should not move it.
    # Results go to the noop sink only.
    "curation_5x": {
        "k": 5,
        "min_rounds": 3,
        "ops": [
            "dedup_exact",  # operators.dedup
            "sim_ann_lsh",  # operators.similarity (LSH artifact, exact top-k)
            "text_token_counts",  # operators.text
            "multimodal_join",  # operators.multimodal
            "hierarchy_depth_doubling",  # operators.graph (pointer doubling, 4 eager rounds)
            "ml_train_test_leakage_check",  # operators.mlprep
            "udaf_grouped_map",  # udf.udfs
        ],
    },
}


def all_modules() -> list[str]:
    """Every registry module (package prefix dropped) some panel uses."""
    from dataengineeringutils_spark.registry import queries

    qs = queries()
    return sorted({
        qs[op].__module__.removeprefix("dataengineeringutils_spark.")
        for wl in WORKLOADS.values() for op in wl["ops"]
    })
