"""The streaming runner is the one place a streaming query is sized,
started and finished (``streaming/runner.py``).

Pinned here: the query runs with the settings it asked for while the
shared session keeps reading its own values, a failed ``start()`` leaves
the session as it was, no package code sets session conf outside
``session.scoped_conf`` (bar ``tables.py``'s session settings), and no
other package code keeps a batch-file cache or starts an availableNow
trigger.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from dataengineeringutils_spark.paths import ram_scratch_dir
from dataengineeringutils_spark.streaming.runner import (
    run_available_now,
    stage,
    stream_batches,
    unique_name,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "dataengineeringutils_spark"
KEYS = {
    "state_partitions": "spark.sql.shuffle.partitions",
    "no_data_batches": "spark.sql.streaming.noDataMicroBatches.enabled",
    "watermark_policy": "spark.sql.streaming.multipleWatermarkPolicy",
}


def _stateful_writer(spark, seen: list, seen_by_query: list):
    base = stage(
        spark,
        unique_name("runner_pin"),
        [spark.range(20).selectExpr("id % 5 AS k", "timestamp_seconds(id) AS ts")],
    )
    agg = (
        stream_batches(spark, base, "k long, ts timestamp")
        .withWatermark("ts", "1 second")
        .groupBy("k")
        .count()
    )

    def sink(batch_df, _id):
        # runs while the query runs: the shared session's view, and the
        # view of the session the query cloned at start()
        seen.append({k: spark.conf.get(v) for k, v in KEYS.items()})
        seen_by_query.append(
            {k: batch_df.sparkSession.conf.get(v) for k, v in KEYS.items()}
        )
        batch_df.collect()

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ram_scratch_dir(unique_name("ck_pin")))
    )


def test_query_gets_its_settings_and_session_keeps_its_own(spark):
    before = {k: spark.conf.get(v) for k, v in KEYS.items()}
    asked = 3 if before["state_partitions"] != "3" else 5
    seen: list = []
    seen_by_query: list = []
    q = run_available_now(
        spark,
        _stateful_writer(spark, seen, seen_by_query),
        state_partitions=asked,
        no_data_batches=False,
        watermark_policy="max",
    )
    assert seen and all(s == before for s in seen), (before, seen)
    want = {
        "state_partitions": str(asked),
        "no_data_batches": "false",
        "watermark_policy": "max",
    }
    assert all(s == want for s in seen_by_query), seen_by_query
    assert {k: spark.conf.get(v) for k, v in KEYS.items()} == before
    ops = q.lastProgress["stateOperators"]
    assert ops and {o["numShufflePartitions"] for o in ops} == {asked}, ops
    # no-data batches off: the one data batch is the whole run, although
    # the watermark moved past every key's event time
    assert len(q.recentProgress) == 1, len(q.recentProgress)


def test_failed_start_leaves_session_conf_alone(spark):
    before = {k: spark.conf.get(v) for k, v in KEYS.items()}
    writer = (
        spark.readStream.format("rate")
        .load()
        .writeStream.format("memory")
        .queryName(unique_name("bad"))
        # complete mode needs an aggregate: start() raises
        .outputMode("complete")
    )
    with pytest.raises(Exception):
        run_available_now(
            spark, writer, state_partitions=7, no_data_batches=False,
            watermark_policy="max",
        )
    assert {k: spark.conf.get(v) for k, v in KEYS.items()} == before


def test_only_the_runner_sets_stream_conf_stages_or_triggers():
    """Source pin over the whole package. Session conf is set only inside
    ``session.scoped_conf`` (save/set/restore under one lock), which the
    runner and ``join_runtime_bloom_filtered`` use. The one exemption is
    ``tables.py``'s three session settings, made once per (application,
    fixture) at the first fixture load: session sizing and read settings
    for batch plans, not a scoped setting."""
    session_settings = {
        ("tables.py", '"spark.sql.session.timeZone"'),
        ("tables.py", '"spark.sql.shuffle.partitions"'),
        ("tables.py", '"spark.sql.legacy.parquet.nanosAsLong"'),
    }
    conf_set = re.compile(r"conf\.(?:set|unset)\(\s*([^,)]+)")
    src = (PKG / "session.py").read_text()
    start = src.index("def scoped_conf(")
    end = src.find("\n\n\n", start)
    scoped = src[start : end if end >= 0 else None]
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        if path.name == "session.py":
            src = src.replace(scoped, "")
        for m in conf_set.finditer(src):
            if (path.name, m.group(1).strip()) not in session_settings:
                offenders.append(f"{path.name}: conf.set({m.group(1)})")
        if path.relative_to(PKG).as_posix() == "streaming/runner.py":
            continue
        for pat in ("_BATCH_FILE_CACHE", "availableNow=True", "_sink_counter"):
            if pat in src:
                offenders.append(f"{path.name}: {pat}")
    assert not offenders, offenders


@pytest.mark.parametrize(
    "op, staged",
    [
        ("stream_incremental_checkpoint", "stream_incr"),
        ("stream_txn_idempotent_sink", "stream_txn"),
    ],
)
def test_per_call_outputs_stay_out_of_the_staged_batches(spark, sf_dir, op, staged):
    """The staged dir holds the once-per-session batch files only; each
    call's source links, sink and log table go to its own ``call_dir``."""
    import os

    from dataengineeringutils_spark.artifacts import session_name
    from dataengineeringutils_spark.paths import scratch_dir
    from dataengineeringutils_spark.registry import queries

    for _ in range(2):
        queries()[op](spark, sf_dir).collect()
    entries = os.listdir(scratch_dir(session_name((staged, sf_dir))))
    assert entries and all(e.startswith("batch=") for e in entries), entries
