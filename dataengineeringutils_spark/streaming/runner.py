"""The one way this package runs a terminating streaming query.

``run_available_now`` owns how a query is sized, started and finished.
It holds the query-scoped settings (``session.scoped_conf``) around
``start()`` with ``trigger(availableNow=True)``, so the session conf is
restored as soon as ``start()`` returns, then awaits termination.
``start()`` clones the session, so the query (and the conf recorded in
its checkpointed offset metadata) keeps the values it was started with,
while every other reader of the shared session sees its own values for
the whole run.

Sizing the settings to the query, not to the cluster:

- ``state_partitions`` (``spark.sql.shuffle.partitions``): each shuffle
  partition of a stateful query is a state store that pays a fixed
  setup+commit cost per micro-batch. Small key volumes run fastest on
  few stores (4 -> 2 measured ~0.15 s less per run; the outer join's
  per-side store quartet 2 -> 1 ~0.4 s less), while ~100k open-session
  keys measured the opposite (2 -> 8 ~0.25 s less; 16 was slower
  again). The value is baked into a query's checkpoint; at production
  scale this is the knob you RAISE.
- ``no_data_batches=False`` skips the trailing empty micro-batch for
  queries whose output is complete without it (per-arrival emission:
  inner joins, dedup, update-mode kernels, complete-mode aggregates):
  one fewer trigger of store setup+commit. Queries that emit ON
  watermark advance (append-mode windowed aggregates, outer-join NULL
  rows) must keep it.
- ``watermark_policy``: how a query with several watermarked inputs
  folds them into the global watermark (Spark's default ``min`` or
  ``max``).

``None`` leaves a setting at the session's value. ``stage`` writes the
deterministic batch files these queries read, ``call_dir`` holds one
call's own outputs, and ``unique_name`` owns the sink and checkpoint
name counter.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from dataengineeringutils_spark.artifacts import session_dir, session_name
from dataengineeringutils_spark.paths import ram_scratch_dir, scratch_dir
from dataengineeringutils_spark.session import scoped_conf

_STATE_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_WATERMARK_POLICY = "spark.sql.streaming.multipleWatermarkPolicy"

_names = itertools.count()


def unique_name(prefix: str) -> str:
    """Process-unique sink/checkpoint name: a memory sink's table name,
    or a checkpoint dir that must not mark fresh files as processed."""
    return f"{prefix}_{next(_names)}"


def run_available_now(
    spark: SparkSession,
    writer: DataStreamWriter,
    *,
    state_partitions: int | None = None,
    no_data_batches: bool | None = None,
    watermark_policy: str | None = None,
) -> StreamingQuery:
    """Start ``writer`` as an availableNow query with the given settings,
    leave the session conf as it was, and return the finished query."""
    wanted = {}
    if state_partitions is not None:
        wanted[_STATE_PARTITIONS] = str(state_partitions)
    if no_data_batches is not None:
        wanted[_NO_DATA_BATCHES] = "true" if no_data_batches else "false"
    if watermark_policy is not None:
        wanted[_WATERMARK_POLICY] = watermark_policy
    with scoped_conf(spark, wanted):
        q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_to_memory(
    df: DataFrame, output_mode: str = "append", **settings
) -> DataFrame:
    """Run the streaming frame ``df`` into a fresh memory sink (settings
    as ``run_available_now``) and return the sink's table."""
    name = unique_name("stream_sink")
    writer = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        # a memory sink is ephemeral by definition, so its checkpoint
        # rides tmpfs (WAL/offset fsyncs are the fixed per-batch cost);
        # durable pipelines point this at durable storage
        .option("checkpointLocation", ram_scratch_dir(f"ck_{name}"))
    )
    run_available_now(df.sparkSession, writer, **settings)
    return df.sparkSession.table(name)


def stage(
    spark: SparkSession,
    name: str,
    frames: list[DataFrame] | dict[str, DataFrame],
    key: str | None = None,
) -> str:
    """Write each frame as one parquet file under ``scratch_dir`` and
    return that directory: a list as ``batch=0..n-1`` (what
    ``stream_batches`` reads), a dict under its named subdirectories.

    With ``key`` (a fixture dir) the files are written once per
    (application, name, key) by ``artifacts.session_dir``, then reused:
    they are deterministic functions of the fixture, so re-writing them
    per call only re-measures the parquet writer, while the query itself
    (source, state store, triggers, sink) re-executes fully every call.
    File mtimes are unchanged on reuse, so the oldest-first trigger
    order is stable.
    """

    def write(base: str) -> None:
        named = (
            frames.items()
            if isinstance(frames, dict)
            else ((f"batch={i}", f) for i, f in enumerate(frames))
        )
        for sub, f in named:
            f.coalesce(1).write.mode("overwrite").parquet(f"{base}/{sub}")

    if key is not None:
        return session_dir(spark, name, key, write)
    base = scratch_dir(name)
    write(base)
    return base


def call_dir(name: str, key: str) -> str:
    """An empty scratch dir for one call's outputs (source links, sinks,
    tables) of op ``name`` on fixture ``key``: a fixed path per fixture
    beside the staged files, so on their filesystem (staged files can be
    hardlinked in) but not inside them, wiped on every call."""
    path = scratch_dir(session_name((name, key)))
    shutil.rmtree(path)
    os.makedirs(path)
    return path


def stream_batches(spark: SparkSession, base: str, schema) -> DataFrame:
    """Stream the staged ``base/batch=*`` files, one file per
    micro-batch, oldest first: fixed batch contents in a fixed order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(f"{base}/batch=*")
    )
