"""Streaming surface (B49-B53): event-time windows, watermarks, state.

B49-B51 are declared as batch queries (hash-checkable against the DuckDB
oracle); the *same* logical plans run under Structured Streaming by
swapping the source — ``run_streaming`` below does exactly that, and the
unit tests assert batch/stream equivalence. B52-B53 execute genuinely
stateful streams over deterministic staged micro-batch files.

Every streaming query here starts through ``runner.run_available_now``,
the one place that sets a query's state partitions, no-data batches and
multiple-watermark policy (and leaves the session conf alone), and reads
files written by ``runner.stage``. Each op passes the values measured
for its key volume; the sizing reasons live in the runner.

Scale: windowed aggregations shuffle on (window, key) with partial aggs;
watermarks bound the state store, so 100 TB/day of events keeps only the
open windows / in-horizon dedup keys in state, not history.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineeringutils_spark.exprs import money_sum, o_money_sum
from dataengineeringutils_spark.paths import ram_scratch_dir
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.streaming.runner import (
    call_dir,
    run_available_now,
    run_to_memory,
    stage,
    stream_batches,
    unique_name,
)
from dataengineeringutils_spark.tables import table, ts_bounds


def _ts_midpoint(spark: SparkSession, sf_dir: str):
    """Deterministic batch-split instant: midpoint of the ts range.

    The split only has to be deterministic and roughly balanced — it
    defines micro-batch membership, never the answer — so the
    session-cached fixture bounds (``tables.ts_bounds``) serve it with
    zero extra jobs after the first use.
    """
    lo, hi = ts_bounds(spark, sf_dir)
    return lo + (hi - lo) / 2


@query(
    "stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {o_money_sum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B49: 1-hour tumbling windows x event_type (batch-equivalent form)."""
    ev = table(spark, sf_dir, "events")
    return tumbling_agg(ev)


def tumbling_agg(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_sliding",
    oracle=f"""
    SELECT window_start,
           event_type,
           COUNT(*) AS n_events,
           {o_money_sum('value')} AS sum_value
    FROM (
        SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                   AS window_start,
               event_type,
               value
        FROM events
    )
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50: 1-hour windows sliding every 30 minutes. Each event lands in
    exactly two windows; the oracle materializes both epoch-aligned window
    starts per event and aggregates identically."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "stream_session",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id,
               ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_last,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51: 30-minute-gap sessionization via ``session_window``.

    Spark merges an event into a session while its time is strictly before
    session end (last event + gap); the gaps-and-islands oracle starts a
    new session when the gap exceeds 30 minutes — identical semantics
    except at exact-equality gaps, which cannot occur at µs precision.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("session_last"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "session_last",
            "n_events",
        )
    )


# --- genuinely-streaming execution harness --------------------------------


def run_streaming(
    spark: SparkSession,
    batches: list[DataFrame],
    scratch_name: str,
    build_query: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    cache_key: str | None = None,
    no_data_batches: bool = True,
    state_partitions: int = 2,
) -> DataFrame:
    """Execute ``build_query`` as a real Structured Streaming job over the
    given micro-batches (each staged as one parquet file, streamed with
    maxFilesPerTrigger=1 + availableNow) into an in-memory sink.
    Deterministic: fixed batch contents, fixed batch order.

    With ``cache_key`` the batch files are staged once per (session,
    key) and reused (see ``runner.stage``). The settings go to
    ``runner.run_available_now``; the default of 2 state partitions
    suits the small key volumes most ops here carry.
    """
    base = stage(spark, scratch_name, batches, key=cache_key)
    return run_to_memory(
        build_query(stream_batches(spark, base, batches[0].schema)),
        output_mode,
        state_partitions=state_partitions,
        no_data_batches=no_data_batches,
    )


@query(
    "stream_watermark_late",
    oracle="""
    WITH wm0 AS (
        SELECT MAX(ts) - INTERVAL 10 MINUTE AS v
        FROM events WHERE event_id % 3 = 0
    ),
    wmf AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS v FROM events),
    agg AS (
        SELECT date_trunc('hour', ts) AS ws, event_type,
               COUNT(*) FILTER (event_id % 3 < 2) AS n_early,
               COUNT(*) AS n_all
        FROM events
        GROUP BY 1, 2
    )
    SELECT ws AS window_start, event_type, n_events
    FROM (
        SELECT ws, event_type,
               CASE WHEN ws + INTERVAL 1 HOUR <= (SELECT v FROM wm0)
                    THEN n_early ELSE n_all END AS n_events
        FROM agg
        WHERE ws + INTERVAL 1 HOUR <= (SELECT v FROM wmf)
    )
    WHERE n_events > 0
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52: tumbling-window counts under a 10-minute watermark, with the
    late-data drop EXACTLY oracle-checked.

    Three micro-batches split by event_id mod 3; batch 2 replays the full
    time range after the watermark has advanced, so its rows for closed
    windows are dropped as late. The drop set is deterministic because
    the harness is (one file per batch, ``maxFilesPerTrigger=1``,
    oldest-first) and because the effective watermark follows measured
    Spark 4 micro-batch semantics, pinned here by experiment:

    - the watermark FILTERING batch N is derived from data through batch
      N-2 (one batch of lag beyond the documented through-N-1: the next
      batch is planned before the prior commit's watermark update lands),
      so batch 0 and batch 1 run unfiltered and batch 2 is filtered by
      wm0 = max(ts of batch 0) - 10min;
    - final emission (append mode) covers windows with
      end <= max(all ts) - 10min.

    An hour window w therefore emits iff end(w) <= max(all ts) - 10min,
    counting only batches 0-1 when end(w) <= wm0 (batch 2 was late) and
    all rows otherwise. Boundary ties between hour ends and µs-grain
    watermarks cannot occur. If a Spark upgrade tightens the watermark
    lag, this oracle breaks loudly — that is intentional: it documents
    the exact late-data contract the engine ships with.
    """
    ev = table(spark, sf_dir, "events")
    batches = [
        ev.filter(F.col("event_id") % 3 == i).select("ts", "event_type")
        for i in range(3)
    ]

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
        )

    return run_streaming(spark, batches, "stream_wm", build, cache_key=sf_dir)


def _running_count_kernel(key, pdf_iter, state):
    """applyInPandasWithState kernel: per-user running event count.
    State = one long; each micro-batch adds its rows and emits the
    updated total (update output mode -> one row per user per batch)."""
    import pandas as pd

    total = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})


@query(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running counter across micro-batches.

    Each batch the kernel loads its group's state, adds the batch rows,
    stores the new total, and emits it — so the LAST emission per user is
    the complete count, which must equal the plain batch aggregate (the
    oracle). This is the extension point for operators Structured
    Streaming lacks natively (custom sessionization, decaying counters,
    online sketches); state lives in the state store, scaling with
    distinct keys, not history.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    cutoff = _ts_midpoint(spark, sf_dir)
    batches = [
        ev.filter(F.col("ts") <= F.lit(cutoff)).select("user_id", "event_id"),
        ev.filter(F.col("ts") > F.lit(cutoff)).select("user_id", "event_id"),
    ]

    def build(stream: DataFrame) -> DataFrame:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return stream.groupBy("user_id").applyInPandasWithState(
            _running_count_kernel,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    out = run_streaming(
        spark,
        batches,
        "stream_counter",
        build,
        output_mode="update",
        cache_key=sf_dir,
        # update-mode kernel emits per data batch; trailing no-data
        # batch adds no output (NoTimeout — nothing to evict)
        no_data_batches=False,
    )
    # last emission per user == total count
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_dedup_state",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53: stateful streaming dedup. Each micro-batch carries every event
    twice (union with itself); ``dropDuplicatesWithinWatermark`` on
    event_id removes the duplicates in the state store, so the streamed
    result equals the plain batch per-type counts — giving this stateful
    op a full DuckDB oracle.
    """
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    cutoff = _ts_midpoint(spark, sf_dir)
    early = ev.filter(F.col("ts") <= F.lit(cutoff))
    late = ev.filter(F.col("ts") > F.lit(cutoff))
    batches = [early, late]

    def build(stream: DataFrame) -> DataFrame:
        # Duplicate every event WITHIN its micro-batch stream-side (an
        # explode over two copies) instead of writing the union to the
        # batch files — halves the file-source volume, identical state
        # contract: both copies hit the store in the same trigger.
        doubled = stream.withColumn(
            "copy", F.explode(F.array(F.lit(1), F.lit(2)))
        ).drop("copy")
        return (
            doubled.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type")
        )

    out = run_streaming(
        spark,
        batches,
        "stream_dd",
        build,
        cache_key=sf_dir,
        # dedup emits survivors ON ARRIVAL; the trailing no-data batch
        # only evicts expired state, producing no rows
        no_data_batches=False,
    )
    return out.groupBy("event_type").agg(F.count("*").alias("n_events"))



@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming micro-batches join a static
    dimension (customer) batch-side — each trigger joins only its own
    micro-batch against the dim (broadcast at dim scale), then feeds the
    running aggregate; complete output mode materializes the final totals,
    which must equal the batch join (the oracle).
    """
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey").alias("nationkey")
    )
    cutoff = _ts_midpoint(spark, sf_dir)
    batches = [
        ev.filter(F.col("ts") <= F.lit(cutoff)).select("event_id", "user_id"),
        ev.filter(F.col("ts") > F.lit(cutoff)).select("event_id", "user_id"),
    ]

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.join(cust, stream.user_id == cust.c_custkey)
            .groupBy("nationkey")
            .agg(F.count("*").alias("n_events"))
        )

    return run_streaming(
        spark,
        batches,
        "stream_static",
        build,
        output_mode="complete",
        cache_key=sf_dir,
        # complete mode re-emits the full result every data batch; a
        # trailing no-data batch recomputes it unchanged
        no_data_batches=False,
    )


@query(
    "stream_upsert_latest",
    oracle="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           value AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert: ``foreachBatch`` MERGE keeping each user's latest
    event — the canonical "stream into a keyed table" pattern, expressed
    through the ``KeyedTable`` interface (see keyed.py: path-versioned
    parquet here, ``MERGE INTO`` on a Delta/Iceberg deployment — the
    streaming code below is format-agnostic either way).
    """
    from dataengineeringutils_spark.keyed import KeyedTable

    ev = table(spark, sf_dir, "events")
    cutoff = _ts_midpoint(spark, sf_dir)
    cols = ["event_id", "ts", "user_id", "value"]
    batches = [
        ev.filter(F.col("ts") <= F.lit(cutoff)).select(*cols),
        ev.filter(F.col("ts") > F.lit(cutoff)).select(*cols),
    ]

    base = stage(spark, "stream_upsert", batches, key=sf_dir)
    kt = KeyedTable(
        spark, f"{base}/table", keys=["user_id"], order_by=["ts", "event_id"]
    )
    run_available_now(
        spark,
        stream_batches(spark, base, batches[0].schema)
        .writeStream.foreachBatch(lambda b, _id: kt.upsert(b))
        .option("checkpointLocation", ram_scratch_dir(unique_name("ck_upsert"))),
    )
    return kt.current().select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@query(
    "stream_stream_join",
    oracle="""
    WITH cut0 AS (
        SELECT MAX(ts) - INTERVAL 15 DAY AS lo FROM events
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
            AND ts >= (SELECT lo FROM cut0)) p
    JOIN (SELECT * FROM events WHERE event_type = 'click'
            AND ts >= (SELECT lo FROM cut0)) c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases joined to the
    same user's clicks from the preceding hour.

    Both sides are genuine streams; the time-range conjunct bounds how
    long each side's rows stay in join state, and the watermarks let the
    engine evict state it can no longer match — THE mechanism that makes
    an unbounded stream-stream join runnable forever. Executed with each
    side as a single availableNow batch so the inner-join output is the
    complete pair set (the batch interval join, i.e. the oracle); the
    watermark/eviction machinery is still fully engaged in the plan.

    Same deterministic 15-day tail as the outer variant: join-state
    mechanics are volume-independent, the tail keeps state/sink cost
    proportionate at bench scale. The join's 1-hour range predicate
    cannot match a pre-tail click to an in-tail purchase (both sides
    cut at the same instant, and matches span ≤ 1 h ≪ the 15-day tail
    margin around any purchase in the output).
    """
    ev = table(spark, sf_dir, "events")
    lo = ts_bounds(spark, sf_dir)[1] - datetime.timedelta(days=15)
    ev = ev.filter(F.col("ts") >= F.lit(lo))
    cols = ["event_id", "ts", "user_id"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(*cols)
    clicks = ev.filter(F.col("event_type") == "click").select(*cols)
    base = stage(spark, "stream_ssj", {"p": purchases, "c": clicks}, key=sf_dir)
    p_stream = (
        spark.readStream.schema(purchases.schema)
        .parquet(f"{base}/p")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "user_id",
        )
    )
    c_stream = (
        spark.readStream.schema(clicks.schema)
        .parquet(f"{base}/c")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.col("user_id").alias("c_user_id"),
        )
    )
    joined = p_stream.join(
        c_stream,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    # The join key-space here is tiny: 4 state stores. INNER join: every
    # output row emits in the data batch that matched it — the trailing
    # no-data micro-batch only advances the watermark and evicts state,
    # which a terminating run never reads again. (The OUTER variant
    # keeps no-data batches: its NULL rows are emitted BY eviction.)
    return run_to_memory(
        joined.select("purchase_id", "click_id", "user_id"),
        state_partitions=4,
        no_data_batches=False,
    )


# The stateful kernel ships to executors; serialize this module by value so
# the driver does not need the package importable on workers (see serde.py).
from dataengineeringutils_spark.serde import pickle_module_by_value  # noqa: E402

pickle_module_by_value(__name__)


@query(
    "stream_session_append",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    ),
    sessions AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_last,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, n_events
    FROM sessions
    WHERE session_last <= (SELECT MAX(ts) FROM events) - INTERVAL 60 MINUTE
    """,
)
def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINELY STREAMED sessionization: ``session_window`` under a
    30-minute watermark in append mode — the production shape where
    sessions live in the state store and emit exactly once, when the
    watermark passes their end.

    Emission contract (pinned by the oracle, like stream_watermark_late):
    with availableNow over one batch, the final watermark is
    max(ts) - 30min, and a session emits iff its end (last event + 30min
    gap) ≤ that watermark — i.e. session_last ≤ max(ts) - 60min. Sessions
    still "open" near the stream head stay in state, exactly as they
    would on a live stream. µs-grain timestamps make boundary ties
    unobservable. State is bounded by OPEN sessions only — the watermark
    is what makes infinite-stream sessionization runnable.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "ts")

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
        )

    # ~100k open-session keys: 8 state stores measured ~0.25 s faster
    # than 2 at sf0.1 (fixed per-store setup+commit amortizes; beyond 8
    # it inverts again — 16 was slower)
    return run_streaming(
        spark,
        [ev],
        "stream_sess_append",
        build,
        cache_key=sf_dir,
        state_partitions=8,
    )


@query(
    "stream_outer_join_watermark",
    oracle="""
    WITH cut0 AS (
        SELECT MAX(ts) - INTERVAL 8 DAY AS lo FROM events
    ),
    p AS (
        SELECT event_id AS purchase_id, ts AS p_ts, user_id
        FROM events WHERE event_type = 'purchase'
          AND ts >= (SELECT lo FROM cut0)
    ),
    c AS (
        SELECT event_id AS click_id, ts AS c_ts, user_id AS c_user_id
        FROM events WHERE event_type = 'click'
          AND ts >= (SELECT lo FROM cut0)
    ),
    j AS (
        SELECT p.p_ts, c.click_id
        FROM p LEFT JOIN c
          ON p.user_id = c.c_user_id
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
         AND c.c_ts <= p.p_ts
    )
    SELECT CAST(DATE_TRUNC('day', p_ts) AS TIMESTAMP) AS d,
           COUNT(*) FILTER (click_id IS NOT NULL) AS n_matched,
           COUNT(*) FILTER (click_id IS NULL) AS n_unmatched
    FROM j
    WHERE p_ts < (SELECT MAX(ts) FROM events) - INTERVAL 4 HOUR
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join under watermarks: matched pairs
    emit immediately; an UNMATCHED purchase emits with NULL click only
    once the watermark proves no qualifying click can still arrive —
    the state-eviction mechanism that makes outer stream joins runnable
    forever (inner-join variant: ``stream_stream_join``).

    Determinism contract: null emission at the watermark FRONTIER rides
    an internal state-cleanup schedule (measured: rows up to ~30 min
    inside the final watermark may not have emitted yet), so the op
    compares only the SETTLED region — purchases > 4 h (2 h watermark
    delay + 2 h slack) behind max event time, where emission is
    guaranteed complete and exactly equals the batch left join. The
    streaming machinery (two watermarked sources, interval state
    eviction, null synthesis) runs for the full data regardless.

    The query runs under the ``max`` multiple-watermark policy. Under
    Spark's default ``min`` the global watermark trails the LAGGING
    side: on the sf0.001 fixture the last click is ~4 h before the last
    event, so the final watermark (last click - 2 h) stays below the
    settled cut and an unmatched purchase in the settled region never
    emits its NULL row. Every row arrives in the first micro-batch, so
    ``max`` drops nothing as late; it only lets the final no-data batch
    evict up to the leading side. Precondition for the settled region:
    the purchase or the click side has its max ts within about 1.5 h of
    max(events.ts), which keeps the final watermark >= the cut + ~30 min.
    """
    ev = table(spark, sf_dir, "events")
    # Deterministic 8-day tail window: the op demonstrates outer-join
    # state mechanics, which are volume-independent; the tail keeps the
    # state store + sink cost proportionate at bench scale.
    lo = ts_bounds(spark, sf_dir)[1] - datetime.timedelta(days=8)
    ev = ev.filter(F.col("ts") >= F.lit(lo))
    cols = ["event_id", "ts", "user_id"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(*cols)
    clicks = ev.filter(F.col("event_type") == "click").select(*cols)
    base = stage(spark, "stream_ssoj", {"p": purchases, "c": clicks}, key=sf_dir)
    p_stream = (
        spark.readStream.schema(purchases.schema)
        .parquet(f"{base}/p")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "user_id",
        )
    )
    c_stream = (
        spark.readStream.schema(clicks.schema)
        .parquet(f"{base}/c")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.col("user_id").alias("c_user_id"),
        )
    )
    joined = p_stream.join(
        c_stream,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    )
    # outer-join state = 4 store instances per partition per side; the
    # key volume here fits ONE partition. ``max``: the global watermark
    # follows the leading side (see the docstring's precondition).
    out = run_to_memory(
        joined.select("purchase_id", "p_ts", "click_id"),
        state_partitions=1,
        watermark_policy="max",
    )
    cut = ts_bounds(spark, sf_dir)[1] - datetime.timedelta(hours=4)
    out = out.filter(F.col("p_ts") < F.lit(cut))
    return (
        out.groupBy(F.date_trunc("day", "p_ts").alias("d"))
        .agg(
            F.count("click_id").alias("n_matched"),
            F.sum(F.col("click_id").isNull().cast("long")).alias("n_unmatched"),
        )
        .orderBy("d")
    )


@query(
    "stream_incremental_checkpoint",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def stream_incremental_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resumed INCREMENTAL processing — the exactly-once
    micro-batch ETL pattern that replaces hand-rolled watermark tables:
    run 1 processes the initial files and commits its offsets to the
    checkpoint; new files land; run 2 is a NEW streaming query on the
    same checkpoint that processes ONLY the delta (pinned by the
    progress metrics: run 2's input rows = batch-2 rows, not the
    total). Output goes to an append file sink whose exactly-once log
    survives both runs; the final table equals the batch aggregate of
    ALL data.

    Complete-mode aggregation can't target a file sink, so each run
    appends its micro-batch's per-type partial counts (update-less
    append via per-batch foreachBatch write) and the read-back merges
    partials — the same re-mergeable (count, decimal-sum) partials the
    incremental-rollup op uses.
    """
    import os

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # fresh checkpoint/sink/src every call: this op's contract IS the
    # two-run resume. The batch FILES are deterministic fixture
    # functions, staged once per session and HARDLINKED into the fresh
    # src per call (the file source tracks seen paths, not mtimes, so a
    # linked batch=1 appearing after run 1 is "new" to the checkpoint).
    staged = stage(
        spark,
        "stream_incr",
        [ev.filter(F.col("event_id") % 2 == i) for i in range(2)],
        key=sf_dir,
    )
    base = call_dir("stream_incr_run", sf_dir)
    fs_src = f"{base}/src"
    ck = f"{base}/ck"
    sink = f"{base}/sink"

    def link_batch(i: int) -> None:
        src_d, dst_d = f"{staged}/batch={i}", f"{fs_src}/batch={i}"
        os.makedirs(dst_d, exist_ok=True)
        for f in os.listdir(src_d):
            os.link(os.path.join(src_d, f), os.path.join(dst_d, f))

    link_batch(0)

    delta_rows = []

    def run_once() -> None:
        stream = spark.readStream.schema(ev.schema).parquet(f"{fs_src}/batch=*")

        def write_partials(batch_df, batch_id):
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count("*").alias("pn"),
                    F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
                )
                .write.mode("append")
                .parquet(sink)
            )

        q = run_available_now(
            spark,
            stream.writeStream.foreachBatch(write_partials).option(
                "checkpointLocation", ck
            ),
        )
        prog = q.lastProgress
        delta_rows.append(
            prog["numInputRows"] if prog else 0
        )

    run_once()  # processes batch 0, commits offsets
    link_batch(1)  # "new files land" between the runs
    run_once()  # RESUMES from the checkpoint: sees only batch 1
    # parquet footer count of the staged batch — metadata-only job
    n1 = spark.read.parquet(f"{staged}/batch=1").count()
    assert delta_rows[1] <= n1, (delta_rows, n1)
    back = spark.read.parquet(sink)
    return (
        back.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_topk_per_window",
    oracle="""
    SELECT window_start, event_type, n_events
    FROM (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROW_NUMBER() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY COUNT(*) DESC, event_type ASC
               ) AS rn
        FROM events
        GROUP BY 1, 2
    )
    WHERE rn <= 2
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (k=2) event types per 1-hour tumbling window — the
    "trending now" query of every live dashboard, declared batch-first
    (hash-checkable) with the same plan the streaming path runs: the
    windowed aggregate is incremental under Structured Streaming, and
    the per-window rank runs downstream of the window's emission (in a
    ``foreachBatch`` or on the complete-mode store at serving time;
    append-mode rank-in-stream would need the watermark to close the
    window first, which is exactly when this plan evaluates it).

    One shuffle for (window, type) partials; the rank's window
    partitions by hour bucket — thousands of types per bucket at most,
    never the fact table. Deterministic tie-break by event_type.
    """
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("window").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "stream_window_distinct_users",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def stream_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour window (exact) — concurrent-user
    dashboards' base query, batch-declared with the streaming-compatible
    plan: a windowed distinct aggregate is incremental under Structured
    Streaming with the user set in window state (watermark-bounded); at
    serving scale the exact distinct swaps to approx_count_distinct or
    the HLL-sketch rollup (``agg_sketch_hll_merge``) with this op as
    the audit anchor.

    One shuffle on (window, user) collapses duplicates map-side, a
    second |windows|-keyed aggregate counts — the two-level exact
    distinct that avoids a giant per-window set in any single task.
    """
    ev = table(spark, sf_dir, "events")
    per = (
        ev.select(
            F.window("ts", "1 hour").alias("w"),
            "user_id",
        )
        .groupBy("w", "user_id")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("w").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
    ).select(
        F.col("w.start").alias("window_start"), "n_users", "n_events"
    )


@query(
    "stream_txn_idempotent_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_txn_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink via transaction-log ``txn`` actions —
    the Delta idempotent-writer mechanic that engine checkpoints alone
    cannot give you: ``foreachBatch`` commits each micro-batch's partial
    counts to a LogTable WITH an (appId, batchId) txn action in the
    same atomic commit, so when the engine re-delivers a batch (sink
    write succeeded, checkpoint commit lost — the classic crash window)
    the replayed append is a no-op. The op replays the LAST batch twice
    — once directly, once after a log checkpoint (watermarks must
    survive consolidation) — and the oracle's exact per-type totals
    prove neither replay double-counted.
    """
    from dataengineeringutils_spark.txnlog import LogTable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # source batch files are staged once per (session, fixture); the
    # TABLE directory is wiped every call (each run must build its own log)
    base = stage(
        spark,
        "stream_txn",
        [ev.filter(F.col("event_id") % 3 == i) for i in range(3)],
        key=sf_dir,
    )
    t = LogTable(spark, call_dir("stream_txn_table", sf_dir))
    replay: list = []

    def write_batch(batch_df, batch_id):
        partial = batch_df.groupBy("event_type").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
        )
        t.append(partial, txn=("etl", batch_id))
        replay.append((partial, batch_id))

    run_available_now(
        spark,
        stream_batches(spark, base, ev.schema)
        .writeStream.foreachBatch(write_batch)
        # counter-suffixed: a reused checkpoint would mark the (fresh)
        # batch files processed and deliver nothing on a second call
        .option("checkpointLocation", ram_scratch_dir(unique_name("ck_txn_sink"))),
    )
    # crash-window replay: the engine re-delivers the last batch
    last_df, last_id = replay[-1]
    assert t.append(last_df, txn=("etl", last_id)) == -1
    t.checkpoint()  # consolidation must keep the txn watermark
    assert t.append(last_df, txn=("etl", last_id)) == -1
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("pv").cast("double").alias("sum_value"),
        )
    )

