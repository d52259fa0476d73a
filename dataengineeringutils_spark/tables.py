"""Fixture-table access used by every declared query.

Tables and schemas per FIXTURES.md; one parquet file per table under the
scale-factor directory. Reads go through ``spark.read.parquet`` so Catalyst
gets predicate pushdown / column pruning on the scan for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringutils_spark.artifacts import per_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixture plans are built once per (application, fixture) through
# ``artifacts.per_session``: spark.read.parquet lists files and reads
# footers EAGERLY per call, and DataFrames are immutable, so handing back
# the same object is safe and keeps the plan identical.


def _sf_of(sf_dir: str) -> float:
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return -1.0


def _tune_for_scale(spark: SparkSession, sf_dir: str) -> None:
    """Size shuffle width to the DATA, not the cluster default.

    A plain session ships spark.sql.shuffle.partitions=200; at sf<=0.02
    (whole dataset ~10 MB) that is 200 near-empty tasks per exchange and
    dominates wall time. AQE coalesces most of it back, but state stores
    and non-AQE subplans still pay per-partition setup. Local mode only —
    on a real cluster this knob belongs to the deployment, not the
    library.
    """
    # The engine's timestamp semantics are UTC (SURVEY §4): every
    # timestamp column is an instant, rendered/compared in UTC. A plain
    # consumer session in another zone would silently shift the
    # TimestampNTZ cast below AND every toPandas rendering relative to
    # the oracle, so pin it here rather than trusting session.py ran.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not spark.sparkContext.master.startswith("local"):
        return
    sf = _sf_of(sf_dir)
    if 0 <= sf <= 0.02:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy scan).

    ``events.ts`` has shipped in two fixture generations: TIMESTAMP(NANOS)
    (which Spark refuses by default, PARQUET_TYPE_ILLEGAL — read as long via
    the legacy conf and integer-divide to µs, matching DuckDB's ns→µs
    truncation) and plain TIMESTAMP(MICROS)/NTZ. Branch on the type the scan
    actually yields so both eras produce an identical TimestampType column.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    return per_session(spark, ("tables.table", sf_dir, name),
                       lambda: _load(spark, sf_dir, name))


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session(spark, ("tables.tune", sf_dir),
                lambda: _tune_for_scale(spark, sf_dir))
    if name == "events":
        from pyspark.sql.types import LongType, TimestampType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = raw.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if not isinstance(ts_type, TimestampType):
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_bounds(spark: SparkSession, sf_dir: str) -> tuple:
    """(min, max) of ``events.ts``, memoized per (session, fixture dir).

    Several operators anchor their windows to the event-time frontier
    (``max(ts) - INTERVAL ...``); the fixture is immutable for the life
    of a session, so the bounds are computed once and shared — the
    scan-statistics-reuse a warehouse gets from table stats. Cleared
    automatically on session restart (a new application)."""
    return per_session(
        spark,
        ("tables.ts_bounds", sf_dir),
        lambda: tuple(
            table(spark, sf_dir, "events").agg(F.min("ts"), F.max("ts")).first()
        ),
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


_TABLE_BYTES_CACHE: dict[tuple[str, str], int] = {}


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of one fixture table (file or directory)."""
    import os

    key = (sf_dir, name)
    if key not in _TABLE_BYTES_CACHE:
        path = f"{sf_dir}/{name}.parquet"
        total = 0
        try:
            if os.path.isdir(path):
                for root, _dirs, files in os.walk(path):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total = os.path.getsize(path)
        except OSError:
            total = 1 << 62  # unknown size: treat as huge, never spread
        _TABLE_BYTES_CACHE[key] = total
    return _TABLE_BYTES_CACHE[key]


def spread(
    spark: SparkSession, sf_dir: str, name: str, *keys: str
) -> DataFrame:
    """Fixture table ``name``, spread across all cores ONLY while it is
    small enough that Spark would plan its scan as a single task.

    This is the one place that may repartition a fixture scan. The
    fixture files are single-row-group parquet (sf0.1 lineitem: 10.8 MB,
    one row group), so the scan is ONE task and every per-row
    expression downstream (DECIMAL products, tokenizing, hashing,
    distance math) serializes on one core. A repartition right after the
    scan parallelizes that work, keyed by ``keys`` when the consumer
    groups or joins on them (the hash partitioning then satisfies the
    consumer, no second exchange), round-robin otherwise.

    An UNCONDITIONAL spread is a scale regression: at 100 TB it is a
    full extra exchange of the table, e.g. before a partial aggregate
    that would otherwise move ~|groups| x |tasks| rows. So the spread
    fires only while the table's on-disk bytes fit inside ONE scan split
    (``spark.sql.files.maxPartitionBytes``; a single row group cannot be
    split further anyway), where it moves at most one task's worth of
    input. Past one split the scan parallelizes by itself and this is
    ``table()``. The gate is evaluated on every call, so a conf change
    takes effect on the next build.

    Callers select and filter AFTER the spread: Catalyst pushes
    projections and deterministic filters below the repartition, so the
    scan keeps its pruning and pushdown.
    """
    df = table(spark, sf_dir, name)
    conf = spark._jsparkSession.sessionState().conf()
    split = conf.filesMaxPartitionBytes()
    if _table_bytes(sf_dir, name) > split:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism, *keys)
