"""Extended relational surface beyond the SURVEY §2 minimum.

Operators a user of the reference reaches through Athena SQL but that the
§2 canonical list did not name explicitly: exact percentiles, ordered
string aggregation, pivot/unpivot reshaping, deterministic systematic
sampling, time-series gap-fill, rolling window frames, correlated-EXISTS
SQL entry, and bitwise function family.

Reference locus: Athena/Presto SQL passthrough,
[R] dataengineeringutils/athena.py (SURVEY.md §0/§2.B).

Scale notes per op in docstrings; everything here is built-in DataFrame /
SQL API (hash agg, window, generate+join) — no UDFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import spread, table

# ---------------------------------------------------------------------------
# aggregates


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p25,
           ROUND(PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50,
           ROUND(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p75,
           ROUND(MEDIAN(o_totalprice), 2) AS med
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics) + median.

    Spark's ``percentile`` is the exact sort-based aggregate (not the
    t-digest approximation) — at 100 TB prefer ``approx_percentile`` for
    one-pass estimates; this op is the exact anchor the approximate one is
    judged against. Rounded 2 dp: interpolation arithmetic is the only
    cross-engine ulp risk.
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 2).alias("p75"),
        F.round(F.median("o_totalprice"), 2).alias("med"),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT r.r_name,
           COUNT(*) AS n_nations,
           STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG equivalent).

    ``collect_list`` order is nondeterministic under parallel merge, so the
    deterministic form is sort-then-join — the only hash-stable way to
    string-agg on any engine.
    """
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
    )


# ---------------------------------------------------------------------------
# reshaping


@query(
    "pivot_wide",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT')        AS urgent,
           COUNT(*) FILTER (o_orderpriority = '2-HIGH')          AS high,
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM')        AS medium,
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
           COUNT(*) FILTER (o_orderpriority = '5-LOW')           AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): order counts per status × priority.

    The pivot value list is EXPLICIT — an implicit pivot needs an extra
    distinct-collect job over the full table to discover values, a
    full-scan you never want at 100 TB. With fixed values this is one
    ordinary hash aggregation (pivot compiles to ``count(CASE WHEN …)``).
    """
    o = table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    return pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{src}`"), F.lit(0)).alias(dst) for src, dst in renames.items()],
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val
    FROM part WHERE p_partkey < 500
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): one row per (part, attribute).

    ``unpivot`` is a narrow map-side transform (a generator over each row)
    — no shuffle at any scale; output is 2× the input rows here.
    """
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "attr", "val")


# ---------------------------------------------------------------------------
# sampling / time series


@query(
    "sample_mod",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_orderkey % 50 = 7
    GROUP BY l_returnflag
    """,
)
def sample_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key mod N) + aggregate.

    Reproducible cross-engine sampling: ``TABLESAMPLE`` / ``df.sample`` are
    RNG-based and engine-specific, so pipelines that must be replayable
    sample on a key instead. The predicate is pushed to the parquet scan
    (row-group stats can't prune a mod, but the filter runs pre-shuffle).
    At 100 TB prefer bucketing by the sample key so the sample reads only
    matching buckets.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 7)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


@query(
    "timeseries_gapfill",
    oracle="""
    WITH days AS (
        SELECT CAST(d AS DATE) AS day
        FROM generate_series(DATE '1995-02-01', DATE '1995-03-31', INTERVAL 1 DAY) t(d)
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-02-01' AND o_orderdate < TIMESTAMP '1995-04-01'
        GROUP BY 1
    )
    SELECT CAST(days.day AS TIMESTAMP) AS day, COALESCE(daily.n, 0) AS n_orders
    FROM days LEFT JOIN daily ON days.day = daily.day
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: daily order counts with missing days as 0.

    The calendar spine is generated (``sequence`` + ``explode``), not
    scanned, and the daily aggregate is tiny after groupBy — so the join is
    broadcast regardless of fact-table size. This is the canonical
    resample/gap-fill shape for downstream window math that needs a dense
    time axis.
    """
    o = table(spark, sf_dir, "orders")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-02-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-02-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return days.join(daily, "day", "left").select(
        F.col("day").cast("timestamp").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# windows


@query(
    "win_rolling_stats",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS roll_avg,
           COUNT(*) OVER w AS roll_n
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
    )
    """,
)
def win_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row average per customer (moving-average frame).

    The frame sum goes through exact DECIMAL so sliding-frame evaluation
    strategies (running accumulator vs segment tree) can't produce ulp
    drift between engines. One shuffle on the partition key; within each
    customer the frame is evaluated in a single sorted pass.
    """
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("roll_avg"),
        F.count("*").over(w).alias("roll_n"),
    )


# ---------------------------------------------------------------------------
# SQL entry (correlated subqueries)

_EXISTS_SQL = """
SELECT c.c_nationkey AS nationkey,
       COUNT(*) AS n_big_spenders
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
GROUP BY c.c_nationkey
"""


@query("join_exists_sql", oracle=_EXISTS_SQL)
def join_exists_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL entry point.

    Exercises Catalyst's subquery decorrelation: both subqueries rewrite to
    left-semi / left-anti hash joins on ``o_custkey`` (verified via
    ``explain``) — the same physical plan as the DataFrame ``join_semi`` /
    ``join_anti`` ops, proving the SQL and DataFrame surfaces converge.
    """
    for t in ("customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_EXISTS_SQL)


# ---------------------------------------------------------------------------
# scalar family: bitwise


@query(
    "fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_partkey & 255 AS b_and,
           p_partkey | 4096 AS b_or,
           xor(p_partkey, 1365) AS b_xor,
           p_partkey << 3 AS b_shl,
           p_partkey >> 2 AS b_shr,
           bit_count(p_partkey) AS b_pop
    FROM part
    WHERE p_partkey < 1000
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family (AND/OR/XOR/shifts/popcount) on int64 keys."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000)
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(4096)).alias("b_or"),
        k.bitwiseXOR(F.lit(1365)).alias("b_xor"),
        F.shiftleft(k, 3).alias("b_shl"),
        F.shiftright(k, 2).alias("b_shr"),
        F.bit_count(k).cast("int").alias("b_pop"),
    )


@query(
    "win_first_last_nth",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           LAST_VALUE(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_ok,
           NTH_VALUE(o_orderkey, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value navigation functions. last/nth use an explicit
    full-partition frame: the default frame ends at CURRENT ROW, where
    LAST_VALUE degenerates to the current row on every engine."""
    o = table(spark, sf_dir, "orders")
    wdef = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = wdef.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(wdef).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
    )


N_HIST_BUCKETS = 10
HIST_LO, HIST_HI = 0.0, 600000.0


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR((o_totalprice - {HIST_LO})
               / (({HIST_HI} - {HIST_LO}) / {N_HIST_BUCKETS})),
               {N_HIST_BUCKETS} - 1) AS INT) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range histogram: bucket index from closed-form arithmetic
    (identical FLOOR/LEAST expression in both engines — no width_bucket
    dependency), one hash aggregation. The constant-time alternative to
    exact percentiles for distribution profiling at 100 TB."""
    o = table(spark, sf_dir, "orders")
    step = (HIST_HI - HIST_LO) / N_HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.lit(HIST_LO)) / F.lit(step)),
        F.lit(N_HIST_BUCKETS - 1),
    ).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


_LATERAL_SQL = """
SELECT n.n_name, t.o_orderkey, t.o_totalprice
FROM nation n
JOIN customer c ON c.c_nationkey = n.n_nationkey,
LATERAL (
    SELECT o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
) t
"""


@query("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join through the SQL entry point.
    Catalyst decorrelates the lateral relation into an ordinary equi-join
    (DecorrelateInnerQuery) — same physical plan as the DataFrame
    formulation, so per-row subquery semantics cost nothing at scale."""
    for t in ("nation", "customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


EWMA_ALPHA = 0.3


@query(
    "win_ewma",
    oracle=f"""
    WITH seq AS (
        SELECT o_orderkey,
               o_custkey,
               o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn
        FROM orders
    )
    SELECT o_orderkey,
           o_custkey,
           ROUND(
               POW(1 - {EWMA_ALPHA}, rn)
               * SUM(o_totalprice * POW(1.0 / (1 - {EWMA_ALPHA}), rn)) OVER (
                     PARTITION BY o_custkey ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )
               / ((1 - POW(1 - {EWMA_ALPHA}, rn)) / {EWMA_ALPHA}),
               4
           ) AS ewma
    FROM seq
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per key (pandas ewm
    adjust=True semantics), as pure window algebra — no UDF, no recursion.

    The recurrence is rewritten closed-form: scale each value by
    (1-α)^(-i), take a running SUM, rescale by (1-α)^n, and normalize by
    the geometric-series weight total. One shuffle on the key; valid while
    (1-α)^(-n) stays in double range (n ≲ 2000 at α=0.3 — per-key series
    here are ≤ ~30; for longer series, segment the window and carry the
    boundary term). Rounded 4 dp: the rescaling is the one place the two
    engines' floating point can drift.
    """
    o = table(spark, sf_dir, "orders")
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(wseq).alias("rn"),
    )
    wrun = (
        Window.partitionBy("o_custkey")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    decay = F.pow(F.lit(1 - EWMA_ALPHA), F.col("rn"))
    scaled_sum = F.sum(
        F.col("o_totalprice") * F.pow(F.lit(1.0 / (1 - EWMA_ALPHA)), F.col("rn"))
    ).over(wrun)
    denom = (F.lit(1.0) - decay) / F.lit(EWMA_ALPHA)
    return seq.select(
        "o_orderkey",
        "o_custkey",
        F.round(decay * scaled_sum / denom, 4).alias("ewma"),
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_orderkey) <= 10
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 10 rows per stratum
    (order priority), selected by smallest key.

    The reproducible alternative to ``df.sampleBy`` (whose random draw
    is seed+partitioning dependent): rank within stratum over a unique
    key, keep rank <= 10. One shuffle on the stratum key; at 100 TB
    swap row_number for a per-partition pre-filter (any partition needs
    at most 10 survivors) which AQE's partial top-k already applies via
    the window group-limit optimization.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("o_orderpriority", "o_orderkey")
    )


@query(
    "agg_top_freq",
    oracle="""
    WITH counts AS (
        SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, o_orderpriority AS top_priority, n
    FROM counts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                               ORDER BY n DESC, o_orderpriority ASC) = 1
    ORDER BY c_mktsegment
    """,
)
def agg_top_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent order priority per market
    segment (count desc, value asc tie-break).

    Spark's ``F.mode`` is tie-nondeterministic, so the hash-stable form
    is count + rank-1 — the same reason the reference's Athena SQL would
    use a ranked subquery over Presto's arbitrary-tie ``max_by``. The
    count agg collapses to |segments| x |priorities| rows before the
    window, so the rank runs on a trivially small frame at any scale.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("top_priority"),
            "n",
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_approx_quantile_bounds",
    oracle="""
    SELECT o_orderpriority,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice),
                 2) AS exact_p50,
           TRUE AS approx_in_bounds
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median (one-pass quantile sketch) with its accuracy
    contract value-checked — the sketch twin of ``agg_percentiles``.

    ``approx_percentile`` estimates carry a rank-error guarantee but the
    raw value is engine- and merge-order-specific, so the hash-matched
    surface is the PROPERTY: the estimate must lie within the exact
    interpolated quantiles at 0.5 ± 0.01 (vastly wider than the sketch's
    default 1e-4 rank error — the slack absorbs partial-merge order
    wobble, scale changes, and disc-vs-cont convention gaps; a sketch
    regression that actually matters still fails loudly). The exact p50
    anchors the oracle alongside. At 100 TB the approximate form is the
    right default: fixed memory, single pass, mergeable across
    partitions; the exact one is the audit anchor.
    """
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5)).alias("approx_p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("exact_p50"),
        F.percentile("o_totalprice", F.lit(0.49)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.51)).alias("hi"),
    )
    return agg.select(
        "o_orderpriority",
        "exact_p50",
        (
            (F.col("approx_p50") >= F.col("lo"))
            & (F.col("approx_p50") <= F.col("hi"))
        ).alias("approx_in_bounds"),
    )


@query(
    "sample_hash_uniform",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           CAST(rn AS INT) AS sample_rank
    FROM (
        SELECT o_orderstatus, o_orderkey,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 5
    """,
)
def sample_hash_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform k-per-group sample via hash ranking: order
    each group by md5(key) — a uniform pseudo-random permutation both
    engines compute identically — and keep the first 5.

    The reproducible alternative to ``TABLESAMPLE``/``rand()`` sampling
    (same rows on every run, every engine, any partitioning). Catalyst
    plans the rn<=5 filter as WindowGroupLimit: each task keeps only its
    local top-5 per group BEFORE the shuffle, so the exchange carries
    k rows per (task, group), not the table.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 5)
    )


@query(
    "topn_with_other",
    oracle="""
    WITH counts AS (
        SELECT p_brand, COUNT(*) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, p_brand ASC) AS rnk
        FROM part
        GROUP BY p_brand
    )
    SELECT CASE WHEN rnk <= 3 THEN p_brand ELSE 'OTHER' END AS brand_group,
           CAST(SUM(n) AS BIGINT) AS n_parts,
           CAST(COUNT(*) AS BIGINT) AS n_brands
    FROM counts
    GROUP BY 1
    """,
)
def topn_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N categories with an OTHER rollup — the reporting pattern that
    keeps dashboards readable when the long tail has thousands of values.

    The expensive aggregate (per-category counts) happens once on the
    fact scan; ranking and the OTHER relabel run on the tiny counts
    frame, so the second aggregate is |categories| rows. Deterministic
    tie-break (count desc, name asc) keeps the N-th/(N+1)-th boundary
    stable across runs.
    """
    p = table(spark, sf_dir, "part")
    counts = p.groupBy("p_brand").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("p_brand").asc())
    labeled = counts.withColumn("rnk", F.row_number().over(w)).withColumn(
        "brand_group",
        F.when(F.col("rnk") <= 3, F.col("p_brand")).otherwise(F.lit("OTHER")),
    )
    return labeled.groupBy("brand_group").agg(
        F.sum("n").alias("n_parts"),
        F.count("*").alias("n_brands"),
    )


WSAMPLE_K = 25  # weighted sample size


@query(
    "sample_weighted_topk",
    oracle=f"""
    WITH keyed AS (
        SELECT c_custkey, c_acctbal,
               -LN(
                   (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13))
                         AS UBIGINT) + 1.0) / 4503599627370497.0
               ) / GREATEST(c_acctbal, 1.0) AS exp_key
        FROM customer
    )
    SELECT c_custkey, c_acctbal
    FROM keyed
    ORDER BY exp_key ASC, c_custkey ASC
    LIMIT {WSAMPLE_K}
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sample without replacement (Efraimidis–
    Spirakis via exponential race): each row draws a reproducible
    uniform from the md5 of its key, its exponential arrival time is
    −ln(u)/weight, and the k smallest arrivals ARE a weighted sample —
    balance-proportional here. One TakeOrdered over the scan: no
    shuffle, no global sort, identical rows on every engine and rerun
    (the md5-derived uniform replaces `rand()`, whose seed semantics
    don't survive engine boundaries or repartitioning).

    The 52-bit hash prefix maps to u ∈ (0, 1] via (h+1)/2⁵²⁺¹-ish
    denominator so ln never sees 0. Cross-engine float note: ln() rides
    each libm's last ulp, but a rank flip needs two arrival times
    within ~1e-16 of each other — P ≈ n²·ulp, negligible, and the
    id tie-break makes equal keys deterministic anyway.
    """
    c = table(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4503599627370497.0)
    exp_key = -F.log(u) / F.greatest(F.col("c_acctbal"), F.lit(1.0))
    return (
        c.select("c_custkey", "c_acctbal", exp_key.alias("exp_key"))
        .orderBy(F.col("exp_key").asc(), F.col("c_custkey").asc())
        .limit(WSAMPLE_K)
        .select("c_custkey", "c_acctbal")
    )


@query(
    "agg_percentile_disc",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC,
                                           o_orderkey ASC) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
        WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority,
           MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                    THEN o_totalprice END) AS p25,
           MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                    THEN o_totalprice END) AS p50,
           MIN(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                    THEN o_totalprice END) AS p90,
           MIN(CASE WHEN rn = n THEN o_totalprice END) AS p100
    FROM ranked
    GROUP BY o_orderpriority
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (PERCENTILE_DISC semantics): the smallest
    actual value whose cumulative rank reaches p — always a value that
    EXISTS in the data, unlike the interpolated PERCENTILE_CONT family
    (agg_percentiles). The distinction matters whenever the column is a
    real object (a price that was charged, a latency that happened):
    SLAs and price-band reports quote existing values, not synthetic
    midpoints.

    Implemented from the definition — the smallest value whose
    cumulative count reaches ceil(p*n) — via the TWO-PHASE
    value-collapsed selection (windows.grouped_percentile_disc): the
    5-value priority key makes the naive keyed rank window a
    one-task-per-fifth-of-the-table sort at scale, while percentiles
    need only VALUES, so the collapse + bounded bucket windows give
    the identical numbers with every sorting partition bounded. Exact
    by construction (integer counts, no float comparisons); equal
    prices collapse to one value row so both engines pick the same
    value without a row tiebreak. NULL prices are dropped before n is
    counted, as SQL's PERCENTILE_DISC does; a NULL priority is a group.
    """
    from dataengineeringutils_spark.operators.windows import (
        grouped_percentile_disc,
        sampled_cuts,
        table_rows,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    cuts = sampled_cuts(spark, sf_dir, "orders_price_cuts", o, "o_totalprice")
    pd = grouped_percentile_disc(
        o, ["o_orderpriority"], "o_totalprice", cuts,
        [0.25, 0.50, 0.90, 1.0],
        n_rows=table_rows(spark, sf_dir, "orders"),
    )
    def pick(p: float, name: str):
        return F.min(F.when(F.col("p") == p, F.col("v"))).alias(name)

    return pd.groupBy("o_orderpriority").agg(
        pick(0.25, "p25"), pick(0.50, "p50"), pick(0.90, "p90"),
        pick(1.0, "p100"),
    )


@query(
    "sample_topk_hash_per_group",
    oracle="""
    SELECT lang, doc_id, rk
    FROM (
        SELECT lang, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS rk
        FROM documents
    )
    WHERE rk <= 5
    """,
)
def sample_topk_hash_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-K per-group sample: for every language, the
    5 documents ranked first under an md5 identity hash — the
    reservoir-sample replacement for training-data curation. Unlike
    rand()-based sampling it is REPRODUCIBLE across runs and engines,
    append-stable (a new doc displaces at most one sampled doc), and
    unlike a global rate sample (``sample_hash_uniform``) it guarantees
    exactly K rows per stratum however skewed the group sizes are —
    eval-set construction per language/source without a giant group
    starving a small one.

    One keyed window (rank per lang over the hash order) — partitions
    are per-group, never global, and the filter collapses each to K
    rows before anything else reads them. The same idiom at 100 TB:
    per-partition top-K then per-group merge, no full sort.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "lang", "doc_id", F.row_number().over(w).cast("int").alias("rk")
        )
        .filter(F.col("rk") <= 5)
    )


@query(
    "sql_pipe_syntax_query",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4.0's ``|>`` operators, from the
    SQL-has-problems-we-can-fix-them line of work): the Q1 pricing
    summary written as a linear FROM → WHERE → AGGREGATE chain instead
    of the inside-out SELECT nesting. Each ``|>`` stage parses to
    exactly the relational operator it names, so the optimized plan is
    IDENTICAL to the classic form — the oracle (classic SQL on DuckDB)
    pinning the values proves the two surfaces are one engine.
    """
    for t in ("lineitem",):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '2000-09-01'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE) AS sum_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2))))
                          AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        """
    ).select("l_returnflag", "l_linestatus", "n", "sum_qty", "revenue")


@query(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
    FROM orders
    WHERE o_totalprice >= 150000.0
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4.x): named ``:param`` markers bound
    server-side as TYPED LITERALS — the injection-safe path for every
    templated query a scheduler stamps out per tenant/date — plus
    PySpark's ``{df}`` DataFrame interpolation, which threads a Python
    DataFrame into SQL text without registering a global temp view
    (no cross-session name collisions, no cleanup). Parameters reach
    Catalyst as literals BEFORE optimization, so partition pruning and
    constant folding see them exactly like hand-inlined constants.
    """
    import datetime

    o = table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM {o}
        WHERE o_totalprice >= :min_price
          AND o_orderdate >= :since
        GROUP BY o_orderstatus, o_orderpriority
        """,
        args={
            "min_price": 150000.0,
            "since": datetime.datetime(1996, 1, 1),
        },
        o=o,
    )


# Poisson(1) inverse-CDF thresholds pre-scaled to the 16-bit uniform and
# hex-encoded: u > CDF_k on the v/65536 uniform is exactly the 4-hex-char
# LEXICOGRAPHIC compare slice >= hex(floor(CDF_k*65536)+1) — no base
# conversion, no division, identical string semantics on both engines.
# Weights cap at 7 (P(X > 7) ~ 1e-5 at lambda=1; tail mass lands on w=7).
_POIS_HEX = ("5e2e", "bc5b", "eb72", "fb24", "ff11", "ffda", "fffb")
_POIS_W = " + ".join(
    f"(CASE WHEN u >= '{h}' THEN 1 ELSE 0 END)" for h in _POIS_HEX
)
# Spark-side integer form of the same thresholds (u parsed from the hex
# slice): integer compare == lexicographic compare on fixed-width
# lowercase hex, so results are bit-identical to the oracle's string form
_POIS_W_INT = " + ".join(
    f"(CASE WHEN u >= {int(h, 16)} THEN 1 ELSE 0 END)" for h in _POIS_HEX
)
_BOOT_R = 16

# sd of the R replicate means from 1e-6-quantized integer sums
_BOOT_MEAN = "(CAST(sm AS DOUBLE) / 1e6 / r)"
_BOOT_SE = (
    "SQRT((CAST(smm AS DOUBLE) / 1e12 - "
    "(CAST(sm AS DOUBLE) / 1e6) * (CAST(sm AS DOUBLE) / 1e6) / r) / (r - 1))"
)


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(range(0, {_BOOT_R})) AS r),
    hashed AS (
        SELECT md5(CAST(o_orderkey AS VARCHAR) || '_a') AS h0,
               md5(CAST(o_orderkey AS VARCHAR) || '_b') AS h1,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders
    ),
    weighted AS (
        SELECT r,
               substr(CASE WHEN r < 8 THEN h0 ELSE h1 END,
                      (r % 8) * 4 + 1, 4) AS u,
               x
        FROM hashed CROSS JOIN reps
    ),
    means AS (
        SELECT r,
               CAST(SUM(({_POIS_W}) * x) AS DOUBLE)
                   / SUM({_POIS_W}) AS m
        FROM weighted GROUP BY r
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS r,
               CAST(SUM(CAST(FLOOR(m * 1e6) AS BIGINT)) AS BIGINT) AS sm,
               SUM(CAST(FLOOR(m * 1e6) AS DECIMAL(38,0))
                   * CAST(FLOOR(m * 1e6) AS BIGINT)) AS smm
        FROM means
    ),
    pt AS (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) AS point_mean
        FROM orders
    )
    SELECT r AS n_replicates,
           ROUND(point_mean, 6) AS point_mean,
           ROUND({_BOOT_SE}, 6) AS boot_se,
           ROUND(point_mean - 1.96 * {_BOOT_SE}, 6) AS ci_lo,
           ROUND(point_mean + 1.96 * {_BOOT_SE}, 6) AS ci_hi
    FROM agg CROSS JOIN pt
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP standard error of the mean order value — the
    bootstrap that actually distributes: instead of resampling n rows
    with replacement (which needs global coordination), every row draws
    an independent Poisson(1) weight per replicate, one streaming pass
    computes all replicates, and no row ever leaves its partition. The
    draw is DETERMINISTIC (inverse-CDF on a 16-bit uniform sliced from
    two per-row md5 digests — 2 hashes serve all 16 replicates), so
    engines and reruns agree bit-for-bit — a seeded RNG per task would
    be partition-layout-dependent.

    {_BOOT_R} replicates form in one map-only fan-out (a 16-element
    grid cross, no shuffle of payloads) and collapse map-side to
    |replicates| exact-DECIMAL sums; replicate means quantize at 10⁻⁶
    into int64 so the SE arithmetic is order-independent shared text.
    """
    # Fixture tables are single parquet files -> one scan partition, and
    # everything up to the 16-group partial agg is map-side: spread rows
    # first (measured 1.6 -> 0.62 s at sf0.1; size-gated, so a
    # multi-split table keeps its parallel scan and no exchange).
    o = spread(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # two md5 digests per ROW (not per draw): each 32-hex digest carries
    # eight independent 16-bit slices, so the 16 replicate uniforms cost
    # 2 hashes instead of 16 — the hash is the hot path at 16x fan-out.
    # All 16 slices parse to INTS once per row (conv base-16) and the
    # fan-out explodes the int array: the per-replicate path is integer
    # compares only — measured (round-6 scale-stress) this holds the
    # steady state at ~0.85 s/run on a 10x fixture where the old
    # per-replicate substr + 8-way string-CASE chain ran 1.1-1.4 s and
    # baited multi-run JIT recompile storms. Lexicographic 4-hex compare
    # == integer compare, so the DuckDB oracle keeps the string form.
    hashed = o.select(
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("_a")))
        .alias("h0"),
        F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("_b")))
        .alias("h1"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    slices = [
        F.conv(
            F.expr(f"substr(h{j // 8}, {(j % 8) * 4 + 1}, 4)"), 16, 10
        ).cast("int")
        for j in range(_BOOT_R)
    ]
    weighted = hashed.select(
        F.posexplode(F.array(*slices)).alias("r", "u"), "x"
    )
    means = weighted.groupBy("r").agg(
        F.expr(
            f"CAST(SUM(({_POIS_W_INT}) * x) AS DOUBLE) / SUM({_POIS_W_INT})"
        ).alias("m")
    )
    agg = means.agg(
        F.count("*").cast("bigint").alias("r"),
        F.sum(F.floor(F.col("m") * F.lit(1e6)).cast("bigint"))
        .cast("bigint")
        .alias("sm"),
        F.sum(
            F.floor(F.col("m") * F.lit(1e6)).cast("decimal(38,0)")
            * F.floor(F.col("m") * F.lit(1e6)).cast("bigint")
        ).alias("smm"),
    )
    pt = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("point_mean")
    )
    return agg.crossJoin(F.broadcast(pt)).select(
        F.col("r").alias("n_replicates"),
        F.round("point_mean", 6).alias("point_mean"),
        F.expr(f"ROUND({_BOOT_SE}, 6)").alias("boot_se"),
        F.expr(f"ROUND(point_mean - 1.96 * {_BOOT_SE}, 6)").alias("ci_lo"),
        F.expr(f"ROUND(point_mean + 1.96 * {_BOOT_SE}, 6)").alias("ci_hi"),
    )


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(start, cur, d) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT start, cur // 10, d + 1 FROM walk WHERE cur > 0
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (
        SELECT start, MAX(CASE WHEN cur = 0 THEN d END) AS depth
        FROM walk GROUP BY start
    )
    GROUP BY 1
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE execution (Spark 4.0's ``WITH RECURSIVE``):
    the ancestor-chain walk over the synthetic parent(k) = k div 10
    hierarchy runs as one SQL statement INSIDE the engine — each
    recursion step is a planned iteration over the previous frontier,
    no driver loop, no manual checkpointing. The complement of
    ``hierarchy_depth_doubling``, which resolves the same chains in
    O(log d) pointer-doubling rounds when the engine lacks recursion
    (or when d is deep enough that log-rounds beat linear recursion);
    both produce the identical depth histogram, pinned by the same
    recursive oracle.
    """
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE walk(start, cur, d) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT start, cur div 10, d + 1 FROM walk WHERE cur > 0
        )
        SELECT CAST(depth AS INT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM (
            SELECT start, MAX(CASE WHEN cur = 0 THEN d END) AS depth
            FROM walk GROUP BY start
        )
        GROUP BY 1
        """
    )
