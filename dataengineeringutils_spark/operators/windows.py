"""Window-function operators (B25-B29) + sort/limit (B30).

Every window is partitioned (never a global ORDER BY over the whole table):
at 100 TB an unpartitioned window funnels everything through one task.
All orderings include a unique tie-break key so ranks, frames, and running
sums are fully deterministic — required for the cross-engine value-hash
and just as necessary for reproducible pipelines at scale.

Reference locus: Athena/Presto SQL passthrough,
[R] dataengineeringutils/athena.py (SURVEY.md §0/§2.B).
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineeringutils_spark.exprs import MONEY, money_sum, o_money_sum
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import table


@query(
    "win_rank_topk",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           o_totalprice,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    QUALIFY rn <= 3
    """,
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25: top-3 orders per customer (rank / dense_rank / row_number).

    Top-k per group via window + filter: Catalyst pushes a per-partition
    limit (WindowGroupLimit) so each task keeps only k rows per key before
    the shuffle — the canonical scalable top-k-per-group plan.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26: cumulative spend per customer over order date.

    The accumulator is exact decimal (order-independent) then cast to
    double, so the running values hash-match DuckDB bit-for-bit.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(MONEY)).over(w).cast("double").alias("running_spend"),
    )


@query(
    "win_lead_lag",
    oracle="""
    SELECT event_id,
           user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def win_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27: per-user inter-event gap (microseconds, exact integer math)
    and next event type."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ev = table(spark, sf_dir, "events")
    micros = F.unix_micros("ts")
    return ev.select(
        "event_id",
        "user_id",
        (micros - F.lag(micros).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           o_totalprice,
           COUNT(*) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice
               RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
           ) AS n_near
    FROM orders
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28: RANGE frame — orders within +-1000 of each order's totalprice,
    per status.

    TWO-PHASE probe-union form (round-7 audit): the status key has 3
    values, so the direct ``RANGE BETWEEN`` window sorts a third of the
    table on one task at any scale. A value-range count decomposes into
    two cumulative lookups — n_near = #{v <= p+1000} - #{v < p-1000} —
    so each row emits two zero-weight PROBES at its frame boundaries,
    probes and data merge into one stream ordered by (value, side)
    (lo-probes before equal data rows: strict <; hi-probes after:
    inclusive <=), and ONE bucketed running count
    (``keyed_two_phase``, sorting partitions bounded by cached price
    cuts) prices every probe. Identical numbers — both engines compute
    the frame boundaries with the same double arithmetic — with no
    unbounded sort."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if table_rows(spark, sf_dir, "orders") < two_phase_min_rows():
        # stats-driven small path (see TWO_PHASE_MIN_ROWS): the direct
        # RANGE window; per-status sorts are small here and the
        # probe-union triples the row count
        w = (
            Window.partitionBy("o_orderstatus")
            .orderBy(F.col("o_totalprice"))
            .rangeBetween(-1000, 1000)
        )
        return o.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.count("*").over(w).alias("n_near"),
        )
    cuts = sampled_cuts(
        spark, sf_dir, "orders_price_cuts", o, "o_totalprice"
    )
    nul = F.lit(None).cast("long")
    data = o.select(
        "o_orderstatus",
        F.col("o_totalprice").alias("v"),
        F.lit(0).alias("side"),
        F.lit(1).alias("delta"),
        nul.alias("okey"),
        F.lit(None).cast("double").alias("p"),
    )
    hi = o.select(
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("v"),
        F.lit(1).alias("side"),
        F.lit(0).alias("delta"),
        F.col("o_orderkey").cast("long").alias("okey"),
        F.col("o_totalprice").alias("p"),
    )
    lo = o.select(
        "o_orderstatus",
        (F.col("o_totalprice") - F.lit(1000.0)).alias("v"),
        F.lit(-1).alias("side"),
        F.lit(0).alias("delta"),
        F.col("o_orderkey").cast("long").alias("okey"),
        F.col("o_totalprice").alias("p"),
    )
    u = data.unionByName(hi).unionByName(lo).withColumn(
        "bkt", bucket_expr(F.col("v"), cuts)
    )
    run = keyed_two_phase(
        u,
        ["o_orderstatus"],
        [F.col("v").asc(), F.col("side").asc()],
        "cum",
        weight=F.col("delta"),
        n_rows=3 * table_rows(spark, sf_dir, "orders"),
    )
    hi_r = run.filter(F.col("side") == 1).select(
        "okey", "o_orderstatus", "p", F.col("cum").alias("c_hi")
    )
    lo_r = run.filter(F.col("side") == -1).select(
        F.col("okey").alias("okey2"), F.col("cum").alias("c_lo")
    )
    return hi_r.join(lo_r, F.col("okey") == F.col("okey2")).select(
        F.col("okey").alias("o_orderkey"),
        "o_orderstatus",
        F.col("p").alias("o_totalprice"),
        (F.col("c_hi") - F.col("c_lo")).alias("n_near"),
    )


# Stats-driven plan switch for the keyed two-phase windows: below this
# input-row count the direct keyed window wins (its single sort is
# small and the two-phase machinery's extra aggregate + broadcast join
# costs more than it saves — measured 2-3x at sf0.1); above it the
# bounded-bucket plan is mandatory (a 3-5-value partition key puts a
# fixed fraction of the table on ONE sorting task). Same decision
# discipline as Catalyst's size-based broadcast-vs-sort-merge choice.
# Read at call time, so a test can monkeypatch it to force either path.
TWO_PHASE_MIN_ROWS = 500_000


def two_phase_min_rows() -> int:
    return TWO_PHASE_MIN_ROWS


def table_rows(spark, sf_dir: str, tbl: str) -> int:
    """Fixture-persisted row count (parquet count-star: metadata only)."""
    from dataengineeringutils_spark.artifacts import json_artifact
    from dataengineeringutils_spark.tables import table as _t

    return json_artifact(
        sf_dir, f"rows_{tbl}", lambda: _t(spark, sf_dir, tbl).count()
    )


def table_distinct(spark, sf_dir: str, tbl: str, col: str) -> int:
    """Fixture-persisted APPROX distinct count of one column — the
    cardinality proxy for two-phase switches whose windowed frame is a
    value-collapsed projection of the table (round-10 ADVICE: switching
    on raw table rows pays the two-phase machinery even when the
    collapsed frame is orders of magnitude smaller). One map-combined
    HLL pass (approx_count_distinct), no shuffle of the values; ±5%
    error is irrelevant to a 500k-row threshold decision."""
    from dataengineeringutils_spark.artifacts import json_artifact
    from dataengineeringutils_spark.tables import table as _t

    return json_artifact(
        sf_dir,
        f"adistinct_{tbl}_{col}",
        lambda: _t(spark, sf_dir, tbl)
        .agg(F.approx_count_distinct(col).alias("n"))
        .collect()[0]["n"],
    )


def join_null_safe(df: DataFrame, small: DataFrame, keys: list[str]) -> DataFrame:
    """Inner join of ``df`` to the broadcast ``small`` frame on ``keys``,
    matching NULL to NULL (``<=>``): GROUP BY and PARTITION BY keep a
    NULL group, so a two-phase operator's rows must meet that group's
    per-bucket offsets too. Columns come out as ``df.join(small, keys)``
    orders them: ``keys``, then ``df``'s, then ``small``'s."""
    rest = [c for c in small.columns if c not in keys]
    right = small.select(*[F.col(k).alias(f"__r_{k}") for k in keys], *rest)
    cond = [F.col(k).eqNullSafe(F.col(f"__r_{k}")) for k in keys]
    return df.join(F.broadcast(right), cond).select(
        *keys, *[c for c in df.columns if c not in keys], *rest
    )


def keyed_two_phase(
    df: DataFrame,
    groups: list[str],
    order_cols: list,
    out: str,
    *,
    weight: Column | None = None,
    n_rows: int | None = None,
    total: str | None = None,
) -> DataFrame:
    """Exact per-``groups`` running window WITHOUT low-cardinality
    sorting tasks — the KEYED generalization of
    ``two_phase_global_rank`` for the class the skew gate structurally
    misses: a window partitioned on a 3-5-value key puts a fixed
    fraction of the fact table on ONE sorting task, yet its stage has
    too few tasks for a task-time-share gate to fire (round-7 audit).

    ``df`` must already carry an int ``bkt`` column monotone
    non-decreasing in the FIRST order column (see ``bucket_expr`` —
    equal first-key rows must share a bucket). Appends ``out`` =
    ROW_NUMBER within (groups) under ``order_cols`` (``weight=None``)
    or the inclusive running SUM of ``weight`` — computed as a
    per-(groups, bkt) window plus broadcast per-bucket offsets from a
    tiny (|groups| x |buckets|) aggregate. One extra map-combined
    aggregate replaces the unbounded per-group sort; every sorting
    partition is bounded by the cut spacing at any scale. ``total``
    names an optional output holding the group's row count (or weight
    sum), read off the same aggregate.

    ``n_rows`` (the caller's cheap metadata count of the input) drives
    the stats-based plan switch: below ``TWO_PHASE_MIN_ROWS`` the
    direct keyed window is used instead — identical numbers, no extra
    machinery (see the constant's comment).
    """
    metric = F.count(F.lit(1)) if weight is None else F.sum(weight)
    w_grp = Window.partitionBy(*groups)
    if n_rows is not None and n_rows < two_phase_min_rows():
        w = w_grp.orderBy(*order_cols)
        if weight is None:
            df = df.withColumn(out, F.row_number().over(w).cast("long"))
        else:
            w = w.rowsBetween(Window.unboundedPreceding, 0)
            df = df.withColumn(out, F.sum(weight).over(w))
        return df if total is None else df.withColumn(total, metric.over(w_grp))
    bw = df.groupBy(*groups, "bkt").agg(metric.alias("__bw"))
    w_cum = (
        Window.partitionBy(*groups)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bw.select(
        *groups,
        "bkt",
        F.coalesce(F.sum("__bw").over(w_cum), F.lit(0)).alias("__off"),
        *([F.sum("__bw").over(w_grp).alias(total)] if total else []),
    )
    joined = join_null_safe(df, offsets, [*groups, "bkt"])
    if weight is None:
        w_loc = Window.partitionBy(*groups, "bkt").orderBy(*order_cols)
        local = F.row_number().over(w_loc).cast("long")
    else:
        w_loc = (
            Window.partitionBy(*groups, "bkt")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = F.sum(weight).over(w_loc)
    return joined.withColumn(out, F.col("__off") + local).drop("__off")


# The range-bucket policy of every two-phase operator, in one place.
# Cuts only balance buckets, never answers, so they come from a seeded
# sample; the relative error sits below the 1/32 bucket spacing. The
# bucket count grows with the rows (max(32, rows/1M), at most 4096), so
# no bucket of a 100 TB table holds more than ~1M rows however few
# group values there are. It is a function of the data alone, never of
# the cluster, so a persisted cut list is the same on every machine.
def sampled_cuts(
    spark, sf_dir: str, name: str, df: DataFrame, col: str
) -> list:
    """Range-partition cuts for numeric ``col`` of ``df``, persisted per
    fixture as ``cuts_<name>``: ``name`` must identify the frame and
    column, because the first build is served to every later caller.
    The only place a two-phase operator's cuts are computed."""
    from dataengineeringutils_spark.artifacts import json_artifact

    def build() -> list:
        n = df.count()
        buckets = max(32, min(4096, -(-n // 1_000_000)))
        qs = [i / buckets for i in range(1, buckets)]
        sample = df.sample(0.1, seed=7)
        return sorted(set(sample.approxQuantile(col, qs, 0.01)))

    return json_artifact(sf_dir, f"cuts_{name}", build)


def bucket_expr(value: Column, cuts: list) -> Column:
    """Bucket id of ``value``: the number of ``cuts`` below it, as
    chained codegen comparisons. Ids are monotone in ``value`` and rows
    equal on ``value`` share a bucket, so any order whose FIRST key is
    ``value`` is preserved across buckets. NULL goes to bucket 0: under
    ASC Spark orders NULLs first and bucket 0 is ranked first, under
    DESC NULLs last and bucket 0 is ranked last, so a NULL row is
    neither dropped by a join on the bucket id nor misplaced."""
    b = F.lit(0)
    for c in cuts:
        b = b + (value > F.lit(c)).cast("int")
    return F.coalesce(b, F.lit(0))


def bucket_range(value: Column, cuts: list, b: int) -> Column:
    """``bucket_expr(value, cuts) == b`` as a range predicate that the
    parquet reader can prune row groups with: bucket ``b`` is the
    interval (cuts[b-1], cuts[b]], and bucket 0 also holds NULL."""
    lo = value > F.lit(cuts[b - 1]) if b >= 1 else None
    hi = value <= F.lit(cuts[b]) if b < len(cuts) else None
    if lo is None:
        return F.lit(True) if hi is None else (hi | value.isNull())
    return lo if hi is None else (lo & hi)


def cuts_tag(cuts: list) -> str:
    """Short digest of a cut list. An artifact that stores bucket ids or
    per-bucket statistics carries it in its name: the artifact cache
    stamps each entry with the module of its own builder, not with the
    module that computed the cuts, so without the tag a cut-policy edit
    would pair new cuts with stale buckets."""
    return hashlib.sha1(json.dumps(cuts).encode()).hexdigest()[:8]


def grouped_percentile_disc(
    df: DataFrame,
    groups: list[str],
    value_col: str,
    cuts: list,
    ps: list[float],
    out: str = "v",
    n_rows: int | None = None,
) -> DataFrame:
    """Exact per-``groups`` PERCENTILE_DISC at each p in ``ps`` WITHOUT
    a per-group row sort: (1) collapse to (groups, value) counts — the
    percentile needs only VALUES, so row-level tiebreaks are
    irrelevant; (2) bucket the collapsed frame on ``cuts`` (equal
    values co-bucketed by construction, so massive tie classes never
    split); (3) a tiny (groups x buckets) weight aggregate locates,
    per (group, p), the single bucket whose cumulative count crosses
    k = ceil(p*n); (4) a bounded per-bucket running count selects the
    smallest value with cumulative count >= k. Returns one row per
    (groups, p): columns ``groups + ["p", out]``.

    Replaces the ``row_number over low-cardinality group`` plan whose
    single sorting task holds a fixed fraction of the table at any
    scale (the class the stage-width skew gate cannot see).

    NULL values are dropped before counting, as SQL's PERCENTILE_DISC
    does: n counts only non-NULL values, on both paths.
    """
    df = df.filter(F.col(value_col).isNotNull())
    vc = df.groupBy(*groups, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    grid = df.sparkSession.createDataFrame([(p,) for p in ps], "p double")
    if n_rows is not None and n_rows < two_phase_min_rows():
        # stats-driven small path (see TWO_PHASE_MIN_ROWS): plain keyed
        # windows over the already-collapsed value frame
        w_cum = (
            Window.partitionBy(*groups)
            .orderBy(F.col(value_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_grp = Window.partitionBy(*groups)
        cum = vc.select(
            *groups,
            value_col,
            F.sum("__cnt").over(w_cum).alias("__cum"),
            F.sum("__cnt").over(w_grp).alias("__n"),
        )
        sel = cum.crossJoin(F.broadcast(grid)).filter(
            F.col("__cum")
            >= F.ceil(F.col("p") * F.col("__n")).cast("bigint")
        )
        return sel.groupBy(*groups, "p").agg(F.min(value_col).alias(out))
    vc = vc.withColumn("bkt", bucket_expr(F.col(value_col), cuts))
    bw = vc.groupBy(*groups, "bkt").agg(F.sum("__cnt").alias("__bw"))
    w_cum = (
        Window.partitionBy(*groups)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*groups)
    offsets = bw.select(
        *groups,
        "bkt",
        "__bw",
        F.coalesce(F.sum("__bw").over(w_cum), F.lit(0).cast("bigint")).alias(
            "__off"
        ),
        F.sum("__bw").over(w_grp).alias("__n"),
    )
    targets = (
        offsets.crossJoin(F.broadcast(grid))
        .withColumn("__k", F.ceil(F.col("p") * F.col("__n")).cast("bigint"))
        .filter(
            (F.col("__k") > F.col("__off"))
            & (F.col("__k") <= F.col("__off") + F.col("__bw"))
        )
        .select(*groups, "bkt", "p", "__k", "__off")
    )
    tb = targets.select(*groups, "bkt").distinct()
    w_loc = (
        Window.partitionBy(*groups, "bkt")
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    keys = [*groups, "bkt"]
    cum = join_null_safe(vc, tb, keys).withColumn(
        "__cum", F.sum("__cnt").over(w_loc)
    )
    sel = join_null_safe(cum, targets, keys).filter(
        F.col("__off") + F.col("__cum") >= F.col("__k")
    )
    return sel.groupBy(*groups, "p").agg(F.min(value_col).alias(out))


def two_phase_global_rank(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    cuts: list,
    *,
    descending: bool = False,
    rn_name: str = "rn",
    n_name: str = "n",
    sum_cols: Sequence[str] = (),
    total_names: Sequence[str] = (),
    cum_names: Sequence[str] = (),
) -> DataFrame:
    """Exact global ROW_NUMBER under (``value_col`` dir, ``tie_col`` ASC)
    WITHOUT a single-partition sort, for unpartitioned ranks over
    entity-collapsed frames (RFM ntiles, Gini, Pareto shares).

    (1) rows bucket on the quantile ``cuts`` (``bucket_expr``: cuts only
    balance buckets, never the answer, and NULL values rank as a plain
    window ranks them); (2) a |buckets|-row count aggregate yields
    cumulative offsets in rank direction; (3) row_number runs per
    BUCKET — bounded partitions — and the global rank is local rank +
    broadcast offset. Appends ``rn_name`` (1-based bigint) and
    ``n_name`` (total rows).

    ``sum_cols`` extends the same machinery to GLOBAL SUM windows with
    no extra pass: the per-bucket aggregate also carries SUM(c) for
    each column, and the result gets each column's grand total
    (SUM() OVER ()) under ``total_names`` and, for the columns that
    ``cum_names`` covers, the exact running sum under the same (value
    dir, tie asc) order (SUM() OVER (ORDER BY … ROWS UNBOUNDED
    PRECEDING)) as per-bucket window sum + broadcast offset.
    """
    val = F.col(value_col)
    bcol, ocol = f"__bkt_{rn_name}", f"__off_{rn_name}"
    sums = [f"__s{i}_{rn_name}" for i in range(len(sum_cols))]
    soffs = [f"__soff{i}_{rn_name}" for i in range(len(sum_cols))]
    d = df.withColumn(bcol, bucket_expr(val, cuts))
    counts = d.groupBy(bcol).agg(
        F.count("*").alias("cnt"),
        *[F.sum(c).alias(s) for c, s in zip(sum_cols, sums)],
    )
    # The prefix scan runs IN-PLAN as window sums over the |buckets|-row
    # count aggregate (bounded by len(cuts)+1 by construction), so the
    # whole rank is a single action with no driver collect. That
    # unpartitioned WindowExec is the class
    # tests/test_window_partition_pins.py allowlists and checks.
    border = F.col(bcol).desc() if descending else F.col(bcol).asc()
    w_prev = Window.orderBy(border).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(border).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col(bcol),
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias(ocol),
        F.sum("cnt").over(w_all).alias(n_name),
    ]
    for s, soff, total in zip(sums, soffs, total_names):
        # window sums widen decimal precision; cast back to the
        # aggregate's own sum type so output column types are those of
        # SUM(c). The totals fit by construction: they equal the global
        # SUM the type was widened for.
        sum_dt = counts.schema[s].dataType
        zero = F.lit(0).cast(sum_dt)
        off_cols += [
            F.coalesce(F.sum(s).over(w_prev), zero).cast(sum_dt).alias(soff),
            F.coalesce(F.sum(s).over(w_all), zero).cast(sum_dt).alias(total),
        ]
    offsets = counts.select(*off_cols)
    w_loc = Window.partitionBy(bcol).orderBy(
        val.desc() if descending else val.asc(), F.col(tie_col).asc()
    )
    out = d.join(F.broadcast(offsets), bcol).withColumn(
        rn_name, (F.row_number().over(w_loc) + F.col(ocol)).cast("long")
    )
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for c, soff, name in zip(sum_cols, soffs, cum_names):
        out = out.withColumn(name, F.sum(c).over(w_run) + F.col(soff))
    return out.drop(bcol, ocol, *soffs)


def ntile_closed_form(rn: str, n: str, tiles: int) -> Column:
    """NTILE(``tiles``) as an exact integer closed form of a global rank
    ``rn`` and group size ``n`` (column NAMES): the first (n mod t)
    tiles hold (n div t)+1 rows, the rest (n div t) — bit-identical to
    the window function given a unique ordering, with no window at all.
    """
    big = f"(({n} div {tiles}) + 1)"
    small = f"({n} div {tiles})"
    rem = f"({n} % {tiles})"
    return (
        F.when(
            F.expr(f"{rn} <= {rem} * {big}"),
            F.expr(f"({rn} + {small}) div {big}"),
        )
        .otherwise(
            F.expr(f"{rem} + ({rn} - {rem} * {big} + {small} - 1) div {small}")
        )
        .cast("int")
    )


@query(
    "win_distribution",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29: ntile / percent_rank / cume_dist, scale-safe two-pass form.

    ``PARTITION BY o_orderstatus`` has cardinality 3, so the naive window
    puts a third of the fact table on ONE task — a scale-killer at 100 TB.
    Instead the in-group rank and group size come from
    ``keyed_two_phase`` over price buckets (bounded per-(status,
    bucket) sorts plus broadcast offsets), and ntile/percent_rank/
    cume_dist are exact integer/rational closed forms of (rank, n): with
    a unique ordering they are bit-identical to the window-function
    definitions (and the oracle).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cuts = sampled_cuts(spark, sf_dir, "orders_price_cuts", o, "o_totalprice")
    o = o.withColumn("bkt", bucket_expr(F.col("o_totalprice"), cuts))
    # ONE fact exchange shared by both consumers (guide §2.4): the
    # per-bucket counts and the per-(status, bucket) row_number window
    # both need the rows clustered by (status, bucket), but column
    # pruning specializes the two branches' subtrees so ReusedExchange
    # does not fire and the old plan scanned + bucket-evaluated the fact
    # table twice (the scan is ONE task at fixture scale, so the 33
    # comparisons per row serialized twice). Repartition once and
    # lazily localCheckpoint (the part_demand_classification idiom —
    # recomputed from parquet every call, nothing persists across runs):
    # the counts aggregate and the window then both run exchange-free on
    # the materialized partitions; at scale the shuffle replaces the
    # window's own exchange, so net fact movement is unchanged.
    o = o.repartition("o_orderstatus", "bkt").localCheckpoint(eager=False)
    ranked = keyed_two_phase(
        o,
        ["o_orderstatus"],
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        "rn",
        total="n",
    )
    return ranked.select(
        "o_orderkey",
        "o_orderstatus",
        ntile_closed_form("rn", "n", 4).alias("quartile"),
        F.when(
            F.col("n") > 1,
            (F.col("rn") - 1).cast("double") / (F.col("n") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("pr"),
        (F.col("rn").cast("double") / F.col("n").cast("double")).alias("cd"),
    )


@query(
    "sort_multi_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def sort_multi_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: multi-key sort + LIMIT with a unique tie-break.

    Catalyst compiles this to TakeOrderedAndProject: each task keeps a
    10-row heap and the driver merges — no global sort, O(n) scan at any
    scale.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "win_cumulative_distinct",
    oracle="""
    WITH first_day AS (
        SELECT event_type, user_id,
               MIN(strftime(ts, '%Y-%m-%d')) AS d
        FROM events
        GROUP BY event_type, user_id
    ),
    new_per_day AS (
        SELECT event_type, d, COUNT(*) AS n_new
        FROM first_day GROUP BY event_type, d
    )
    SELECT event_type, d AS day,
           n_new,
           CAST(SUM(n_new) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct_users
    FROM new_per_day
    ORDER BY event_type, day
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct-user count per event type by day — the
    rewrite for ``COUNT(DISTINCT) OVER``, which no engine supports as a
    running window.

    A distinct count is a running SUM of first occurrences: MIN(day) per
    (type, user) marks where each user first counts, a daily aggregate
    collapses that to |types|×|days| rows, and the cumulative window runs
    over THAT tiny frame. The naive alternative — collect_set over an
    expanding window — holds every user id in every frame and dies at
    scale; this shape shuffles events once on (type, user) and windows
    only the aggregate. Day keys are strings on both sides (date-type
    round-trips differ cross-engine).
    """
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("event_type", "user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("d")
    )
    new_per_day = first_day.groupBy("event_type", "d").agg(
        F.count("*").alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        new_per_day.select(
            "event_type",
            F.col("d").alias("day"),
            "n_new",
            F.sum("n_new").over(w).alias("cum_distinct_users"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "win_fill_forward",
    oracle=f"""
    WITH nulled AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type <> 'error' THEN value END AS v
        FROM events
    ), filled AS (
        SELECT user_id, v,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS v_filled
        FROM nulled
    )
    SELECT user_id,
           COUNT(*) FILTER (WHERE v IS NULL AND v_filled IS NOT NULL)
               AS n_filled,
           {o_money_sum('v_filled')} AS sum_filled
    FROM filled
    GROUP BY user_id
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B161: forward-fill (last-observation-carried-forward) per key.

    The timeseries repair primitive: gaps (here: 'error' events, whose
    value reading is treated as missing) inherit the most recent non-null
    value in event order. ``last(ignorenulls=True)`` over a running rows
    frame stays inside the window exec — one shuffle on user_id, no UDF,
    and the frame carries a single scalar of state regardless of gap
    length, so a key with a million-row gap costs the same as one with
    none. Output is aggregated per user (fill count + exact decimal sum
    of the filled series) for hash-stable comparison.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )
    return filled.groupBy("user_id").agg(
        F.count(
            F.when(F.col("v").isNull() & F.col("v_filled").isNotNull(), 1)
        ).alias("n_filled"),
        money_sum("v_filled").alias("sum_filled"),
    )


@query(
    "win_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row median per key — robust smoothing over a rows frame.

    Median is not algebraic (no partial-merge form), so inside a window it
    runs per-frame — but the frame is 7 rows, so per-row cost is constant
    and the whole op is still one user_id shuffle + bounded per-key sort.
    Spark's ``median`` alias refuses explicit frames; the underlying
    ``percentile(x, 0.5)`` accepts them and is the same expression. Even
    frames interpolate the two middle values as (a+b)/2 in both engines —
    a single deterministic double op, rounded to 4 dp by convention.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 4).alias("med7"),
    )


@query(
    "win_pct_change",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               {o_money_sum('o_totalprice')} AS revenue
        FROM orders
        GROUP BY 1
    )
    SELECT month,
           revenue,
           ROUND(
               CAST(revenue - LAG(revenue) OVER (ORDER BY month) AS DOUBLE)
                   / CAST(LAG(revenue) OVER (ORDER BY month) AS DOUBLE),
               6
           ) AS pct_change
    FROM monthly
    """,
)
def win_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue percent change — lag arithmetic on the
    AGGREGATED frame.

    The ORDER BY month window is unpartitioned, which is exactly right
    here: its input is |months| rows (the aggregate collapsed the fact
    table first), so "global window" costs nothing at any scale. Revenue
    sums stay exact DECIMAL; only the final displayed ratio goes through
    double + round.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(money_sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(
            (F.col("revenue") - prev).cast("double") / prev.cast("double"), 6
        ).alias("pct_change"),
    )


TRAIL_US = 3_600_000_000  # 1 hour in microseconds


@query(
    "win_time_range_frame",
    oracle=f"""
    SELECT user_id,
           event_id,
           CAST(n_hour AS BIGINT) AS n_hour,
           CAST(sum_hour AS DOUBLE) AS sum_hour
    FROM (
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_hour,
               SUM(CAST(value AS DECIMAL(18,2))) OVER w AS sum_hour
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY epoch_us(ts)
            RANGE BETWEEN {TRAIL_US} PRECEDING AND CURRENT ROW
        )
    )
    WHERE user_id < 40
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME range frame: per user, count + value sum of all events
    in the trailing hour of each event — the sliding-lookback feature
    (velocity checks, rate features) where a ROWS frame is wrong because
    event density varies.

    The frame bound is expressed on the microsecond epoch so the range
    arithmetic is exact integer comparison on both engines (timestamp
    RANGE frames desugar to exactly this); value sums accumulate in
    DECIMAL so frame-internal ordering can't flip a bit. Partitioned by
    user_id — high cardinality, no skew; one shuffle, sorted once, both
    window aggregates share the frame.
    """
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-TRAIL_US, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.count("*").over(w).alias("n_hour"),
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).alias("s"),
        )
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            F.col("n_hour").cast("bigint").alias("n_hour"),
            F.col("s").cast("double").alias("sum_hour"),
        )
    )


@query(
    "win_running_drawdown",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(run_peak AS DOUBLE) AS run_peak,
           CAST(run_peak - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS drawdown
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(MAX(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DECIMAL(18,2)) AS run_peak
        FROM orders
    )
    WHERE o_custkey < 100
    """,
)
def win_running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown: each order's gap below its customer's
    all-time-high order value to date — the peak-tracking window shape
    (finance drawdowns, high-water-mark billing, record-so-far
    monitoring). A running MAX frame with deterministic (date, key)
    ordering; the subtraction happens in exact decimal. One shuffle on
    the entity key; the frame is computed streaming per partition.
    """
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("o_totalprice").over(w).cast("decimal(18,2)")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            peak.cast("double").alias("run_peak"),
            (peak - F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("drawdown"),
        )
        .filter(F.col("o_custkey") < 100)
    )
