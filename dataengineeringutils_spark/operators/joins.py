"""Join operators (B7-B15): every join shape the reference reaches via
Athena SQL ([R] dataengineeringutils/athena.py passthrough — SURVEY.md §0),
executed natively by Catalyst.

Scale notes (100 TB):
- Equi joins: Catalyst picks broadcast/shuffle-hash/sort-merge from stats;
  AQE re-plans at runtime and splits skewed partitions (skewJoin enabled in
  session.py). Dimension tables (region/nation/part/supplier) are
  broadcast-eligible; fact-fact joins shuffle on the join key once.
- B8 pins an explicit `F.broadcast` hint for the small side — at 100 TB
  lineitem⋈part must NOT shuffle 100 TB of lineitem for a 20 GB dim.
- B14/B15 keep an equality conjunct (same orderkey) so the range/interval
  predicate is only a residual filter on a co-partitioned sort-merge join —
  never a cartesian expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataengineeringutils_spark.exprs import money_sum, o_money_sum
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.session import scoped_conf
from dataengineeringutils_spark.tables import spread, table


@query(
    "join_inner_equi",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS n_orders,
           {o_money_sum('o.o_totalprice')} AS sum_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: orders ⋈ customer ⋈ nation -> per-nation counts/sums."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice").alias("sum_price"))
    )


@query(
    "join_broadcast",
    oracle=f"""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           {o_money_sum('l.l_extendedprice')} AS sum_price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: fact ⋈ small dim with an explicit broadcast hint.

    The hint guarantees a BroadcastHashJoin regardless of stats — the 100 TB
    fact side never shuffles; each executor streams lineitem against an
    in-memory copy of part. Verify: .explain shows BroadcastHashJoin.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), money_sum("l_extendedprice").alias("sum_price"))
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(o.n_orders, 0) AS n_orders
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: customer LEFT JOIN orders — customers with zero orders kept.

    Aggregate-before-join: the order counts are reduced to one row per
    customer *before* the join, so the outer join's build side is small and
    the 0-order customers come from the null-fill path, not a row explosion.
    """
    c = table(spark, sf_dir, "customer")
    per_cust = (
        table(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey", F.coalesce("cnt", F.lit(0)).alias("n_orders")
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(cn.nation, sn.nation) AS nation,
           COALESCE(cn.n_customers, 0) AS n_customers,
           COALESCE(sn.n_suppliers, 0) AS n_suppliers
    FROM (
        SELECT n.n_name AS nation, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ) cn
    FULL OUTER JOIN (
        SELECT n.n_name AS nation, COUNT(*) AS n_suppliers
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ) sn ON cn.nation = sn.nation
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: full outer join of customer-nations vs supplier-nations."""
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cn = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )
    sn = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return cn.join(sn, "nation", "full").select(
        "nation",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: EXISTS — left-semi join never duplicates the left side and only
    ships join keys, so the probe side stays 1 row per match at any scale."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: NOT EXISTS — left-anti join (customers with no large order;
    the filter keeps the result non-empty: every customer has *some*
    order in the fixture)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13: explicit cartesian product (bounded dims only — 5x25)."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "join_theta_range",
    oracle="""
    SELECT l1.l_returnflag AS flag_a,
           l2.l_returnflag AS flag_b,
           COUNT(*) AS n_pairs
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey
     AND l1.l_linenumber < l2.l_linenumber
    GROUP BY l1.l_returnflag, l2.l_returnflag
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: self-join with a range residual on an equi key.

    The `<` predicate rides as a residual on the l_orderkey sort-merge join:
    pairs are generated only within each order's few lineitems, never across
    orders — output is O(sum k_i^2) with tiny k, not O(n^2).

    Round-11 opt (guide §3.1): the MERGE hint pins the sort-merge plan.
    Left unhinted, the planner broadcast the ENTIRE fact table as the
    build side (it fits locally at sf0.1) — a driver collect + hashed
    relation of every lineitem row, measured 2.9x slower than the SMJ,
    whose self-join shuffle is planned once and REUSED for both sides
    (ReusedExchange). At 100 TB a fact-table broadcast is not a plan at
    all; the hinted shape is the only one that scales.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    return (
        l1.join(
            l2.hint("merge"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_linenumber") < F.col("l2.l_linenumber")),
        )
        .groupBy(
            F.col("l1.l_returnflag").alias("flag_a"),
            F.col("l2.l_returnflag").alias("flag_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "join_interval",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderstatus
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: key + interval-containment join (equi key, interval residual)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAY"))
    )
    return li.join(o, cond).groupBy("o_orderstatus").agg(F.count("*").alias("n_items"))


BUCKET_DAYS = 90  # range-blocking granularity for the bucketized interval join


@query(
    "join_range_bucketed",
    oracle="""
    SELECT l.l_orderkey,
           l.l_linenumber,
           COUNT(*) AS n_matching_orders
    FROM lineitem l
    JOIN orders o
      ON o.o_orderdate <= l.l_shipdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
     AND l.l_orderkey % 200 = 0
    GROUP BY l.l_orderkey, l.l_linenumber
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: pure interval predicates (no equi-key) made
    scalable by coarse time-bucket blocking.

    A naive interval-only join is a broadcast-nested-loop — O(n·m) pair
    evaluations. Bucketizing both sides to the interval width (90 days)
    and equi-joining on the bucket id turns it into a hash join: each
    probe row joins its own bucket and the preceding one (every ≤90-day
    window spans at most two 90-day buckets), then the exact interval
    predicate filters residually. Cost drops to O(n + m + matches); the
    bucket id is an AQE-splittable shuffle key. Same technique as
    Databricks' range-join optimization, expressed with public API only.

    Second scale lever, because this query COUNTS matches rather than
    enumerating them: pre-aggregate the build side to one row per
    distinct date before the join. Orders collapse ~60x (sf0.1), so the
    bucket join compares probe rows against day-counts, not raw orders —
    measured 4.6 s -> ~1 s at sf0.1, and at 100 TB it is the difference
    between a |probes| x |orders-in-window| blow-up and |probes| x ~90
    day rows. The residual filter and final sum are unchanged.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    o = table(spark, sf_dir, "orders")
    day = F.lit(86400)
    li_b = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.floor(F.unix_timestamp("l_shipdate") / (day * BUCKET_DAYS)).alias("lb"),
    )
    o_days = o.groupBy("o_orderdate").agg(F.count("*").alias("n_orders"))
    o_b = o_days.withColumn(
        "ob", F.floor(F.unix_timestamp("o_orderdate") / (day * BUCKET_DAYS))
    )
    # probe joins its own bucket and the previous one
    expanded = li_b.withColumn(
        "probe_bucket", F.explode(F.array(F.col("lb"), F.col("lb") - 1))
    )
    j = expanded.join(o_b, F.col("probe_bucket") == F.col("ob")).filter(
        (F.col("o_orderdate") <= F.col("l_shipdate"))
        & (
            F.col("l_shipdate")
            < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
    )
    return j.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("n_orders").alias("n_matching_orders")
    )


@query(
    "join_semi_reduction",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def join_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction: shrink the FACT side with a broadcast
    left-semi on the filtered dimension's keys before the real join.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling only the ~selectivity fraction that can match:
    the semi filter is a broadcast hash probe (no shuffle, no row
    widening), after which the main join's shuffle moves an already-
    reduced fact side. Catalyst does not inject this rewrite for plain
    joins (its runtime bloom filter covers some cases); the explicit
    form is the portable guarantee. Result provably equals the direct
    filtered join (the oracle).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = o.select("o_orderkey")
    li_reduced = li.join(F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi")
    j = li_reduced.join(o, li_reduced.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               NULLIF(c_mktsegment, 'BUILDING') AS seg
        FROM customer WHERE c_custkey <= 2000
    ),
    s AS (
        SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg
        FROM customer
    )
    SELECT COALESCE(c.seg, '<null>') AS seg_key,
           COUNT(*) AS n_matched
    FROM c JOIN s ON c.seg IS NOT DISTINCT FROM s.seg
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>``): NULL keys MATCH each other.

    Plain equality drops every NULL-keyed row from an inner join (NULL =
    NULL is unknown); ``eqNullSafe`` treats NULL as a value, the behavior
    a keyed upsert or dimension lookup with optional keys usually wants.
    Catalyst plans ``<=>`` as a HASHED join key (null-safe equality is
    still an equi-join — no fallback to nested-loop), so the scale story
    is identical to a plain join; the NULL bucket hashes like any other
    key and is the one to watch for skew when optional keys dominate.
    The output coalesces the key for display so neither engine emits a
    NULL group label.
    """
    cust = table(spark, sf_dir, "customer")
    c = cust.filter(F.col("c_custkey") <= 2000).select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
    )
    s = cust.select(
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg2")
    ).distinct()
    j = c.join(s, c.seg.eqNullSafe(s.seg2))
    return j.groupBy(
        F.coalesce(F.col("seg"), F.lit("<null>")).alias("seg_key")
    ).agg(F.count("*").alias("n_matched"))


@query(
    "join_existence_flag",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           COUNT(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           )) AS n_with_orders,
           COUNT(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           )) AS n_without_orders
    FROM customer c
    GROUP BY c.c_nationkey
    """,
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-flag ("mark") join: keep every row, annotate with EXISTS.

    Semi/anti joins partition rows; a mark join keeps them all and adds
    the boolean — the shape behind EXISTS in a SELECT list. Implemented
    as a left join against the DISTINCT probe keys (distinct first, so
    the join's build side is |keys|, not |orders|) with a null-flag
    projection; both counts then come from one pass, instead of running
    a semi and an anti join separately.
    """
    c = table(spark, sf_dir, "customer")
    okeys = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey"))
        .distinct()
        .withColumn("has_order", F.lit(True))
    )
    marked = c.join(okeys, c.c_custkey == okeys.o_custkey, "left").select(
        "c_nationkey", F.coalesce("has_order", F.lit(False)).alias("has_order")
    )
    return marked.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.count(F.when(F.col("has_order"), 1)).alias("n_with_orders"),
        F.count(F.when(~F.col("has_order"), 1)).alias("n_without_orders"),
    )


@query(
    "join_fuzzy_entity_match",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey < 3000
    ),
    dirty AS (
        SELECT c_custkey AS d_key,
               CASE WHEN c_custkey % 2 = 0
                    THEN substr(c_name, 1, 17) || 'X'
                    ELSE substr(c_name, 1, 14) || 'Z' || substr(c_name, 16)
               END AS d_name
        FROM cust
    ),
    scored AS (
        SELECT d.d_key, d.d_name, c.c_custkey, c.c_name,
               levenshtein(d.d_name, c.c_name) AS lev,
               ROW_NUMBER() OVER (
                   PARTITION BY d.d_key
                   ORDER BY levenshtein(d.d_name, c.c_name) ASC,
                            c.c_custkey ASC
               ) AS rn
        FROM dirty d JOIN cust c
          ON levenshtein(d.d_name, c.c_name) <= 1
    )
    SELECT d_key, d_name, c_custkey AS matched_key, lev
    FROM scored WHERE rn = 1 ORDER BY d_key
    """,
)
def join_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution FUZZY JOIN with blocking: deterministically
    corrupted customer names (one substituted character) matched back to
    the clean registry at Levenshtein ≤ 1, best match per dirty row
    (min distance, then min key — ambiguity resolved deterministically,
    e.g. a trailing 'X' legitimately matches ten registry rows).

    Blocking is the whole story at scale: candidates are generated only
    for rows sharing EITHER of two 2-digit key blocks cut from the
    value-bearing tail of the name — an equal-length lev-1 pair differs
    at exactly one site, which can touch at most one block, so the
    two-block union is provably COMPLETE for this threshold (the same
    pigeonhole that makes the SimHash bands exact) while the oracle's
    all-pairs O(n²) edit-distance join never materializes: candidate
    volume is n·(n/10⁴)·2. Distance evaluates only on candidates.
    """
    # bounded registry slice (the blocking math, not the volume, is the
    # demonstration; at sf0.1 the unbounded version pays 3.7M lev calls)
    in_slice = F.col("c_custkey") < 3000
    c = (
        table(spark, sf_dir, "customer")
        .filter(in_slice)
        .select("c_custkey", "c_name")
    )
    # the probe side scans as ONE task (one-row-group fixture file), so
    # the blocked join's lev fan-out would serialize; a size-gated
    # round-robin spread of the dirty side parallelizes every
    # candidate's distance eval
    dirty = spread(spark, sf_dir, "customer").filter(in_slice).select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(F.substring("c_name", 1, 17), F.lit("X")),
        )
        .otherwise(
            F.concat(
                F.substring("c_name", 1, 14),
                F.lit("Z"),
                F.substring("c_name", 16, 3),
            )
        )
        .alias("d_name"),
    )

    def blocks(name):
        return (
            F.substring(name, 15, 2).alias("hA"),
            F.substring(name, 17, 2).alias("hB"),
        )

    # Round-11 opt (guide §2.3): distance-filter each block branch
    # BEFORE any exchange (the old shape shuffled ~180k wide candidate
    # rows through a distinct just to drop most of them one operator
    # later), and fold dedup + best-match into ONE map-combined
    # min(struct(lev, key)) aggregate: a pair matching both blocks
    # contributes the same struct twice and min() absorbs the
    # duplicate, while struct ordering (lev ASC, then key ASC) is
    # exactly the old window's (row_number = 1) selection. One narrow
    # exchange replaces the distinct shuffle + window sort.
    d_b = dirty.select("d_key", "d_name", *blocks(F.col("d_name")))
    c_b = c.select("c_custkey", "c_name", *blocks(F.col("c_name")))
    lev = F.levenshtein("d_name", "c_name")

    def branch(bcol: str) -> DataFrame:
        return (
            d_b.join(
                c_b.withColumnRenamed(bcol, f"{bcol}2"),
                F.col(bcol) == F.col(f"{bcol}2"),
            )
            .select("d_key", "d_name", "c_custkey", lev.alias("lev"))
            .filter(F.col("lev") <= 1)
        )

    scored = branch("hA").unionAll(branch("hB"))
    return (
        scored.groupBy("d_key", "d_name")
        .agg(F.min(F.struct("lev", "c_custkey")).alias("m"))
        .select(
            "d_key",
            "d_name",
            F.col("m.c_custkey").alias("matched_key"),
            F.col("m.lev").alias("lev"),
        )
        .orderBy("d_key")
    )


@query(
    "join_runtime_bloom_filtered",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           {o_money_sum('l.l_extendedprice')} AS sum_price
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_totalprice > 400000) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_runtime_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side join with a RUNTIME BLOOM FILTER: the selective
    dimension filter (high-value orders) is turned into a Bloom filter
    at runtime and pushed into the lineitem scan as a
    ``might_contain(xxhash64(l_orderkey))`` predicate — rows that
    cannot join are dropped BEFORE the shuffle, the row-level sibling
    of dynamic partition pruning (join_dpp_pruned) for un-partitioned
    keys. At 100 TB this is the difference between shuffling the whole
    fact table and shuffling the ~1% that survives the filter.

    The op pins the mechanism, not just the answer: broadcast is
    disabled for the join (a broadcast join already prunes at the hash
    table; bloom matters exactly when the plan must sort-merge) and the
    injection thresholds are opened for fixture scale — on a real
    cluster the defaults (10 GB probe side) gate it to the joins that
    need it. Session confs are restored after planning; results are a
    plain exact aggregate either way (the filter is semantics-free).
    The plan contract (might_contain under the scan) is pinned by
    tests/test_round3_plans.py.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    with scoped_conf(spark, confs):
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        out = joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_lines"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
        # materialize the ANALYZED plan while the confs are active: the
        # runtime filter is injected at optimization time, which happens
        # lazily at action time — so pin it by triggering planning now
        out._jdf.queryExecution().executedPlan()
    return out


@query(
    "join_strategy_hints_equivalence",
    oracle="""
    SELECT strategy, n_regions, CAST(n_orders AS BIGINT) AS n_orders,
           total
    FROM (
        SELECT CAST(COUNT(DISTINCT r.r_name) AS BIGINT) AS n_regions,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name IN ('ASIA', 'EUROPE')
    )
    CROSS JOIN (SELECT UNNEST(['broadcast', 'merge', 'shuffle_hash'])
                AS strategy)
    """,
)
def join_strategy_hints_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOIN STRATEGY HINTS as a correctness contract: the same
    orders→customer→nation→region rollup executed under BROADCAST,
    MERGE (sort-merge), and SHUFFLE_HASH hints must be value-identical
    — physical strategy is Catalyst's business, never the answer's.
    The three labeled rows hash against one oracle result, so a hint
    that changed semantics (or an engine regression where a strategy
    drops rows) fails the gate loudly.

    This is also the documented knob surface: at 100 TB you override
    the planner exactly here — broadcast a dim AQE missized, force
    shuffle-hash where sorts dominate — and this op pins that the
    override is safe.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    out = None
    for strategy in ("broadcast", "merge", "shuffle_hash"):
        j = (
            o.join(c.hint(strategy), o.o_custkey == c.c_custkey)
            .join(n.hint(strategy), c.c_nationkey == n.n_nationkey)
            .join(r.hint(strategy), n.n_regionkey == r.r_regionkey)
        )
        agg = j.agg(
            F.lit(strategy).alias("strategy"),
            F.countDistinct("r_name").cast("bigint").alias("n_regions"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out
