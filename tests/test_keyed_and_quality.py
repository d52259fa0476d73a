"""Interface-level tests for round-2 additions: KeyedTable MERGE-upsert,
as-of tolerance/carry knobs, and the DQ expectation suite actually
catching planted violations (not just passing on clean data)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dataengineeringutils_spark.keyed import KeyedTable
from dataengineeringutils_spark.operators.asof import asof_join
from dataengineeringutils_spark.paths import scratch_dir


def _df(spark, pdf):
    return spark.createDataFrame(pd.DataFrame(pdf))


def test_keyed_table_upsert_keeps_latest_and_inserts(spark):
    kt = KeyedTable(
        spark, scratch_dir("test_kt_a"), keys=["k"], order_by=["v"]
    )
    kt.upsert(_df(spark, {"k": [1, 1, 2], "v": [10, 20, 5]}))
    state1 = {(r.k, r.v) for r in kt.current().collect()}
    assert state1 == {(1, 20), (2, 5)}  # within-batch dedup keeps winner
    # batch 2: update key 1 (higher v), stale row for key 2 (ignored),
    # brand-new key 3 (inserted)
    kt.upsert(_df(spark, {"k": [1, 2, 3], "v": [30, 1, 7]}))
    state2 = {(r.k, r.v) for r in kt.current().collect()}
    assert state2 == {(1, 30), (2, 5), (3, 7)}


def test_keyed_table_current_before_commit_raises(spark):
    kt = KeyedTable(spark, scratch_dir("test_kt_b"), keys=["k"], order_by=["v"])
    try:
        kt.current()
        raise AssertionError("expected ValueError before first upsert")
    except ValueError:
        pass


def _asof_fixture(spark):
    left = _df(
        spark,
        {
            "k": [1, 1, 1],
            "lts": pd.to_datetime(
                ["2020-01-01 10:00", "2020-01-01 12:00", "2020-01-01 09:00"]
            ),
        },
    )
    right = _df(
        spark,
        {
            "k": [1, 1],
            "rts": pd.to_datetime(["2020-01-01 09:30", "2020-01-01 11:00"]),
            "tag": ["early", "late"],
        },
    )
    return left, right


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(
        left.withColumn("ts", F.col("lts")),
        right.withColumn("ts", F.col("rts")),
        by="k",
        left_ts="ts",
        right_ts="ts",
        payload=["tag"],
        tolerance=F.expr("INTERVAL 45 MINUTES"),
    )
    got = {r.lts.strftime("%H:%M"): r.asof_tag for r in out.collect()}
    # 10:00 matches 09:30 (gap 30m <= 45m); 12:00's nearest is 11:00
    # (gap 60m > 45m -> nulled); 09:00 has no match at all
    assert got == {"10:00": "early", "12:00": None, "09:00": None}


def test_asof_carry_first_picks_earliest(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(
        left.withColumn("ts", F.col("lts")),
        right.withColumn("ts", F.col("rts")),
        by="k",
        left_ts="ts",
        right_ts="ts",
        payload=["tag"],
        carry="first",
    )
    got = {r.lts.strftime("%H:%M"): r.asof_tag for r in out.collect()}
    # at 12:00 both rights are in range: "last" would pick 11:00/late,
    # carry="first" must pick 09:30/early
    assert got["12:00"] == "early"
    assert got["10:00"] == "early"
    assert got["09:00"] is None


def test_dq_expectations_catch_planted_violations(spark, sf_dir):
    # run the same rule expressions against a frame with known breakage
    bad = _df(
        spark,
        {
            "o_orderkey": [1, 1, 2],  # dup key
            "o_custkey": [10, None, 12],  # null
            "o_totalprice": [-5.0, 100.0, 100.0],  # non-positive
            "o_orderpriority": ["1-URGENT", "9-BOGUS", "2-HIGH"],  # domain
        },
    )
    row = bad.agg(
        F.sum((~(F.col("o_totalprice") > 0)).cast("long")).alias("v_price"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("v_null"),
        F.sum(
            (~F.col("o_orderpriority").isin(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )).cast("long")
        ).alias("v_dom"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("v_uniq"),
    ).collect()[0]
    assert (row.v_price, row.v_null, row.v_dom, row.v_uniq) == (1, 1, 1, 1)


def test_keyed_table_attach_recovers_version_frontier(spark):
    base = scratch_dir("test_kt_attach")
    kt = KeyedTable(spark, base, keys=["k"], order_by=["v"])
    kt.upsert(_df(spark, {"k": [1, 2], "v": [10, 5]}))   # v0
    kt.upsert(_df(spark, {"k": [1, 3], "v": [30, 7]}))   # v1
    # a fresh process attaches to the same path and sees both versions
    kt2 = KeyedTable.attach(spark, base, keys=["k"], order_by=["v"])
    assert kt2._version == 1
    v0 = {(r.k, r.v) for r in kt2.at_version(0).collect()}
    v1 = {(r.k, r.v) for r in kt2.at_version(1).collect()}
    assert v0 == {(1, 10), (2, 5)}
    assert v1 == {(1, 30), (2, 5), (3, 7)}
    # attaching to an empty/nonexistent path behaves like a new table
    kt3 = KeyedTable.attach(
        spark, scratch_dir("test_kt_attach_empty"), keys=["k"], order_by=["v"]
    )
    assert kt3._version == -1


def test_keyed_table_compact_keeps_a_bounded_history(spark, sf_dir):
    """Each call commits a compaction; the op keeps the two upserts and
    the latest compaction only, and every call still equals the oracle."""
    import os

    from dataengineeringutils_spark.artifacts import session_name
    from dataengineeringutils_spark.registry import oracle_sql, queries
    from tools.verify_local import canon_frame, duck_connect

    name = "keyed_table_compact"
    want = canon_frame(duck_connect(sf_dir).execute(oracle_sql()[name]).fetchdf())
    for _ in range(3):
        assert canon_frame(queries()[name](spark, sf_dir).toPandas()) == want
    path = scratch_dir(session_name(("keyed_compact", sf_dir)))
    # earlier calls in the same Spark session may have committed more compactions
    versions = sorted(
        int(e.removeprefix("state_v"))
        for e in os.listdir(path)
        if e.startswith("state_v")
    )
    assert len(versions) == 3 and versions[:2] == [0, 1], versions
