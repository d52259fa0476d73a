"""The stats-driven plan switch (windows.TWO_PHASE_MIN_ROWS) must never
change ANSWERS: for every op converted by the round-7 low-cardinality-
window audit, the direct-window small path and the bucketed two-phase
path are run on the same fixture and compared cell-exactly. The oracle
gate checks whichever path the fixture size selects; this test pins the
OTHER path against it.

It also pins the one range-bucket policy behind those paths: cuts come
only from ``windows.sampled_cuts``, bucket ids only from
``windows.bucket_expr``, NULL values follow SQL, and an artifact that
stores per-bucket statistics follows the cuts it was built from.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest
from pyspark.sql import functions as F

import dataengineeringutils_spark.operators.windows as W
from dataengineeringutils_spark.registry import oracle_sql, queries
from tools.verify_local import canon_frame, duck_connect

PKG = os.path.dirname(os.path.dirname(os.path.abspath(W.__file__)))

CONVERTED = [
    "agg_percentile_disc",
    "dq_outlier_iqr_fences",
    "dq_fanout_profile",
    "events_value_qq_table",
    "interval_max_concurrent",
    "dataset_interleave_shards",
    "text_pack_sequences",
    "win_range_frame",
    "events_ks_two_sample",
    "orders_abc_migration",
]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("name", CONVERTED)
def test_two_phase_equals_direct(spark, sf_dir, name, monkeypatch):
    fn = queries()[name]
    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 10**12)
    direct = _rows(fn(spark, sf_dir))
    monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    two_phase = _rows(fn(spark, sf_dir))
    assert direct == two_phase, (
        f"{name}: two-phase path diverges from direct path "
        f"(first direct={direct[:2]}, first two_phase={two_phase[:2]})"
    )


# A group with NULL values: SQL percentiles count only the non-NULL ones.
NULL_ROWS = [
    ("a", 1.0), ("a", 3.0), ("a", 5.0), ("a", None), ("a", None),
    ("b", 2.0), ("b", None), ("b", 4.0),
]
PS = [0.25, 0.5, 0.75, 0.9, 1.0]


@pytest.mark.parametrize("path", ["direct", "two_phase"])
def test_percentile_disc_ignores_nulls_like_duckdb(spark, path):
    df = spark.createDataFrame(NULL_ROWS, "g string, v double")
    got = sorted(
        (r["g"], r["p"], r["v"])
        for r in W.grouped_percentile_disc(
            df, ["g"], "v", [2.0, 4.0], PS,
            n_rows=0 if path == "direct" else None,
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", NULL_ROWS)
    want = sorted(
        (g, p, v)
        for p in PS
        for g, v in con.execute(
            f"SELECT g, quantile_disc(v, {p}) FROM t GROUP BY g"
        ).fetchall()
    )
    assert got == want


def test_bucket_expr_puts_null_in_bucket_zero(spark):
    """``bucket_range(b)`` selects exactly the rows ``bucket_expr`` puts
    in bucket b, NULL and the cut values themselves included."""
    cuts = [0.5, 5.0]
    df = spark.createDataFrame(
        [(None,), (0.5,), (1.0,), (5.0,), (9.0,)], "v double"
    ).withColumn("b", W.bucket_expr(F.col("v"), cuts))
    assert sorted(r["b"] for r in df.collect()) == [0, 0, 1, 1, 2]
    for b in range(len(cuts) + 1):
        picked = df.filter(W.bucket_range(F.col("v"), cuts, b)).collect()
        assert picked and {r["b"] for r in picked} == {b}
        assert len(picked) == df.filter(F.col("b") == b).count()


def _defs(tree):
    """(enclosing top-level function name, node) for every node of
    ``tree``."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            top = fn is None and isinstance(child, ast.FunctionDef)
            name = child.name if top else fn
            yield name, child
            yield from walk(child, name)
    yield from walk(tree, None)


def test_one_range_bucket_policy():
    """approxQuantile is called only in ``sampled_cuts``, and only
    ``bucket_expr`` loops over a cut list; the deleted per-op copies
    stay deleted."""
    quantile_calls, cut_loops, stale = [], [], []
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                src = fh.read()
            for name in ("_dist_cuts", "bucketed_running_sums"):
                if name in src:
                    stale.append((fn, name))
            for owner, node in _defs(ast.parse(src)):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "approxQuantile"
                ):
                    quantile_calls.append((fn, owner))
                if isinstance(node, (ast.For, ast.comprehension)) and any(
                    isinstance(n, ast.Name) and "cut" in n.id
                    for n in ast.walk(node.iter)
                ):
                    cut_loops.append((fn, owner))
    assert quantile_calls == [("windows.py", "sampled_cuts")]
    assert cut_loops == [("windows.py", "bucket_expr")]
    assert not stale


def test_weighted_median_follows_swapped_cuts(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Per-bucket artifacts carry the digest of their cuts: serving the
    op, then swapping its cuts in the same artifact root, must rebuild
    the bucket weights and targets rather than pair new cuts with stale
    ones."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_ROOT", str(tmp_path))
    name = "agg_weighted_median"
    want = canon_frame(duck_connect(sf_dir).execute(oracle_sql()[name]).fetchdf())
    op = queries()[name]
    assert canon_frame(op(spark, sf_dir).toPandas()) == want
    real = W.sampled_cuts

    def every_other(*args):
        return real(*args)[::2]

    monkeypatch.setattr(W, "sampled_cuts", every_other)
    assert canon_frame(op(spark, sf_dir).toPandas()) == want


def _null_copy(sf_dir, out, tbl, every):
    """A copy of the fixture in ``out`` whose ``tbl`` column c is NULL
    on every ``every[c]``-th row; the other tables link to ``sf_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dataengineeringutils_spark.tables import TABLES

    for t in TABLES:
        if t != tbl:
            os.symlink(f"{sf_dir}/{t}.parquet", out / f"{t}.parquet")
    data = pq.read_table(f"{sf_dir}/{tbl}.parquet")
    for col, n in every.items():
        i = data.schema.get_field_index(col)
        field = data.schema.field(i)
        mask = pa.array(np.arange(data.num_rows) % n == 0)
        nulled = pc.if_else(mask, pa.scalar(None, field.type), data.column(i))
        data = data.set_column(i, field, nulled)
    pq.write_table(data, out / f"{tbl}.parquet")
    return str(out)


def _matches_oracle(spark, sf_dir, name):
    from tools.verify_local import compare

    issues, _ = compare(
        name,
        queries()[name](spark, sf_dir).toPandas(),
        duck_connect(sf_dir).execute(oracle_sql()[name]).fetchdf(),
    )
    assert not issues, (name, issues)


@pytest.mark.parametrize(
    "name, tbl, col",
    [
        ("win_distribution", "orders", "o_orderstatus"),
        ("agg_median_twophase", "orders", "o_orderstatus"),
        ("agg_weighted_median", "lineitem", "l_returnflag"),
    ],
)
def test_two_phase_offsets_keep_a_null_group(
    spark, sf_dir, tmp_path, monkeypatch, name, tbl, col
):
    """The offset joins match a NULL group key to its own offsets, so
    its rows stay, as DuckDB's GROUP BY / PARTITION BY keeps them."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_ROOT", str(tmp_path / "arts"))
    (tmp_path / "sf").mkdir()
    nulls = _null_copy(sf_dir, tmp_path / "sf", tbl, {col: 13})
    _matches_oracle(spark, nulls, name)


@pytest.mark.parametrize("path", ["direct", "two_phase"])
def test_percentile_disc_op_drops_null_prices_like_its_oracle(
    spark, sf_dir, tmp_path, monkeypatch, path
):
    """PERCENTILE_DISC ignores NULL values: the op's oracle ranks and
    counts only non-NULL prices, as the op does on both paths; a NULL
    priority is a group of its own on both paths."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_ROOT", str(tmp_path / "arts"))
    if path == "two_phase":
        monkeypatch.setattr(W, "TWO_PHASE_MIN_ROWS", 0)
    (tmp_path / "sf").mkdir()
    nulls = _null_copy(
        sf_dir, tmp_path / "sf", "orders",
        {"o_totalprice": 11, "o_orderpriority": 17},
    )
    _matches_oracle(spark, nulls, "agg_percentile_disc")
