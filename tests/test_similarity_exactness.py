"""Similarity results are exact, not approximately right.

- ``np_cosine`` (the numpy kernel the LSH re-rank and the exact top-k
  nomination score with) returns the same doubles as Spark's
  ``cosine()``, bit for bit, so moving the scoring into an Arrow kernel
  cannot reorder a top-k.
- k-means keeps matching its oracle when a seed cluster empties: an
  emptied cluster has no centroid and must not win the argmin.
- Every embedding kernel crosses into Python through one Arrow
  boundary (``_arrow_kernel``) and reads its vectors with
  ``_arrow_matrix``, which refuses a column no matrix can hold.
"""

from __future__ import annotations

import ast
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import dataengineeringutils_spark.operators.similarity as sim
from dataengineeringutils_spark.operators.similarity import (
    _arrow_matrix,
    cosine,
    np_cosine,
)
from dataengineeringutils_spark.registry import oracle_sql, queries
from dataengineeringutils_spark.tables import table


def test_np_cosine_is_bit_identical_to_spark_cosine(spark, sf_dir):
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    e = table(spark, sf01, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    rows = (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id", "embedding", "q_emb",
            cosine("embedding", "q_emb").alias("cos_sim"),
        )
        .collect()
    )
    assert len(rows) == 500 * 20
    got = np_cosine(
        np.array([r["embedding"] for r in rows], dtype=np.float32),
        np.array([r["q_emb"] for r in rows], dtype=np.float32),
    )
    want = np.array([r["cos_sim"] for r in rows], dtype=np.float64)
    differ = got.view(np.int64) != want.view(np.int64)
    assert not differ.any(), f"{differ.sum()} of {len(rows)} pairs differ"


def test_kmeans_emptied_cluster_never_wins_argmin(spark, tmp_path):
    # vec_ids 0 and 1 seed clusters 0 and 1 with the same vector; the
    # distance tie breaks on cid, so iteration 0 leaves cluster 1 empty
    vecs = [
        [1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [-1.0, 0.0],
        [0.0, -1.0], [0.9, 0.1], [-0.2, 0.8],
    ]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }),
        tmp_path / "embeddings.parquet",
    )
    got = queries()["sim_kmeans_lloyd"](spark, str(tmp_path)).collect()
    assert 1 not in {r["cluster_id"] for r in got}, got
    assert sum(r["n_members"] for r in got) == len(vecs)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    want = con.execute(oracle_sql()["sim_kmeans_lloyd"]).fetchall()
    assert [tuple(r) for r in got] == want


def test_arrow_matrix_is_the_stacked_float64_matrix():
    rows = np.random.default_rng(3).standard_normal((5, 64)).astype(np.float32)
    col = pa.array(list(rows), pa.list_(pa.float32()))
    want = np.stack(list(rows)).astype(np.float64)
    got = _arrow_matrix(col.slice(1))
    assert got.dtype == np.float64
    assert (got.view(np.int64) == want[1:].view(np.int64)).all()


@pytest.mark.parametrize(
    "lists",
    [
        [[0.5] * 64, None, [0.5] * 64, [0.5] * 64],
        [[0.5] * 64, [0.5] * 63, [0.5] * 64, [0.5] * 65],
    ],
    ids=["null_list", "ragged_lists"],
)
def test_arrow_matrix_rejects_what_a_matrix_cannot_hold(lists):
    col = pa.array(lists, pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="embedding"):
        _arrow_matrix(col)


def _top_defs(tree):
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def test_embedding_kernels_share_one_arrow_boundary():
    """``_arrow_kernel`` is the only ``mapInArrow`` call and the only BLAS
    cap in the module, no ``mapInPandas`` is left, and every kernel it
    runs reads its vectors through ``_arrow_matrix``, never ``np.stack``."""
    with open(sim.__file__) as fh:
        src = fh.read()
    assert "mapInPandas" not in src
    tops = _top_defs(ast.parse(src))
    crossings, kernels = [], []
    for owner, fn in tops.items():
        nested = {
            n.name: n for n in ast.walk(fn) if isinstance(n, ast.FunctionDef)
        }
        for call in (n for n in ast.walk(fn) if isinstance(n, ast.Call)):
            f = call.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name in ("cap_blas_threads", "mapInArrow"):
                crossings.append((name, owner))
            if name == "_arrow_kernel":
                k = call.args[1].id
                kernels.append((owner, nested.get(k) or tops[k]))
    assert sorted(crossings) == [
        ("cap_blas_threads", "_arrow_kernel"),
        ("mapInArrow", "_arrow_kernel"),
    ]
    assert len(kernels) == 10, [(o, k.name) for o, k in kernels]
    for owner, k in kernels:
        names = {
            getattr(n, "id", None) or getattr(n, "attr", None)
            for n in ast.walk(k)
        }
        assert "stack" not in names, (owner, k.name)
        assert names & {"_arrow_matrix", "_block_gemm_topk"}, (owner, k.name)
