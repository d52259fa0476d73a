"""Similarity results are exact, not approximately right.

- ``np_cosine`` (the numpy kernel the LSH re-rank and the exact top-k
  nomination score with) returns the same doubles as Spark's
  ``cosine()``, bit for bit, so moving the scoring into an Arrow kernel
  cannot reorder a top-k.
- k-means keeps matching its oracle when a seed cluster empties: an
  emptied cluster has no centroid and must not win the argmin.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataengineeringutils_spark.operators.similarity import cosine, np_cosine
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
