"""Seeded benchmark input: K key-disjoint copies of the sf0.1 fixture.

``fixture/`` holds byte-identical copies of the ten sf0.1 tables that the
repository's bench and scale-stress test read (FIXTURES.md, TESTDATA.md);
``fixture/SHA256SUMS`` lists their digests and is checked before use.

Scaling follows the scale-stress construction (``tests/test_scale_stress.py``,
``_build_scaled``): copy ``i`` shifts its key columns, rotates the document
alphabet and adds a cosine jitter to the embeddings, so the scaled corpus
keeps the near-duplicate density of the original instead of holding K
exact copies of every document. It differs in two ways:

- every copy's rotation and jitter, the first copy's included, is drawn
  from the seed, so two seeds differ even at K=1; the rotations of one
  input are distinct, so no two copies share a document text;
- keys shift by the size of their key domain (one more than the largest
  key the fixture holds in any column of the domain), not by 10**7, so
  copy ``i`` continues where copy ``i - 1`` ends and the K copies have
  contiguous keys from 0, as the fixture has. With a 10**7 shift the
  ancestors ``k div 10`` of a shifted customer key are not customer keys,
  a key set the fixture never has; ``hierarchy_depth_doubling`` follows
  only ancestors present in ``customer`` while its oracle follows
  ``k div 10`` arithmetically, so the two disagree on such a key set.

Each table is written as one single-row-group parquet file, the shape of
the fixture files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
# key columns that join with each other shift together
DOMAINS = {
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "events": [("events", "event_id")],
    "documents": [("documents", "doc_id"), ("embeddings", "vec_id")],  # multimodal: doc_id = vec_id
}
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def fixture_tables() -> dict[str, pa.Table]:
    """The fixture's tables, after checking them against SHA256SUMS."""
    out = {}
    with open(os.path.join(FIXTURE, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            path = os.path.join(FIXTURE, name)
            with open(path, "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise ValueError(f"{path} does not match SHA256SUMS")
            out[name.removesuffix(".parquet")] = pq.read_table(path)
    return out


def _shifts(base: dict[str, pa.Table]) -> dict[tuple[str, str], int]:
    """Per (table, column): the shift of one copy, its key domain's size."""
    out = {}
    for cols in DOMAINS.values():
        span = 1 + max(pc.max(base[t][c]).as_py() for t, c in cols)
        out |= {tc: span for tc in cols}
    return out


def _copy(tbl: pa.Table, name: str, i: int, shifts: dict, rot: int, amp: float,
          phase: float) -> pa.Table:
    """Copy ``i`` of one table: keys shifted, text rotated, vectors jittered."""
    for (t, col), span in shifts.items():
        if t == name:
            j = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(j, col, pc.add(tbl[col], i * span))
    if name == "documents":
        table = str.maketrans(ALPHA, ALPHA[rot:] + ALPHA[:rot])
        j = tbl.schema.get_field_index("text")
        tbl = tbl.set_column(
            j, "text", pa.array([s.translate(table) for s in tbl["text"].to_pylist()])
        )
    if name == "embeddings":
        emb = tbl["embedding"].combine_chunks()
        values = emb.flatten().to_numpy()
        lengths = np.diff(emb.offsets.to_numpy())
        pos = np.arange(len(values)) - np.repeat(emb.offsets.to_numpy()[:-1], lengths)
        jittered = (values + amp * np.cos(pos + phase)).astype(np.float32)
        j = tbl.schema.get_field_index("embedding")
        tbl = tbl.set_column(j, tbl.schema.field(j), pa.ListArray.from_arrays(
            emb.offsets, pa.array(jittered), type=emb.type
        ))
    return tbl


def generate(out_dir: str, seed: int, k: int) -> str:
    """Write the (seed, k) input to ``out_dir`` (skipped when already
    complete) and return it. Built under a temporary name and renamed
    into place, so a half-written input is never used."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    base = fixture_tables()
    shifts = _shifts(base)
    rng = np.random.default_rng(seed)
    rots = rng.choice(len(ALPHA), k, replace=False)
    jitter = rng.uniform([0.005, 0.0], [0.02, 2 * np.pi], (k, 2))
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in base.items():
        if name not in ("region", "nation"):
            tbl = pa.concat_tables(
                _copy(tbl, name, i, shifts, int(rots[i]), *jitter[i]) for i in range(k)
            )
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(f"seed={seed} k={k}\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
