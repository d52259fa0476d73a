"""Expected panel results from the registry's DuckDB oracles.

Each panel op's ``registry.oracle_sql()`` query runs on DuckDB over the
generated input. Results are put in the canonical form of the
repository's correctness gate, ``tools/verify_local.py``, whose
``canon_frame`` is imported, so the benchmark's check and the gate
compare the same way: sorted column names, cells normalised across
engines, rows sorted by ``repr``, exact comparison. Expected results are
computed once per generated input and cached next to it, outside every
measured phase.
"""

from __future__ import annotations

import os
import pickle

from tools.verify_local import canon_frame, duck_connect

__all__ = ["canon_frame", "diff", "expected"]


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            cells = [f"{c}: {x!r} vs {y!r}" for c, x, y in zip(gc, a, b) if x != y]
            return f"row {i}: " + "; ".join(cells[:3])
    return None


def expected(input_dir: str, ops: list[str], oracles: dict[str, str], path: str) -> dict:
    """``{op: canonical result}`` for the panel, cached at ``path`` and
    recomputed for any op whose oracle SQL changed since."""
    cached: dict = {}
    if os.path.exists(path):
        with open(path, "rb") as fh:
            cached = pickle.load(fh)
    stale = [op for op in ops if cached.get(op, {}).get("sql") != oracles[op]]
    if not stale:
        return {op: cached[op]["result"] for op in ops}
    con = duck_connect(input_dir)
    try:
        for op in stale:
            result = canon_frame(con.execute(oracles[op]).fetchdf())
            cached[op] = {"sql": oracles[op], "result": result}
    finally:
        con.close()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(cached, fh)
    os.replace(tmp, path)
    return {op: cached[op]["result"] for op in ops}
