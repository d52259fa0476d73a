"""Every registered op that starts a streaming query equals its DuckDB
oracle on the Tier-1 fixture.

The full gate (``tools/verify_local.py``) runs at sf0.01; a small
fixture moves watermarks and event-time edges enough to expose emission
bugs that sf0.01 hides (a lagging input once held the outer join's
global watermark below its settled cut at sf0.001 only).
"""

from __future__ import annotations

import inspect
import re

import pytest

from dataengineeringutils_spark.registry import oracle_sql, queries
from tools.verify_local import canon_frame, duck_connect

STREAMING_OPS = [
    "stream_dedup_state",
    "stream_incremental_checkpoint",
    "stream_outer_join_watermark",
    "stream_python_queue_source",
    "stream_session_append",
    "stream_stateful_counter",
    "stream_static_join",
    "stream_stream_join",
    "stream_txn_idempotent_sink",
    "stream_upsert_latest",
    "stream_watermark_late",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connect(sf_dir)


@pytest.mark.parametrize("name", STREAMING_OPS)
def test_streaming_op_matches_oracle(spark, sf_dir, duck, name):
    got = canon_frame(queries()[name](spark, sf_dir).toPandas())
    want = canon_frame(duck.execute(oracle_sql()[name]).fetchdf())
    assert got[0] == want[0], (name, got[0], want[0])
    assert len(got[1]) == len(want[1]), (name, len(got[1]), len(want[1]))
    bad = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
    assert not bad, (name, len(bad), bad[:3])


def test_list_covers_every_op_that_starts_a_stream():
    starts = {
        name
        for name, fn in queries().items()
        if re.search(
            r"\b(run_streaming|run_to_memory|run_available_now)\(",
            inspect.getsource(fn),
        )
    }
    assert starts == set(STREAMING_OPS), starts ^ set(STREAMING_OPS)
