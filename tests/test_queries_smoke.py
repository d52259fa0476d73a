"""Smoke tier (t1): every declared query runs at sf0.001 and returns a
stable schema. The full DuckDB-oracle gate is tools/verify_local.py
(t2, sf0.01) — this tier catches plan regressions fast."""

from __future__ import annotations

import pytest

from dataengineeringutils_spark.registry import oracle_sql, queries

QS = queries()


@pytest.mark.parametrize("name", sorted(QS))
def test_query_runs(spark, sf_dir, name):
    df = QS[name](spark, sf_dir)
    rows = df.limit(5).collect()
    assert df.columns, f"{name}: no columns"
    # rows may legitimately be 0 for some filters at sf0.001; schema must hold
    for r in rows:
        assert len(r) == len(df.columns)


def test_every_oracle_has_query():
    assert set(oracle_sql()) <= set(QS)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_bench_loop_survives_a_failing_query(spark, sf_dir):
    """Round-6 regression (VERDICT #1): ONE flaky query nulled the whole
    driver bench artifact. The timing loop must isolate per-query
    failures — record the error, keep timing everything else, and still
    produce valid stats."""
    from bench import time_queries

    calls = {"n": 0}

    def always_raises(spark_, sf_dir_):
        raise RuntimeError("injected failure")

    def flaky_then_ok(spark_, sf_dir_):
        calls["n"] += 1
        if calls["n"] == 1:
            # message matches the round-6 flake class → retried once
            raise RuntimeError(
                "Timed out while waiting for the Python worker to "
                "connect back (SocketTimeoutException)"
            )
        return QS["scan_parquet"](spark_, sf_dir_)

    qs = {
        "good": QS["scan_parquet"],
        "bad": always_raises,
        "flaky": flaky_then_ok,
    }
    per_query, errors = time_queries(spark, qs, sf_dir, repeat=1)
    assert set(per_query) == {"good", "flaky"}  # flaky recovered via retry
    assert set(errors) == {"bad"}
    assert "injected failure" in errors["bad"]
    assert all(v >= 0 for v in per_query.values())


def test_bench_transient_classifier():
    from bench import _is_transient

    assert _is_transient(
        RuntimeError("Timed out while waiting for the Python worker to connect back")
    )
    assert _is_transient(RuntimeError("java.net.SocketTimeoutException"))
    assert not _is_transient(ValueError("column not found"))

    # Round-7 ADVICE: broad wrapper names must NOT classify as transient —
    # a deterministic streaming failure deserves its first error message,
    # not a wasted retry that overwrites it.
    class StreamingQueryException(RuntimeError):
        pass

    assert not _is_transient(
        StreamingQueryException("query terminated: column not found")
    )
    assert not _is_transient(ConnectionResetError("Connection reset by peer"))


def test_bench_window_line_is_capped_when_carried_names_overflow():
    """The carried-forward window grows every round; once its names
    alone pass the cap they are cut too, fastest first, so the printed
    line still fits a 2000-char stdout capture."""
    import json

    from bench import fit_window

    per_query = {f"carried_forward_op_{i:03d}": 0.01 * (i + 1) for i in range(120)}
    prev_window = list(per_query)

    def line(sel):
        return json.dumps({"queries": sel}, separators=(",", ":"))

    assert len(line({n: per_query[n] for n in prev_window})) > 1900
    sel = fit_window(per_query, prev_window, line)
    assert len(line(sel)) <= 1900
    kept = sorted(per_query, key=per_query.get)[-len(sel):]
    assert set(sel) == set(kept)  # the slowest survive
