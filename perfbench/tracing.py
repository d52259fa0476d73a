"""Instrumentation for the traced run.

Three sources, all kept in memory until the run ends:

- spans recorded by wrappers the benchmark installs around the program's
  layer boundaries (``tables.table``, ``artifacts.*_artifact``, the public
  ``txnlog.LogTable`` methods). They are installed before
  ``registry.queries()`` imports the operator modules, because those
  modules bind ``table`` at import time;
- a sampler thread that reads the resident memory of the process tree
  from /proc;
- Spark's event log (enabled through ``PYSPARK_SUBMIT_ARGS``), read after
  the session stops, which carries per-task executor metrics, job groups
  and streaming progress.

Every op execution runs under its own job group, so jobs are attributed
to the execution that launched them; jobs started by Spark's own threads
(streaming micro-batches run under the query's run id) fall back to the
execution whose wall-clock window contains their submission.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import os
import threading
import time

import procfs

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.current: int | None = None  # exec id of the op execution running
        self._depth = threading.local()

    def add(self, layer: str, t0: float, t1: float, **extra) -> None:
        self.spans.append({"layer": layer, "exec": self.current, "t0": t0, "t1": t1, **extra})

    def _outermost(self, key: str, layer: str, fn, count=None):
        """Wrap ``fn`` so its outermost call on a thread becomes a span.
        ``count`` (optional) is read before and after the call; the span
        keeps the difference as ``built``."""

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            depth = getattr(self._depth, key, 0)
            setattr(self._depth, key, depth + 1)
            n0 = count() if count else 0
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                setattr(self._depth, key, depth)
                if depth == 0:
                    extra = {"built": count() - n0} if count else {}
                    self.add(layer, t0, time.perf_counter(), **extra)

        return wrapper

    def install(self) -> None:
        from dataengineeringutils_spark import artifacts, tables, txnlog

        tables.table = self._outermost("tables", "tables.table", tables.table)
        n_builds = lambda: len(artifacts.build_log())  # noqa: E731
        for name in ("json_artifact", "df_artifact", "dir_artifact"):
            setattr(artifacts, name, self._outermost(
                "artifacts", "artifacts." + name, getattr(artifacts, name), n_builds
            ))
        log_table = txnlog.LogTable
        for name, fn in list(vars(log_table).items()):
            if callable(fn) and not name.startswith("_"):
                setattr(log_table, name, self._outermost("txnlog", "txnlog." + name, fn))
        commit = log_table._commit

        @functools.wraps(commit)
        def counted_commit(*a, **kw):
            out = commit(*a, **kw)
            self.add("txnlog.commit", 0.0, 0.0)
            return out

        log_table._commit = counted_commit


class RssSampler(threading.Thread):
    """Peak summed resident memory per process kind of the tree."""

    def __init__(self, root: int, period_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.period_s = period_s
        self.peak_mb = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            now = {k: 0.0 for k in self.peak_mb}
            for pid in procfs.tree(self.root):
                now[procfs.kind(pid, self.root)] += procfs.rss_mb(pid)
            for k, v in now.items():
                self.peak_mb[k] = max(self.peak_mb[k], v)
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def _lines(paths):
    for path in paths:
        with open(path) as fh:
            yield from fh


def _epoch_ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def read_event_log(log_dir: str, execs: list[dict]) -> dict:
    """Fold the event log into per-exec-id Spark counters.

    ``execs`` holds one record per op execution with ``id``, ``wall0`` and
    ``wall1`` (epoch seconds). Returns ``{"per_exec": {id: counters},
    "failed_tasks": n}``.
    """
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (int(f.split("_")[1]), os.path.join(d, f))
        for d, _, names in os.walk(log_dir) for f in names if f.startswith("events_")
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    starts = [e["wall0"] * 1000 for e in execs]
    by_id = {e["id"]: e for e in execs}

    def exec_at(ms: float) -> int | None:
        i = bisect.bisect_right(starts, ms) - 1
        if i >= 0 and ms <= execs[i]["wall1"] * 1000:
            return execs[i]["id"]
        return None

    counters = (
        "jobs", "eager_jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
        "spill_bytes", "shuffle_write", "shuffle_read", "input_bytes",
        "output_bytes", "batches", "batch_ms", "commit_ms",
    )
    per_exec = {e["id"]: dict.fromkeys(counters, 0) | {"peak_mem": 0} for e in execs}
    stage_exec: dict[int, int] = {}
    failed_tasks = 0
    for line in _lines(f for _, f in files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(GROUP_PREFIX):
                eid = int(group[len(GROUP_PREFIX):])
            else:
                eid = exec_at(ev["Submission Time"])
            if eid is None:
                continue
            c = per_exec[eid]
            c["jobs"] += 1
            if ev["Submission Time"] <= by_id[eid]["build1"] * 1000:
                c["eager_jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_exec.setdefault(sid, eid)
        elif kind == "SparkListenerStageCompleted":
            eid = stage_exec.get(ev["Stage Info"]["Stage ID"])
            if eid is not None:
                per_exec[eid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Task End Reason"]["Reason"] != "Success":
                failed_tasks += 1
            eid = stage_exec.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if eid is None or not m:
                continue
            c = per_exec[eid]
            c["tasks"] += 1
            c["run_ms"] += m["Executor Run Time"]
            c["cpu_ns"] += m["Executor CPU Time"]
            c["gc_ms"] += m["JVM GC Time"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
            c["peak_mem"] = max(c["peak_mem"], m["Peak Execution Memory"])
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = ev["progress"]
            eid = exec_at(_epoch_ms(p["timestamp"]))
            if eid is None:
                continue
            d = p.get("durationMs") or {}
            c = per_exec[eid]
            c["batches"] += 1
            c["batch_ms"] += d.get("triggerExecution", 0)
            c["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
    return {"per_exec": per_exec, "failed_tasks": failed_tasks}
