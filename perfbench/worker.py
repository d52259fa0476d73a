"""One isolated benchmark process: set up, run the timed closed loop, check.

Started by ``run.py`` in a fresh process whose environment pins the core
count and gives it a private artifact root and Spark local dirs. One
client thread submits one registry op at a time and waits for it:

1. set-up: session start, registry load, then one untimed pass over the
   panel in seeded order, which also builds every artifact cold into the
   fresh root;
2. timed phase: whole rounds over the panel, each in a seeded shuffled
   order, until ``--seconds`` have passed and at least the workload's
   ``min_rounds`` rounds have run; each execution is the op callable
   followed by a noop-sink write of its result;
3. check: every panel op's result, as returned by its last successful
   execution and collected once, against the DuckDB oracle's expected
   rows.

Writes one JSON result file for ``run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import statistics
import sys
import time
import traceback

import numpy as np

import procfs
from panels import WORKLOADS

MB = 1e6


def _p90(samples: list[float]) -> float:
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def _hd_quantile(values: list[float], p: float, steps: int = 256) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a mean of all order
    statistics, the i-th weighted by the Beta(p(n+1), (1-p)(n+1)) mass on
    ((i-1)/n, i/n]. Over the 7 per-op medians of curation_5x, the plain
    sample median is one op's latency and jumps when two ops swap rank;
    over ten seeds its spread was 0.24, this estimate's 0.15."""
    x = np.sort(values)
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(n * steps) + 0.5) / (n * steps)  # midpoints, never 0 or 1
    mass = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    w = mass.reshape(n, steps).sum(axis=1)
    return float(w @ x / w.sum())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--check", type=int, choices=(0, 1), default=1)
    ap.add_argument("--t0", type=float, required=True, help="monotonic spawn time")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    me = os.getpid()

    from dataengineeringutils_spark.blas import cap_blas_env

    cap_blas_env(1, force=True)  # before the JVM starts, as bench.py does

    tracer = sampler = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()  # before registry.queries() imports the operators
        sampler = tracing.RssSampler(me)
        sampler.start()

    from dataengineeringutils_spark.registry import queries
    from dataengineeringutils_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    t_session = time.perf_counter() - t
    t = time.perf_counter()
    qs = queries()
    t_registry = time.perf_counter() - t
    sc = spark.sparkContext
    panel = list(wl["ops"])
    module = {op: qs[op].__module__.removeprefix("dataengineeringutils_spark.") for op in panel}
    rng = random.Random(args.seed)
    execs: list[dict] = []
    failures: dict[str, str] = {}
    results = {}  # op -> the DataFrame its last successful execution returned

    def run_op(op: str, phase: str) -> None:
        rec = {"id": len(execs), "op": op, "phase": phase, "ok": False}
        execs.append(rec)
        if tracer:
            tracer.current = rec["id"]
            sc.setJobGroup(f"{tracing.GROUP_PREFIX}{rec['id']}", op)
        rec["wall0"] = time.time()
        t0 = time.perf_counter()
        try:
            df = qs[op](spark, args.input)
            rec["build1"] = time.time()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, lat_s=t2 - t0)
            results[op] = df
        except Exception as exc:  # noqa: BLE001 — one failing op must not end the run
            failures.setdefault(op, f"{phase}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc()
        rec["wall1"] = time.time()
        rec.setdefault("build1", rec["wall1"])

    for op in rng.sample(panel, len(panel)):
        run_op(op, "warm")
    setup_s = time.monotonic() - args.t0
    warm = {e["op"]: round(e["wall1"] - e["wall0"], 3) for e in execs}
    print(f"perfbench: session {t_session:.2f}s registry {t_registry:.2f}s "
          f"warm pass {warm}", file=sys.stderr, flush=True)

    # timed phase
    snap0, host0 = procfs.snapshot(me), procfs.host_jiffies()
    start = time.monotonic()
    rounds = 0
    while rounds < wl["min_rounds"] or time.monotonic() - start < args.seconds:
        # whole rounds only, so per-op CPU and bytes average the same mix
        for op in rng.sample(panel, len(panel)):
            run_op(op, "timed")
        rounds += 1
    timed_wall = time.monotonic() - start
    snap1, host1 = procfs.snapshot(me), procfs.host_jiffies()
    peak_rss_mb = sum(procfs.hwm_mb(pid) for pid in procfs.tree(me))
    if sampler:
        sampler.stop()

    # output check, outside set-up and the timed phase; imported here so
    # the gate's imports (DuckDB, pandas) do not count in set-up
    from oracle import canon_frame, diff

    with open(args.expected, "rb") as fh:
        want = pickle.load(fh)
    mismatches: dict[str, str] = {}
    for op in panel if args.check else []:
        if tracer:
            tracer.current = None
            sc.setJobGroup("perfbench-check", op)
        try:
            df = results[op] if op in results else qs[op](spark, args.input)
            got = canon_frame(df.toPandas())
        except Exception as exc:  # noqa: BLE001 — reported by op name
            mismatches[op] = f"check: {type(exc).__name__}: {exc}"[:500]
            continue
        problem = diff(got, want[op]["result"])
        if problem:
            mismatches[op] = problem
    print(f"perfbench: check {time.monotonic() - start - timed_wall:.2f}s", file=sys.stderr, flush=True)
    art_mb = None
    if tracer:
        from dataengineeringutils_spark.artifacts import build_log, cache_stats

        art_mb = cache_stats()["bytes"] / MB
        builds = build_log()
    t_stop = time.monotonic()
    spark.stop()
    print(f"perfbench: stop {time.monotonic() - t_stop:.2f}s", file=sys.stderr, flush=True)

    timed = [e for e in execs if e["phase"] == "timed"]
    done = [e for e in timed if e["ok"]]
    lat = {op: [e["lat_s"] for e in done if e["op"] == op] for op in panel}
    med = {op: statistics.median(v) for op, v in lat.items() if v}
    if not med:
        raise SystemExit("no op completed in the timed phase")
    pooled = [e["lat_s"] for e in done]
    n_ok = len(done)
    tree_cpu = sum(snap1[k]["cpu_s"] - snap0[k]["cpu_s"] for k in snap0)
    tree_write = sum(snap1[k]["write_bytes"] - snap0[k]["write_bytes"] for k in snap0)
    attempted = len(timed) + len(panel) * args.check
    failed = sum(not e["ok"] for e in timed) + len(mismatches)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(med) / sum(med.values()),
        "query_p50_s": _hd_quantile(list(med.values()), 0.5),
        "query_p90_s": _hd_quantile(list(med.values()), 0.9),
        "cpu_s_per_op": tree_cpu / n_ok,
        "write_mb_per_op": tree_write / MB / n_ok,
    }
    info = {
        "rounds": rounds,
        "timed_samples": len(pooled),
        "pooled_p90_s": _p90(pooled),
        "timed_wall_s": timed_wall,
        "peak_rss_mb": peak_rss_mb,
        "op_fail_ratio": failed / attempted,
        "host_steal_s": host1["steal_s"] - host0["steal_s"],
        "host_other_busy_s": host1["busy_s"] - host0["busy_s"] - tree_cpu,
        "per_op_median_s": med,
        "per_op_samples_s": lat,
    }
    result = {
        "e2e": e2e,
        "info": info,
        "attempted": attempted,
        "failed": failed,
        "correct": not mismatches and not failures,
        "failures": failures,
        "mismatches": mismatches,
    }
    if tracer:
        result["layers"] = _layers(
            tracer, tracing.read_event_log(os.environ["PERFBENCH_EVENT_LOG"], execs),
            execs, module, builds, art_mb, sampler, snap0, snap1, info,
            t_session, t_registry, int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        with open(os.environ["PERFBENCH_SPANS"], "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps(s) + "\n")
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


def _layers(tracer, log, execs, module, builds, art_mb, sampler, snap0, snap1,
            info, t_session, t_registry, cores) -> dict:
    """Per-layer metrics of the timed phase (counts and seconds per op
    execution unless the name says otherwise)."""
    from panels import all_modules

    timed = {e["id"]: e for e in execs if e["phase"] == "timed" and e["ok"]}
    n = len(timed)
    spark = [log["per_exec"][i] for i in timed]

    def tot(key: str) -> float:
        return sum(c[key] for c in spark)

    def spans(prefix: str) -> list[dict]:
        return [s for s in tracer.spans if s["layer"].startswith(prefix) and s["exec"] in timed]

    art = spans("artifacts.")
    txn = [s for s in spans("txnlog.") if s["layer"] != "txnlog.commit"]
    ops = sorted({e["op"] for e in timed.values()})
    med_build = {op: statistics.median(e["build_s"] for e in timed.values() if e["op"] == op) for op in ops}
    med_exec = {op: statistics.median(e["exec_s"] for e in timed.values() if e["op"] == op) for op in ops}
    batches = tot("batches")
    out = {
        "session.get_spark_s": t_session,
        "registry.load_s": t_registry,
        "tables.calls_per_op": len(spans("tables.")) / n,
        "tables.s_per_op": sum(s["t1"] - s["t0"] for s in spans("tables.")) / n,
        "artifacts.builds": len(builds),
        "artifacts.build_s": sum(b["build_sec"] for b in builds),
        "artifacts.mb": art_mb,
        "artifacts.serve_s_per_op": sum(s["t1"] - s["t0"] for s in art if not s["built"]) / n,
        "artifacts.hit_ratio": (sum(not s["built"] for s in art) / len(art)) if art else 1.0,
        "ops.build_s": statistics.fmean(med_build.values()),
        "ops.eager_jobs_per_op": tot("eager_jobs") / n,
        "ops.exec_s": statistics.fmean(med_exec.values()),
        "ops.timed_samples": info["timed_samples"],
        "ops.pooled_p90_s": info["pooled_p90_s"],
        "ops.rounds": info["rounds"],
        "op_fail_ratio": info["op_fail_ratio"],
    }
    for m in all_modules():
        out[f"{m}.build_s"] = sum(v for op, v in med_build.items() if module[op] == m)
        out[f"{m}.exec_s"] = sum(v for op, v in med_exec.items() if module[op] == m)
    out |= {
        "spark.jobs_per_op": tot("jobs") / n,
        "spark.stages_per_op": tot("stages") / n,
        "spark.tasks_per_op": tot("tasks") / n,
        "spark.executor_run_s_per_op": tot("run_ms") / 1e3 / n,
        "spark.executor_cpu_s_per_op": tot("cpu_ns") / 1e9 / n,
        "spark.shuffle_write_mb_per_op": tot("shuffle_write") / MB / n,
        "spark.shuffle_read_mb_per_op": tot("shuffle_read") / MB / n,
        "spark.input_mb_per_op": tot("input_bytes") / MB / n,
        "spark.output_mb_per_op": tot("output_bytes") / MB / n,
        "spark.core_busy_ratio": tot("run_ms") / 1e3 / (info["timed_wall_s"] * cores),
        "spark.gc_s_per_op": tot("gc_ms") / 1e3 / n,
        "spark.peak_exec_mem_mb": max(c["peak_mem"] for c in spark) / MB,
        "spark.spill_mb_per_op": tot("spill_bytes") / MB / n,
        "spark.failed_tasks": log["failed_tasks"],
        "txnlog.commits_per_op": len(spans("txnlog.commit")) / n,
        "txnlog.s_per_op": sum(s["t1"] - s["t0"] for s in txn) / n,
        "streaming.batches_per_op": batches / n,
        "streaming.batch_s": tot("batch_ms") / 1e3 / batches if batches else 0.0,
        "streaming.commit_s": tot("commit_ms") / 1e3 / batches if batches else 0.0,
        "peak_rss_mb": info["peak_rss_mb"],
        "proc.jvm_rss_peak_mb": sampler.peak_mb["jvm"],
        "proc.pyworkers_rss_peak_mb": sampler.peak_mb["pyworkers"],
        "proc.jvm_cpu_s_per_op": (snap1["jvm"]["cpu_s"] - snap0["jvm"]["cpu_s"]) / n,
        "proc.pyworkers_cpu_s_per_op": (snap1["pyworkers"]["cpu_s"] - snap0["pyworkers"]["cpu_s"]) / n,
        "proc.driver_cpu_s_per_op": (snap1["driver"]["cpu_s"] - snap0["driver"]["cpu_s"]) / n,
        "host.steal_s": info["host_steal_s"],
        "host.other_busy_s": info["host_other_busy_s"],
    }
    return out


if __name__ == "__main__":
    sys.exit(main())
