"""Benchmark entry point: one isolated, closed-loop run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run:

1. builds the workload's input from the sf0.1 fixture and the seed
   (``gen.py``) and the expected panel results from the DuckDB oracles
   (``oracle.py``), both cached per (seed, K) under ``.perfbench/`` and
   outside every measured phase;
2. removes scratch dirs that exited processes left under ``.scratch/``
   (the program's first sink call would otherwise delete them inside the
   measured run);
3. starts ``worker.py`` as a fresh process, with ``SPARK_GRAFT_CPUS`` set
   to the cores this process may use and a private artifact root, Spark
   local dir, checkpoint root and temp dir, and waits for it and every
   process it started;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics plus the
   tracing overhead (``--trace 1``). A traced invocation runs the worker
   twice with the same seed, untraced and then traced; the overhead is
   the traced run's end-to-end metrics minus the untraced run's, and
   only the traced run checks the outputs.

Exits non-zero without printing a result if any step fails.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole run, both children in a traced run included
PR_SET_CHILD_SUBREAPER = 36
KEEP_INPUTS = 12  # cached (seed, K) inputs kept, least recently used dropped first

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)  # the program; without it the run fails here
import gen  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402
from panels import WORKLOADS  # noqa: E402


def _sweep_dead_scratch(root: str) -> None:
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for e in entries:
        if e.startswith("pid-") and e[4:].isdigit() and not os.path.exists(f"/proc/{e[4:]}"):
            shutil.rmtree(os.path.join(root, e), ignore_errors=True)


def _prune_inputs(root: str, keep: int) -> None:
    try:
        cases = sorted((os.path.getmtime(p), p) for p in
                       (os.path.join(root, c) for c in os.listdir(root)))
    except FileNotFoundError:
        return
    for _, path in cases[:-keep] if len(cases) > keep else []:
        shutil.rmtree(path, ignore_errors=True)


def _become_subreaper() -> None:
    """Orphaned descendants of the worker (the JVM, the pyspark daemon,
    which starts its own process group, and its workers) are re-parented
    to this process, so none can outlive the run unnoticed."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(grace_s: float = 5.0) -> None:
    """Wait for every descendant to end: ``grace_s`` to exit on its own,
    then SIGTERM, then SIGKILL."""
    me = os.getpid()
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, live or zombie
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGTERM if waited < grace_s + 5 else signal.SIGKILL
            for pid in procfs.tree(me)[1:]:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        if waited > grace_s + 15:
            raise RuntimeError("descendants survived SIGKILL")
        time.sleep(0.05)


def run_worker(args, input_dir: str, expected: str, trace: bool, check: bool,
               deadline: float) -> dict:
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("artifacts", "local", "checkpoints", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # both JVMs (spark-submit's launcher and the driver) would otherwise
    # write /tmp/hsperfdata_<user>, outside the checkout
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_ON_CLUSTER", "SPARK_GRAFT_SPREAD_MAX_BYTES")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_ARTIFACT_ROOT=dirs["artifacts"],
        SPARK_GRAFT_CHECKPOINT_ROOT=dirs["checkpoints"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_LAUNCHER_OPTS=java_opts,
        TMPDIR=dirs["tmp"],
        PYSPARK_SUBMIT_ARGS=" ".join(map(shlex.quote, submit)) + " pyspark-shell",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        PERFBENCH_EVENT_LOG=dirs["eventlog"],
        PERFBENCH_SPANS=os.path.join(WORK, f"spans-{args.workload}.jsonl"),
    )
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(WORK, f"worker-{args.workload}-{int(trace)}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--input", input_dir, "--expected", expected,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(int(trace)), "--check", str(int(check)), "--out", out,
    ]
    try:
        with open(log, "w") as fh:
            t0 = time.monotonic()
            proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                                    stdin=subprocess.DEVNULL, stdout=fh, stderr=fh)
            code = None
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                pass
            finally:  # also on SIGTERM, which main() turns into SystemExit
                if code is None:
                    proc.kill()
                t_exit = time.monotonic()
                _reap(grace_s=0.0 if code is None else 5.0)
                print(f"perfbench: worker {t_exit - t0:.2f}s reap {time.monotonic() - t_exit:.2f}s",
                      file=sys.stderr)
        if code != 0:
            with open(log) as fh:
                tail = fh.readlines()[-30:]
            raise RuntimeError(
                f"worker {'timed out' if code is None else f'exited {code}'}; "
                f"log {log}:\n" + "".join(tail)
            )
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    wl = WORKLOADS[args.workload]

    from dataengineeringutils_spark.registry import oracle_sql

    with open(gen.__file__, "rb") as fh:
        gen_stamp = hashlib.sha1(fh.read()).hexdigest()[:8]
    case = os.path.join(WORK, "inputs", f"g{gen_stamp}-s{args.seed}-k{wl['k']}")
    input_dir = gen.generate(os.path.join(case, f"sf{0.1 * wl['k']:g}"), args.seed, wl["k"])
    os.utime(case)
    _prune_inputs(os.path.dirname(case), keep=KEEP_INPUTS)
    expected = os.path.join(case, f"expected-{args.workload}.pkl")
    oracle.expected(input_dir, wl["ops"], oracle_sql(), expected)
    _sweep_dead_scratch(os.path.join(ROOT, ".scratch"))
    print(f"perfbench: prepared in {time.monotonic() - t_start:.2f}s", file=sys.stderr)

    # in a traced invocation the untraced run only gives the overhead's
    # baseline; the traced run checks the same input's outputs
    runs = [run_worker(args, input_dir, expected, False, not args.trace, deadline)]
    metrics = runs[0]["e2e"]
    if args.trace:
        runs.append(run_worker(args, input_dir, expected, True, True, deadline))
        metrics = dict(runs[1]["layers"])
        for k, v in runs[1]["e2e"].items():
            metrics[f"trace.overhead.{k}"] = v - runs[0]["e2e"][k]
    for r in runs:
        print(json.dumps({"info": r["info"], "failures": r["failures"],
                          "mismatches": r["mismatches"]}), file=sys.stderr)
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end" if not args.trace else "per_layer"]}
    missing = set(units) - set(metrics)
    if missing:
        raise SystemExit(f"metrics missing from the run: {sorted(missing)}")
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
