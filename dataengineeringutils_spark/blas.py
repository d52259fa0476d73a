"""BLAS thread-pool capping for Python-worker kernels.

Every PySpark Python worker is its own process, and the bundled
OpenBLAS defaults its pool to ALL host cores (measured: 32 on the
local[32] harness). A GEMM kernel in a Python worker therefore runs up to
32 workers x 32 BLAS threads = 1024 runnable threads on 32 CPUs —
harmless solo, but under the driver bench's serial 484-query load the
oversubscription showed up as 2-3x wall-time inflation on the matmul
ops (round-8 VERDICT: the five load-only >2 s crossings). The right
size is the task's CPU share: local[N] schedules one task per core,
so ONE BLAS thread per worker keeps the machine exactly subscribed.

Two layers, both idempotent:

- Environment (``cap_blas_env``): set the standard thread-count vars
  before the JVM forks the Python daemon, so every worker's OpenBLAS
  initializes capped. Called from bench/verify entrypoints and pinned
  as ``spark.executorEnv.*`` by session.py for sessions we build.
- Runtime (``cap_blas_threads``): OpenBLAS reads its env only at
  library load, so a kernel running inside a FOREIGN session (the
  round driver's own SparkSession) needs the loaded library re-capped:
  scan /proc/self/maps for the OpenBLAS .so and call its
  ``openblas_set_num_threads`` export. Kernels call this at batch-0;
  the setting survives worker reuse and daemon forks (it is plain
  process state, inherited and re-applied cheaply).
"""

from __future__ import annotations

import ctypes
import os

_ENV_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def cap_blas_env(n: int = 1, force: bool = False) -> None:
    """Cap via environment (effective for libraries not yet loaded).

    Library callers use the default ``setdefault`` path so an operator's
    explicit setting wins. MEASUREMENT entrypoints (bench.py,
    tools/verify_local.py, tools/bench_artifacts.py) pass ``force=True``:
    a pre-existing host ``OMP_NUM_THREADS``/``OPENBLAS_NUM_THREADS``
    (common in CI images) would otherwise silently defeat the cap and
    make published bench numbers depend on the ambient environment
    (round-9 ADVICE). Force mode overwrites and prints one line per
    variable it had to override, so the provenance is in the log."""
    for var in _ENV_VARS:
        prev = os.environ.get(var)
        if prev is None:
            os.environ[var] = str(n)
        elif force and prev != str(n):
            print(
                f"[blas] overriding ambient {var}={prev} -> {n} "
                "(measurement entrypoint pins BLAS threads)"
            )
            os.environ[var] = str(n)


def _openblas_get_threads() -> int | None:
    """Effective thread count of the ALREADY-LOADED OpenBLAS pool in
    THIS process, or None if no OpenBLAS .so is mapped. Mirror of the
    setter scan in ``cap_blas_threads``."""
    try:
        with open("/proc/self/maps") as fh:
            libs = sorted(
                {
                    ln.split()[-1]
                    for ln in fh
                    if "openblas" in ln.lower() and ln.split()[-1].endswith(".so")
                }
            )
    except OSError:
        return None
    for lib in libs:
        try:
            dll = ctypes.CDLL(lib)
        except OSError:
            continue
        for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
            fn = getattr(dll, sym, None)
            if fn is not None:
                return int(fn())
    return None


def blas_probe(spark, n_tasks: int = 32) -> dict:
    """Measure the EFFECTIVE OpenBLAS state from INSIDE Python workers.

    The env-var cap (``cap_blas_env``) only binds if the workers actually
    inherit it; three rounds of driver-bench tail inflation were
    *attributed* to an unbound cap without direct evidence (round-10
    VERDICT #1). This probe is that evidence: a tiny mapInPandas fan-out
    (one row per task) where each worker imports numpy (forcing the
    bundled OpenBLAS to load under the worker's ambient env) and reports
    its pid, the pool's ``openblas_get_num_threads`` value, and the
    thread-count env vars as the worker sees them.

    Run it BEFORE any kernel that calls ``cap_blas_threads`` — the
    runtime cap is sticky across worker reuse and would mask an unbound
    env cap. Returns a JSON-ready summary; ``openblas_threads`` is the
    distinct set seen across workers ([1] = cap binding, [32] = not).
    """
    import json as _json

    def kernel(batches):
        import numpy  # noqa: F401 — forces the bundled OpenBLAS to load
        import pandas as pd

        threads = _openblas_get_threads()
        env = {v: os.environ.get(v) for v in _ENV_VARS}
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "threads": [-1 if threads is None else threads],
                "env": [_json.dumps(env, sort_keys=True)],
            }
        )

    rows = (
        spark.range(0, n_tasks, 1, n_tasks)
        .mapInPandas(kernel, "pid long, threads long, env string")
        .collect()
    )
    env_sets: dict[str, set] = {v: set() for v in _ENV_VARS}
    for r in rows:
        for var, val in _json.loads(r["env"]).items():
            env_sets[var].add(val)
    return {
        "n_tasks": n_tasks,
        "n_worker_pids": len({r["pid"] for r in rows}),
        "openblas_threads": sorted({int(r["threads"]) for r in rows}),
        "worker_env": {
            v: sorted(s, key=str) for v, s in env_sets.items()
        },
        "driver_env": {v: os.environ.get(v) for v in _ENV_VARS},
    }


_CAPPED_AT: int | None = None


def cap_blas_threads(n: int = 1) -> None:
    """Cap the ALREADY-LOADED OpenBLAS pool (no-op if none is loaded).
    Safe to call per Arrow batch: memoized after the first success."""
    global _CAPPED_AT
    if _CAPPED_AT == n:
        return
    cap_blas_env(n)
    try:
        with open("/proc/self/maps") as fh:
            libs = sorted(
                {
                    ln.split()[-1]
                    for ln in fh
                    if "openblas" in ln.lower() and ln.split()[-1].endswith(".so")
                }
            )
    except OSError:
        libs = []
    for lib in libs:
        try:
            dll = ctypes.CDLL(lib)
        except OSError:
            continue
        for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
            fn = getattr(dll, sym, None)
            if fn is not None:
                fn(n)
                break
    _CAPPED_AT = n


# Kernels call cap_blas_threads from executor processes that cannot
# import this package (see serde.py) — ship the module inside the pickle.
from dataengineeringutils_spark.serde import pickle_module_by_value  # noqa: E402

pickle_module_by_value(__name__)
