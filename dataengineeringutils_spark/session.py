"""SparkSession factory tuned for this engine.

The reference library has no local engine (queries run remotely in Athena);
here the session *is* the engine, so the scale-relevant knobs live in one
place. Settings marked [scale] are the ones that matter on a real cluster
against ~100 TB; the local values are chosen so the same code paths
(AQE, skew-join, partial agg, broadcast selection) are exercised on
local[N], N = the cores this process may run on.

Deployment seams (see README "Cluster deployment"):
- ``SPARK_GRAFT_ON_CLUSTER``: when set, get_spark() applies ONLY the
  portable engine configs below and leaves master / memory / warehouse /
  shuffle-partition sizing to spark-submit and the cluster defaults —
  asserted by tests/test_session_config.py.
- ``SPARK_GRAFT_CHECKPOINT_ROOT``: durable, cluster-visible root for
  streaming checkpoints (paths.ram_scratch_dir falls through to it);
  unset = local tmpfs (single-node ephemeral demos only).
- ``SPARK_GRAFT_CPUS``: local-mode core count, also the local shuffle
  width (default: the cores in this process's CPU affinity mask).

A fixture scan is spread across the cores by ONE size-gated policy,
``tables.spread``; no operator repartitions a fixture scan itself.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """Local-mode core count: ``SPARK_GRAFT_CPUS``, else every core this
    process may run on (its affinity mask, not the host's core count)."""
    return os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )


# Engine semantics + runtime re-planning: correct and desirable on ANY
# deployment, from local[1] to a 1000-executor cluster.
PORTABLE_CONF: dict[str, str] = {
    # [scale] AQE + coalesce + skew-join: runtime re-planning is the main
    # defense against skewed keys and mis-estimated shuffle sizes at 100 TB
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # oracle-pinned semantics: UTC instants, ANSI (Spark 4 default) stays
    "spark.sql.session.timeZone": "UTC",
    # every driver-edge pandas conversion is Arrow-vectorized
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python-worker robustness under load: round 6's driver bench died
    # when ONE worker missed the default 15 s connect-back window on a
    # loaded host (SocketTimeoutException in the custom-DataSource
    # streaming path). Reuse keeps forked workers warm (fewer connect
    # handshakes at all), and the raised auth-socket timeout gives the
    # fork+connect path headroom during hypervisor-steal bursts. Both
    # portable: correct on any deployment.
    "spark.python.worker.reuse": "true",
    "spark.python.authenticate.socketTimeout": "120s",
    # [scale] one BLAS thread per Python worker: a task's CPU share is
    # spark.task.cpus (=1), but numpy's OpenBLAS defaults its pool to
    # ALL host cores per worker PROCESS — N workers x N cores runnable
    # threads during mapInPandas GEMM kernels (measured 2-3x wall-time
    # inflation under concurrent load, round-8 VERDICT). Kernels also
    # re-cap the loaded library at runtime (blas.cap_blas_threads) for
    # sessions not built here.
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # keep bucketed scans bucketed: the DisableUnnecessaryBucketedScan
    # rule does not credit bucket-FILE pruning as a benefit, so a
    # point lookup on a bucket column would silently read all buckets
    # (sink_ann_cell_layout's serving path relies on the pruning)
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # Generated-code cache sized to the operator catalogue (static conf:
    # it must be here, before the session exists; every JVM keeps its own
    # cache, so the value is portable). At Spark's default of 100 entries
    # a session cycling through queries evicts its own code before reuse:
    # the 17-op analytics_etl panel needs 166 distinct whole-stage classes
    # and recompiled 120-150 of them with Janino every round, each a new JVM
    # class the JIT compiles again. All 468 non-stream ops at sf0.01 need
    # 4947 classes (mean 2.8 KB of bytecode); holding every one of them
    # took 257 MB of Metaspace and 154 MB of the 240 MB reserved code
    # heap. 8192 is that working set with ~1.6x headroom.
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def local_conf() -> dict[str, str]:
    """Local-mode-ONLY knobs. None of these may leak into a cluster
    session: the warehouse must not point into the repo checkout, the
    shuffle-partition count must come from the cluster's core count (or
    AQE's initialPartitionNum), driver memory from spark-submit, and the
    UI is the operator's tool, not ours to disable."""
    return {
        # [scale] locally sized to cores; on a cluster ~2-3x total
        # executor cores, or left to AQE — set via spark-submit --conf
        "spark.sql.shuffle.partitions": local_cpus(),
        "spark.driver.memory": "90g",
        "spark.ui.enabled": "false",
        # per-PID warehouse: managed tables (bucketed sinks etc.) from
        # concurrent processes must not collide on spark-warehouse/
        "spark.sql.warehouse.dir": os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scratch",
            f"pid-{os.getpid()}",
            "warehouse",
        ),
    }


def session_conf(on_cluster: bool) -> dict[str, str]:
    """The exact config set get_spark() applies — pure function so the
    cluster/local split is unit-testable without building a session."""
    conf = dict(PORTABLE_CONF)
    if not on_cluster:
        conf.update(local_conf())
    return conf


def get_spark(app_name: str = "dataengineeringutils_spark") -> SparkSession:
    """Build (or fetch) the tuned session (module docstring has the
    deployment seams)."""
    on_cluster = bool(os.environ.get("SPARK_GRAFT_ON_CLUSTER"))
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_conf(on_cluster).items():
        builder = builder.config(k, v)
    if not on_cluster:
        builder = builder.master(f"local[{local_cpus()}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# save/set/restore is check-then-act on the shared session conf
_CONF_LOCK = threading.Lock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Hold ``settings`` on the session conf for the ``with`` body, then
    restore the values it had: the package's one save/set/restore."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k) for k in settings}
        try:
            for k, v in settings.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
