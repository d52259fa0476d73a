"""Cluster/local session-config split (round-5 VERDICT #7): a cluster
session must receive ONLY portable engine semantics — never the local
warehouse path, local shuffle sizing, driver memory, or UI toggle that
would break (or silently mis-size) a spark-submit deployment."""

from __future__ import annotations

import os

from dataengineeringutils_spark.session import (
    PORTABLE_CONF,
    local_conf,
    local_cpus,
    session_conf,
)

LOCAL_ONLY_KEYS = {
    "spark.sql.warehouse.dir",
    "spark.sql.shuffle.partitions",
    "spark.driver.memory",
    "spark.ui.enabled",
}


def test_cluster_conf_has_no_local_only_knob():
    conf = session_conf(on_cluster=True)
    leaked = LOCAL_ONLY_KEYS & set(conf)
    assert not leaked, f"local-only knobs leaked into cluster conf: {leaked}"
    # and nothing points into the repo checkout
    for k, v in conf.items():
        assert ".scratch" not in v and "/dev/shm" not in v, (k, v)


def test_cluster_conf_keeps_engine_semantics():
    conf = session_conf(on_cluster=True)
    # semantics the oracle gate depends on must apply on ANY deployment
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert (
        conf["spark.sql.sources.bucketing.autoBucketedScan.enabled"]
        == "false"
    )


def test_local_conf_is_exactly_the_declared_local_set():
    assert set(local_conf()) == LOCAL_ONLY_KEYS
    # local = portable + local-only, no overlap (a key in both would let
    # a local value shadow a portable semantic)
    assert not (set(PORTABLE_CONF) & LOCAL_ONLY_KEYS)
    assert set(session_conf(on_cluster=False)) == (
        set(PORTABLE_CONF) | LOCAL_ONLY_KEYS
    )


def test_local_cores_default_to_the_affinity_mask(monkeypatch):
    """Local mode sizes itself to the cores this process may run on,
    not to a hard-coded count; SPARK_GRAFT_CPUS still overrides."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = str(len(os.sched_getaffinity(0)))
    assert local_cpus() == cores
    assert local_conf()["spark.sql.shuffle.partitions"] == cores
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
    assert local_conf()["spark.sql.shuffle.partitions"] == "3"


def test_checkpoint_root_seam_handles_remote_uri(monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_ROOT=s3a://... must route streaming
    checkpoints through the Hadoop connector path untouched — no local
    makedirs on a URI."""
    import dataengineeringutils_spark.paths as paths

    monkeypatch.setattr(paths, "_RAM_ROOT", "s3a://bucket/ckpts/")
    p = paths.ram_scratch_dir("ck_demo")
    assert p.startswith("s3a://bucket/ckpts/pid-")
    assert p.endswith("/ck_demo")
    assert not os.path.exists("s3a:")  # no local dir side effect


def test_blas_probe_reports_capped_workers(spark):
    """The in-worker BLAS probe (round-10 VERDICT #1) must see the env
    cap binding inside real Python workers: session.py pins the
    thread-count vars via spark.executorEnv, so every worker's OpenBLAS
    pool must report exactly 1 thread (or no OpenBLAS mapped at all,
    reported as -1, which cannot oversubscribe either)."""
    from dataengineeringutils_spark.blas import blas_probe

    probe = blas_probe(spark, n_tasks=8)
    assert probe["n_tasks"] == 8
    assert probe["n_worker_pids"] >= 1
    assert set(probe["openblas_threads"]) <= {1, -1}, probe
    # session.py pins exactly these three via spark.executorEnv (the
    # BLAS pools that exist in this container); the other two probe
    # vars are only env-pinned by measurement entrypoints.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        assert set(probe["worker_env"][var]) <= {"1"}, (
            var,
            probe["worker_env"][var],
        )
