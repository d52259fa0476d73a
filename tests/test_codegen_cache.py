"""Spark's generated-code cache holds a query mix's working set: a session
that replays queries it has already run reuses their compiled
whole-stage classes instead of recompiling them with Janino (each
recompile is a new JVM class that the JIT must compile again)."""

from __future__ import annotations

from dataengineeringutils_spark.registry import queries
from dataengineeringutils_spark.session import session_conf
from perfbench.panels import WORKLOADS

KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized_on_every_deployment(spark):
    # a static conf: only a value present when the session is built counts
    assert int(session_conf(on_cluster=True)[KEY]) >= 4947
    assert spark.conf.get(KEY) == session_conf(on_cluster=True)[KEY]


def test_replayed_panel_compiles_nothing(spark, sf_dir):
    """Run the analytics_etl panel twice: the first pass fills the cache
    (166 classes), the replay must find every one of them. At Spark's
    default of 100 entries the replay recompiled 154."""
    qs = queries()
    ops = WORKLOADS["analytics_etl"]["ops"]

    def run_panel() -> int:
        before = _compiles(spark)
        for op in ops:
            qs[op](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    run_panel()
    assert _compiles(spark) > 0  # the counter is live
    assert run_panel() == 0
