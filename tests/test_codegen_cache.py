"""The whole-stage codegen cache holds a lake pass: running the
benchmark's lake_lifecycle ops a second time in one session compiles
no class (session.get_spark sizes spark.sql.codegen.cache.maxEntries;
at Spark's default of 100 the second cycle recompiles most of them)."""

from perfbench.workloads import LAKE_OPS

from conftest import SF_SMOKE
from data_mastery_pipeline_spark.allqueries import register_all
from data_mastery_pipeline_spark.registry import QUERIES


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark) -> int:
    before = _compiled(spark)
    for name in LAKE_OPS:
        QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    return _compiled(spark) - before


def test_second_lake_cycle_compiles_nothing(spark):
    register_all()
    _cycle(spark)
    assert _cycle(spark) == 0
