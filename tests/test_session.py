"""Session-wide defaults that ``build_session`` sets."""

from __future__ import annotations


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan(spark, i: int):
    # integer literals are inlined into the generated code, so each i
    # compiles classes of its own
    return spark.range(10).selectExpr(f"id * {i} + {i} AS x").where(f"x > {i}")


def test_warm_rerun_does_not_recompile(spark):
    # a background query would compile during the check
    assert spark.streams.active == []
    first = sorted(_plan(spark, 1_000_003).collect())
    # more distinct plans than Spark's default 100-entry class cache
    for i in range(150):
        _plan(spark, i).collect()
    before = _compilations(spark)
    assert sorted(_plan(spark, 1_000_003).collect()) == first
    assert _compilations(spark) == before
