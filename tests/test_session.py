"""Session-wide defaults that ``build_session`` sets."""

from __future__ import annotations

from proglog_spark.session import worker_conf


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


def test_warm_aqe_rerun_does_not_recompile(spark, sf_dir):
    # several shuffles and a broadcast: AQE numbers the query stages in
    # completion order, which differs from run to run
    from proglog_spark.queries import events_type_day_matrix

    assert spark.streams.active == []
    first = events_type_day_matrix(spark, sf_dir).collect()
    before = _compilations(spark)
    for _ in range(3):
        assert events_type_day_matrix(spark, sf_dir).collect() == first
    assert _compilations(spark) == before


def test_worker_daemon_only_on_a_local_master(spark):
    daemon = "spark.python.daemon.module"
    assert spark.conf.get(daemon) == "proglog_spark.worker_daemon"
    assert worker_conf("local[4]") == {daemon: "proglog_spark.worker_daemon"}
    assert worker_conf("local") == worker_conf("local[*]") == worker_conf("local[4]")
    # on a cluster the package arrives after the daemon starts
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert worker_conf(master) == {}
