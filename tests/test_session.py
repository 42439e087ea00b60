"""Session-wide defaults that ``build_session`` sets."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from proglog_spark import cds
from proglog_spark.session import (
    _JVM_ENV_OPTIONS,
    LOCAL_DRIVER_JAVA_OPTIONS,
    _local_launch,
    local_conf,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def _planted_archive(monkeypatch, tmp_path) -> str:
    """A whole archive for this launch's key in an empty cache; returns
    the options that map it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    cache = _local_launch("local[4]", {})[1]
    archive = os.path.join(cache.root, f"{cache.key}.3.jsa")
    with open(archive, "wb") as fh:
        fh.write(b"jsa")
    return f"-XX:SharedArchiveFile={archive} {cds.LOG_OPTIONS}"


def test_worker_daemon_only_on_a_local_master(spark, monkeypatch, tmp_path):
    daemon, java = "spark.python.daemon.module", "spark.driver.defaultJavaOptions"
    for name in _JVM_ENV_OPTIONS:
        monkeypatch.delenv(name, raising=False)
    assert spark.conf.get(daemon) == "proglog_spark.worker_daemon"
    # the shared session maps the archive if one was built before it started
    assert re.fullmatch(
        re.escape(LOCAL_DRIVER_JAVA_OPTIONS)
        + rf"( -XX:SharedArchiveFile=\S+\.jsa {re.escape(cds.LOG_OPTIONS)})?",
        spark.conf.get(java),
    )
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "empty"))
    local = {daemon: "proglog_spark.worker_daemon", java: LOCAL_DRIVER_JAVA_OPTIONS}
    for master in ("local", "local[*]", "local[4]"):
        assert local_conf(master) == local
    # a caller's own driver options are kept beside ours
    assert local_conf("local[4]", {"spark.driver.extraJavaOptions": "-Dx=1"}) == local
    # on a cluster the package arrives after the daemon starts, and the
    # driver is not the whole cluster
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert local_conf(master) == {}
    # once the archive is built, every local launch maps it
    mapped = _planted_archive(monkeypatch, tmp_path)
    local[java] = f"{LOCAL_DRIVER_JAVA_OPTIONS} {mapped}"
    for master in ("local", "local[*]", "local[4]"):
        assert local_conf(master) == local
    assert local_conf("local[4]", {"spark.driver.extraJavaOptions": "-Dx=1"}) == local
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert local_conf(master) == {}


def test_a_chosen_collector_leaves_ours_out(monkeypatch, tmp_path):
    # the JVM refuses to start with two collector flags
    only_daemon = {"spark.python.daemon.module": "proglog_spark.worker_daemon"}
    g1 = {"spark.driver.extraJavaOptions": "-Dx=1 -XX:+UseG1GC"}
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "empty"))
    assert local_conf("local[4]", g1) == only_daemon
    # the archive does not depend on the collector
    mapped = _planted_archive(monkeypatch, tmp_path)
    assert local_conf("local[4]", g1) == only_daemon | {"spark.driver.defaultJavaOptions": mapped}
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseParallelGC")
    assert local_conf("local[4]") == only_daemon | {"spark.driver.defaultJavaOptions": mapped}
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "empty"))
    assert local_conf("local[4]") == only_daemon


def test_local_driver_runs_the_serial_collector(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert [bean.getName() for bean in beans] == ["Copy", "MarkSweepCompact"]


def test_session_with_its_own_collector_starts(tmp_path):
    script = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from proglog_spark.session import build_session
spark = build_session("own-gc", master="local[1]", shuffle_partitions=1,
    extra_conf={{"spark.driver.extraJavaOptions": "-XX:+UseG1GC"}})
beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
print(json.dumps([bean.getName() for bean in beans]))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    done = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=180, cwd=tmp_path, env=env,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert json.loads(done.stdout.strip().splitlines()[-1]) == [
        "G1 Young Generation", "G1 Old Generation",
    ]
