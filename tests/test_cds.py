"""The driver JVM's class-data-sharing archive (``proglog_spark/cds.py``).

The end-to-end tests run sessions in subprocesses against a temporary
``XDG_CACHE_HOME``: the first exits and leaves the archive, the next
maps it. The key and lock rules are checked in process, with the dump
itself stubbed out.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from proglog_spark import cds
from proglog_spark.session import LOCAL_DRIVER_JAVA_OPTIONS, _local_launch, local_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SESSION = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from proglog_spark.session import build_session
spark = build_session("cds-test", master="local[1]", shuffle_partitions=1)
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""
_MAPPED = "org.apache.spark.SparkContext source: shared objects file (top)"


def _env(tmp_path, class_log=None) -> dict[str, str]:
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"))
    env.pop("JAVA_TOOL_OPTIONS", None)
    if class_log:
        env["JAVA_TOOL_OPTIONS"] = f"-Xlog:class+load=info:file={class_log}"
    return env


@pytest.fixture
def cache(monkeypatch, tmp_path):
    """An empty archive cache, removed after the test (an archive is
    about 100 MB)."""
    yield _cache(monkeypatch, tmp_path)
    shutil.rmtree(tmp_path / "cache", ignore_errors=True)


def _cache(monkeypatch, tmp_path) -> cds.Cache:
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    cache = _local_launch("local[1]", {})[1]
    assert cache is not None
    return cache


def _archives(cache: cds.Cache) -> list[str]:
    return sorted(n for n in os.listdir(cache.root) if not n.startswith((".", "conf")))


def _session(env) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _SESSION], env=env, cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _finish(proc: subprocess.Popen) -> list[str]:
    """The session's JVM input arguments; its stdout has no CDS line."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    assert "[cds" not in out
    return json.loads(out.strip().splitlines()[-1])


def test_archive_built_at_exit_then_mapped(tmp_path, cache):
    torn = os.path.join(cache.root, f"{cache.key}.4096.jsa")
    with open(torn, "wb") as fh:
        fh.write(b"\0" * 100)  # the JVM dies of a bus error on a truncated archive
    assert cache.archive() is None
    # two sessions that exit at once: one builds, the other skips
    first = [_session(_env(tmp_path)) for _ in range(2)]
    for proc in first:
        assert not any("SharedArchiveFile" in a for a in _finish(proc))
    (name,) = _archives(cache)
    archive = os.path.join(cache.root, name)
    assert cache.archive() == archive != torn
    assert os.path.getsize(archive) > 10 << 20

    class_log = tmp_path / "classes.log"
    args = _finish(_session(_env(tmp_path, class_log)))
    assert f"-XX:SharedArchiveFile={archive}" in args
    assert _MAPPED in class_log.read_text()
    assert _archives(cache) == [name]
    _assert_mismatch_warns_on_stderr(archive, tmp_path)


def _assert_mismatch_warns_on_stderr(archive, tmp_path):
    """A JVM that cannot use the archive warns; ``LOG_OPTIONS`` moves
    the warning from stdout to stderr."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    env = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}

    def run(*opts):
        # another class path than the dump's, and no main class to run
        cmd = [java, f"-XX:SharedArchiveFile={archive}", *opts, "-cp", str(tmp_path), "NoSuchMain"]
        return subprocess.run(cmd, capture_output=True, text=True, timeout=60, env=env)

    assert "[cds" in run().stdout
    routed = run(*cds.LOG_OPTIONS.split())
    assert "[cds" not in routed.stdout and "[cds" in routed.stderr


def _fake_spark_home(tmp_path, monkeypatch) -> str:
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    jar = home / "jars" / "stand-in.jar"
    jar.write_bytes(b"PK")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return str(jar)


def _stub_dump(monkeypatch) -> list[str]:
    dumped = []

    def dump(cache, master):
        path = os.path.join(cache.root, f"{cache.key}.3.jsa")
        with open(path, "wb") as fh:
            fh.write(b"jsa")
        dumped.append(path)
        return path

    monkeypatch.setattr(cds, "_dump", dump)
    return dumped


def test_a_changed_jar_gets_a_new_archive_and_drops_the_stale_one(tmp_path, monkeypatch):
    jar = _fake_spark_home(tmp_path, monkeypatch)
    dumped = _stub_dump(monkeypatch)
    old = cds.cache_for([], {}, LOCAL_DRIVER_JAVA_OPTIONS)
    stale = cds.build(old, "local[1]")
    assert old.archive() == stale
    assert cds.build(old, "local[1]") == stale and dumped == [stale]  # whole: kept

    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = cds.cache_for([], {}, LOCAL_DRIVER_JAVA_OPTIONS)
    assert new.key != old.key and new.archive() is None
    fresh = cds.build(new, "local[1]")
    assert dumped == [stale, fresh]
    assert sorted(os.listdir(new.root)) == sorted([".lock", "conf", os.path.basename(fresh)])
    # a different warm-up is a different key too
    assert cds.cache_for([], {}, "-Xms32m").key != new.key


def test_a_held_lock_skips_the_build(tmp_path, monkeypatch):
    import fcntl

    _fake_spark_home(tmp_path, monkeypatch)
    dumped = _stub_dump(monkeypatch)
    cache = cds.cache_for([], {}, LOCAL_DRIVER_JAVA_OPTIONS)
    held = os.open(os.path.join(cache.root, ".lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(held, fcntl.LOCK_EX | fcntl.LOCK_NB)
        assert cds.build(cache, "local[1]") is None
    finally:
        os.close(held)
    assert dumped == [] and cache.archive() is None


def _with_archive(monkeypatch, tmp_path) -> str:
    cache = _cache(monkeypatch, tmp_path)
    archive = os.path.join(cache.root, f"{cache.key}.3.jsa")
    with open(archive, "wb") as fh:
        fh.write(b"jsa")
    return archive


def test_no_cds_option_where_the_archive_cannot_apply(tmp_path, monkeypatch):
    java = "spark.driver.defaultJavaOptions"
    archive = _with_archive(monkeypatch, tmp_path)
    assert local_conf("local[1]")[java] == (
        f"{LOCAL_DRIVER_JAVA_OPTIONS} -XX:SharedArchiveFile={archive} {cds.LOG_OPTIONS}"
    )
    # the caller's own CDS choice, extra class path or default options
    for caller in (
        {"spark.driver.extraJavaOptions": "-Xshare:off"},
        {"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"},
        {"spark.driver.extraClassPath": "/x.jar"},
    ):
        assert _local_launch("local[1]", caller)[1:] == (None, None)
        assert local_conf("local[1]", caller)[java] == LOCAL_DRIVER_JAVA_OPTIONS
    monkeypatch.setenv("JDK_JAVA_OPTIONS", "-Xshare:off")
    assert local_conf("local[1]")[java] == LOCAL_DRIVER_JAVA_OPTIONS
    monkeypatch.delenv("JDK_JAVA_OPTIONS")
    # a conf dir with a real file in it would be left off the class path
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert local_conf("local[1]")[java] == LOCAL_DRIVER_JAVA_OPTIONS
    monkeypatch.delenv("SPARK_CONF_DIR")
    # a cluster master
    assert _local_launch("spark://host:7077", {}) == ({}, None, None)
    # a cache that cannot be made
    (tmp_path / "a-file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "a-file"))
    assert _local_launch("local[1]", {})[1:] == (None, None)


def test_bench_records_whether_the_driver_maps_an_archive(spark):
    import bench

    mapped = "-XX:SharedArchiveFile=" in spark.conf.get("spark.driver.defaultJavaOptions")
    assert bench.driver_cds_archive(spark) is mapped
