"""SparkSession construction with engine-wide defaults.

Centralizes every config the engine depends on for determinism and
scale so tests, the driver entrypoint, and bench.py all run the same
way:

- UTC session timezone (oracle comparisons hash epoch arithmetic).
- ``nanosAsLong`` so the driver's nanosecond-precision parquet
  timestamps are readable (Spark has no TIMESTAMP(NANOS) type); the
  source layer converts them to microsecond timestamps losslessly.
- AQE on (runtime coalescing + skew-join handling — the scale story
  for the 100 TB target; harmless at test scale).
- Arrow enabled for the Pandas-UDF paths (similarity, multimodal).
- A generated-class cache sized to the declared query surface. The
  session is long-lived and re-runs the same queries, but Spark's
  default JVM-wide LRU of 100 classes is smaller than one pass's
  working set, so every class was evicted before its next use and
  each warm re-run paid Janino (and then HotSpot) again.
- Generated class names without the plan's id. AQE numbers its query
  stages in completion order, and with the id in the name a warm
  re-run of the same plan compiled new classes.
- On a local master, Python workers forked by ``worker_daemon``, which
  re-reads a zip directory only when the archive changed (the stock
  daemon's workers re-read ``pyspark.zip`` and the ``spark-core`` jar
  on every task). It is left unset on any other master: there the
  package arrives with ``--py-files`` after the daemon has started, so
  the daemon could not import it.
- On a local master, a driver JVM with the Serial collector and a 16 MB
  initial heap. There the driver is the whole cluster, and JDK 17's
  default G1 grows its heap well ahead of the live set and keeps
  remembered sets and mark bitmaps beside it: the ``queries``
  benchmark's process peaked at a median 1,551 MB under G1 and 1,244 MB
  this way, the log server's at 447 and 397 MB, and by the JVM's native
  memory tracking the difference is heap and GC structures, not code or
  metaspace (BASELINE.md). Serial's collections are single-threaded, so
  their summed pause time is two to four times G1's, but the JVM's CPU
  per pass fell and walls held. The options go in
  ``spark.driver.defaultJavaOptions``, which the launcher puts before
  ``spark.driver.extraJavaOptions``, so a caller's own driver options
  still apply and win. They are left out when the caller's options or
  the JVM's environment already pick a collector, since the JVM
  refuses to start with two. A cluster master keeps the JVM's
  defaults: its driver is not the whole cluster.
- On a local master, a driver JVM mapped from a class-data-sharing
  archive (``cds.py``). Booting a JVM that loaded Spark's classes from
  287 jars took 2.4-2.9 s; with the archive the log server's set-up
  fell from a median 2.87 to 1.79 s (BASELINE.md). Those figures were
  taken while the log server still started Spark at boot; they now
  apply to a process that uses Spark. The archive holds only what a
  boot loads, from a warm-up that builds a session and stops it: a
  prototype archive dumped after one query as well was 144 MB against
  99.6 MB and raised the log server's peak RSS from ~397 to ~429 MB,
  where the boot-shaped one lowers it to ~388 MB. CDS refuses
  a non-empty directory on the class path and Spark puts its conf dir
  there, so the dump and every session that maps the archive launch
  with ``SPARK_CONF_DIR`` set to an empty dir in the cache; that is
  done only while the real conf dir holds nothing but ``*.template``
  files, so no setting is lost. A caller's own CDS or ``-Xshare``
  flag, driver class path or default driver options leave the archive
  out.
- The session starts on first use. ``build_session`` returns a handle
  that launches it, once and under a lock, the first time any
  attribute of it is read, and logs that at INFO with the attribute
  and its caller. No Spark job runs on the log's hot path: on a local
  path create, open, append, read, bounds and ``consume_iter`` touch
  no JVM, so a log server that only serves Produce, Consume and bounds
  never starts one. On the ``log_service`` benchmark its peak RSS fell
  from a median ~390 to ~140 MB and its set-up from ~4.5 to ~1.9 s
  (BASELINE.md). A caller that uses Spark right away pays the same
  boot as before, only at its first use. ``PYTHONPATH`` is still set
  at call time, so any process this one starts sees the package.
"""

from __future__ import annotations

import logging
import os
import re
import sys
import threading
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

from proglog_spark import cds

_log = logging.getLogger(__name__)

# One file per ~64 MB input split at scale; local tests override via
# env. Read at build_session() CALL time, not import time — a test
# that sets SPARK_GRAFT_CPUS after importing the package (monkeypatch,
# late os.environ assignment) must still be honored.


def _env_shuffle_partitions() -> str:
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


def _env_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


# the driver JVM on a local master (see the module docstring)
LOCAL_DRIVER_JAVA_OPTIONS = "-XX:+UseSerialGC -Xms16m"
_COLLECTOR = re.compile(r"-XX:\+Use(Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")
# options the launcher or the JVM itself adds to the driver's command
_JVM_ENV_OPTIONS = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def local_conf(master: str, caller: dict[str, str] | None = None) -> dict[str, str]:
    """Settings that only a local ``master`` gets: the zip-caching
    Python worker daemon; the driver JVM's collector and initial heap,
    unless the ``caller``'s conf (``build_session``'s ``extra_conf``) or
    the JVM's environment already picks a collector; and the
    class-data-sharing archive, when one is built for this launch.
    Nothing on any other master (see the module docstring)."""
    return _local_launch(master, caller or {})[0]


def _local_launch(
    master: str, caller: dict[str, str]
) -> tuple[dict[str, str], cds.Cache | None, str | None]:
    """``local_conf``, the archive cache this launch can use, and the
    archive it maps (None when it has none yet)."""
    if master != "local" and not master.startswith("local["):
        return {}, None, None
    conf = {"spark.python.daemon.module": "proglog_spark.worker_daemon"}
    chosen = [
        caller.get("spark.driver.extraJavaOptions", ""),
        *(os.environ.get(name, "") for name in _JVM_ENV_OPTIONS),
    ]
    java = [] if any(_COLLECTOR.search(opts) for opts in chosen) else [LOCAL_DRIVER_JAVA_OPTIONS]
    cache = cds.cache_for(chosen, caller, LOCAL_DRIVER_JAVA_OPTIONS)
    archive = cache and cache.archive()
    if archive:
        java.append(f"-XX:SharedArchiveFile={archive} {cds.LOG_OPTIONS}")
    if java:
        conf["spark.driver.defaultJavaOptions"] = " ".join(java)
    return conf, cache, archive


def build_session(
    app_name: str = "proglog_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    The session starts on first use (see the module docstring): the
    handle returned forwards every attribute to it, and ``stop`` on a
    handle never used launches nothing. The conf, env values included,
    is read at call time.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real cluster, leave it unset and submit through
    spark-submit so the cluster manager decides.
    """
    if master is None:
        # the env var's VALUE is the master URL — pass it through
        # (merely skipping the local default would crash getOrCreate
        # with 'A master URL must be set' outside spark-submit)
        master = os.environ.get("SPARK_MASTER_URL") or f"local[{_env_cpus()}]"
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            if shuffle_partitions is not None
            else _env_shuffle_partitions()
        ),
        # Driver fixtures store events.ts as parquet TIMESTAMP(NANOS);
        # Spark cannot represent nanos — read as long, convert at source.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Scale posture: adaptive execution re-plans shuffles at runtime
        # (partition coalescing, skew-join splitting, smarter join picks).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalescing is BYTE-based; stages whose cost is CPU per
        # row on tiny rows (levenshtein pairs, sketch UDFs) serialize
        # when their whole input undercuts the 1 MB default min
        # partition size. 64 KB keeps such stages parallel while still
        # folding genuinely empty partitions (measured: blocked fuzzy
        # match 4 s -> sub-second; no regression on scan-bound
        # queries, which AQE sizes by the 64 MB advisory target).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        # Arrow batches for the pandas-UDF slow path (vector ops, media).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python DataSource filter pushdown (the format("proglog")
        # connector consumes offset predicates for bucket pruning).
        "spark.sql.python.filterPushdown.enabled": "true",
        # Keep partition files bounded — the LogTable "segment roll" knob
        # (reference internal/log/segment.go:81-83 IsMaxed analog).
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.parquet.compression.codec": "snappy",
        # Generated-class LRU (JVM-wide, Spark's default 100). One cold
        # pass of all 203 declared queries at sf0.001 on local[4]
        # compiles about 2,400 distinct classes. With 100 entries a
        # warm second pass recompiled 3,228 classes; with 4,096 it
        # compiled 111 (tools/profile_query.py --queries all --reps 2,
        # BASELINE.md). 4,096 covers the working set with headroom.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # AQE numbers query stages in completion order, and the stage's
        # id is part of each generated class name, so a warm re-run of
        # an AQE plan compiled classes the cache already held under
        # another name. Without the id, seven such queries compile 0
        # classes on a warm run (ROADMAP "Fixed per-query costs").
        "spark.sql.codegen.useIdInClassName": "false",
        # normalize common truthy/falsy spellings: Spark's boolean
        # conf parser rejects "1"/"yes" with an exception at startup
        "spark.ui.enabled": (
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "false").strip().lower()
            in ("1", "true", "yes", "on")
            else "false"
        ),
    }
    # Python workers must be able to import proglog_spark: mapInPandas/
    # pandas_udf closures reference module-level helpers, which pickle
    # BY REFERENCE — the worker re-imports the module. When the driver
    # imported the package from somewhere outside the workers' default
    # sys.path (an external script adding the repo to sys.path), the
    # import dies worker-side with ModuleNotFoundError. Prepending the
    # package's parent dir to PYTHONPATH fixes local-mode workers
    # (spawned from this process's env); on a real cluster, ship the
    # package with --py-files / spark.submit.pyFiles as usual.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + current if current else "")
        )
    extra = dict(extra_conf or {})
    return _DeferredSession(lambda: _launch(app_name, master, conf, extra))


def _launch(
    app_name: str, master: str, conf: dict[str, str], extra_conf: dict[str, str]
) -> SparkSession:
    """Start (or reuse) the session ``build_session`` described."""
    builder = SparkSession.builder.appName(app_name).master(master)
    local, cache, archive = _local_launch(master, extra_conf)
    for k, v in (conf | local | extra_conf).items():
        builder = builder.config(k, v)
    if cache is None or SparkContext._gateway is not None:
        return builder.getOrCreate()  # no archive to use, or no JVM to launch
    if archive is None:
        cds.build_at_exit(cache, master)
        return builder.getOrCreate()
    with cds.conf_dir(cache):
        return builder.getOrCreate()


class _DeferredSession:
    """What ``build_session`` returns: a ``SparkSession`` that starts on
    first use. Any attribute but ``stop`` launches the session, once,
    under a lock, and is then read from it; ``stop`` before that
    launches nothing."""

    def __init__(self, launch: Callable[[], SparkSession]) -> None:
        self._launch_session = launch
        self._started_session: SparkSession | None = None
        self._start_lock = threading.Lock()

    def __getattr__(self, name: str):
        session = self._started_session
        if session is None:
            with self._start_lock:
                session = self._started_session
                if session is None:
                    caller = sys._getframe(1).f_code.co_qualname
                    _log.info("starting Spark on first use of spark.%s by %s", name, caller)
                    session = self._started_session = self._launch_session()
        return getattr(session, name)

    def stop(self) -> None:
        if self._started_session is not None:
            self._started_session.stop()
