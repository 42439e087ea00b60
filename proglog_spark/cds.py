"""A class-data-sharing archive for the driver JVM on a local master.

JDK 17 can dump the classes a JVM loaded into a dynamic archive
(``-XX:ArchiveClassesAtExit``) and map it at the next start
(``-XX:SharedArchiveFile``). ``session.build_session`` uses this module
to start each local driver JVM from such an archive (why: the
``session`` module docstring).

- The archive is keyed by the JDK (the real path of ``java``, the size
  and mtime of its ``lib/modules``), by Spark's jars (each one's name,
  size and mtime) and by the driver options the warm-up runs with. It
  lives in ``$XDG_CACHE_HOME/proglog_spark/cds/`` (``~/.cache`` by
  default) as ``<key>.<bytes>.jsa``: a file whose size is not the one
  in its name is a torn copy and is never mapped (the JVM dies of a
  bus error on a truncated archive).
- With no archive for the key, the session starts without one and an
  ``atexit`` hook builds it: under a non-blocking lock (a process that
  finds the lock taken skips), a child process builds a local session,
  stops it and exits, its JVM dumping to a temporary name that is then
  moved into place. Archives of other keys are deleted. So the dump
  never runs inside a session's start, and no process outlives the
  hook.
- CDS refuses a non-empty directory on the class path, and Spark puts
  its conf dir there. When that dir holds only ``*.template`` files it
  is equivalent to an empty one, so the dump and every user of the
  archive launch with ``SPARK_CONF_DIR`` set to an empty dir in the
  cache; otherwise no CDS option is added.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import logging
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

# The JVM logs CDS warnings (a mismatched archive, for one) to stdout,
# which carries a server's handshake line or a benchmark's result line.
LOG_OPTIONS = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
_CDS_FLAG = re.compile(
    r"-Xshare|-XX:[+-]?(Shared|ArchiveClasses|AutoCreateShared|DumpLoadedClassList)"
)
_WARM_UP_TIMEOUT_S = 300
_log = logging.getLogger(__name__)
_hooked = False


class Cache:
    """One key's place in the archive cache."""

    def __init__(self, root: str, key: str) -> None:
        self.root = root
        self.key = key
        self.conf_dir = os.path.join(root, "conf")

    def archive(self) -> str | None:
        """This key's archive, if a whole one is in the cache."""
        with contextlib.suppress(OSError):
            for name in os.listdir(self.root):
                stem, _, size = name.removesuffix(".jsa").partition(".")
                path = os.path.join(self.root, name)
                if (stem == self.key and name.endswith(".jsa") and size.isdigit()
                        and os.path.getsize(path) == int(size)):
                    return path
        return None


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}"


def cache_for(java_options: list[str], caller: dict[str, str], options: str) -> Cache | None:
    """Where the archive for this launch lives, or None when the launch
    cannot use one: a CDS or ``-Xshare`` flag among the ``java_options``
    the caller's conf and environment pass, an extra driver class path
    or the caller's own default driver options (they replace ours),
    a conf dir with a real file in it, no ``java`` or Spark jars, or a
    cache that cannot be written. ``options`` are the driver options
    the warm-up runs with; they are part of the key."""
    if any(_CDS_FLAG.search(o) for o in java_options) or any(
        caller.get(k) for k in ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions")
    ):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        return None
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "proglog_spark", "cds"
    )
    try:
        if not all(name.endswith(".template") for name in os.listdir(conf)):
            return None
        java = os.path.realpath(java)
        jdk = os.path.dirname(os.path.dirname(java))
        jars_dir = os.path.join(spark_home, "jars")
        jars = sorted(os.path.join(jars_dir, n) for n in os.listdir(jars_dir) if n.endswith(".jar"))
        key = hashlib.sha256("\0".join(
            [java, _stamp(os.path.join(jdk, "lib", "modules")), options, *map(_stamp, jars)]
        ).encode()).hexdigest()[:20]
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
    except OSError:
        return None
    cache = Cache(root, key)
    if os.listdir(cache.conf_dir) or not os.access(root, os.W_OK):
        return None
    return cache


@contextlib.contextmanager
def conf_dir(cache: Cache):
    """``SPARK_CONF_DIR`` set to the cache's empty conf dir while the
    gateway starts."""
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cache.conf_dir
    try:
        yield
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def build_at_exit(cache: Cache, master: str) -> None:
    """Build the archive when this process exits (once per process)."""
    global _hooked
    if not _hooked:
        _hooked = True
        atexit.register(build, cache, master)


def build(cache: Cache, master: str) -> str | None:
    """Dump the archive for ``cache``'s key from a warm-up child that
    starts a session on ``master``, stops it and exits; then delete the
    archives of other keys. Returns the archive, or None when another
    process holds the lock or the dump failed (logged)."""
    lock = os.open(os.path.join(cache.root, ".lock"), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None
        archive = cache.archive() or _dump(cache, master)
        if archive is not None:
            for name in os.listdir(cache.root):
                path = os.path.join(cache.root, name)
                if path != archive and name.endswith((".jsa", ".tmp")):
                    os.unlink(path)
        return archive
    except (OSError, subprocess.SubprocessError):
        _log.warning("could not build the class-data-sharing archive", exc_info=True)
        return None
    finally:
        os.close(lock)


def _dump(cache: Cache, master: str) -> str | None:
    tmp = os.path.join(cache.root, f"{cache.key}.{os.getpid()}.tmp")
    with tempfile.TemporaryDirectory(prefix="warm-up-", dir=cache.root) as work:
        env = dict(os.environ, SPARK_CONF_DIR=cache.conf_dir, TMPDIR=work, SPARK_LOCAL_DIRS=work)
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = (
            f"import sys; sys.path.insert(0, {pkg_parent!r}); "
            f"from proglog_spark import cds; cds._warm_up({tmp!r}, {master!r}, {work!r})"
        )
        # the dump prints hundreds of warnings: none may reach our stdout
        proc = subprocess.Popen(
            [sys.executable, "-c", script], env=env, start_new_session=True,
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        try:
            code = proc.wait(timeout=_WARM_UP_TIMEOUT_S)
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)  # the JVM, if it outlived the child
            proc.wait()
    if code != 0 or not os.path.isfile(tmp):
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        _log.warning("class-data-sharing warm-up exited %s without an archive", code)
        return None
    archive = os.path.join(cache.root, f"{cache.key}.{os.path.getsize(tmp)}.jsa")
    os.replace(tmp, archive)
    return archive


def _warm_up(tmp: str, master: str, work: str) -> None:
    """The warm-up child: a session built as ``build_session`` builds
    one, stopped; then the JVM is let exit, and waited for, so that its
    archive is whole when this process ends."""
    from pyspark import SparkContext

    from proglog_spark.session import build_session

    options = f"-XX:ArchiveClassesAtExit={tmp} -Djava.io.tmpdir={work}"
    spark = build_session("cds-warm-up", master=master,
                          extra_conf={"spark.driver.extraJavaOptions": options})
    spark.sparkContext  # the session starts on first use
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF, dumping as it goes
    proc.wait()
