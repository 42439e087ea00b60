"""Spark's Python worker daemon, with zip directories read only when
they change.

``build_session`` makes this module ``spark.python.daemon.module`` on a
local master, so Spark starts it as
``python -m proglog_spark.worker_daemon pyspark.worker`` and it forks
every Python worker of the session.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads its whole archive
at once, and a worker holds one zipimporter per imported subpackage.
So each task re-parsed ``pyspark.zip`` (1,328 entries) about 15 times
and the ``spark-core`` jar (5,359 entries) twice: 160-220 ms of Python
before any UDF code ran. CPython 3.12 made the re-read lazy.

Here, on 3.11 and earlier, an archive's directory is re-read only when
its ``(st_mtime_ns, st_size)`` differs from what this process last
read, or when it is not in ``zipimport._zip_directory_cache``. A new or
rewritten archive (``addPyFile``, ``--py-files``) is still read, and
forked workers inherit the patch and the stamps. On 3.12 and later the
module only runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) at this process's last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` in this process (and the workers it forks)."""
    read_directory = zipimport._read_directory
    reload = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        # stat before the read: a change that lands in between leaves
        # an old stamp, so the next check reads the archive again
        stamp = _stamp(archive)
        _stamps.pop(archive, None)
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (
            cached is not None
            and stamp is not None
            and _stamps.get(self.archive) == stamp
        ):
            self._files = cached
        else:
            reload(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        install()
        # archives read before the patch carry no stamp: read each once
        # here, so no forked worker has to
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
