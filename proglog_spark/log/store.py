"""The filesystem under a log or keyed table, chosen once per path.

``open_store(spark, path)`` picks one implementation from the path
string when a ``LogTable`` or ``KeyedTable`` is built: a plain path or
a ``file:`` URI gets :class:`LocalStore` (``os`` calls, no JVM), any
other scheme gets :class:`HadoopStore` (the session's Hadoop
``FileSystem`` through py4j). Callers then branch on ``local_root``
only where the data paths differ (pyarrow on a local directory, Spark
elsewhere); the metadata, lock and swap steps go through the store.

Every name is relative to the table root (``"_proglog_meta.json"``,
``"bucket=3"``, ``".merge-new/bucket=3"``). This is the one module
that speaks py4j — the analog of Spark's checkpoint file manager
picking one implementation per path.
"""

from __future__ import annotations

import os
import posixpath
import shutil

# Spark write option: "false" keeps a write from leaving a _SUCCESS
# marker, so a dir written to be swapped in holds only data files
SUCCESS_MARKER_OPTION = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


class Store:
    """What both stores offer, every name relative to the table root:

    - ``exists(name="")``, ``mkdirs(name="")``, ``read(name) -> bytes``
    - ``list(name="")``: sorted ``(child, is_dir)`` pairs, ``[]`` if absent
    - ``write_atomic(name, data)``: written in full to a tmp sibling
      first, so a crash never leaves a truncated file
    - ``create(name, data, overwrite=False)``: False when ``name``
      exists and ``overwrite`` is off (create-exclusive)
    - ``delete(name)``: a file or a whole dir; absent is fine, a
      failure to remove raises
    - ``rename(src, dst)``: to an absent ``dst``; raises ``OSError``
      when the store reports failure instead of returning it
    """

    local_root: str | None  # the table dir as an os path; None if remote

    @staticmethod
    def _tmp_name(name: str) -> str:
        head, tail = posixpath.split(name)
        return posixpath.join(head, f".{tail}.tmp.{os.getpid()}")

    def swap(self, live: str, new: str, aside: str) -> None:
        """Install ``new`` as ``live``: live -> aside (skipped when
        ``live`` is absent), new -> live, drop aside. Each rename is
        checked, so a failed step raises and leaves a state the
        caller's own recovery resolves from the names alone."""
        if self.exists(live):
            self.rename(live, aside)
        self.rename(new, live)
        self.delete(aside)


class LocalStore(Store):
    """``os`` over a local directory."""

    def __init__(self, root: str) -> None:
        self.local_root = root

    def _p(self, name: str) -> str:
        return os.path.join(self.local_root, name) if name else self.local_root

    def exists(self, name: str = "") -> bool:
        return os.path.exists(self._p(name))

    def list(self, name: str = "") -> list[tuple[str, bool]]:
        try:
            with os.scandir(self._p(name)) as it:
                return sorted((e.name, e.is_dir()) for e in it)
        except FileNotFoundError:
            return []

    def read(self, name: str) -> bytes:
        with open(self._p(name), "rb") as fh:
            return fh.read()

    def write_atomic(self, name: str, data: bytes) -> None:
        tmp = self._p(self._tmp_name(name))
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._p(name))

    def create(self, name: str, data: bytes, overwrite: bool = False) -> bool:
        flags = os.O_CREAT | os.O_WRONLY | (os.O_TRUNC if overwrite else os.O_EXCL)
        try:
            fd = os.open(self._p(name), flags)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
            os.fsync(fd)
        finally:
            os.close(fd)
        return True

    def delete(self, name: str) -> None:
        p = self._p(name)
        try:
            os.unlink(p)
        except IsADirectoryError:
            shutil.rmtree(p)
        except FileNotFoundError:
            pass

    def rename(self, src: str, dst: str) -> None:
        os.rename(self._p(src), self._p(dst))

    def mkdirs(self, name: str = "") -> None:
        os.makedirs(self._p(name), exist_ok=True)


class HadoopStore(Store):
    """The Hadoop ``FileSystem`` of ``path``, through the session's JVM."""

    local_root = None

    def __init__(self, spark, path: str) -> None:
        jvm = spark._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._io = jvm.org.apache.commons.io.IOUtils
        self.root = self._path(path)
        self.fs = self.root.getFileSystem(spark._jsc.hadoopConfiguration())

    def _p(self, name: str):
        return self._path(self.root, name) if name else self.root

    def exists(self, name: str = "") -> bool:
        return bool(self.fs.exists(self._p(name)))

    def list(self, name: str = "") -> list[tuple[str, bool]]:
        p = self._p(name)
        if not self.fs.exists(p):
            return []
        return sorted(
            (s.getPath().getName(), bool(s.isDirectory()))
            for s in self.fs.listStatus(p)
        )

    def read(self, name: str) -> bytes:
        stream = self.fs.open(self._p(name))
        try:
            return bytes(self._io.toByteArray(stream))
        finally:
            stream.close()

    def write_atomic(self, name: str, data: bytes) -> None:
        # delete-first: Hadoop rename does not overwrite on all stores;
        # the tmp is complete before the old file is touched, so the
        # window is the delete-rename pair, never a partial write
        tmp = self._tmp_name(name)
        self.create(tmp, data, overwrite=True)
        self.delete(name)
        self.rename(tmp, name)

    def create(self, name: str, data: bytes, overwrite: bool = False) -> bool:
        try:
            stream = self.fs.create(self._p(name), overwrite)
        except Exception as e:
            # only contention means "exists": permission or transient
            # IO failures surface as themselves
            msg = str(getattr(e, "java_exception", None) or e)
            if not overwrite and (
                "AlreadyExists" in msg or "already exists" in msg.lower()
            ):
                return False
            raise
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True

    def delete(self, name: str) -> None:
        p = self._p(name)
        if not self.fs.delete(p, True) and self.fs.exists(p):
            raise OSError(f"cannot delete {p.toString()}")

    def rename(self, src: str, dst: str) -> None:
        s, d = self._p(src), self._p(dst)
        if not self.fs.rename(s, d):
            raise OSError(f"cannot rename {s.toString()} -> {d.toString()}")

    def mkdirs(self, name: str = "") -> None:
        self.fs.mkdirs(self._p(name))


def open_store(spark, path: str) -> Store:
    """``LocalStore`` for a plain path or a ``file:`` URI, otherwise the
    Hadoop store (hdfs, s3a, abfs, ...)."""
    if path.startswith("file:"):
        return LocalStore(path[len("file:"):])
    if "://" in path:
        return HadoopStore(spark, path)
    return LocalStore(path)
