"""Shared Spark session for the test suite.

Mirrors the reference's test posture (tiny segment sizes to force
multi-file coverage, internal/log/log_test.go:27) with small shuffle
partition counts and small LogTable buckets in the tests themselves.
"""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from proglog_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="proglog-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def quiet_expected_aborts(srv, *extra_classes):
    """Silence socketserver's stderr traceback for EXPECTED per-request
    aborts on a test HttpLogServer (VERDICT-r9 #6): keep-alive clients
    reset at teardown, and the mTLS tests deliberately fail handshakes
    (the lazy per-connection handshake raises in the handler thread).
    Only the listed classes are swallowed — anything else still prints
    through the default handle_error, so a genuine handler bug cannot
    hide behind the expected noise."""
    import sys as _sys

    allowed = (ConnectionResetError, BrokenPipeError, *extra_classes)
    default = srv._server.handle_error

    def _handle_error(request, client_address):
        if isinstance(_sys.exc_info()[1], allowed):
            return
        default(request, client_address)

    srv._server.handle_error = _handle_error


class NoSpark:
    """A ``spark`` stand-in whose every attribute access raises."""

    def __getattribute__(self, name):
        raise AssertionError(f"spark.{name} touched")


def raw_hadoop_store(spark, path):
    """The Hadoop store over a local dir, through Hadoop's raw local FS
    (no ``.crc`` sidecars, so files planted with plain ``open`` stay
    readable) — the remote code paths, runnable without a cluster."""
    from proglog_spark.log.store import HadoopStore

    store = HadoopStore(spark, path)
    store.fs = store.fs.getRaw()
    return store


@contextlib.contextmanager
def on_store(kind: str):
    """Tables built inside the block use the ``"os"`` store (what a
    local path gets anyway) or the ``"hadoop"`` one."""
    from proglog_spark.log import store, table
    from proglog_spark.sources import upsert

    chosen = raw_hadoop_store if kind == "hadoop" else store.open_store
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(table, "open_store", chosen)
        mp.setattr(upsert, "open_store", chosen)
        yield
