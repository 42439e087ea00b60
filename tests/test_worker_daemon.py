"""The Python worker daemon re-reads a zip directory only when the
archive changed (``proglog_spark/worker_daemon.py``). The patch is
process-wide, so the rule itself is checked in a subprocess; the UDF
test checks the daemon the shared session's workers really run under.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zip directories are read lazily from 3.12 on; nothing is patched",
)

_RELOAD_PROBE = """
import importlib, os, sys, zipfile, zipimport
from proglog_spark import worker_daemon

archive = sys.argv[1]
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("old_mod.py", "X = 1")
worker_daemon.install()
sys.path.insert(0, archive)
import old_mod
cached = zipimport._zip_directory_cache[archive]
importlib.invalidate_caches()
unchanged_kept = zipimport._zip_directory_cache[archive] is cached

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("old_mod.py", "X = 1")
    z.writestr("new_mod.py", "Y = 2")
st = os.stat(archive)
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
rewritten_read = zipimport._zip_directory_cache[archive] is not cached
import new_mod
print(unchanged_kept, rewritten_read, new_mod.Y)
"""


def test_zip_directory_is_reread_only_when_the_archive_changed(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _RELOAD_PROBE, str(tmp_path / "mods.zip")],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["True", "True", "2"]


def test_udf_tasks_reread_no_zip_directory(spark):
    """Inside a pandas UDF, ``importlib.invalidate_caches()`` (which
    pyspark calls before every task) keeps every cached zip directory:
    the stock daemon's workers replace all of them."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(s):
        import importlib
        import os
        import zipimport

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        replaced = sorted(k for k, v in before.items() if after.get(k) is not v)
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            daemon = fh.read().replace(b"\0", b" ").decode()
        return s.map(lambda _: json.dumps([sorted(before), replaced, daemon]))

    df = spark.range(8).repartition(4).selectExpr("CAST(id AS STRING) AS s")
    for _ in range(2):
        for (row,) in df.select(probe("s")).distinct().collect():
            cached, replaced, daemon = json.loads(row)
            assert any(k.endswith("pyspark.zip") for k in cached), cached
            assert replaced == []
            assert "-m proglog_spark.worker_daemon" in daemon
