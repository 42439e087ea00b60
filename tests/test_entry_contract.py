"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql()
are consistent, multimodal plumbing produces typed metadata. (Full
Spark-vs-DuckDB parity runs via tools/check_oracle.py — kept out of
pytest so the suite stays fast.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from proglog_spark.multimodal import extract_media_meta


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert df.columns == ["split", "source", "n_docs", "total_chars"]
    assert len(rows) > 0
    assert {r.split for r in rows} <= {"train", "valid", "test"}
    assert all(r.n_docs > 0 and r.total_chars > 0 for r in rows)


def test_oracle_keys_subset_of_queries():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_oracle_final_columns_are_scalar(sf_dir):
    """Driver-canonicalization lint (SURVEY §2.1): the driver's hash
    harness sorts result rows with pandas ``sort_values``, where
    list/struct/map cells raise ``unhashable type`` — learned the hard
    way in round 4 when the only two array-final-column queries
    (docs_tokenize_ids, docs_bpe_token_stats) went driver-RED despite
    agreeing with their oracles. Every declared query's FINAL columns
    must therefore be scalar. DuckDB ``DESCRIBE`` binds and types the
    oracle without executing it, and the gate separately enforces
    Spark-vs-oracle schema match, so linting the oracle types covers
    the Spark side too — cheap enough to sweep all registered oracles
    in one test."""
    import duckdb

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall():
            t = typ.upper()
            if "[]" in t or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
                bad.append((name, col, typ))
    assert not bad, f"non-scalar final columns break the driver harness: {bad}"


@pytest.mark.parametrize("name", ["log_bounds", "events_extremes", "emb_dot_topk"])
def test_spot_queries_run(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    assert df.count() > 0


def test_media_meta_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n")), (2, bytearray(b"RIFFxxxx"))],
        "doc_id LONG, payload BINARY",
    )
    out = {r.doc_id: r for r in extract_media_meta(df).collect()}
    assert out[1].n_bytes == 6 and out[1].header_hex == "89504E47"
    assert out[2].n_bytes == 8 and out[2].header_hex == "52494646"


# ---------------------------------------------------------------------------
# Driver re-check rule, mechanized (VERDICT-r5 item 1)
# ---------------------------------------------------------------------------


def _digest_tools():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import digest_manifest

    return digest_manifest


def test_driver_checked_digest_manifest():
    """Every name green-listed in _DRIVER_CHECKED must carry a digest in
    driver_check_manifest.json recorded when its check was logged, and
    that digest must match the CURRENT dependency closure (query source
    + oracle SQL + referenced proglog_spark module/helper sources).
    Drift means an implementation or oracle changed after its last
    driver check — the name must be EVICTED into _WINDOW_PRIORITY (and
    `tools/digest_manifest.py --evict`-ed) so the driver re-verifies
    it, or consciously re-recorded. This converts the re-check rule
    from builder discipline into CI."""
    dm = _digest_tools()
    drifted, missing, stale = dm.drift_report()
    assert not drifted, (
        f"digest drift for driver-checked queries {drifted}: evict them "
        "from _DRIVER_CHECKED into _WINDOW_PRIORITY and run "
        "`python tools/digest_manifest.py --evict <names>`"
    )
    assert not missing, f"checked but never digest-recorded: {missing}"
    assert not stale, (
        f"manifest entries for non-checked names {stale}: run "
        "`python tools/digest_manifest.py --evict <names>`"
    )


def test_digest_detects_oracle_and_impl_drift():
    """The digest must move when the oracle SQL, the query function, or
    a referenced helper changes — otherwise the manifest test above is
    a no-op. Exercised with an injected registry (no globals touched)."""
    dm = _digest_tools()

    def q_v1(spark, sf_dir):
        return helper_v1(spark)

    def q_v2(spark, sf_dir):
        return helper_v1(spark) + 1

    def helper_v1(spark):
        return 0

    base = dm.query_digest("q", {"q": (q_v1, "SELECT 1 AS x")})
    assert dm.query_digest("q", {"q": (q_v1, "SELECT 2 AS x")}) != base
    assert dm.query_digest("q", {"q": (q_v2, "SELECT 1 AS x")}) != base
    # same fn text + sql => same digest (stability)
    assert dm.query_digest("q", {"q": (q_v1, "SELECT 1 AS x")}) == base


def test_digest_covers_operator_modules():
    """A real registry entry's closure must reach the operator modules
    it calls through (the conservative over-evict direction): the
    minhash query's digest includes operators/dedup.py source."""
    dm = _digest_tools()
    from proglog_spark.queries import REGISTRY

    fn_srcs, mods = {}, {}
    dm._fn_closure(REGISTRY["docs_minhash_lsh"][0], fn_srcs, mods)
    assert "proglog_spark.operators.dedup" in mods


def test_digest_reports_renamed_checked_name(monkeypatch):
    """A green-listed name that no longer exists in REGISTRY (renamed/
    deleted query with a stale _DRIVER_CHECKED entry) must surface as
    an actionable drift row, not a KeyError traceback."""
    import proglog_spark.queries as Q

    dm = _digest_tools()
    monkeypatch.setattr(
        Q, "_DRIVER_CHECKED", frozenset(Q._DRIVER_CHECKED | {"ghost_query"})
    )
    drifted, _missing, _stale = dm.drift_report()
    assert "ghost_query" in drifted


# ---------------------------------------------------------------------------
# Every package module has a non-test importer
# ---------------------------------------------------------------------------


def _package_modules(repo):
    """{dotted name: path} for every module under proglog_spark/."""
    out = {}
    for path in (repo / "proglog_spark").rglob("*.py"):
        parts = path.relative_to(repo).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _referenced_modules(path, in_package, modules):
    """Package modules one file imports anywhere (function-local imports
    included). ``import a.b.c`` runs a, a.b and a.b.c; ``from a import
    b`` runs a, and a.b when b is a module. In package code a string
    constant that names a module counts too (``spark.python.daemon.
    module`` names ``proglog_spark.worker_daemon`` that way)."""
    import ast

    tree = ast.parse(path.read_text())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
        elif in_package and isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    out = set()
    for dotted in names:
        parts = dotted.split(".")
        out.update(
            m for m in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
            if m in modules
        )
    return out


def test_every_package_module_is_reached_from_a_non_test_root():
    """A module under proglog_spark/ must be imported, directly or
    through other package modules, by code that runs outside the test
    suite: the package ``__init__``, ``__main__``, ``queries``, the gRPC
    server, ``bench.py``, ``tools/`` or ``perfbench/``. A module that
    only tests or examples import is library surface nothing runs;
    delete it with its tests instead of carrying it."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "proglog_spark"
    modules = _package_modules(repo)
    roots = [
        pkg / "__init__.py",
        pkg / "__main__.py",
        pkg / "queries.py",
        pkg / "grpc_api" / "server.py",
        repo / "bench.py",
        *(repo / "tools").glob("*.py"),
        *(
            p for p in (repo / "perfbench").glob("*.py")
            if not p.name.startswith("test_")
        ),
    ]
    reached = {name for name, path in modules.items() if path in roots}
    todo = list(roots)
    while todo:
        path = todo.pop()
        for mod in _referenced_modules(path, path.is_relative_to(pkg), modules):
            if mod not in reached:
                reached.add(mod)
                todo.append(modules[mod])
    unreached = sorted(set(modules) - reached)
    assert not unreached, (
        f"package modules no non-test root imports: {unreached} — delete "
        "them (and the tests that check only them), or import them from "
        "the code that uses them"
    )


def test_bench_stdout_line_stays_small():
    """The round driver tail-captures bench.py's stdout with a bounded
    buffer: the final JSON line must stay under 200 bytes even at
    worst-case field widths (the per-query map lives in
    bench_queries.json for exactly this reason). Asserts on the REAL
    builder bench.py prints through, so any future field creep fails
    here — r6 added the loadavg pair."""
    import bench

    line = bench.stdout_line(99999.9999, "0.001", 99999, [999.99, 999.99])
    assert len(line) < 200


def test_bench_canary_and_cold_families_name_real_queries():
    """Every cold-family member must be a registered query — a rename
    that silently drops one from the cold report is the 'silent cap
    reads as full coverage' failure."""
    import bench
    from proglog_spark.queries import REGISTRY

    for fam, members in bench.COLD_FAMILIES.items():
        for name in members:
            assert name in REGISTRY, f"{fam}:{name}"


_RECORD_PROBE = """
import json, sys
import bench
from proglog_spark import queries as q

spark = bench.session("2")
listener = bench._progress_listener()
spark.streams.addListener(listener)
fns = q.queries()
names = ["tpch_q1_pricing"] * 3 + ["events_dedup_streamed"]
print(json.dumps(
    [bench.time_query(spark, n, fns[n], sys.argv[1], listener)[1] for n in names]
))
spark.stop()
"""


def test_bench_record_counts_one_call(sf_dir):
    """bench.time_query runs every call under a job group of its own,
    so the third run of a query reports no more jobs than the first (a
    group shared across calls would report the sum of all three), and
    a streamed gate's record carries its micro-batches. It runs in the
    bench's own session, whose status store keeps every stage."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    out = subprocess.run(
        [sys.executable, "-c", _RECORD_PROBE, sf_dir],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *runs, gate = json.loads(out.stdout.splitlines()[-1])
    assert runs[0]["jobs"] > 0 and runs[0]["rows"] > 0
    assert runs[2]["jobs"] <= runs[0]["jobs"]
    assert gate["micro_batch_jobs"] >= 1 and len(gate["batches"]) >= 1
    assert gate["jobs"] >= gate["micro_batch_jobs"]


_PYTHON_CPU_PROBE = """
import json, sys
import bench
from proglog_spark import queries as q

spark = bench.session("2")
listener = bench._progress_listener()
fn = q.queries()["docs_media_meta"]
print(json.dumps(bench.time_query(spark, "docs_media_meta", fn, sys.argv[1], listener)[1]))
spark.stop()
"""


def test_bench_record_counts_python_worker_cpu(sf_dir):
    """A pandas-UDF query's record carries the CPU its Python workers
    used, read from the JVM's child process trees; off a local master,
    where the workers run on other hosts, there is nothing to read."""
    import json
    import subprocess
    import sys
    from pathlib import Path
    from types import SimpleNamespace

    import bench

    yarn = SimpleNamespace(sparkContext=SimpleNamespace(master="yarn"))
    assert bench.python_cpu_ms(yarn) is None

    out = subprocess.run(
        [sys.executable, "-c", _PYTHON_CPU_PROBE, sf_dir],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.splitlines()[-1])["python_cpu_ms"] > 0


def test_bench_record_carries_jvm_counters(spark, sf_dir):
    """A record carries the driver JVM's GC collections, GC ms and JIT
    compile ms over the query, and its committed heap after it."""
    import bench
    from proglog_spark import queries as q

    sc = spark.sparkContext
    try:
        _, rec = bench.time_query(
            spark, "tpch_q1_pricing", q.queries()["tpch_q1_pricing"], sf_dir,
            bench._progress_listener(),
        )
    finally:
        sc._jsc.sc().clearJobGroup()
    for key in ("jvm_gc_count", "jvm_gc_ms", "jit_ms", "heap_committed_mb"):
        assert rec[key] >= 0, key
    assert rec["heap_committed_mb"] > 0


def test_bench_artifact_is_keyed_by_sf_and_cores():
    """One rule names the artifact: the sf0.1 map at 32 cores keeps
    bench_queries.json, every other scale factor or core count gets a
    file of its own, so runs that cannot be compared never overwrite
    each other. The code digest stored beside them is deterministic."""
    import os

    import bench

    def name(sf, cpus):
        return os.path.basename(bench.artifact_path(sf, cpus))

    assert name("0.1", "32") == "bench_queries.json"
    assert name("0.1", "4") == "bench_queries.sf0.1.c4.json"
    assert name("0.01", "32") == "bench_queries.sf0.01.c32.json"
    assert bench._code_rev() == bench._code_rev()
