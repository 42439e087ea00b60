#!/usr/bin/env python
"""Benchmark harness — runs the declared query suite and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {"see": artifact}, "sf": ...}.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_ONLY (comma list),
SPARK_GRAFT_BENCH_COLD=family (cold-attribution mode, below).

Each query is timed end-to-end (plan + execute + collect), after one
untimed warmup to absorb JVM/codegen startup. Results are
materialized with ``collect()`` exactly as the driver's correctness
gate does. After each wall is taken, the query's layer record is read:
its Spark jobs, stages, tasks and executor time, the CPU of its Python
workers, shuffle and spill bytes, Catalyst phases, join output rows,
generated classes compiled, the driver JVM's GC collections, GC ms and
JIT compile ms over the query and its committed heap after it, and, for
a streamed gate, its micro-batches. The per-query walls and records go
to the artifact that ``artifact_path`` names; its header also holds the
session's boot seconds and whether the driver JVM was started from a
class-data-sharing archive.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

import pandas as pd

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# perfbench's counter readers; its oracle module imports from tools/
sys.path += [os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tools")]

from proglog_spark import queries as q  # noqa: E402
from proglog_spark.session import build_session  # noqa: E402
import stats  # noqa: E402
from query_workloads import (  # noqa: E402
    _jobs_counters,
    _plan_counters,
    _progress_listener,
)


def stdout_line(
    total: float,
    sf: str,
    n_queries: int,
    load: list,
    queries_file: str = "bench_queries.json",
) -> str:
    """The ONE line the driver tail-captures from stdout — built here
    so tests can assert it stays under the driver's ~200-byte buffer
    at worst-case field widths (the per-query map deliberately lives
    in a side file, not here). The pointer names the artifact this run
    wrote, which always holds this run's per-query map."""
    return json.dumps(
        {
            "metric": "declared_suite_wall_seconds",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": n_queries,
            "load": load,
            "queries": {"see": queries_file},
        }
    )


# COLD-ATTRIBUTION MODE (VERDICT-r6 #6): the in-suite per-query numbers
# are cache-order-coupled WITHIN these families (the first member to
# run pays the shared cache build; alphabetical order pins WHO pays,
# but the payer's number still bundles the family's shared cost).
# `SPARK_GRAFT_BENCH_COLD=family python bench.py` times each family
# with the session DataFrame cache CLEARED before every single query
# (spark.catalog.clearCache()), so each member pays its own full cost
# — the number a capacity planner wants for a query run in isolation.
# Results merge into the run's artifact under "cold_queries" and are
# PRESERVED by subsequent plain runs, so one artifact carries both.
COLD_FAMILIES: dict[str, list[str]] = {
    "jaccard_dedup": [
        "docs_cluster_safe_split", "docs_containment_dedup",
        "docs_contamination", "docs_curation_pipeline",
        "docs_dedup_clusters", "docs_dedup_keepers", "docs_minhash_lsh",
        "docs_neardup_jaccard",
        # r11: rides the shared verified-pairs table (_jaccard_pairs_t)
        "docs_minhash_estimate_gate",
    ],
    # r11: these two families gained session-shared cached tables
    # (_lm_interp_scores_t, _dsir_features_t) — cold attribution must
    # charge each member its own build, like the families above
    "lm": ["docs_lm_interpolated", "docs_lm_quality_filter"],
    "dsir": [
        "docs_dsir_selection", "docs_dsir_from_model", "docs_dsir_score_new",
    ],
    "image_media": [
        "docs_image_dedup_incremental", "docs_image_dedup_keepers",
        "docs_image_dhash", "docs_image_feature_topk", "docs_image_neardup",
        "docs_multimodal_curation", "docs_video_frame_containment",
        "docs_video_perceptual_containment",
    ],
    "bm25": [
        "docs_bm25_decontamination", "docs_bm25_index_topk", "docs_bm25_topk",
    ],
    "audio": [
        "docs_audio_energy_topk", "docs_audio_fingerprint",
        "docs_audio_perceptual_neardup", "docs_audio_wav_roundtrip",
    ],
    # VERDICT-r8 #4: the scene queries share the session-cached
    # fingerprint table (_shot_frame_hashes) — in-suite, the
    # alphabetically first pays the ~500k-frame decode and the rest
    # ride it; the two index-path queries build their artifact from
    # the same cache, so they belong to the family too
    # docs_av_dedup_verdicts (r11) rides BOTH the scene-signature and
    # audio-fingerprint caches; alphabetically it precedes the
    # docs_scene_* members, so in-suite it is now the scene family's
    # first payer (the audio cache is already warm — the audio family
    # sorts earlier)
    "scene": [
        "docs_av_dedup_verdicts",
        "docs_scene_cuts_from_index", "docs_scene_cuts_streamed",
        "docs_scene_keyframes", "docs_scene_threshold_sweep",
        "docs_video_scene_cuts", "docs_video_shared_scenes",
    ],
    # the ANN families share the quantized-corpus / trained-model
    # prefix caches (IVF centroids, PQ codebooks, SQ8 bounds) and,
    # since r11, the _emb_n/_emb_train_sample driver-side value memos
    # — every memo-sharing member belongs here so cold attribution
    # charges each its own corpus count + training-sample collect
    # (ADVICE-r11: the first six were listed, the rest rode the
    # in-suite cache order and were never cold-priced)
    "emb_ann": [
        "emb_ivf_ann_topk", "emb_ivfpq_ann_topk", "emb_knn_join_ivf",
        "emb_lsh_ann_topk", "emb_pq_ann_topk", "emb_sq8_ann_topk",
        "emb_ann_recall_gate", "emb_cosine_neardup",
        "emb_ivf_recall_gate", "emb_ivfpq_residual_topk",
        "emb_knn_join", "emb_negative_sampling", "emb_pq_recall_gate",
    ],
}


def _code_rev() -> str:
    """Digest of the SOURCE the bench actually measures — bench.py,
    __spark_entry__.py, and every proglog_spark/**/*.py — which keys
    the artifact together with ``cpus``. Pure file contents: stable
    across machines, independent of git state, unmoved by commits that
    touch only docs or artifacts."""
    import hashlib

    files = [
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]
    for r, dirs, fs in os.walk(os.path.join(ROOT, "proglog_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        files += [os.path.join(r, f) for f in fs if f.endswith(".py")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def artifact_path(sf: str, cpus: str) -> str:
    """Where a run at this scale factor and core count writes its
    per-query map: ``bench_queries.json`` for sf0.1 at 32 cores (the
    width of the r1-r12 history), ``bench_queries.sf<sf>.c<cpus>.json``
    for anything else, so runs that are not comparable never share a
    file."""
    name = (
        "bench_queries.json"
        if (sf, cpus) == ("0.1", "32")
        else f"bench_queries.sf{sf}.c{cpus}.json"
    )
    return os.path.join(ROOT, name)


def compile_counters(spark) -> tuple[int, float]:
    """(generated classes compiled, Janino ms) so far in this JVM. In
    local mode the planner and every task share one JVM, so these count
    every class the session compiles; compileTime() is the exact Janino
    total in ns, the histogram only keeps a sample of times."""
    jvm = spark._jvm
    classes = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return classes, ns / 1e6


def jvm_counters(spark) -> tuple[int, float, float]:
    """(GC collections, GC ms, JIT compile ms) so far in this JVM,
    summed over its collectors. On a local master the planner and every
    task share the JVM, so these are JVM-wide, not per task like the
    stage metrics' ``gc_ms``."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gcs = list(mf.getGarbageCollectorMXBeans())
    return (
        sum(max(g.getCollectionCount(), 0) for g in gcs),
        float(sum(max(g.getCollectionTime(), 0) for g in gcs)),
        float(mf.getCompilationMXBean().getTotalCompilationTime()),
    )


def driver_cds_archive(spark) -> bool:
    """Whether the driver JVM was launched with a dynamic
    class-data-sharing archive (its input arguments name one)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = mf.getRuntimeMXBean().getInputArguments()
    return any(str(a).startswith("-XX:SharedArchiveFile=") for a in args)


def heap_committed_mb(spark) -> float:
    """Heap the JVM has committed now, in MB."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20


def python_cpu_ms(spark) -> float | None:
    """CPU ms so far of the Spark JVM's child process trees: the Python
    worker daemon and the workers it forked, live or reaped. None
    outside a local master, whose workers run on other hosts."""
    if not spark.sparkContext.master.startswith("local"):
        return None
    jvm = stats.java_descendant(os.getpid())
    if jvm is None:
        return None
    return 1000 * sum(stats.tree_cpu_s(c) for c in stats._children(jvm))


def time_query(spark, name: str, fn, sf_dir: str, listener) -> tuple[float, dict]:
    """Run one query, time its plan build, execute and ``collect``, and
    return (wall seconds, layer record). The query runs under a job
    group of its own, so the record counts this call's jobs and no
    earlier call's; ``listener`` (``_progress_listener``, added to
    ``spark.streams``) supplies a streamed gate's micro-batches. The
    record is read after the wall is taken, once the listener bus has
    delivered every event of the query; its JVM counters
    (``jvm_counters``) are read just outside the timed region, and
    ``heap_committed_mb`` once the query is done."""
    sc = spark.sparkContext
    group = f"bench-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, name)
    n_started, n_batches = len(listener.started), len(listener.batches)
    classes0, janino0 = compile_counters(spark)
    gc_n0, gc_ms0, jit_ms0 = jvm_counters(spark)
    py0 = python_cpu_ms(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    rows = df.collect()
    wall = time.perf_counter() - t0
    classes, janino = compile_counters(spark)
    gc_n, gc_ms, jit_ms = jvm_counters(spark)
    py1 = python_cpu_ms(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    runs = listener.started[n_started:]
    rec = {"plan_build_s": round(t1 - t0, 4), "rows": len(rows)}
    rec |= _jobs_counters(spark, [group, *runs]) | _plan_counters(df)
    rec |= {
        "cpu_ms": round(rec["cpu_ms"], 1),
        "compiled_classes": classes - classes0,
        "janino_ms": round(janino - janino0, 1),
        "python_cpu_ms": None if py0 is None else round(py1 - py0, 1),
        "jvm_gc_count": gc_n - gc_n0,
        "jvm_gc_ms": round(gc_ms - gc_ms0, 1),
        "jit_ms": round(jit_ms - jit_ms0, 1),
        "heap_committed_mb": round(heap_committed_mb(spark), 1),
    }
    if runs:
        rec["micro_batch_jobs"] = _jobs_counters(spark, runs)["jobs"]
        rec["batches"] = [
            b for b in listener.batches[n_batches:] if b["run_id"] in runs
        ]
    return round(wall, 4), rec


def _run_cold(spark, sf_dir: str, sf: str, out_path: str, listener) -> None:
    """Time every COLD_FAMILIES member with the session cache cleared
    before each query, merge the walls into the artifact (keeping any
    in-suite numbers already there), and print one small JSON line."""
    fns = q.queries()
    missing = [
        n for ms in COLD_FAMILIES.values() for n in ms if n not in fns
    ]
    if missing:
        # loud, but on stderr — stdout's LAST line is the driver
        # contract. A renamed query silently vanishing from the cold
        # report is the "silent cap reads as full coverage" failure.
        print(
            f"WARNING: cold families name unregistered queries: {missing}",
            file=sys.stderr,
        )
    cold: dict[str, float] = {}
    for fam, members in COLD_FAMILIES.items():
        for name in sorted(members):
            if name not in fns:
                continue
            spark.catalog.clearCache()
            # r11: the emb family also shares driver-side VALUE memos
            # (corpus count, the bounded ANN training sample) — drop
            # them too so each cold-timed member pays its own model
            # build, exactly as it pays its own cache build
            q.clear_value_memos()
            cold[name], _ = time_query(spark, name, fns[name], sf_dir, listener)
    existing: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                existing = json.load(fh)
        except (OSError, json.JSONDecodeError):
            existing = {}
    existing["cold_queries"] = cold
    existing["cold_note"] = (
        "per-query wall with spark.catalog.clearCache() before EACH "
        "query (no shared-cache riding); families in bench.COLD_FAMILIES"
    )
    with open(out_path, "w") as fh:
        json.dump(existing, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "cold_family_wall_seconds",
                "value": round(sum(cold.values()), 4),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(cold),
                "queries": {"see": os.path.basename(out_path)},
            }
        )
    )


def session(cpus: str):
    """The bench's session at ``local[cpus]``. Its status store keeps
    every stage of the run: ``_jobs_counters`` looks up each stage of
    a job, skipped ones included, and past Spark's default of 1,000
    retained stages the store evicts skipped stages first, so a
    suite-long session would lose the ones a record still asks for."""
    spark = build_session(
        app_name="proglog-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.retainedStages": str(10**6)},
    )
    # the session starts on first use: here, so boot_s times the boot
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, sf_dir: str, cpus: int) -> None:
    """Untimed warmup: touch every fixture once so IO cache + codegen
    are hot, and pay the session's one-time start-up costs."""
    from pyspark.sql import functions as F

    from proglog_spark.sources.tables import TABLES, load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # pre-spawn the Python/Arrow UDF workers (one per core, ~5 s once)
    # so the first Pandas-UDF query measures steady state, not forks

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(10_000).repartition(cpus).select(_noop("id")).collect()
    # first use of the JSON codec loads Jackson + evaluator classes
    # (~2 s once, data-independent) — absorb it here, one row
    spark.sql(
        "SELECT from_json(to_json(named_struct('a', id)), 'a BIGINT'), "
        "unbase64(base64(CAST('x' AS BINARY))) FROM range(1)"
    ).collect()
    # the session's FIRST stateful streaming query pays ~4 s extra
    # (state-channel Python workers + streaming codegen spin up once
    # per JVM; measured in BASELINE's streaming-fixed-cost section) —
    # absorb it with a minimal 1-row applyInPandasWithState run so the
    # streamed gate entries all measure steady-state engine cost
    _streaming_warmup(spark)


def _streaming_warmup(spark) -> None:
    """One throwaway stateful streaming query (1 row, 1 micro-batch,
    memory sink + checkpoint — the harness shape every streamed gate
    uses)."""
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="bench_stream_warm_src_")
    ckpt = tempfile.mkdtemp(prefix="bench_stream_warm_ckpt_")
    try:
        spark.createDataFrame([(1, 1)], "k long, v long").write.mode(
            "append"
        ).parquet(src)

        def _fn(key, pdfs, state):
            yield pd.DataFrame({"k": [key[0]], "n": [sum(len(p) for p in pdfs)]})

        sq = (
            spark.readStream.schema("k long, v long")
            .parquet(src)
            .groupBy("k")
            .applyInPandasWithState(
                _fn, "k long, n long", "s long", "update", "NoTimeout"
            )
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("bench_stream_warmup")
            .option("checkpointLocation", ckpt)
            .start()
        )
        sq.processAllAvailable()
        sq.stop()
        spark.sql("DROP TABLE IF EXISTS bench_stream_warmup")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    t0 = time.perf_counter()
    spark = session(cpus)
    boot_s = round(time.perf_counter() - t0, 2)

    # CACHE-ORDER POLICY (VERDICT-r5 item 3): queries run in FIXED
    # alphabetical order, NOT the rotation order queries() emits for
    # the driver's correctness window. Several families share session
    # caches (_doc_gram_sets / verified-pairs in the jaccard+minhash
    # dedup family, the decode grids in the media family), so the
    # FIRST family member to run pays the build and the rest ride it
    # — under rotation order that first-payer changed every round,
    # which made per-query deltas unattributable (0.46 s vs 2.40 s
    # for the same unchanged docs_neardup_jaccard across r4/r5).
    # Alphabetical is stable across rounds and code moves, so each
    # cache cost lands on the same query name in every BENCH_r*.json.
    names = sorted(q.queries())
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]

    warm_up(spark, sf_dir, int(cpus))
    listener = _progress_listener()
    spark.streams.addListener(listener)

    out_path = artifact_path(sf, cpus)
    if os.environ.get("SPARK_GRAFT_BENCH_COLD") == "family":
        # cold mode ignores SPARK_GRAFT_BENCH_ONLY (it always times
        # every COLD_FAMILIES member), so it must also ignore the
        # subset diversion below — otherwise a leftover BENCH_ONLY in
        # the environment would silently land the full cold map in the
        # gitignored subset file
        if only:
            print(
                "NOTE: SPARK_GRAFT_BENCH_ONLY is ignored in cold mode",
                file=sys.stderr,
            )
        _run_cold(spark, sf_dir, sf, out_path, listener)
        spark.stop()
        return
    if only:
        # SUBSET DIVERSION (VERDICT-r9 #4): a SPARK_GRAFT_BENCH_ONLY
        # run used to overwrite the committed full-suite artifact with
        # a few-query map (the known probe-session footgun, bit at r9
        # round close too). Subset artifacts now live in their own file.
        out_path = out_path.replace(".json", ".subset.json")

    # 1-min loadavg at start/end, beside the walls: the counters in
    # the records do not move with outside load, the walls do
    load_start = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    records: dict[str, dict] = {}
    fns = q.queries()
    for name in names:
        timings[name], records[name] = time_query(
            spark, name, fns[name], sf_dir, listener
        )
    load_end = round(os.getloadavg()[0], 2)

    total = round(sum(timings.values()), 4)
    full = {
        "metric": "declared_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "records": records,
        "sf": sf,
        "n_queries": len(timings),
        "rows": sum(r["rows"] for r in records.values()),
        "loadavg_1m": [load_start, load_end],
        "query_order": "alphabetical (see cache-order policy above)",
        "cpus": int(cpus),
        "code_rev": _code_rev(),
        "boot_s": boot_s,
        "driver_cds_archive": driver_cds_archive(spark),
    }
    # cold-attribution numbers from a prior SPARK_GRAFT_BENCH_COLD run
    # survive plain rewrites, so one artifact carries both views
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                prior = json.load(fh)
            for k in ("cold_queries", "cold_note"):
                if k in prior:
                    full[k] = prior[k]
        except (OSError, json.JSONDecodeError):
            pass
    # The driver tail-captures stdout with a bounded buffer, so the
    # LAST line must stay small (<200 bytes).  The per-query map goes
    # to the artifact next to this script instead of stdout.
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    print(
        stdout_line(
            total, sf, len(timings), [load_start, load_end],
            os.path.basename(out_path),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
