"""Workload ``queries``: declared blocked-pairs queries and streamed
gates run cold through the library, as a batch user runs them.

Set-up writes the seeded input tables (``datagen.py``), starts a
SparkSession at ``local[nproc]`` and counts each table; it runs
``SETUPS`` times in one process, so only the first set-up also
launches the JVM. The timed phase runs ``WARMUP_PASSES`` untimed
passes over ``QUERIES``, which take the new JVM's class loading, JIT
and Python worker start-up, then timed passes until ``seconds`` have
passed and at least ``MIN_PASSES`` are done; figures are medians over
the timed passes, so one pass slowed by outside load does not move
them. Every pass runs the queries in a new seeded order, and each
query is cold:
``spark.catalog.clearCache()`` and ``clear_value_memos()`` first, as
``bench.py``'s cold mode does. A query's wall is its plan build plus
execute plus ``collect``. The rows of the last pass are compared with
the DuckDB oracle after the timed phase.

With tracing on, each query runs under its own job group, and the
Spark counters of its jobs, its Catalyst phases, its executed plan's
join metrics and the progress of every micro-batch it streams are
recorded after its wall is taken.
"""

from __future__ import annotations

import os
import time

import numpy as np

import datagen
import oracle
import stats

# Synthetic tables at 1/100 of the fixtures' unit scale (500 documents,
# 200 embeddings, 10,000 events): the fixtures live
# outside the repo, and at sf0.1 one cold pass of the ten pairs queries
# alone takes about 44 s on a 4-core host, past what a 15 s run can
# repeat.
SCALE = 0.01
SETUPS = 3
WARMUP_PASSES = 1
MIN_PASSES = 2
# One query for each of four blocked-pairs operators that a shared
# pairs core would replace: minhash_lsh_pairs and hamming_pairs
# (dedup.py), quantized_knn_join and embedding_cosine_neardup
# (similarity.py). Left out so that a run stays within the benchmark's
# time: jaccard_pairs (docs_dedup_keepers, the costliest at 2-3 s a
# pass), quantized_ivf_knn_join, semantic_dedup and the local
# frame-containment pairs (about 1-2 s a pass each);
# docs_image_neardup and docs_video_perceptual_containment run
# hamming_pairs again.
PAIRS = [
    "docs_minhash_lsh",
    "docs_simhash_neardup",
    "emb_knn_join",
    "emb_cosine_neardup",
]
# One events_*_streamed gate for each of two streaming set-ups: state
# kept by watermark dedup under an availableNow trigger, and
# applyInPandasWithState driven by processAllAvailable. The other
# seven gates repeat these mechanisms at 1-10 s a pass each
# (events_cdc_apply_streamed's foreachBatch merge among them); with
# them a run would not fit the benchmark's time.
GATES = [
    "events_dedup_streamed",
    "events_trailing_anomaly_streamed",
]
QUERIES = PAIRS + GATES
_JOINS = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def _session(cpus: int, root: str):
    from proglog_spark.session import build_session

    return build_session(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={root}",
        },
    )


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: list[str] = []
            self.batches: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            self.started.append(str(event.runId))

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.batches.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()


def _jobs_counters(spark, groups: list[str]) -> dict:
    """Jobs, completed stages and tasks, and the stage metrics of every
    job in ``groups``, read from the status store right after the
    query (the store keeps only the latest 1,000 jobs and stages)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"], 0
    )
    seen = set()
    for g in groups:
        for jid in sc.statusTracker().getJobIdsForGroup(g):
            out["jobs"] += 1
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def _plan_counters(df) -> dict:
    """Catalyst phase times and the executed plan's join output rows."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        ph = phases.get(k)
        out[f"{k}_ms"] = ph.get().durationMs() if ph.isDefined() else 0
    join_rows = 0
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif "QueryStage" in name:
            todo.append(node.plan())
        if name in _JOINS:
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                join_rows += m.get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    out["join_output_rows"] = join_rows
    return out


def run(args, root: str, cpus: int) -> dict:
    names = QUERIES
    data = os.path.join(root, "data")
    setup_s = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            datagen.write_tables(data, args.seed, SCALE)
            spark = _session(cpus, root)
            for t in datagen.TABLES:
                spark.read.parquet(os.path.join(data, f"{t}.parquet")).count()
            setup_s.append(time.perf_counter() - t0)
        return _timed(args, spark, names, data) | {"setup_s": setup_s}
    finally:
        _stop_jvm(spark)


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM that PySpark launched, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def _timed(args, spark, names, data) -> dict:
    from proglog_spark import queries as q

    fns = q.queries()
    rng = np.random.default_rng(args.seed)
    listener = None
    if args.trace:
        listener = _progress_listener()
        spark.streams.addListener(listener)
    per_query, rows = [], {}

    def one_pass(index: int) -> float:
        wall = 0.0
        for name in [names[i] for i in rng.permutation(len(names))]:
            spark.catalog.clearCache()
            q.clear_value_memos()
            rec = {"query": name, "pass": index}
            per_query.append(rec)
            if listener is not None:
                spark.sparkContext.setJobGroup(name, name)
                n_started, n_batches = len(listener.started), len(listener.batches)
            t0 = time.perf_counter()
            try:
                df = fns[name](spark, data)
                t1 = time.perf_counter()
                got = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op, the run goes on
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            rec |= {"wall_s": t2 - t0, "plan_build_s": t1 - t0, "rows": len(got)}
            wall += t2 - t0
            rows[name] = (df.columns, dict(df.dtypes), [tuple(r) for r in got])
            if listener is not None:
                spark.sparkContext.setJobGroup("perfbench-idle", "between queries")
                time.sleep(0.05)  # let the listener bus deliver the last progress events
                runs = listener.started[n_started:]
                rec |= _jobs_counters(spark, [name, *runs]) | _plan_counters(df)
                rec["batches"] = [b for b in listener.batches[n_batches:] if b["run_id"] in runs]
        return wall

    warmup_s = [one_pass(-i) for i in range(WARMUP_PASSES, 0, -1)]
    passes = []
    cpu0, steal0 = stats.tree_cpu_s(os.getpid()), stats.steal_ticks()
    t0 = time.monotonic()
    deadline = t0 + args.seconds
    while len(passes) < MIN_PASSES or time.monotonic() < deadline:
        passes.append(one_pass(len(passes) + 1))
    cpu_s, steal = stats.tree_cpu_s(os.getpid()) - cpu0, stats.steal_ticks() - steal0
    steal_frac = stats.steal_frac(steal, time.monotonic() - t0)
    peak = stats.peak_rss_mb(os.getpid())
    if listener is not None:
        spark.streams.removeListener(listener)
    checks = oracle.compare_all(data, rows, names)
    return {"warmup_s": warmup_s, "passes": passes, "per_query": per_query,
            "checks": checks, "peak_rss_mb": peak, "cpu_s": cpu_s, "steal_frac": steal_frac}
