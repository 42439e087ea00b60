#!/usr/bin/env python
"""Per-query optimization profiler (r11).

Times one or more declared queries in isolation with the bench's
session shape and its warmup (``bench.warm_up``), optionally
repeating with the session cache cleared (cold) or warm (ride). With
``--tag`` it then writes each query's ``.explain("formatted")`` output
to plans/<round>/<query>_<tag>.txt (``--round`` defaults to r12;
streamed gates get no plan file). Without ``--tag`` no plan is
written.

Each rep runs every named query once, in order, so rep 1 onwards is a
warm re-run of the whole list. Every line also gives the generated
classes the query compiled and their Janino milliseconds, read by
``bench.compile_counters`` as the bench's layer record reads them: a
query that still compiles on a warm rep either has code that changes on
every run (a literal that differs per run, or an AQE stage id in a
class name) or was evicted from the session's generated-class cache.
Each line then gives the CPU the query's Python workers used
(``bench.python_cpu_ms``) and the driver JVM's GC collections, GC ms,
JIT compile ms and committed heap after the query
(``bench.jvm_counters``, ``bench.heap_committed_mb``). The first line
gives the session's boot seconds and whether its driver JVM was
started from a class-data-sharing archive (``bench.driver_cds_archive``).

Usage:
  python tools/profile_query.py --queries name1,name2|all [--tag before]
      [--round r12] [--reps 2] [--cold] [--sf SF_DIR]

Unlike bench.py this never touches bench_queries.json — it is a
scratch instrument for the optimization rounds.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from proglog_spark import queries as q  # noqa: E402
from proglog_spark.session import build_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--tag", default=None, help="write plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--round", default="r12", help="plans/<round>/ target dir")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cold", action="store_true",
                    help="clearCache() before every rep")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    t0 = time.perf_counter()
    spark = build_session(
        app_name="profile-query",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"session boot: {time.perf_counter() - t0:.2f}s "
          f"cds_archive={bench.driver_cds_archive(spark)}")

    bench.warm_up(spark, args.sf, int(cpus))

    fns = q.queries()
    names = list(fns) if args.queries == "all" else args.queries.split(",")
    for name in names:
        if name not in fns:
            print(f"SKIP unknown query {name}", file=sys.stderr)
    names = [n for n in names if n in fns]
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", args.round,
    )
    for rep in range(args.reps):
        rep_classes, rep_ms, rep_s, rep_gc_ms = 0, 0.0, 0.0, 0.0
        for name in names:
            if args.cold:
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}:rep{rep}")
            c0, ms0 = bench.compile_counters(spark)
            gc_n0, gc_ms0, jit0 = bench.jvm_counters(spark)
            py0 = bench.python_cpu_ms(spark)
            t0 = time.perf_counter()
            rows = fns[name](spark, args.sf).collect()
            dt = time.perf_counter() - t0
            c1, ms1 = bench.compile_counters(spark)
            gc_n1, gc_ms1, jit1 = bench.jvm_counters(spark)
            py = None if py0 is None else bench.python_cpu_ms(spark) - py0
            classes, ms = c1 - c0, ms1 - ms0
            rep_classes, rep_ms, rep_s = rep_classes + classes, rep_ms + ms, rep_s + dt
            rep_gc_ms += gc_ms1 - gc_ms0
            print(f"{name} rep{rep} {'cold' if args.cold else 'warm'}: "
                  f"{dt:.3f}s rows={len(rows)} "
                  f"compiled={classes} compile_ms={ms:.0f} "
                  f"python_cpu_ms={'n/a' if py is None else f'{py:.0f}'} "
                  f"gc={gc_n1 - gc_n0} gc_ms={gc_ms1 - gc_ms0:.0f} "
                  f"jit_ms={jit1 - jit0:.0f} "
                  f"heap_mb={bench.heap_committed_mb(spark):.0f}")
        print(f"rep{rep} total: {rep_s:.1f}s compiled={rep_classes} "
              f"compile_ms={rep_ms:.0f} gc_ms={rep_gc_ms:.0f}")
    for name in names:
        if args.tag and not name.endswith("_streamed"):
            os.makedirs(plans_dir, exist_ok=True)
            df = fns[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
            print(f"  plan -> plans/{args.round}/{name}_{args.tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
