#!/usr/bin/env python
"""Streamed-gate profiler (r11): runs streamed queries with a
StreamingQueryListener attached and prints each micro-batch's
durationMs breakdown (triggerExecution, addBatch, getBatch,
queryPlanning, walCommit, commitOffsets) plus state-operator commit
times — the instrument for attributing the stateful-engine fixed
cost. Scratch tool; never touches bench artifacts.

Usage: python tools/profile_stream.py --queries q1,q2 [--sf DIR] [--reps 1]
"""

from __future__ import annotations

import argparse
import json
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
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra spark conf key=value (repeatable) for A/B probes",
    )
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="profile-stream",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf=dict(kv.split("=", 1) for kv in args.conf),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql.streaming import StreamingQueryListener

    progress: list = []

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            progress.append(json.loads(e.progress.json))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    spark.streams.addListener(L())

    bench.warm_up(spark, args.sf, int(cpus))

    fns = q.queries()
    for name in args.queries.split(","):
        for rep in range(args.reps):
            progress.clear()
            t0 = time.perf_counter()
            rows = fns[name](spark, args.sf).collect()
            dt = time.perf_counter() - t0
            print(f"\n=== {name} rep{rep}: {dt:.3f}s rows={len(rows)} "
                  f"batches={len(progress)}")
            batch_total = 0.0
            for p in progress:
                dm = p.get("durationMs", {})
                batch_total += dm.get("triggerExecution", 0) / 1000
                so = [
                    {
                        k: op.get(k)
                        for k in (
                            "operatorName", "numRowsTotal", "numRowsUpdated",
                            "commitTimeMs", "allUpdatesTimeMs",
                            "allRemovalsTimeMs", "numShufflePartitions",
                        )
                    }
                    for op in p.get("stateOperators", [])
                ]
                print(f"  batch {p.get('batchId')}: durations={dm} "
                      f"inRows={p.get('numInputRows')}")
                for s in so:
                    print(f"    state: {s}")
            print(f"  sum(triggerExecution)={batch_total:.2f}s "
                  f"(wall {dt:.2f}s => non-batch overhead "
                  f"{dt - batch_total:.2f}s)")
    spark.stop()


if __name__ == "__main__":
    main()
