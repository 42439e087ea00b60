"""proglog_spark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Workloads:

- ``log_service``: the HTTP log server under a closed loop of two
  producers, a reader and a tail follower (``log_service.py``);
- ``queries``: blocked-pairs dedup and similarity queries and
  ``events_*_streamed`` gates, cold (``query_workloads.py``).

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, taken by
wrapping the layers' public calls and reading Spark's status store.
The lines before it list every metric with its unit and sample count.
Each run also writes ``.perfbench/out/<workload>-seed<N>-trace<T>.json``
with the full report (for a traced run: per-query counters, per-batch
streaming progress and the per-layer summary of the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("log_service", "queries")
DEADLINE_S = 170  # a run must end within 180 s; past this it fails


class _Overdue(Exception):
    pass


def _overdue(*_):
    raise _Overdue(f"run exceeded {DEADLINE_S} s")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "proglog_spark", "engine.py")):
        print("perfbench: no proglog_spark package here; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    out_dir = os.path.join(repo, ".perfbench", "out")
    root = os.path.join(repo, ".perfbench", "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(root, ignore_errors=True)
    for d in (out_dir, os.path.join(root, "tmp"), os.path.join(root, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # every temp file the program, Spark or a JVM makes stays in the
    # checkout (the JVM's perf-data file would go to /tmp)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    cpus = len(os.sched_getaffinity(0))
    signal.signal(signal.SIGALRM, _overdue)
    signal.alarm(DEADLINE_S)

    import report

    t0 = time.monotonic()
    try:
        if args.workload == "log_service":
            import log_service

            raw = log_service.run(args, root, cpus)
            rep = report.log_service(raw, args, cpus)
        else:
            import query_workloads

            raw = query_workloads.run(args, root, cpus)
            rep = report.queries(raw, args, cpus)
    finally:
        signal.alarm(0)
        shutil.rmtree(root, ignore_errors=True)
    rep["run_s"] = time.monotonic() - t0

    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(rep, fh, indent=1, default=str)
    for line in report.lines(rep):
        print(line)
    print(f"# report: {os.path.relpath(path, repo)}")
    print(json.dumps(report.result_line(rep, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
