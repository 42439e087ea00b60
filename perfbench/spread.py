"""Run one workload over several seeds and report each metric's median
and quartile spread, the way the benchmark's steadiness is judged:
``(q3 - q1) / median`` with ``statistics.quantiles(values, n=4)``.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds 15]
        [--trace 0] [--out FILE]

Run it from the root of a checkout. ``--out`` writes every run's
result line and printed figures, and the summary of both, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _stat(vals: list[float], unit: str) -> dict:
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    return {"unit": unit, "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def summary(runs: list[dict]) -> dict:
    """Median, quartiles and spread of every metric over ``runs``."""
    return {name: _stat([r["metrics"][name]["value"] for r in runs], m["unit"])
            for name, m in runs[0]["metrics"].items()}


def figure_summary(runs: list[dict]) -> dict:
    """The same for every printed figure that has a value in each run."""
    out = {}
    for name, _, unit, _ in runs[0]["figures"]:
        vals = [v for r in runs for n, v, _, _ in r["figures"] if n == name and v is not None]
        if len(vals) == len(runs):
            out[name] = _stat(vals, unit)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        out = proc.stdout.strip().splitlines()
        line = json.loads(out[-1])
        line["seed"], line["run_s"] = seed, time.monotonic() - t0
        # the printed figures (latencies with their sample counts, host
        # steal) from the run's full report
        with open(out[-2].removeprefix("# report: ")) as fh:
            line["figures"] = json.load(fh)["figures"]
        runs.append(line)
        print(f"seed {seed}: {line['run_s']:.1f}s correct={line['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    summ, figs = summary(runs), figure_summary(runs)
    for name, s in (summ | figs).items():
        print(f"{name:32s} median {s['median']:12.4f} {s['unit']:8s} spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "cpus": len(os.sched_getaffinity(0)), "runs": runs, "summary": summ,
                       "figures": figs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
