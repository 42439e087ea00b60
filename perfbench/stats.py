"""Small, dependency-free helpers the benchmark's workloads share:
the percentile rule, span self time, process memory and the metric
record format. Kept pure so ``test_perfbench.py`` can check them
without Spark."""

from __future__ import annotations

import math
import os
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty list."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail(samples: list[float], min_beyond: int = 10) -> tuple[int, float] | None:
    """``(q, value)`` for the highest of p99 and p90 that has at least
    ``min_beyond`` samples beyond it, or None when neither has: a tail
    percentile is quoted only where enough samples lie past it."""
    for q in (99, 90):
        if beyond(len(samples), q) >= min_beyond:
            return q, percentile(samples, q)
    return None


def median(samples: list[float]) -> float:
    """Plain median (mean of the middle pair for an even count)."""
    if not samples:
        raise ValueError("median of no samples")
    s = sorted(samples)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so concurrent children are not subtracted twice).

    A span is ``{"id", "parent", "start", "end", ...}``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def java_descendant(pid: int) -> int | None:
    """The first ``java`` process below ``pid`` (Spark's driver JVM)."""
    todo = [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            try:
                with open(f"/proc/{c}/comm") as fh:
                    if fh.read().strip() == "java":
                        return c
            except OSError:
                continue
            todo.append(c)
    return None


def tree_cpu_s(pid: int) -> float:
    """CPU seconds, user plus system, used by ``pid`` and every process
    below it, including children they have already reaped. Time the
    hypervisor gives to other guests is not in it, so it moves far less
    with outside load than wall time does."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        todo.extend(_children(p))
    return total / tick


def steal_ticks() -> int:
    """Clock ticks the hypervisor has given to other guests, summed
    over this machine's CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def steal_frac(ticks: int, wall_s: float) -> float:
    """Share of this machine's CPU time stolen over ``wall_s``."""
    return ticks / os.sysconf("SC_CLK_TCK") / (wall_s * os.cpu_count())


def peak_rss_mb(pid: int) -> tuple[float, float]:
    """VmHWM of a Python process and of its Spark JVM, in MiB."""
    jvm = java_descendant(pid)
    return _status_kb(pid, "VmHWM") / 1024.0, (_status_kb(jvm, "VmHWM") / 1024.0 if jvm else 0.0)


def metric(value: float, unit: str) -> dict:
    """One metric record as the result line carries it."""
    return {"value": float(value), "unit": unit}
