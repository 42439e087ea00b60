"""Turn a workload's raw record into named metrics.

The result line carries the end-to-end metrics that hold on a shared
host, the same three on every workload:

- ``setup_s``: the median set-up of the run;
- ``cpu_ms_per_op``: CPU time of the program's processes (Python, JVM,
  Spark's Python workers) over the timed phase, per Produce, Consume
  and tail delivery (log_service) or per query run (queries). Time the
  hypervisor gives to other guests is not in it;
- ``peak_rss_mb``: VmHWM of the program's Python process plus its JVM.

The wall-time figures a client sees (Produce, Consume and delivery
latency, throughput, query walls) are printed beside them with their
sample counts and the share of CPU time stolen by other guests during
the run, but are not in the result line: on a 4-core virtual machine
they moved by a quarter or more between runs as that share went from
1% to 16%, past any bound the benchmark could hold. A per-layer metric
of a layer that a workload does not run is 0 on that workload.
"""

from __future__ import annotations

import stats
from tracer import span_cost_s

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "server.produce_self_ms_p50": "ms",
    "server.consume_self_ms_p50": "ms",
    "engine.busy_frac": "fraction",
    "acl.authorize_us_p50": "us",
    "log.append_ms_p50": "ms",
    "log.append_ms_p90": "ms",
    "log.read_ms_p50": "ms",
    "log.read_ms_p90": "ms",
    "log.footer_reads_per_append": "count",
    "log.files_opened_per_read": "count",
    "log.files_per_bucket_max": "count",
    "log.files_written_per_record": "count",
    "log.bytes_per_user_byte": "ratio",
    "query.plan_build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "driver.other_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "operators.join_output_rows": "count",
    "operators.useful_frac": "fraction",
    "streaming.micro_batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "memory.peak_rss_mb": "MB",
    "memory.jvm_peak_rss_mb": "MB",
    "trace.span_cost_us": "us",
    "trace.cpu_ms_per_op": "ms",
}

# StreamingQueryProgress.durationMs key -> metric
_PHASES = {
    "addBatch": "streaming.add_batch_ms",
    "getBatch": "streaming.get_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "triggerExecution": "streaming.trigger_ms",
}


def _latency(name: str, samples_s: list[float]) -> list[tuple]:
    """Rows (name, value, unit, n) for a latency's p50 and its tail:
    the highest of p99 and p90 that has at least ten samples beyond
    it, or a p99 row with no value when neither has."""
    ms = [x * 1000 for x in samples_s]
    rows = [(f"{name}_p50_ms", _p(ms, 50) if ms else None, "ms", len(ms))]
    tail = stats.tail(ms)
    q, value = tail if tail else (99, None)
    rows.append((f"{name}_p{q}_ms", value, "ms", len(ms)))
    return rows


def _p(samples: list[float], q: float) -> float:
    return stats.percentile(samples, q) if samples else 0.0


def log_service(raw: dict, args, cpus: int) -> dict:
    import log_service as L

    check = raw["check"]
    produced, reads, tail = raw["produced"], raw["reads"], raw["tail"]
    wall = raw["t_prod_end"] - raw["t_start"]
    # Wrong answers only: a record the tail follower has not reached
    # when the drain ends is slow, not wrong, and is reported apart.
    wrong = sum(not check.read(k, off, v) for k, off, v, _, _ in reads)
    wrong += sum(not check.read(k, off, v) for k, off, v, _, _ in tail)
    wrong += check.density(L.PRELOAD)
    wrong += check.tail_order([off for _, off, _, _, _ in tail], L.PRELOAD)
    undelivered = max(0, len(produced) - len(tail))
    failed = len(raw["errors"]) + wrong + raw["bounds_bad"]
    # every Produce, Consume, tail delivery and the final bounds call
    attempted = len(produced) + len(reads) + len(tail) + len(raw["errors"]) + 1

    send = {v: t0 for _, v, t0, _ in produced}
    produce_s = [t1 - t0 for _, _, t0, t1 in produced]
    consume_s = [t1 - t0 for *_, t0, t1 in reads]
    delivery_s = [t1 - send[v] for _, _, v, _, t1 in tail if v in send]
    user_bytes = L.RECORD_BYTES * (L.PRELOAD + len(produced))
    figures = [
        *_latency("produce", produce_s),
        *_latency("consume", consume_s),
        *_latency("delivery", delivery_s),
        ("produce_records_per_s", len(produced) / wall, "1/s", len(produced)),
        ("undelivered_records", undelivered, "count", len(produced)),
        ("log_bytes_per_user_byte", raw["log_bytes"] / user_bytes, "ratio", None),
        ("tail_empty_polls", raw["polls"], "count", None),
        ("host_steal_frac", raw["steal_frac"], "fraction", None),
    ]
    # the workload's fixed work; the 404s the follower gets when it has
    # caught up vary from run to run and are not counted
    requests = len(produced) + len(reads) + len(tail)
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        "cpu_ms_per_op": raw["cpu_s"] / requests * 1000,
        "peak_rss_mb": sum(raw["peak_rss_mb"]),
    }
    samples = {"setup_s": len(raw["setup_s"]), "cpu_ms_per_op": requests, "peak_rss_mb": 1}
    rep = _base(args, cpus, attempted, failed, e2e, figures, raw["setup_s"], samples)
    rep["errors"] = (raw["errors"] + check.errors)[:50]
    rep["sizes"] = {"preload_rows": L.PRELOAD, "batch": L.BATCH, "record_bytes": L.RECORD_BYTES,
                    "bucket_size": 1 << 20, "pin_cap_rows": 1 << 18,
                    "files_per_bucket": raw["files_per_bucket"]}
    if args.trace:
        rep["per_layer"] = _log_layers(raw, e2e, wall) | {
            "log.bytes_per_user_byte": raw["log_bytes"] / user_bytes,
        }
        rep["spans"] = _span_summary(raw["spans"])
    return rep


def _pair(client: list[tuple], spans_by_rid: dict, rid_of) -> list[float]:
    """Client latency minus the Engine span of the same request: the
    request's time outside the engine (HTTP, JSON/base64, lock wait,
    reply). A span pairs with a client call when it has the call's
    request id and lies inside the call's interval."""
    out = []
    for rec in client:
        t0, t1 = rec[-2], rec[-1]
        for s in spans_by_rid.get(rid_of(rec), ()):
            if s["start"] >= t0 and s["end"] <= t1 and "error" not in s:
                out.append((t1 - t0) - (s["end"] - s["start"]))
                break
    return out


def _subtree_counts(spans: list[dict], root_name: str, counter: str) -> tuple[int, int]:
    """(number of ``root_name`` spans, sum of ``counter`` over them and
    every span below them)."""
    by_id = {s["id"]: s for s in spans}
    roots = {s["id"] for s in spans if s["name"] == root_name}
    total = 0
    for s in spans:
        node = s
        while node is not None:
            if node["id"] in roots:
                total += s["counts"].get(counter, 0)
                break
            node = by_id.get(node["parent"])
    return len(roots), total


def _log_layers(raw: dict, e2e: dict, wall: float) -> dict:
    t_start, t_end = raw["t_start"], raw["t_end"]
    spans = [s for s in raw["spans"] if t_start <= s["start"] <= t_end]
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"] in ("engine.produce", "engine.consume"):
            by_rid.setdefault(s["rid"], []).append(s)
    produce_self = _pair(raw["produced"], by_rid, lambda r: "p:" + r[1][:32])
    consume_self = _pair(raw["reads"] + raw["tail"], by_rid, lambda r: f"c:{r[0]}")
    dur = {}
    for s in spans:
        dur.setdefault(s["name"], []).append(s["end"] - s["start"])
    # engine time inside the producers' window (calls serialize on the
    # server lock, so engine spans never overlap)
    busy = sum(max(0.0, min(s["end"], raw["t_prod_end"]) - s["start"]) for s in spans
               if s["name"].startswith("engine."))
    n_app, footers = _subtree_counts(spans, "log.append", "footer_reads")
    n_read, opened = _subtree_counts(spans, "log.read", "files_opened")
    files_now = sum(raw["files_per_bucket"].values())
    cost = span_cost_s()
    out = dict.fromkeys(PER_LAYER, 0.0)
    out |= {
        "server.produce_self_ms_p50": _p(produce_self, 50) * 1000,
        "server.consume_self_ms_p50": _p(consume_self, 50) * 1000,
        "engine.busy_frac": busy / wall,
        "acl.authorize_us_p50": _p(dur.get("acl.authorize", []), 50) * 1e6,
        "log.append_ms_p50": _p(dur.get("log.append", []), 50) * 1000,
        "log.append_ms_p90": _p(dur.get("log.append", []), 90) * 1000,
        "log.read_ms_p50": _p(dur.get("log.read", []), 50) * 1000,
        "log.read_ms_p90": _p(dur.get("log.read", []), 90) * 1000,
        "log.footer_reads_per_append": footers / n_app if n_app else 0.0,
        "log.files_opened_per_read": opened / n_read if n_read else 0.0,
        "log.files_per_bucket_max": max(raw["files_per_bucket"].values(), default=0),
        "log.files_written_per_record": (files_now - raw["files_before"]) / max(len(raw["produced"]), 1),
        "memory.peak_rss_mb": sum(raw["peak_rss_mb"]),
        "memory.jvm_peak_rss_mb": raw["peak_rss_mb"][1],
        "trace.span_cost_us": cost * 1e6,
        "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
    }
    out["_samples"] = {
        "server.produce_self_ms_p50": len(produce_self),
        "server.consume_self_ms_p50": len(consume_self),
        "acl.authorize_us_p50": len(dur.get("acl.authorize", [])),
        "log.append_ms_p50": n_app,
        "log.read_ms_p50": n_read,
        "trace.spans_per_op": len(spans) / max(len(raw["produced"]) + len(raw["reads"]) + len(raw["tail"]), 1),
    }
    return out


def _span_summary(spans: list[dict]) -> dict:
    """Per span name: count, total and self time (ms) and p50 (ms)."""
    selfs = stats.self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0, "_dur": []})
        d["count"] += 1
        d["total_ms"] += (s["end"] - s["start"]) * 1000
        d["self_ms"] += selfs[s["id"]] * 1000
        d["_dur"].append((s["end"] - s["start"]) * 1000)
    for d in out.values():
        d["p50_ms"] = stats.percentile(d.pop("_dur"), 50)
    return {"spans": len(spans), "by_name": out}


def queries(raw: dict, args, cpus: int) -> dict:
    import query_workloads as W

    recs = raw["per_query"]
    timed = [r for r in recs if r["pass"] > 0 and "error" not in r]
    ok = [r for r in recs if "error" not in r]
    problems = {n: p for n, p in raw["checks"].items() if p is not None}
    failed = (len(recs) - len(ok)) + len(problems)
    passes = raw["passes"]

    def per_query_s(part) -> float:
        """``part`` of each query's run, median over the timed passes,
        averaged over the queries."""
        by_query: dict[str, list[float]] = {}
        for r in timed:
            by_query.setdefault(r["query"], []).append(part(r))
        return sum(stats.median(v) for v in by_query.values()) / len(by_query)

    # each query's median over the timed passes, averaged over the
    # queries: one slow pass does not move it, and a p50 over single
    # runs would jump between queries of different cost
    n = len(passes)
    figures = [
        ("plan_build_ms", per_query_s(lambda r: r["plan_build_s"]) * 1000, "ms", n),
        ("collect_ms", per_query_s(lambda r: r["wall_s"] - r["plan_build_s"]) * 1000, "ms", n),
        ("queries_per_s", 1 / per_query_s(lambda r: r["wall_s"]), "1/s", n),
        ("suite_wall_s", stats.median(passes), "s", n),
        ("warmup_pass_s", stats.median(raw["warmup_s"]), "s", len(raw["warmup_s"])),
        *_latency("query_wall", [r["wall_s"] for r in timed]),
        ("host_steal_frac", raw["steal_frac"], "fraction", None),
    ]
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        "cpu_ms_per_op": raw["cpu_s"] / len(timed) * 1000,
        "peak_rss_mb": sum(raw["peak_rss_mb"]),
    }
    samples = {"setup_s": len(raw["setup_s"]), "cpu_ms_per_op": len(timed), "peak_rss_mb": 1}
    rep = _base(args, cpus, len(recs), failed, e2e, figures, raw["setup_s"], samples)
    rep["errors"] = [f"{r['query']}: {r['error']}" for r in recs if "error" in r]
    rep["errors"] += [f"{n}: oracle: {p}" for n, p in problems.items()]
    rep["sizes"] = {"scale": W.SCALE, "master": f"local[{cpus}]"}
    rep["passes_s"] = passes
    rep["walls_s"] = {}
    for r in ok:  # the warm-up passes first
        rep["walls_s"].setdefault(r["query"], []).append(r["wall_s"])
    if args.trace:
        rep["per_layer"] = _query_layers(timed, passes, cpus) | {
            "memory.peak_rss_mb": sum(raw["peak_rss_mb"]),
            "memory.jvm_peak_rss_mb": raw["peak_rss_mb"][1],
            "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
        }
        rep["per_query"] = {}
        for r in recs:  # one record per pass, the warm-up passes first
            rep["per_query"].setdefault(r["query"], []).append(r)
    return rep


def _query_layers(recs: list[dict], passes: list[float], cpus: int) -> dict:
    n = len(passes)

    def per_pass(key):
        return sum(r.get(key, 0) for r in recs) / n

    batches = [b for r in recs for b in r.get("batches", [])]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out |= {
        "query.plan_build_s": per_pass("plan_build_s"),
        "catalyst.analysis_ms": per_pass("analysis_ms"),
        "catalyst.optimization_ms": per_pass("optimization_ms"),
        "catalyst.planning_ms": per_pass("planning_ms"),
        "spark.jobs": per_pass("jobs"),
        "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "executor.run_ms": per_pass("run_ms"),
        "executor.cpu_ms": per_pass("cpu_ms"),
        "executor.gc_ms": per_pass("gc_ms"),
        "shuffle.read_bytes": per_pass("shuffle_read_bytes"),
        "shuffle.write_bytes": per_pass("shuffle_write_bytes"),
        "spill.bytes": per_pass("spill_bytes"),
        "operators.join_output_rows": per_pass("join_output_rows"),
        "streaming.micro_batches": len(batches) / n,
        "trace.span_cost_us": span_cost_s() * 1e6,
    }
    # Driver time outside executor work and Catalyst: scheduling,
    # Python, py4j and the collect. Plan build is not subtracted, as it
    # can hold execution: streamed gates run their stream inside the
    # query function and some pairs queries pin intermediates eagerly.
    catalyst_s = sum(out[k] for k in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                                      "catalyst.planning_ms")) / 1000
    out["driver.other_s"] = sum(passes) / n - out["executor.run_ms"] / 1000 / cpus - catalyst_s
    # result rows per join output row, over the queries whose final
    # plan joins
    joined = [r for r in recs if r.get("join_output_rows")]
    if joined:
        out["operators.useful_frac"] = sum(r["rows"] for r in joined) / sum(r["join_output_rows"] for r in joined)
    for key, name in _PHASES.items():
        out[name] = sum(b["duration_ms"].get(key, 0) for b in batches) / n
    # state size: the last batch of each streaming query, summed
    last: dict[str, dict] = {}
    for b in batches:
        last[b["run_id"]] = b
    out["streaming.state_rows"] = sum(b["state_rows"] for b in last.values()) / n
    out["streaming.state_memory_bytes"] = sum(b["state_memory_bytes"] for b in last.values()) / n
    return out


def _base(args, cpus, attempted, failed, e2e, figures, setup_s, samples) -> dict:
    """The fields every workload's report shares."""
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "attempted": attempted,
        "failed": failed,
        "error_frac": failed / attempted,
        "end_to_end": e2e,
        "samples": samples,
        "setup_runs_s": setup_s,
        "figures": [list(f) for f in figures],
    }


def lines(rep: dict) -> list[str]:
    """Human-readable lines: every metric with unit and sample count."""
    out = [f"# {rep['workload']} seed={rep['seed']} cpus={rep['cpus']} trace={rep['trace']}"]
    for name, value in rep["end_to_end"].items():
        n = rep["samples"].get(name)
        out.append(f"{name:32s} {value:14.4f} {END_TO_END[name]:8s} n={n}")
    for name, value, unit, n in rep["figures"]:
        shown = "   (too few samples)" if value is None else f"{value:14.4f}"
        out.append(f"{name:32s} {shown} {unit:8s} n={n}")
    out.append(f"{'error_frac':32s} {rep['error_frac']:14.6f} {'fraction':8s} "
               f"n={rep['attempted']} failed={rep['failed']}")
    for e in rep["errors"][:10]:
        out.append(f"# error: {e}")
    for name, value in rep.get("per_layer", {}).items():
        if not name.startswith("_"):
            out.append(f"{name:32s} {value:14.4f} {PER_LAYER[name]}")
    return out


def result_line(rep: dict, traced: bool) -> dict:
    """The contract's last line."""
    if traced:
        metrics = {k: stats.metric(rep["per_layer"][k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: stats.metric(rep["end_to_end"][k], u) for k, u in END_TO_END.items()}
    return {
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": metrics,
    }
