"""Workload ``log_service``: the paper's Produce/Consume/ConsumeStream
surface over HTTP, as a client sees it.

Set-up starts the server process (``sut_log.py``) on a fresh log and
batch-produces ``PRELOAD`` seeded 100-byte records, 1,000 per request.
It runs ``SETUPS`` times, each with a new server process, and the
last server is kept. The timed phase is a closed loop of four
keep-alive ``http.client`` threads in ``n = RATE * seconds`` rounds
(see ``_timed``): two producers each sending one single-record POST a
round, one reader doing one ``GET /?offset=k`` a round with ``k``
seeded and uniform over the acknowledged offsets, and one tail
follower doing one ``GET /?offset=cursor`` a round. After the rounds
the follower goes on, retrying a 404 after ``TAIL_PAUSE_S`` (the
reference's ConsumeStream busy-retry), until it has every produced
record or ``DRAIN_S`` has passed.

The work is fixed, not the time: every append adds a file to the one
bucket, and a read opens every file in it, so a request's cost grows
through the run. With a fixed count of requests the bucket grows the
same way in every run, and the CPU time per request compares across
runs; ``RATE`` sizes the work to take about ``seconds`` on a 4-core
host.
"""

from __future__ import annotations

import base64
import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

import stats
from logcheck import LogChecker

PRELOAD = 100_000
BATCH = 1_000
RECORD_BYTES = 100
SETUPS = 2
RATE = 4  # rounds a second that the work is sized for
TAIL_PAUSE_S = 0.005
DRAIN_S = 20.0
BARRIER_TIMEOUT_S = 60.0
BOOT_TIMEOUT_S = 120.0
_ALPHABET = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/", dtype=np.uint8
)


def payloads(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random 100-byte ASCII records: 6 bits of entropy a byte,
    so parquet's snappy pass cannot shrink them much."""
    raw = _ALPHABET[rng.integers(0, len(_ALPHABET), size=(n, RECORD_BYTES))]
    return [bytes(row).decode("ascii") for row in raw]


class Server:
    """One server process; ``stop`` ends it and its JVM."""

    def __init__(self, root: str, cpus: int, name: str, spans: str | None) -> None:
        self.path = os.path.join(root, name)
        shutil.rmtree(self.path, ignore_errors=True)
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "sut_log.py"),
               "--path", self.path, "--cpus", str(cpus)]
        if spans:
            cmd += ["--spans", spans]
        self._log = open(os.path.join(root, f"{name}.stderr"), "w")
        self.proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=self._log, text=True, start_new_session=True
        )
        deadline = time.monotonic() + BOOT_TIMEOUT_S
        line = ""
        while time.monotonic() < deadline:
            line = self.proc.stdout.readline()
            if line.startswith("SERVING ") or not line:
                break
        if not line.startswith("SERVING "):
            self.stop()
            raise RuntimeError(f"log server did not start; see {self._log.name}")
        host, port = line.split()[1].rsplit(":", 1)
        self.host, self.port = host, int(port)

    def conn(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection(self.host, self.port, timeout=60)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)  # the JVM, if it outlived the driver
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.proc.stdout.close()
        self._log.close()


def _call(conn, method: str, url: str, body: dict | None = None) -> tuple[int, dict]:
    data = json.dumps(body).encode() if body is not None else None
    headers = {"Content-Type": "application/json"} if data else {}
    conn.request(method, url, body=data, headers=headers)
    resp = conn.getresponse()
    return resp.status, json.loads(resp.read() or b"{}")


def _b64(v: str) -> str:
    return base64.b64encode(v.encode()).decode()


def _unb64(v: str) -> str:
    return base64.b64decode(v).decode()


def set_up(root: str, cpus: int, rng_seed: int, name: str, spans: str | None, check: LogChecker | None):
    """Start a server and preload it; returns (server, seconds)."""
    t0 = time.perf_counter()
    srv = Server(root, cpus, name, spans)
    values = payloads(np.random.default_rng(rng_seed), PRELOAD)
    conn = srv.conn()
    try:
        for i in range(0, PRELOAD, BATCH):
            chunk = values[i:i + BATCH]
            status, body = _call(conn, "POST", "/", {"records": [{"value": _b64(v)} for v in chunk]})
            if status != 200 or body["first_offset"] != i:
                raise RuntimeError(f"preload batch at {i} answered {status} {body}")
            if check is not None:
                check.preloaded(body["first_offset"], chunk)
    except BaseException:
        srv.stop()
        raise
    finally:
        conn.close()
    return srv, time.perf_counter() - t0


def run(args, root: str, cpus: int) -> dict:
    spans_path = os.path.join(root, "spans.json") if args.trace else None
    check = LogChecker()
    setup_s = []
    srv = None
    for i in range(SETUPS):
        last = i == SETUPS - 1
        s, secs = set_up(root, cpus, args.seed, f"log{i}", spans_path if last else None,
                         check if last else None)
        setup_s.append(secs)
        if last:
            srv = s
        else:
            s.stop()
            shutil.rmtree(s.path, ignore_errors=True)
    try:
        out = _timed(args, srv, check)
        status, bounds = _call(conn := srv.conn(), "GET", "/bounds")
        conn.close()
        out["bounds_bad"] = check.bounds(bounds.get("count", -1)) if status == 200 else 1
        out["peak_rss_mb"] = stats.peak_rss_mb(srv.proc.pid)
        out["log_bytes"], out["files_per_bucket"] = _disk(srv.path)
    finally:
        srv.stop()
    out["setup_s"] = setup_s
    out["check"] = check
    if spans_path:
        with open(spans_path) as fh:
            out["spans"] = json.load(fh)
    return out


def _disk(path: str) -> tuple[int, dict[str, int]]:
    total, per_bucket = 0, {}
    for entry in sorted(os.listdir(path)):
        bdir = os.path.join(path, entry)
        if not entry.startswith("bucket="):
            continue
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet") and not f.startswith((".", "_"))]
        per_bucket[entry] = len(files)
        total += sum(os.path.getsize(os.path.join(bdir, f)) for f in files)
    return total, per_bucket


def _timed(args, srv: Server, check: LogChecker) -> dict:
    """``n`` rounds in which each of the four threads sends one request
    and then waits at a barrier for the other three. The server's lock
    serializes a round's requests in the order they reach it, so
    whether a read comes after an append, and misses the hot-bucket
    cache, is drawn afresh each round and averages out over the run;
    free-running threads settle into an order that holds for a whole
    run, and CPU time per request moved by half between runs. Every
    thread records into its own list; the lists are merged after the
    joins."""
    n = max(1, round(RATE * args.seconds))
    rounds = threading.Barrier(4, timeout=BARRIER_TIMEOUT_S)
    # each producer's highest acknowledged offset; one writer per slot,
    # so the reader's max over them needs no lock
    acked_hi = [PRELOAD - 1, PRELOAD - 1]
    produced: list[list] = [[], []]
    reads: list = []
    tail: list = []
    errors: list = []
    polls = [0]  # the tail follower's 404 answers

    def producer(j: int) -> None:
        rng = np.random.default_rng([args.seed, 1 + j])
        conn = srv.conn()
        try:
            for _ in range(n):
                v = payloads(rng, 1)[0]
                rounds.wait()
                t0 = time.monotonic()
                status, body = _call(conn, "POST", "/", {"record": {"value": _b64(v)}})
                t1 = time.monotonic()
                if status != 200:
                    errors.append(f"produce answered {status} {body}")
                    continue
                produced[j].append((body["offset"], v, t0, t1))
                acked_hi[j] = body["offset"]
            rounds.wait()
        except Exception as e:  # noqa: BLE001 - a dead client thread is a failed op, not a crash
            errors.append(f"producer {j}: {e!r}")
            rounds.abort()
        finally:
            conn.close()

    def reader() -> None:
        rng = np.random.default_rng([args.seed, 3])
        conn = srv.conn()
        try:
            for _ in range(n):
                rounds.wait()
                k = int(rng.integers(0, max(acked_hi) + 1))
                t0 = time.monotonic()
                status, body = _call(conn, "GET", f"/?offset={k}")
                t1 = time.monotonic()
                if status != 200:
                    errors.append(f"consume {k} answered {status} {body}")
                    continue
                rec = body["record"]
                reads.append((k, rec["offset"], _unb64(rec["value"]), t0, t1))
            rounds.wait()
        except Exception as e:  # noqa: BLE001
            errors.append(f"reader: {e!r}")
            rounds.abort()
        finally:
            conn.close()

    def follower() -> None:
        conn = srv.conn()

        def fetch(cursor: int) -> int:
            t0 = time.monotonic()
            status, body = _call(conn, "GET", f"/?offset={cursor}")
            t1 = time.monotonic()
            if status == 404:
                polls[0] += 1
                return cursor
            if status != 200:
                errors.append(f"tail {cursor} answered {status} {body}")
                return cursor
            rec = body["record"]
            tail.append((cursor, rec["offset"], _unb64(rec["value"]), t0, t1))
            return cursor + 1

        cursor = PRELOAD
        try:
            for _ in range(n):
                rounds.wait()
                cursor = fetch(cursor)
            rounds.wait()  # every producer has had its last answer
            total = PRELOAD + sum(len(p) for p in produced)
            drain_end = time.monotonic() + DRAIN_S
            while cursor < total and time.monotonic() < drain_end:
                before, cursor = cursor, fetch(cursor)
                if cursor == before:
                    time.sleep(TAIL_PAUSE_S)
        except Exception as e:  # noqa: BLE001
            errors.append(f"tail: {e!r}")
            rounds.abort()
        finally:
            conn.close()

    files_before = sum(_disk(srv.path)[1].values())
    threads = [threading.Thread(target=producer, args=(j,), daemon=True) for j in range(2)]
    threads += [threading.Thread(target=reader, daemon=True), threading.Thread(target=follower, daemon=True)]
    cpu0, steal0 = stats.tree_cpu_s(srv.proc.pid), stats.steal_ticks()
    t_start = time.monotonic()
    for t in threads:
        t.start()
    for t in threads[:3]:
        t.join()
    t_prod_end = time.monotonic()
    threads[3].join()
    t_end = time.monotonic()
    cpu_s, steal = stats.tree_cpu_s(srv.proc.pid) - cpu0, stats.steal_ticks() - steal0

    for j in range(2):
        for off, v, _, _ in produced[j]:
            check.acked(off, v)
    return {
        "produced": [r for p in produced for r in p],
        "reads": reads,
        "tail": tail,
        "errors": errors,
        "polls": polls[0],
        "cpu_s": cpu_s,
        "steal_frac": stats.steal_frac(steal, t_end - t_start),
        "files_before": files_before,
        "t_start": t_start,
        "t_prod_end": t_prod_end,
        "t_end": t_end,
    }
