#!/usr/bin/env python
"""Log-surface throughput microbench — the Produce/Consume paths.

The reference's hot paths are single-record append (O(1) buffered
write + 12-byte index entry, internal/log/store.go:38-57) and offset
point-read (internal/log/log.go:94-109). This engine is micro-batch
columnar, so the honest comparison is THROUGHPUT, not per-record
latency: records/second appended in batches, point reads/second
against the bucketed table (warm, and with a single-record append
before each read), and full ordered-scan rows/second.

Usage: python tools/bench_log.py [--records N] [--batches B] [--reads R]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--reads", type=int, default=50)
    ap.add_argument("--payload-bytes", type=int, default=100)
    args = ap.parse_args()

    from proglog_spark import LogTable
    from proglog_spark.session import build_session

    spark = build_session("bench-log")
    d = tempfile.mkdtemp(prefix="benchlog_")
    bucket_size = 65536
    log = LogTable.create(spark, os.path.join(d, "log"), bucket_size=bucket_size)

    per_batch = args.records // args.batches
    payload = "x" * args.payload_bytes
    batch = [f"{payload}{i:08d}" for i in range(per_batch)]

    # warmup (JVM + committer paths)
    log.append(batch[:100])

    t0 = time.time()
    for _ in range(args.batches):
        log.append(batch)
    append_s = time.time() - t0
    n_appended = per_batch * args.batches

    hi = log.highest_offset()
    t0 = time.time()
    for i in range(args.reads):
        # spread point reads across the offset space (bucket pruning path)
        log.read((i * 7919) % hi)
    read_s = time.time() - t0

    # the scan and the streaming tail below run on Spark: start it
    # here, outside the timed scan (append and read above run without it)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    n_scanned = log.reader().count()
    scan_s = time.time() - t0

    # tail-follow latency: the ConsumeStream analog
    # (internal/server/server.go:138-158 busy-polls per record; we
    # measure append-commit -> micro-batch delivery, median of a few
    # rounds with the query already running and warm)
    import threading

    from proglog_spark.streaming import tail_follow

    delivered: dict[int, float] = {}
    lock = threading.Lock()

    def on_batch(rows):
        now = time.time()
        with lock:
            for r in rows:
                delivered[r.offset] = now

    q = tail_follow(
        log,
        from_offset=log.highest_offset() + 1,
        on_batch=on_batch,
        checkpoint_dir=os.path.join(d, "tail_ckpt"),
    )
    tail_lat_ms = []
    try:
        q.processAllAvailable()  # drain startup
        for i in range(5):
            target = log.highest_offset() + 1
            t0 = time.time()
            log.append([f"tail{i}"])
            deadline = time.time() + 60
            while time.time() < deadline:
                with lock:
                    if target in delivered:
                        tail_lat_ms.append(1000 * (delivered[target] - t0))
                        break
                time.sleep(0.02)
    finally:
        q.stop()
    tail_ms = round(sorted(tail_lat_ms)[len(tail_lat_ms) // 2], 1) if tail_lat_ms else None

    # native tail latency: the in-process consume_iter generator
    # (LogTable.consume_iter — poll_interval + one row-group decode)
    nat_delivered: dict[int, float] = {}
    nat_stop = threading.Event()
    # capture the cursor BEFORE the thread starts: evaluating
    # highest_offset() inside the thread races the first append below
    nat_from = log.highest_offset() + 1

    def nat_consume():
        for row in log.consume_iter(
            from_offset=nat_from, stop=nat_stop
        ):
            with lock:
                nat_delivered[row[0]] = time.time()

    nt = threading.Thread(target=nat_consume, daemon=True)
    nt.start()
    nat_lat_ms = []
    for i in range(5):
        target = log.highest_offset() + 1
        t0 = time.time()
        log.append([f"ntail{i}"])
        deadline = time.time() + 30
        while time.time() < deadline:
            with lock:
                if target in nat_delivered:
                    nat_lat_ms.append(1000 * (nat_delivered[target] - t0))
                    break
            time.sleep(0.002)
    nat_stop.set()
    nt.join(timeout=10)
    nat_ms = (
        round(sorted(nat_lat_ms)[len(nat_lat_ms) // 2], 1) if nat_lat_ms else None
    )

    # the same number of reads, each after a single-record append to
    # the bucket it reads from: the Produce/Consume mix of the HTTP
    # service, where every read follows a change to the bucket listing
    # (only the reads are timed; run last, so the files these appends
    # add do not slow the scan and tail figures above)
    hi = log.highest_offset()
    tail_lo = hi - hi % bucket_size
    interleaved_s = 0.0
    for i in range(args.reads):
        log.append([f"{payload}i{i:07d}"])
        t0 = time.time()
        log.read(tail_lo + (i * 7919) % (hi - tail_lo + 1))
        interleaved_s += time.time() - t0

    print(
        json.dumps(
            {
                "metric": "log_surface_throughput",
                "append_records_per_s": round(n_appended / append_s),
                "append_batch_ms": round(1000 * append_s / args.batches, 1),
                "point_reads_per_s": round(args.reads / read_s, 1),
                "point_reads_per_s_interleaved": round(
                    args.reads / interleaved_s, 1
                ),
                "scan_rows_per_s": round(n_scanned / scan_s),
                "tail_follow_latency_ms_streaming": tail_ms,
                "tail_follow_latency_ms_native": nat_ms,
                "records": n_appended,
                "payload_bytes": args.payload_bytes,
                "unit": "mixed",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
