#!/usr/bin/env python
"""How the native log's per-request cost grows with the files in a bucket.

Preloads a local log with 100 files of 1,000 records each (the
``log_service`` preload), then runs 1,000 rounds of that workload's
request pattern on one handle, the way the HTTP server's engine does:
two single-record appends (each adds one file), a read at a seeded
uniform offset, a read of the record just appended (the tail follower)
and both bounds (``/bounds``). It prints one JSON line with the CPU
milliseconds per round, averaged over windows of 100 rounds, each keyed
by the number of files in the bucket at the window's end. No Spark
session is built: the local log runs on ``os`` and pyarrow alone.

    python tools/log_growth.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PRELOAD_FILES = 100
APPENDS = 2000
WINDOW = 100  # rounds per reported figure
SEED = 31


def main() -> None:
    from proglog_spark import LogTable

    rng = random.Random(SEED)
    with tempfile.TemporaryDirectory(prefix="loggrowth_") as d:
        log = LogTable.create(None, os.path.join(d, "log"))
        for _ in range(PRELOAD_FILES):
            log.append([rng.randbytes(50).hex() for _ in range(1000)])
        files = PRELOAD_FILES
        windows, spent, rounds = [], 0.0, 0
        for _ in range(APPENDS // 2):
            t0 = time.process_time()
            log.append(["a" * 100])
            last, _ = log.append(["b" * 100])
            log.read(rng.randrange(last + 1))
            log.read(last)
            log.lowest_offset(), log.highest_offset()
            spent += time.process_time() - t0
            files += 2
            rounds += 1
            if rounds == WINDOW:
                windows.append((files, round(1000 * spent / rounds, 2)))
                spent, rounds = 0.0, 0
        log.close()
    print(
        json.dumps(
            {
                "metric": "log_cpu_ms_per_round",
                "preload_files": PRELOAD_FILES,
                "appends": APPENDS,
                "files": [f for f, _ in windows],
                "cpu_ms_per_round": [ms for _, ms in windows],
            }
        )
    )


if __name__ == "__main__":
    main()
