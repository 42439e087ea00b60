"""The log service under test, run as its own process.

Builds the server exactly as ``python -m proglog_spark serve --create``
does — a local SparkSession, ``Engine.create`` with the default bucket
size, ``HttpLogServer`` — prints ``SERVING host:port`` and serves until
SIGTERM. With ``--spans FILE`` it first wraps the live instances'
public methods (``Engine.produce``/``consume``,
``Authorizer.authorize``, ``LogTable.append``/``read``/
``highest_offset``) and counts footer reads and dataset opens, then
writes the spans to FILE on exit.

    python perfbench/sut_log.py --path DIR --cpus N [--spans FILE]
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _produce_rid(subject, records):
    return "p:" + str(records[0])[:32]


def _consume_rid(subject, offset):
    return f"c:{int(offset)}"


def instrument(engine, tracer) -> None:
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    tracer.wrap(engine, "produce", "engine.produce", _produce_rid)
    tracer.wrap(engine, "consume", "engine.consume", _consume_rid)
    tracer.wrap(engine, "lowest_offset", "engine.lowest_offset", lambda *a: "bounds")
    tracer.wrap(engine, "highest_offset", "engine.highest_offset", lambda *a: "bounds")
    tracer.wrap(engine.authorizer, "authorize", "acl.authorize")
    tracer.wrap(engine.log, "append", "log.append")
    tracer.wrap(engine.log, "read", "log.read")
    tracer.wrap(engine.log, "highest_offset", "log.highest_offset")
    tracer.count(pq, "read_metadata", "footer_reads")
    tracer.count(
        pads, "dataset", "files_opened",
        weight=lambda src, *a, **k: len(src) if isinstance(src, list) else 1,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    from proglog_spark.engine import Engine
    from proglog_spark.server import HttpLogServer
    from proglog_spark.session import build_session

    spark = build_session(
        "proglog-cli", master=f"local[{args.cpus}]", shuffle_partitions=max(args.cpus, 2)
    )
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())
    try:
        engine = Engine.create(spark, args.path)
        tracer = None
        if args.spans:
            from tracer import Tracer

            tracer = Tracer()
            instrument(engine, tracer)
        srv = HttpLogServer(engine, host="127.0.0.1", port=0)
        host, port = srv.start()
        print(f"SERVING {host}:{port}", flush=True)
        stop.wait()
        srv.stop()
        if tracer is not None:
            tracer.unwrap()
            tracer.dump(args.spans)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
