"""CLI — the reference's ``cmd/server`` analog.

The reference's first runnable binary is eight lines: build the HTTP
server on :8080 and listen (`/root/reference/cmd/server/main.go:9-12`).
This is that entry point for the Spark engine:

    python -m proglog_spark serve --path /data/log [--create] [--port 8080]

opens (or creates) the LogTable and serves the reference's JSON wire
protocol (`proglog_spark/server.py`). The bound address is printed as
the first stdout line (``SERVING host:port``) so callers binding port 0
can discover it. The local SparkSession starts on first use: on a
local path Produce, Consume and bounds run without a JVM, and the
first route that needs Spark starts it, logging one INFO line on
stderr that names who asked.

Also: ``append`` / ``read`` / ``bounds`` one-shot subcommands for
scripting against a log path without a running server; on a local
path they start no JVM either.
"""

from __future__ import annotations

import argparse
import logging
import sys


def _session(cpus: int):
    from proglog_spark.session import build_session

    return build_session(
        "proglog-cli", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 2)
    )


def _log_to_stderr() -> None:
    """The package's INFO lines and up on stderr: a server's log shows
    when it started Spark, and its 500 replies."""
    handler = logging.StreamHandler()
    handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s"))
    pkg = logging.getLogger("proglog_spark")
    pkg.addHandler(handler)
    pkg.setLevel(logging.INFO)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="proglog_spark")
    ap.add_argument("--cpus", type=int, default=2)
    sub = ap.add_subparsers(dest="cmd", required=True)

    serve = sub.add_parser("serve", help="serve the HTTP produce/consume edge")
    serve.add_argument("--path", required=True)
    serve.add_argument("--host", default="127.0.0.1")
    serve.add_argument("--port", type=int, default=8080)
    serve.add_argument("--create", action="store_true")
    serve.add_argument("--bucket-size", type=int, default=1 << 20)
    # mTLS: all three flags ⇒ mutual TLS, CN becomes the ACL subject
    # (reference cmd wiring of config.SetupTLSConfig, tls.go:18-46)
    serve.add_argument("--tls-cert", help="server certificate PEM")
    serve.add_argument("--tls-key", help="server private key PEM")
    serve.add_argument(
        "--tls-ca", help="client CA PEM — setting it requires client certs"
    )

    app = sub.add_parser("append", help="append values (one per arg)")
    app.add_argument("--path", required=True)
    app.add_argument("--create", action="store_true")
    app.add_argument("values", nargs="+")

    rd = sub.add_parser("read", help="point-read one offset")
    rd.add_argument("--path", required=True)
    rd.add_argument("offset", type=int)

    bd = sub.add_parser("bounds", help="lowest/highest/count")
    bd.add_argument("--path", required=True)

    args = ap.parse_args(argv)
    spark = _session(args.cpus)
    try:
        from proglog_spark.engine import Engine
        from proglog_spark.errors import ProglogError
        from proglog_spark.log import LogTable

        if args.cmd == "serve":
            from proglog_spark.server import HttpLogServer

            _log_to_stderr()

            engine = (
                Engine.create(spark, args.path, bucket_size=args.bucket_size)
                if args.create
                else Engine.open(spark, args.path)
            )
            tls = None
            if args.tls_cert or args.tls_key or args.tls_ca:
                from proglog_spark.tlsconfig import TLSConfig

                tls = TLSConfig(
                    cert_file=args.tls_cert,
                    key_file=args.tls_key,
                    ca_file=args.tls_ca,
                    server=True,
                )
            srv = HttpLogServer(engine, host=args.host, port=args.port, tls=tls)
            host, port = srv.start()
            print(f"SERVING {host}:{port}", flush=True)
            try:
                import signal
                import threading

                stop = threading.Event()
                signal.signal(signal.SIGTERM, lambda *_: stop.set())
                signal.signal(signal.SIGINT, lambda *_: stop.set())
                stop.wait()
            finally:
                srv.stop()
            return 0

        if args.cmd == "append":
            log = (
                LogTable.create(spark, args.path)
                if args.create
                else LogTable.open(spark, args.path)
            )
            first, last = log.append(list(args.values))
            print(f"{first} {last}")
            return 0

        log = LogTable.open(spark, args.path)
        if args.cmd == "read":
            row = log.read(args.offset)
            print(f"{row.offset}\t{row.value}\t{row.term}\t{row.type}")
        else:
            lo, hi = log.lowest_offset(), log.highest_offset()
            count = 0 if hi is None else hi - (lo or 0) + 1
            print(f"lowest={lo} highest={hi} count={count}")
        return 0
    except ProglogError as e:
        # the scripting contract: the CANONICAL one-line error string
        # (OFFSET_OUT_OF_RANGE:<k>, PERMISSION_DENIED, ...) on stderr
        # with exit code 2 — not a Python traceback a caller has to
        # grep through (errors.py exists to provide these forms)
        print(e.canonical(), file=sys.stderr)
        return 2
    except FileNotFoundError as e:
        # common misuse #1: --path names a log that doesn't exist —
        # same one-line contract, not a multi-screen traceback
        print(f"NOT_FOUND:{e.filename or e}", file=sys.stderr)
        return 2
    except ValueError as e:
        # common misuse #2: inconsistent flags (e.g. --tls-ca without
        # --tls-cert/--tls-key raises ValueError from build_ssl_context)
        print(f"INVALID_ARGUMENT:{e}", file=sys.stderr)
        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
