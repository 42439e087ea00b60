"""HTTP produce/consume edge — the reference's JSON API, served.

The reference's first server is a plain HTTP process: POST ``/``
appends ``{"record": {"value": <base64>}}`` and answers
``{"offset": N}``; GET ``/`` takes ``{"offset": N}`` and answers
``{"record": ...}``, 404 past the end
(`/root/reference/internal/server/http.go:14-15,32-78`, JSON shapes
at `internal/server/log.go:15-21`). The gRPC server that replaces it
keeps the same semantics and adds the ACL gate
(`internal/server/server.go:100-120`).

This module is that network edge over the ``Engine`` facade: stdlib
``ThreadingHTTPServer`` (no extra dependencies), JSON/base64 wire
shapes identical to the reference's, ACL enforced per request. The
subject comes from the mTLS peer-cert CN when the server is started
with a mutual-TLS ``TLSConfig`` (the reference's authenticate
interceptor, `server.go:162-174` + `internal/config/tls.go:18-46` —
see ``proglog_spark.tlsconfig``); on PLAINTEXT servers it falls back
to the ``X-Subject`` header, the documented DEV-MODE stand-in. On a
TLS server the header never carries authority: with mutual TLS the
verified cert CN wins, and with server-auth-only TLS (no ``ca_file``)
the peer is unauthenticated, so the subject is the empty string — the
ACL denies it unless the policy explicitly grants ``""``.

Routes:

- ``POST /``  body ``{"record": {"value": b64}}`` → ``{"offset": N}``;
  batch extension ``{"records": [{"value": b64}, ...]}`` →
  ``{"first_offset": a, "last_offset": b}`` (O20's ack stream,
  collapsed to batch bounds).
- ``GET /``   ``?offset=N`` (or JSON body, as the reference reads) →
  ``{"record": {"value": b64, "offset", "term", "type"}}``; 404 +
  ``{"error": "OFFSET_OUT_OF_RANGE:<k>"}`` past the end (the L10
  canonical string, `api/v1/error.go:14-15` analog).
- ``GET /servers`` → ``{"servers": [{id, rpc_addr, is_leader}]}``
  (O22).
- ``GET /bounds`` → ``{"lowest_offset", "highest_offset", "count"}``
  (O12/O13 + density count).

Denied subjects get 403 ``{"error": "PERMISSION_DENIED"}``
(`server_test.go:286-308` behavior). A body over ``MAX_BODY_BYTES``
gets 413 ``{"error": "PAYLOAD_TOO_LARGE:..."}`` before it is read. One
lock serializes all engine calls: the log is single-writer by contract
(SURVEY §7.3.1) and the Spark driver session is shared, so the server
is a thin serialized edge — throughput belongs to batch appends, not
request fan-in.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from proglog_spark.engine import Engine
from proglog_spark.errors import OffsetOutOfRangeError, PermissionDeniedError
from proglog_spark.tlsconfig import TLSConfig, build_ssl_context, peer_common_name

DEFAULT_SUBJECT = "root"

# the largest request body read into memory: grpc's default receive
# limit, so neither edge takes a message the other would refuse
MAX_BODY_BYTES = 4 * 1024 * 1024


class _BodyTooLarge(Exception):
    pass


class HttpLogServer:
    """Serve an ``Engine`` over HTTP(S); ``port=0`` binds an ephemeral
    port (returned by ``start``). Pass a server-side ``TLSConfig``
    with ``ca_file`` set for mutual TLS: the verified client-cert CN
    becomes the ACL subject for every request."""

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        tls: TLSConfig | None = None,
    ):
        self.engine = engine
        self.tls = tls
        self._mutual_tls = bool(tls and tls.ca_file)
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # quiet the default stderr access log
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _reply(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _subject(self) -> str:
                if outer._mutual_tls:
                    # authenticated identity: the handshake-verified
                    # client cert's CN (server.go:170-171). X-Subject
                    # carries no authority once mTLS is on.
                    cn = peer_common_name(self.connection)
                    return cn if cn is not None else ""
                if outer.tls is not None:
                    # server-auth-only TLS: encrypted but the peer is
                    # UNAUTHENTICATED — the dev-mode header must not
                    # carry authority on a TLS endpoint the operator
                    # believes is authenticated, and defaulting to
                    # root would be worse. Reference behavior: the
                    # subject comes only from a verified client cert,
                    # empty otherwise (server.go:162-174) — so the
                    # ACL denies unless the policy grants "".
                    return ""
                return self.headers.get("X-Subject", DEFAULT_SUBJECT)

            def _body_json(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                if n < 0:
                    # rfile.read(-1) would block until the client
                    # half-closes, then parse whatever arrived
                    raise ValueError(f"negative Content-Length {n}")
                if n > MAX_BODY_BYTES:
                    # refused unread, so the rest of the stream is not
                    # a request: close the connection after the reply
                    self.close_connection = True
                    raise _BodyTooLarge(f"{n} > {MAX_BODY_BYTES}")
                if n == 0:
                    return {}
                return json.loads(self.rfile.read(n) or b"{}")

            def do_POST(self):  # noqa: N802
                try:
                    if urlparse(self.path).path not in ("/", "/produce"):
                        # only the produce routes accept POST: without
                        # the check a POST to /bounds or a health probe
                        # with a JSON body would be APPENDED to an
                        # append-only log
                        self._reply(404, {"error": "NOT_FOUND"})
                        return
                    req = self._body_json()
                    # the engine stores value as STRING (FIXTURES §1.1:
                    # oracle-hash friendliness); the wire stays base64
                    # like the reference's []byte, so UTF-8 payloads
                    # round-trip exactly and non-UTF-8 is a 400 here
                    # rather than silent mangling.
                    if "records" in req:
                        values = [
                            base64.b64decode(r["value"]).decode("utf-8")
                            for r in req["records"]
                        ]
                        with outer._lock:
                            first, last = outer.engine.produce(
                                self._subject(), values
                            )
                        self._reply(
                            200, {"first_offset": first, "last_offset": last}
                        )
                    else:
                        value = base64.b64decode(
                            req["record"]["value"]
                        ).decode("utf-8")
                        with outer._lock:
                            first, _ = outer.engine.produce(
                                self._subject(), [value]
                            )
                        self._reply(200, {"offset": first})
                except PermissionDeniedError as e:
                    self._reply(403, {"error": str(e)})
                except _BodyTooLarge as e:
                    self._reply(413, {"error": f"PAYLOAD_TOO_LARGE:{e}"})
                except (KeyError, TypeError, ValueError, json.JSONDecodeError) as e:
                    # TypeError covers well-formed JSON of the wrong
                    # SHAPE (array body, non-string value) — a client
                    # error, not a 500
                    self._reply(400, {"error": f"BAD_REQUEST:{e}"})
                except Exception as e:  # engine/Spark failures → 500,
                    # never a dropped connection (the reference's gRPC
                    # edge maps unknown errors to codes.Internal)
                    self._reply(500, {"error": f"INTERNAL:{e}"})

            def do_GET(self):  # noqa: N802
                try:
                    url = urlparse(self.path)
                    if url.path == "/servers":
                        # a constant catalog: no engine state to lock
                        rows = outer.engine.get_servers(self._subject())
                        self._reply(
                            200,
                            {"servers": [r.asDict() for r in rows]},
                        )
                        return
                    if url.path == "/bounds":
                        sub = self._subject()
                        with outer._lock:
                            lo = outer.engine.lowest_offset(sub)
                            hi = outer.engine.highest_offset(sub)
                        count = 0 if hi is None else hi - (lo or 0) + 1
                        self._reply(
                            200,
                            {
                                "lowest_offset": lo,
                                "highest_offset": hi,
                                "count": count,
                            },
                        )
                        return
                    if url.path != "/":
                        self._reply(404, {"error": f"NOT_FOUND:{url.path}"})
                        return
                    q = parse_qs(url.query)
                    if "offset" in q:
                        offset = int(q["offset"][0])
                    else:
                        # the reference reads the offset from the GET
                        # body (http.go:55-58) — accept that shape too
                        offset = int(self._body_json()["offset"])
                    with outer._lock:
                        row = outer.engine.consume(self._subject(), offset)
                    value = row.value
                    if isinstance(value, str):
                        value = value.encode()
                    self._reply(
                        200,
                        {
                            "record": {
                                "value": base64.b64encode(bytes(value)).decode(),
                                "offset": row.offset,
                                "term": row.term,
                                "type": row.type,
                            }
                        },
                    )
                except OffsetOutOfRangeError as e:
                    self._reply(404, {"error": str(e)})
                except PermissionDeniedError as e:
                    self._reply(403, {"error": str(e)})
                except _BodyTooLarge as e:
                    self._reply(413, {"error": f"PAYLOAD_TOO_LARGE:{e}"})
                except (KeyError, TypeError, ValueError, json.JSONDecodeError) as e:
                    # TypeError covers well-formed JSON of the wrong
                    # SHAPE (array body, non-string value) — a client
                    # error, not a 500
                    self._reply(400, {"error": f"BAD_REQUEST:{e}"})
                except Exception as e:
                    self._reply(500, {"error": f"INTERNAL:{e}"})

        self._server = ThreadingHTTPServer((host, port), Handler)
        if tls is not None:
            ctx = build_ssl_context(tls)
            # do_handshake_on_connect=False: accept() must return
            # immediately so the handshake runs lazily on first read
            # INSIDE the per-connection handler thread — with the
            # default, a client that connects and sends nothing blocks
            # the single accept loop forever (trivial DoS), and even
            # benign handshakes serialize connection setup
            self._server.socket = ctx.wrap_socket(
                self._server.socket, server_side=True, do_handshake_on_connect=False
            )
        self._thread: threading.Thread | None = None

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[:2]

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
