"""grpcio binding for ``LogService`` — the reference's primary edge.

Mirrors `internal/server/server.go:160-220` (NewGRPCServer with the
authenticate interceptor) over the wire codec and service layer in
this package. grpcio is an OPTIONAL dependency: importing this module
works everywhere, constructing ``GrpcLogServer`` raises a clear
ImportError where grpcio is absent (the rest of the package — codec +
service semantics — stays fully usable and tested).

Identity: with mutual TLS the subject is the verified client cert CN
(server.go:170-171) via grpc's auth_context; on PLAINTEXT servers it
falls back to ``x-subject`` metadata then "root" — the same dev-mode
stand-in as the HTTP edge. On server-auth-only TLS the peer is
unauthenticated and the metadata carries no authority: the subject is
the empty string, denied unless the policy grants it.

One divergence, documented: the reference emits the literal status
code 404 for out-of-range reads (api/v1/error.go:15). grpc-python can
only emit standard codes, so the binding sends NOT_FOUND (5) with the
same ``offset out of range: <k>`` message; the transport-independent
service layer preserves the literal 404 for parity tests.
"""

from __future__ import annotations

import threading
from concurrent import futures

from proglog_spark.engine import Engine
from proglog_spark.grpc_api.service import (
    CODE_INVALID_ARGUMENT,
    CODE_OFFSET_OUT_OF_RANGE,
    CODE_PERMISSION_DENIED,
    LogService,
    RpcError,
)
from proglog_spark.tlsconfig import TLSConfig

SERVICE_NAME = "log.v1.Log"
DEFAULT_SUBJECT = "root"


def _require_grpc():
    try:
        import grpc  # noqa: PLC0415

        return grpc
    except ImportError as e:  # pragma: no cover - env without grpcio
        raise ImportError(
            "GrpcLogServer needs the optional 'grpcio' package; the wire "
            "codec and LogService semantics in proglog_spark.grpc_api work "
            "without it"
        ) from e


class GrpcLogServer:
    """Serve ``Engine`` as gRPC service ``log.v1.Log`` (log.proto:14-20).

    ``port=0`` binds an ephemeral port, returned by ``start()``. Pass
    a server-side ``TLSConfig`` with ``ca_file`` for mutual TLS.
    """

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        tls: TLSConfig | None = None,
        max_workers: int = 8,
    ) -> None:
        grpc = _require_grpc()
        self._grpc = grpc
        self._svc = LogService(engine)
        self._lock = threading.Lock()  # single Spark driver session
        self._mutual_tls = bool(tls and tls.ca_file)

        def subject(context) -> str:
            if self._mutual_tls:
                cn = context.auth_context().get("x509_common_name")
                return cn[0].decode("utf-8") if cn else ""
            if tls is not None:
                # server-auth-only TLS: encrypted but unauthenticated —
                # dev-mode metadata must not carry authority on a TLS
                # endpoint (mirrors server.py's HTTP rule): subject is
                # empty, denied unless the policy grants "".
                return ""
            md = dict(context.invocation_metadata())
            return md.get("x-subject", DEFAULT_SUBJECT)

        def abort(context, e: RpcError):
            code = {
                CODE_PERMISSION_DENIED: grpc.StatusCode.PERMISSION_DENIED,
                CODE_INVALID_ARGUMENT: grpc.StatusCode.INVALID_ARGUMENT,
                CODE_OFFSET_OUT_OF_RANGE: grpc.StatusCode.NOT_FOUND,
            }.get(e.code, grpc.StatusCode.INTERNAL)
            context.abort(code, e.details)

        def produce(request: bytes, context) -> bytes:
            try:
                with self._lock:
                    return self._svc.produce(subject(context), request)
            except RpcError as e:
                abort(context, e)

        def consume(request: bytes, context) -> bytes:
            try:
                with self._lock:
                    return self._svc.consume(subject(context), request)
            except RpcError as e:
                abort(context, e)

        def get_servers(request: bytes, context) -> bytes:
            # a constant catalog of plain rows: no engine state to lock
            try:
                return self._svc.get_servers(subject(context), request)
            except RpcError as e:
                abort(context, e)

        def produce_stream(request_iterator, context):
            try:
                for request in request_iterator:
                    # compute under the lock, yield OUTSIDE it: the
                    # generator suspends at yield while grpc writes the
                    # response, and a client that stops reading must
                    # not wedge every other RPC behind the driver lock
                    with self._lock:
                        resp = self._svc.produce(subject(context), request)
                    yield resp
            except RpcError as e:
                abort(context, e)

        def consume_stream(request: bytes, context):
            # context cancellation → stop event (the select loop at
            # server.go:140-142)
            stop = threading.Event()
            context.add_callback(stop.set)
            try:
                yield from self._svc.consume_stream(
                    subject(context), request, stop=stop
                )
            except RpcError as e:
                abort(context, e)

        handlers = {
            "Produce": grpc.unary_unary_rpc_method_handler(produce),
            "Consume": grpc.unary_unary_rpc_method_handler(consume),
            "ConsumeStream": grpc.unary_stream_rpc_method_handler(consume_stream),
            "ProduceStream": grpc.stream_stream_rpc_method_handler(produce_stream),
            "GetServers": grpc.unary_unary_rpc_method_handler(get_servers),
        }
        self._server = grpc.server(futures.ThreadPoolExecutor(max_workers))
        self._server.add_generic_rpc_handlers(
            (grpc.method_handlers_generic_handler(SERVICE_NAME, handlers),)
        )
        if tls is not None:
            creds = grpc.ssl_server_credentials(
                [(open(tls.key_file, "rb").read(), open(tls.cert_file, "rb").read())],
                root_certificates=(
                    open(tls.ca_file, "rb").read() if tls.ca_file else None
                ),
                require_client_auth=self._mutual_tls,
            )
            self._port = self._server.add_secure_port(f"{host}:{port}", creds)
        else:
            self._port = self._server.add_insecure_port(f"{host}:{port}")
        self._host = host

    def start(self) -> tuple[str, int]:
        self._server.start()
        return self._host, self._port

    def stop(self, grace: float = 1.0) -> None:
        self._server.stop(grace).wait()
