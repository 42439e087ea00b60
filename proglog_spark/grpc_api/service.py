"""Transport-independent gRPC RPC semantics over ``Engine``.

Each method takes the caller's authenticated subject plus the
request's wire bytes and returns response wire bytes — exactly what a
grpc method handler passes through, but with no grpcio dependency, so
the full RPC contract (ACL gate first, the reference's 404-with-offset
error, per-request stream acks, tail-follow retry loop) is testable in
any environment. Mirrors `internal/server/server.go:100-158`:

- Produce/Consume: authorize(subject, *, action) then touch the log
  (:100-120); denial surfaces PERMISSION_DENIED (code 7).
- Consume past the end: the reference's ErrOffsetOutOfRange maps to a
  status with code **404** (not a standard gRPC code — the reference
  passes the literal, api/v1/error.go:14-15) and message
  ``offset out of range: <k>``.
- ProduceStream (:122-136): one response per request, acked in order.
- ConsumeStream (:138-158): read, send, advance; out-of-range retries
  until a new record is produced (here: ``LogTable.consume_iter``'s
  poll loop, with a ``stop`` event replacing context cancellation).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from proglog_spark.engine import Engine
from proglog_spark.errors import OffsetOutOfRangeError, PermissionDeniedError
from proglog_spark.grpc_api import wire

# grpc status codes used by the reference's server
CODE_OK = 0
CODE_PERMISSION_DENIED = 7  # codes.PermissionDenied
CODE_INVALID_ARGUMENT = 3
CODE_OFFSET_OUT_OF_RANGE = 404  # the literal the reference passes


class RpcError(Exception):
    """A status-carrying RPC failure (what a grpc binding would turn
    into ``context.abort(code, details)``)."""

    def __init__(self, code: int, details: str) -> None:
        self.code = code
        self.details = details
        super().__init__(f"rpc error: code = {code} desc = {details}")


def _map_error(e: Exception) -> RpcError:
    if isinstance(e, OffsetOutOfRangeError):
        # api/v1/error.go:15 — status.New(404, "offset out of range: %d")
        return RpcError(CODE_OFFSET_OUT_OF_RANGE, f"offset out of range: {e.offset}")
    if isinstance(e, PermissionDeniedError):
        return RpcError(CODE_PERMISSION_DENIED, str(e))
    raise e


class LogService:
    """The five RPCs of service Log (log.proto:14-20), bytes-in/bytes-out."""

    def __init__(self, engine: Engine) -> None:
        self.engine = engine

    # -- unary -------------------------------------------------------------

    def produce(self, subject: str, request: bytes) -> bytes:
        req = wire.ProduceRequest.decode(request)
        try:
            value = req.record.value.decode("utf-8")
        except UnicodeDecodeError as e:
            # engine stores value as STRING (FIXTURES §1.1); reject
            # undecodable payloads loudly instead of mangling them
            raise RpcError(CODE_INVALID_ARGUMENT, f"value is not UTF-8: {e}")
        try:
            first, _last = self.engine.produce(
                subject, [(value, req.record.term, req.record.type)]
            )
        except (PermissionDeniedError, OffsetOutOfRangeError) as e:
            raise _map_error(e)
        return wire.ProduceResponse(offset=first).encode()

    def consume(self, subject: str, request: bytes) -> bytes:
        req = wire.ConsumeRequest.decode(request)
        try:
            row = self.engine.consume(subject, req.offset)
        except (PermissionDeniedError, OffsetOutOfRangeError) as e:
            raise _map_error(e)
        return wire.ConsumeResponse(
            record=wire.Record(
                value=row.value.encode("utf-8"),
                offset=row.offset,
                term=row.term,
                type=row.type,
            )
        ).encode()

    def get_servers(self, subject: str, request: bytes) -> bytes:
        wire.GetServersRequest.decode(request)  # validate framing
        try:
            rows = self.engine.get_servers(subject)
        except PermissionDeniedError as e:
            # consume-gated like Consume itself (server.go:138-143's
            # authorize-first contract): denial is PERMISSION_DENIED
            # code 7, not a transport-level UNKNOWN
            raise _map_error(e)
        return wire.GetServersResponse(
            servers=[
                wire.Server(
                    id=r.id, rpc_addr=r.rpc_addr, is_leader=bool(r.is_leader)
                )
                for r in rows
            ]
        ).encode()

    # -- streaming ---------------------------------------------------------

    def produce_stream(
        self, subject: str, requests: Iterable[bytes]
    ) -> Iterator[bytes]:
        """Bidi stream: one ack per request, in order (server.go:122-136
        delegates each element to Produce — so does this)."""
        for request in requests:
            yield self.produce(subject, request)

    def consume_stream(
        self,
        subject: str,
        request: bytes,
        stop=None,
        poll_interval: float = 0.02,
    ) -> Iterator[bytes]:
        """Server stream: read/send/advance, retrying past the end
        until new data arrives (server.go:138-158's select loop; the
        ``stop`` threading.Event stands in for context cancellation).
        The ACL check runs once up front, like the interceptor-scoped
        reference check — each yielded element is the Consume payload.
        """
        req = wire.ConsumeRequest.decode(request)
        try:
            self.engine.authorizer.authorize(subject, "*", "consume")
        except PermissionDeniedError as e:
            raise _map_error(e)
        for off, value, term, typ in self.engine.log.consume_iter(
            from_offset=req.offset, stop=stop, poll_interval=poll_interval
        ):
            yield wire.ConsumeResponse(
                record=wire.Record(
                    value=value.encode("utf-8"), offset=off, term=term, type=typ
                )
            ).encode()
