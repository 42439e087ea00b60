"""gRPC API edge: wire codec parity + RPC semantics.

The codec and service tests mirror the reference's server tests
(internal/server/server_test.go:177-245 produce/consume/stream
round-trips and exact offsets, :207-222 past-boundary error with the
offset in the message, :286-308 unauthorized client) WITHOUT needing
grpcio — the transport binding itself is exercised in the final test,
which skips where grpcio is absent.
"""

from __future__ import annotations

import threading

import pytest
from conftest import NoSpark

from proglog_spark.engine import Engine
from proglog_spark.grpc_api import LogService, RpcError, wire
from proglog_spark.grpc_api.service import (
    CODE_INVALID_ARGUMENT,
    CODE_OFFSET_OUT_OF_RANGE,
    CODE_PERMISSION_DENIED,
)

# ---------------------------------------------------------------------------
# wire codec
# ---------------------------------------------------------------------------


def test_canonical_produce_request_bytes():
    """Bytes must match what protoc-generated stubs emit: field 1
    LEN(record), record holds field 1 LEN(b"hello")."""
    req = wire.ProduceRequest(wire.Record(value=b"hello"))
    assert req.encode() == bytes.fromhex("0a070a0568656c6c6f")
    assert wire.ProduceRequest.decode(req.encode()) == req


def test_consume_response_record_is_field_two():
    """log.proto:35 numbers the record field 2 — an easy wire break."""
    resp = wire.ConsumeResponse(wire.Record(offset=1))
    assert resp.encode() == b"\x12\x02\x10\x01"
    assert wire.ConsumeResponse.decode(resp.encode()).record.offset == 1


def test_proto3_defaults_are_absent_on_the_wire():
    assert wire.Record().encode() == b""
    assert wire.ProduceResponse(offset=0).encode() == b""
    assert wire.ConsumeRequest(offset=0).encode() == b""
    assert wire.Record.decode(b"") == wire.Record()


def test_message_fields_keep_explicit_presence():
    # proto3 scalars drop defaults, but MESSAGE fields have explicit
    # presence: a set-but-all-defaults record must emit a zero-length
    # LEN field, or a protoc stub reads it back as nil/unset (e.g. the
    # legitimate empty value stored at offset 0)
    assert wire.ProduceRequest(record=wire.Record()).encode() == b"\x0a\x00"
    assert wire.ConsumeResponse(record=wire.Record()).encode() == b"\x12\x00"
    rt = wire.ConsumeResponse.decode(b"\x12\x00")
    assert rt.record == wire.Record()


def test_record_full_roundtrip_and_wide_varints():
    r = wire.Record(value=b"\x00\xff" * 10, offset=(1 << 56) + 7, term=300, type=4)
    assert wire.Record.decode(r.encode()) == r
    # varint spot checks against the spec
    assert wire.encode_varint(300) == b"\xac\x02"
    assert wire.decode_varint(b"\xac\x02", 0) == (300, 2)


def test_unknown_fields_are_skipped():
    buf = wire.Record(value=b"x").encode()
    # append unknown field 15, varint 99 — decoders must skip it
    extra = buf + wire.encode_varint((15 << 3) | 0) + wire.encode_varint(99)
    assert wire.Record.decode(extra).value == b"x"


def test_last_scalar_occurrence_wins():
    buf = (
        wire.ConsumeRequest(offset=3).encode()
        + wire.ConsumeRequest(offset=9).encode()
    )
    assert wire.ConsumeRequest.decode(buf).offset == 9


def test_get_servers_response_roundtrip():
    resp = wire.GetServersResponse(
        servers=[
            wire.Server(id="a", rpc_addr="h1:1", is_leader=True),
            wire.Server(id="b", rpc_addr="h2:2", is_leader=False),
        ]
    )
    back = wire.GetServersResponse.decode(resp.encode())
    assert back == resp


# ---------------------------------------------------------------------------
# RPC semantics (transport-independent)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("grpclog") / "log")
    return LogService(Engine.create(spark, path, bucket_size=8))


def _produce(svc, value: bytes, subject="root") -> int:
    resp = svc.produce(
        subject, wire.ProduceRequest(wire.Record(value=value)).encode()
    )
    return wire.ProduceResponse.decode(resp).offset


def _consume(svc, offset: int, subject="root") -> wire.Record:
    resp = svc.consume(subject, wire.ConsumeRequest(offset=offset).encode())
    return wire.ConsumeResponse.decode(resp).record


def test_produce_consume_roundtrip_exact_offsets(svc):
    """server_test.go:177-205: the ack carries the exact offset and
    the read returns the same record at it."""
    assert _produce(svc, b"hello world") == 0
    assert _produce(svc, b"second") == 1
    rec = _consume(svc, 0)
    assert (rec.value, rec.offset) == (b"hello world", 0)
    assert _consume(svc, 1).value == b"second"


def test_consume_past_boundary_carries_offset(svc):
    """server_test.go:207-222 + api/v1/error.go:15: code 404, message
    'offset out of range: <k>'."""
    hi = 1 + 1  # two records produced above
    with pytest.raises(RpcError) as e:
        _consume(svc, hi)
    assert e.value.code == CODE_OFFSET_OUT_OF_RANGE
    assert e.value.details == f"offset out of range: {hi}"


def test_unauthorized_subject_is_permission_denied(svc):
    """server_test.go:286-308: nobody can neither produce nor consume."""
    with pytest.raises(RpcError) as e:
        _produce(svc, b"x", subject="nobody")
    assert e.value.code == CODE_PERMISSION_DENIED
    with pytest.raises(RpcError) as e:
        _consume(svc, 0, subject="nobody")
    assert e.value.code == CODE_PERMISSION_DENIED
    with pytest.raises(RpcError):
        next(
            svc.consume_stream(
                "nobody", wire.ConsumeRequest(offset=0).encode()
            )
        )


def test_produce_stream_acks_each_request_in_order(svc):
    """server_test.go:224-245: stream round-trip, one ack per record
    with consecutive offsets."""
    base = 2  # records 0,1 already exist
    reqs = [
        wire.ProduceRequest(wire.Record(value=f"s{i}".encode())).encode()
        for i in range(3)
    ]
    offsets = [
        wire.ProduceResponse.decode(ack).offset
        for ack in svc.produce_stream("root", iter(reqs))
    ]
    assert offsets == [base, base + 1, base + 2]


def test_consume_stream_tails_and_follows(svc):
    """server.go:138-158: the stream delivers the backlog in order,
    then blocks on out-of-range and resumes when a record lands."""
    got: list[tuple[int, bytes]] = []
    stop = threading.Event()
    stream = svc.consume_stream(
        "root", wire.ConsumeRequest(offset=0).encode(), stop=stop
    )
    for resp in stream:
        rec = wire.ConsumeResponse.decode(resp).record
        got.append((rec.offset, rec.value))
        if len(got) == 5:  # the 5 records produced so far
            break
    assert [o for o, _ in got] == [0, 1, 2, 3, 4]
    assert got[0][1] == b"hello world"

    # follow: a produce while the stream is parked past the end
    def _later():
        _produce(svc, b"tail arrival")

    t = threading.Timer(0.2, _later)
    t.start()
    resp = next(stream)
    t.join()
    rec = wire.ConsumeResponse.decode(resp).record
    assert (rec.offset, rec.value) == (5, b"tail arrival")
    stop.set()
    stream.close()


def test_get_servers_wire_roundtrip(svc):
    resp = wire.GetServersResponse.decode(
        svc.get_servers("root", wire.GetServersRequest().encode())
    )
    assert len(resp.servers) == 3
    assert sum(s.is_leader for s in resp.servers) == 1
    assert all(s.id and s.rpc_addr for s in resp.servers)


def test_get_servers_denied_is_permission_denied(svc):
    """GetServers is consume-gated; denial must surface the same
    PERMISSION_DENIED (code 7) RpcError as produce/consume — never an
    unmapped engine exception (which grpcio would report as UNKNOWN)."""
    with pytest.raises(RpcError) as e:
        svc.get_servers("nobody", wire.GetServersRequest().encode())
    assert e.value.code == CODE_PERMISSION_DENIED


def test_non_utf8_value_is_invalid_argument(svc):
    with pytest.raises(RpcError) as e:
        _produce(svc, b"\xff\xfe")
    assert e.value.code == CODE_INVALID_ARGUMENT


# ---------------------------------------------------------------------------
# grpcio transport binding (runs only where grpcio is installed)
# ---------------------------------------------------------------------------


def test_grpc_transport_end_to_end(spark, tmp_path):
    grpc = pytest.importorskip("grpc")
    from proglog_spark.grpc_api.server import SERVICE_NAME, GrpcLogServer

    engine = Engine.create(spark, str(tmp_path / "log"), bucket_size=8)
    srv = GrpcLogServer(engine)
    host, port = srv.start()
    try:
        channel = grpc.insecure_channel(f"{host}:{port}")
        produce = channel.unary_unary(f"/{SERVICE_NAME}/Produce")
        consume = channel.unary_unary(f"/{SERVICE_NAME}/Consume")
        ack = produce(
            wire.ProduceRequest(wire.Record(value=b"over grpc")).encode()
        )
        assert wire.ProduceResponse.decode(ack).offset == 0
        got = consume(wire.ConsumeRequest(offset=0).encode())
        assert wire.ConsumeResponse.decode(got).record.value == b"over grpc"
        with pytest.raises(grpc.RpcError) as e:
            consume(wire.ConsumeRequest(offset=99).encode())
        assert e.value.code() == grpc.StatusCode.NOT_FOUND
        assert "offset out of range: 99" in e.value.details()
    finally:
        srv.stop()


def test_grpc_transport_streams_end_to_end(spark, tmp_path):
    """ENV-GATED (skips without grpcio): the two streaming RPCs over a
    REAL grpc channel — the reference's testProduceConsumeStream shape
    (internal/server/server_test.go:177-192): ProduceStream acks each
    record with its offset in request order; ConsumeStream replays from
    the requested offset. Pins the hand-rolled proto3 wire bytes
    through an actual HTTP/2 transport, not just in-process fixtures."""
    grpc = pytest.importorskip("grpc")
    from proglog_spark.grpc_api.server import SERVICE_NAME, GrpcLogServer

    engine = Engine.create(spark, str(tmp_path / "log"), bucket_size=8)
    srv = GrpcLogServer(engine)
    host, port = srv.start()
    try:
        channel = grpc.insecure_channel(f"{host}:{port}")
        produce_stream = channel.stream_stream(f"/{SERVICE_NAME}/ProduceStream")
        consume_stream = channel.unary_stream(f"/{SERVICE_NAME}/ConsumeStream")
        values = [b"first", b"second", b"third"]
        acks = list(
            produce_stream(
                iter(wire.ProduceRequest(wire.Record(value=v)).encode()
                     for v in values)
            )
        )
        assert [wire.ProduceResponse.decode(a).offset for a in acks] == [0, 1, 2]
        got = []
        for resp in consume_stream(wire.ConsumeRequest(offset=1).encode()):
            got.append(wire.ConsumeResponse.decode(resp).record)
            if len(got) == 2:  # tail-follow never ends on its own
                break
        assert [(r.offset, r.value) for r in got] == [(1, b"second"), (2, b"third")]
    finally:
        srv.stop()


def test_consume_stream_follows_concurrent_produces(tmp_path, monkeypatch):
    """The gRPC edge runs Produce under its lock and ConsumeStream
    outside it, so the stream reads the writer's handle while appends
    change its index. Two producer threads send 300 single-record
    Produces: the stream delivers dense, unique offsets, every
    producer ack is unique, and no delivered record opens a dataset
    (each one comes from the LRU its append filled)."""
    import pyarrow.dataset as pads

    engine = Engine.create(NoSpark(), str(tmp_path / "log"), bucket_size=64)
    svc, edge_lock = LogService(engine), threading.Lock()
    opened = []
    dataset = pads.dataset
    monkeypatch.setattr(
        pads, "dataset", lambda *a, **k: opened.append(a) or dataset(*a, **k)
    )
    acks, delivered, errors = [], [], []
    stop = threading.Event()

    def produce(tag: str) -> None:
        try:
            for i in range(150):
                with edge_lock:
                    acks.append(_produce(svc, f"{tag}{i}".encode()))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    def follow() -> None:
        try:
            for resp in svc.consume_stream(
                "root", wire.ConsumeRequest(offset=0).encode(),
                stop=stop, poll_interval=0.001,
            ):
                delivered.append(wire.ConsumeResponse.decode(resp).record.offset)
                if len(delivered) == 300:
                    stop.set()
        except Exception as e:
            errors.append(e)

    follower = threading.Thread(target=follow)
    producers = [threading.Thread(target=produce, args=(t,)) for t in "ab"]
    follower.start()
    for t in producers:
        t.start()
    for t in producers:
        t.join(timeout=120)
    follower.join(timeout=60)
    stop.set()
    follower.join(timeout=10)
    engine.log.close()
    assert errors == []
    assert sorted(acks) == list(range(300))
    assert delivered == list(range(300))
    assert opened == []


class _FakeGrpc:
    """Just enough of ``grpc`` to build a ``GrpcLogServer`` and call its
    handlers directly, without a transport."""

    class StatusCode:
        PERMISSION_DENIED = INVALID_ARGUMENT = NOT_FOUND = INTERNAL = object()

    class _Server:
        def add_generic_rpc_handlers(self, handlers):
            self.handlers = handlers[0]

        def add_insecure_port(self, address):
            return 0

    @staticmethod
    def _handler(fn):
        return fn

    unary_unary_rpc_method_handler = _handler
    unary_stream_rpc_method_handler = _handler
    stream_stream_rpc_method_handler = _handler

    @staticmethod
    def method_handlers_generic_handler(name, handlers):
        return handlers

    @classmethod
    def server(cls, executor):
        return cls._Server()


def test_get_servers_answers_while_the_edge_lock_is_held(tmp_path, monkeypatch):
    """GetServers reads a constant catalog, so it does not wait behind
    the edge lock that Produce and Consume take."""
    import sys

    from proglog_spark.grpc_api.server import GrpcLogServer

    monkeypatch.setitem(sys.modules, "grpc", _FakeGrpc)
    engine = Engine.create(NoSpark(), str(tmp_path / "log"), bucket_size=8)
    srv = GrpcLogServer(engine)

    class Context:
        def invocation_metadata(self):
            return ()

    got = []
    call = threading.Thread(
        target=lambda: got.append(
            srv._server.handlers["GetServers"](
                wire.GetServersRequest().encode(), Context()
            )
        ),
        daemon=True,
    )
    with srv._lock:
        call.start()
        call.join(timeout=5)
        assert not call.is_alive()
    servers = wire.GetServersResponse.decode(got[0]).servers
    assert sum(s.is_leader for s in servers) == 1
