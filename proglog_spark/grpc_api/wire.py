"""Proto3 wire-format codec for the reference's log API messages.

Message and field layout is exactly `/root/reference/api/v1/log.proto`
(Record :7-12, ProduceRequest/Response :22-28, ConsumeRequest/Response
:30-36, GetServersRequest/Response :38-42, Server :44-47) — field
NUMBERS are the wire contract, so these bytes are interchangeable with
any protoc-generated stub. Implemented from the public protobuf
encoding spec (varints, little-endian tags ``(field<<3)|wire_type``,
length-delimited submessages); proto3 semantics honored: default
values are omitted on encode, unknown fields are skipped on decode,
``repeated`` message fields concatenate, and the LAST occurrence of a
scalar wins. No protobuf dependency — this keeps the wire layer fully
testable in environments without grpcio/protobuf.
"""

from __future__ import annotations

from dataclasses import dataclass, field

_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


def encode_varint(n: int) -> bytes:
    if n < 0:
        # proto3 int fields here are uint64/uint32 — negatives are a
        # caller bug, not a wire case
        raise ValueError(f"varint must be non-negative, got {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 64 bits")


def _tag(field_no: int, wire_type: int) -> bytes:
    return encode_varint((field_no << 3) | wire_type)


def _emit_varint_field(out: bytearray, field_no: int, value: int) -> None:
    if value:  # proto3: defaults are absent on the wire
        out += _tag(field_no, _VARINT)
        out += encode_varint(value)


def _emit_len_field(out: bytearray, field_no: int, data: bytes) -> None:
    if data:
        out += _tag(field_no, _LEN)
        out += encode_varint(len(data))
        out += data


def _emit_msg_field(out: bytearray, field_no: int, data: bytes) -> None:
    """Submessage field: proto3 gives MESSAGE fields explicit
    presence, so a set-but-all-defaults submessage must emit a
    zero-length LEN record (`12 00`) — omitting it would read back as
    field-unset in a protoc-generated stub (nil Record in Go) even
    though the sender had a real record of defaults (e.g. the
    legitimate empty value at offset 0)."""
    out += _tag(field_no, _LEN)
    out += encode_varint(len(data))
    out += data


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) over a message's fields —
    varint fields yield ints, length-delimited yield bytes; unknown
    wire types raise, unknown field numbers are the caller's to skip
    (they get yielded like any other)."""
    pos = 0
    while pos < len(buf):
        key, pos = decode_varint(buf, pos)
        field_no, wire_type = key >> 3, key & 0x7
        if wire_type == _VARINT:
            value, pos = decode_varint(buf, pos)
        elif wire_type == _LEN:
            n, pos = decode_varint(buf, pos)
            if pos + n > len(buf):
                raise ValueError("truncated length-delimited field")
            value = buf[pos : pos + n]
            pos += n
        elif wire_type == _I64:
            value = buf[pos : pos + 8]
            pos += 8
        elif wire_type == _I32:
            value = buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire_type}")
        yield field_no, wire_type, value


@dataclass
class Record:
    """log.proto:7-12."""

    value: bytes = b""
    offset: int = 0
    term: int = 0
    type: int = 0

    def encode(self) -> bytes:
        out = bytearray()
        _emit_len_field(out, 1, self.value)
        _emit_varint_field(out, 2, self.offset)
        _emit_varint_field(out, 3, self.term)
        _emit_varint_field(out, 4, self.type)
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "Record":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _LEN:
                m.value = bytes(v)
            elif f == 2 and wt == _VARINT:
                m.offset = v
            elif f == 3 and wt == _VARINT:
                m.term = v
            elif f == 4 and wt == _VARINT:
                m.type = v
        return m


@dataclass
class ProduceRequest:
    """log.proto:22-24."""

    record: Record = field(default_factory=Record)

    def encode(self) -> bytes:
        out = bytearray()
        _emit_msg_field(out, 1, self.record.encode())
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "ProduceRequest":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _LEN:
                m.record = Record.decode(v)
        return m


@dataclass
class ProduceResponse:
    """log.proto:26-28."""

    offset: int = 0

    def encode(self) -> bytes:
        out = bytearray()
        _emit_varint_field(out, 1, self.offset)
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "ProduceResponse":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _VARINT:
                m.offset = v
        return m


@dataclass
class ConsumeRequest:
    """log.proto:30-32."""

    offset: int = 0

    def encode(self) -> bytes:
        out = bytearray()
        _emit_varint_field(out, 1, self.offset)
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "ConsumeRequest":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _VARINT:
                m.offset = v
        return m


@dataclass
class ConsumeResponse:
    """log.proto:34-36 — note the record is field number 2."""

    record: Record = field(default_factory=Record)

    def encode(self) -> bytes:
        out = bytearray()
        _emit_msg_field(out, 2, self.record.encode())
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "ConsumeResponse":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 2 and wt == _LEN:
                m.record = Record.decode(v)
        return m


@dataclass
class GetServersRequest:
    """log.proto:38 — empty message."""

    def encode(self) -> bytes:
        return b""

    @classmethod
    def decode(cls, buf: bytes) -> "GetServersRequest":
        for f, wt, v in _fields(buf):
            pass  # no known fields; tolerate unknowns
        return cls()


@dataclass
class Server:
    """log.proto:44-47."""

    id: str = ""
    rpc_addr: str = ""
    is_leader: bool = False

    def encode(self) -> bytes:
        out = bytearray()
        _emit_len_field(out, 1, self.id.encode("utf-8"))
        _emit_len_field(out, 2, self.rpc_addr.encode("utf-8"))
        _emit_varint_field(out, 3, 1 if self.is_leader else 0)
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "Server":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _LEN:
                m.id = v.decode("utf-8")
            elif f == 2 and wt == _LEN:
                m.rpc_addr = v.decode("utf-8")
            elif f == 3 and wt == _VARINT:
                m.is_leader = bool(v)
        return m


@dataclass
class GetServersResponse:
    """log.proto:40-42."""

    servers: list[Server] = field(default_factory=list)

    def encode(self) -> bytes:
        out = bytearray()
        for s in self.servers:
            # repeated message: one LEN field per element, even when
            # the element encodes empty (presence is meaningful)
            out += _tag(1, _LEN)
            body = s.encode()
            out += encode_varint(len(body))
            out += body
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "GetServersResponse":
        m = cls()
        for f, wt, v in _fields(buf):
            if f == 1 and wt == _LEN:
                m.servers.append(Server.decode(v))
        return m
