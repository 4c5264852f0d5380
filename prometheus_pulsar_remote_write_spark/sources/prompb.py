"""Codec for the Prometheus remote-write protobuf and its HTTP body.

The wire schema (public prometheus/prompb/types.proto + remote.proto):

    message WriteRequest { repeated TimeSeries timeseries = 1; }
    message TimeSeries   { repeated Label labels = 1;
                           repeated Sample samples = 2; }
    message Label        { string name = 1; string value = 2; }
    message Sample       { double value = 1; int64 timestamp = 2; }

The package needs no protobuf runtime: this hand-rolls the proto3
wire format (varint tags, length-delimited messages, fixed64 doubles).
Unknown fields are skipped, so richer senders (exemplars, metadata fields)
still decode. The decoded Python shape matches WRITE_REQUEST_SCHEMA:

    {"timeseries": [{"labels": [{"name":..., "value":...}, ...],
                     "samples": [{"value":..., "timestamp":...}, ...]}]}

An HTTP body is snappy(proto(WriteRequest)): the reference decodes it at
pkg/app/produce.go:132-140 and re-encodes it at pkg/remote/write.go:184-192.
``decode_body`` and ``encode_body`` are the one place that format is
spelled out; every edge (listener, source, sink) calls them. They live
here, not next to the Spark operators, so that the listener never
imports Spark.
"""

from __future__ import annotations

import struct

from . import snappy_codec


# --- low-level wire helpers -------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("prompb: truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("prompb: varint too long")


def _write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_to_int64(n: int) -> int:
    # proto3 int64 is plain two's-complement varint (NOT zigzag); negative
    # values arrive as 10-byte varints. Normalize to signed.
    if n >= 1 << 63:
        n -= 1 << 64
    return n


def _int64_to_varint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64
    return _write_varint(n)


_FIXED_WIDTH = {1: 8, 5: 4}  # wire type -> bytes (fixed64, fixed32)


def _fields(data: bytes):
    """Yield (field_number, wire_type, value_bytes_or_int) over a message.

    A field that runs past the end of its message raises ``ValueError``:
    a truncated body is refused whole, never half-decoded."""
    pos = 0
    n = len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 0x07
        if wire == 0:
            value, pos = _read_varint(data, pos)
        else:
            if wire == 2:  # length-delimited
                length, pos = _read_varint(data, pos)
            elif wire in _FIXED_WIDTH:
                length = _FIXED_WIDTH[wire]
            else:
                raise ValueError(f"prompb: unsupported wire type {wire}")
            end = pos + length
            if end > n:
                raise ValueError(f"prompb: field {field} runs past its message")
            value, pos = data[pos:end], end
        yield field, wire, value


# --- decode -------------------------------------------------------------


def _decode_label(data: bytes) -> dict:
    name = value = ""
    for field, wire, val in _fields(data):
        if field == 1 and wire == 2:
            name = val.decode("utf-8")
        elif field == 2 and wire == 2:
            value = val.decode("utf-8")
    return {"name": name, "value": value}


def _decode_sample(data: bytes) -> dict:
    value = 0.0
    timestamp = 0
    for field, wire, val in _fields(data):
        if field == 1 and wire == 1:
            value = struct.unpack("<d", val)[0]
        elif field == 2 and wire == 0:
            timestamp = _zigzag_to_int64(val)
    return {"value": value, "timestamp": timestamp}


def _decode_timeseries(data: bytes) -> dict:
    labels = []
    samples = []
    for field, wire, val in _fields(data):
        if field == 1 and wire == 2:
            labels.append(_decode_label(val))
        elif field == 2 and wire == 2:
            samples.append(_decode_sample(val))
    return {"labels": labels, "samples": samples}


def decode_write_request(data: bytes) -> dict:
    timeseries = []
    for field, wire, val in _fields(data):
        if field == 1 and wire == 2:
            timeseries.append(_decode_timeseries(val))
    return {"timeseries": timeseries}


# --- encode -------------------------------------------------------------


def _len_delimited(field: int, payload: bytes) -> bytes:
    return _write_varint((field << 3) | 2) + _write_varint(len(payload)) + payload


def _encode_label(label: dict) -> bytes:
    out = bytearray()
    name = label["name"].encode("utf-8")
    value = label["value"].encode("utf-8")
    out += _len_delimited(1, name)
    out += _len_delimited(2, value)
    return bytes(out)


def _encode_sample(sample: dict) -> bytes:
    out = bytearray()
    out += _write_varint((1 << 3) | 1)
    out += struct.pack("<d", float(sample["value"]))
    out += _write_varint((2 << 3) | 0)
    out += _int64_to_varint(int(sample["timestamp"]))
    return bytes(out)


def _encode_timeseries(ts: dict) -> bytes:
    out = bytearray()
    for label in ts["labels"]:
        out += _len_delimited(1, _encode_label(label))
    for sample in ts["samples"]:
        out += _len_delimited(2, _encode_sample(sample))
    return bytes(out)


def encode_write_request(req: dict) -> bytes:
    out = bytearray()
    for ts in req["timeseries"]:
        out += _len_delimited(1, _encode_timeseries(ts))
    return bytes(out)


# --- the HTTP body: snappy(proto(WriteRequest)) ---------------------------


def decode_body(body: bytes) -> dict:
    """A remote-write HTTP body -> the WriteRequest dict. Raises
    ``ValueError`` when either layer is malformed (the reference's 400),
    or when a series repeats a label name: a label set is a map, so such
    a series is refused rather than keeping one of the values."""
    req = decode_write_request(snappy_codec.decompress(body))
    for ts in req["timeseries"]:
        names = {label["name"] for label in ts["labels"]}
        if len(names) != len(ts["labels"]):
            raise ValueError("prompb: a series repeats a label name")
    return req


def encode_body(timeseries) -> bytes:
    """Time series -> a remote-write HTTP body. Each series and each of
    its labels and samples may be a dict or a Spark Row: only item access
    (``ts["labels"]``, ``label["name"]``, ...) is used."""
    return snappy_codec.compress(encode_write_request({"timeseries": timeseries}))
