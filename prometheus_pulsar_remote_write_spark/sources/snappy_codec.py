"""Snappy block-format codec for the remote-write HTTP bodies, on pyarrow.

The reference's HTTP edges are snappy-framed (decode on ingest:
pkg/app/produce.go:132; encode on egress: pkg/remote/write.go:190-192).
A block (google/snappy format_description.txt) opens with its
uncompressed length as a little-endian varint, then copy and literal
elements; ``pyarrow.Codec("snappy")`` reads and writes that format.

pyarrow wants the uncompressed size from the caller, and zero-pads the
output when it is given a larger one. So ``decompress`` reads the
preamble itself, refuses a claim that no body of this length can
decode to, and passes pyarrow exactly the claimed size.
"""

from __future__ import annotations

import pyarrow as pa

_CODEC = pa.Codec("snappy")


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("snappy: varint too long")


def decompress(data: bytes) -> bytes:
    """One snappy block -> its bytes; ``ValueError`` on any malformed block."""
    size, pos = _read_varint(data, 0)
    # No element expands more than a 3-byte copy writing 64 bytes, so a
    # larger claim is forged: refuse it before allocating anything for it.
    if size * 3 > (len(data) - pos) * 64:
        raise ValueError(
            f"snappy: preamble claims {size} bytes from {len(data) - pos} input bytes"
        )
    try:
        return _CODEC.decompress(data, decompressed_size=size, asbytes=True)
    except OSError as exc:
        raise ValueError(f"snappy: {exc}") from exc


def compress(data: bytes) -> bytes:
    """Bytes -> one snappy block (preamble, then copy and literal elements)."""
    return _CODEC.compress(data, asbytes=True)
