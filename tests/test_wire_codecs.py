"""snappy + prompb codec tests (wire edges A1/A4)."""

import struct

import pytest
from hypothesis import given, settings, strategies as st

from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec


# --- snappy ----------------------------------------------------------------


def test_snappy_roundtrip_basic():
    for payload in [b"", b"a", b"hello world" * 100, bytes(range(256)) * 50]:
        assert snappy_codec.decompress(snappy_codec.compress(payload)) == payload


def test_snappy_decodes_real_copies():
    # hand-built stream exercising literal + copy-1 + copy-2 elements:
    # "abcd" then copy(offset=4, len=4) -> "abcdabcd"
    stream = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(0 << 5) | 1, 4])
    assert snappy_codec.decompress(stream) == b"abcdabcd"

    # overlapping copy: "ab" + copy(offset=2, len=6) -> "abababab"
    stream = bytes([8]) + bytes([1 << 2]) + b"ab" + bytes([((6 - 4) << 2) | 1, 2])
    assert snappy_codec.decompress(stream) == b"abababab"

    # copy-2: offset as 2 LE bytes
    stream = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(3 << 2) | 2, 4, 0])
    assert snappy_codec.decompress(stream) == b"abcdabcd"


def test_snappy_rejects_garbage():
    for bad in [b"", bytes([200, 200, 200]), bytes([4, (2 << 2) | 1, 9])]:
        try:
            snappy_codec.decompress(bad)
            assert False, "should have raised"
        except ValueError:
            pass


@settings(max_examples=50)
@given(st.binary(max_size=5000))
def test_snappy_roundtrip_prop(payload):
    assert snappy_codec.decompress(snappy_codec.compress(payload)) == payload


def test_snappy_forged_preamble_rejected_before_allocating(monkeypatch):
    class _NoCodec:
        def decompress(self, *args, **kwargs):
            raise AssertionError("a forged preamble reached the codec")

    monkeypatch.setattr(snappy_codec, "_CODEC", _NoCodec())
    forged = prompb._write_varint(1 << 40) + bytes([3 << 2]) + b"abcd"
    with pytest.raises(ValueError, match="preamble claims"):
        snappy_codec.decompress(forged)


def test_snappy_codec_error_surfaces_as_value_error():
    # a copy whose offset reaches before the start of the output: the
    # preamble is plausible, so only the codec itself can refuse it
    bad_offset = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(3 << 2) | 2, 9, 0])
    with pytest.raises(ValueError) as exc_info:
        snappy_codec.decompress(bad_offset)
    assert isinstance(exc_info.value.__cause__, OSError)


def _element_kinds(block: bytes) -> list[int]:
    """The low two tag bits of each element of a snappy block."""
    _, pos = snappy_codec.read_varint(block, 0)
    kinds = []
    while pos < len(block):
        tag = block[pos]
        kind = tag & 0x03
        kinds.append(kind)
        if kind == 0:
            length = tag >> 2
            if length >= 60:
                extra = length - 59
                length = int.from_bytes(block[pos + 1 : pos + 1 + extra], "little")
                pos += extra
            pos += 1 + length + 1
        else:
            pos += 1 + {1: 1, 2: 2, 3: 4}[kind]
    assert pos == len(block)
    return kinds


def test_snappy_compress_emits_copies():
    payload = b"node_cpu_seconds_total{cpu=0} " * 200
    block = snappy_codec.compress(payload)
    assert len(block) < len(payload)
    assert any(kind != 0 for kind in _element_kinds(block))
    assert snappy_codec.decompress(block) == payload


# --- prompb ------------------------------------------------------------------


#: sample-timestamp varints that no int64 has: 10 bytes ending in 0x7f,
#: and 11 bytes
OVERLONG_TIMESTAMP_VARINTS = [b"\xff" * 9 + b"\x7f", b"\x80" * 10 + b"\x01"]


def body_with_timestamp_varint(varint: bytes) -> bytes:
    """A one-sample remote-write body (series ``up``, value 1.0) whose
    timestamp field holds ``varint`` verbatim."""
    sample = b"\x09" + struct.pack("<d", 1.0) + b"\x10" + varint
    series = prompb._len_delimited(
        1, prompb._encode_label({"name": "__name__", "value": "up"})
    ) + prompb._len_delimited(2, sample)
    return snappy_codec.compress(prompb._len_delimited(1, series))


def _req(n_series=3, n_samples=2):
    return {
        "timeseries": [
            {
                "labels": [
                    {"name": "__name__", "value": "node_cpu_seconds_total"},
                    {"name": "instance", "value": f"instance{i}"},
                ],
                "samples": [
                    {"value": i + j / 10, "timestamp": 1588462000000 + j}
                    for j in range(n_samples)
                ],
            }
            for i in range(n_series)
        ]
    }


def test_prompb_roundtrip():
    req = _req()
    assert prompb.decode_write_request(prompb.encode_write_request(req)) == req


def test_prompb_negative_timestamp_and_specials():
    req = {
        "timeseries": [
            {
                "labels": [{"name": "n", "value": ""}],
                "samples": [
                    {"value": float("inf"), "timestamp": -1},
                    {"value": -0.0, "timestamp": 0},
                ],
            }
        ]
    }
    out = prompb.decode_write_request(prompb.encode_write_request(req))
    assert out["timeseries"][0]["samples"][0]["timestamp"] == -1
    assert out["timeseries"][0]["samples"][0]["value"] == float("inf")
    # -1 is the 10-byte varint ending in 0x01; a 10th byte above 1, or an
    # 11th byte, carries bits past 64 that no int64 has
    (sample,) = prompb.decode_body(body_with_timestamp_varint(b"\xff" * 9 + b"\x01"))[
        "timeseries"
    ][0]["samples"]
    assert sample["timestamp"] == -1
    for varint in OVERLONG_TIMESTAMP_VARINTS:
        with pytest.raises(ValueError):
            prompb.decode_body(body_with_timestamp_varint(varint))


def test_prompb_skips_unknown_fields():
    # append an unknown field 5 (varint) at WriteRequest level and field 3
    # (exemplars in the real proto) inside a TimeSeries
    base = prompb.encode_write_request(_req(1, 1))
    extra = bytes([(5 << 3) | 0, 42])
    assert prompb.decode_write_request(base + extra) == _req(1, 1)


def test_prompb_wire_bytes_canonical():
    # one label, one sample: verify exact bytes against the proto3 wire spec
    req = {
        "timeseries": [
            {
                "labels": [{"name": "a", "value": "b"}],
                "samples": [{"value": 1.5, "timestamp": 7}],
            }
        ]
    }
    label = bytes([0x0A, 0x01]) + b"a" + bytes([0x12, 0x01]) + b"b"
    sample = bytes([0x09]) + struct.pack("<d", 1.5) + bytes([0x10, 0x07])
    ts = bytes([0x0A, len(label)]) + label + bytes([0x12, len(sample)]) + sample
    expected = bytes([0x0A, len(ts)]) + ts
    assert prompb.encode_write_request(req) == expected


@settings(max_examples=30)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.tuples(st.text(max_size=8), st.text(max_size=8)), max_size=4
            ),
            st.lists(
                st.tuples(
                    st.floats(allow_nan=False), st.integers(-(2**62), 2**62)
                ),
                max_size=4,
            ),
        ),
        max_size=4,
    )
)
def test_prompb_roundtrip_prop(series):
    req = {
        "timeseries": [
            {
                "labels": [{"name": n, "value": v} for n, v in labels],
                "samples": [{"value": v, "timestamp": t} for v, t in samples],
            }
            for labels, samples in series
        ]
    }
    assert prompb.decode_write_request(prompb.encode_write_request(req)) == req


@settings(max_examples=30)
@given(
    st.lists(st.tuples(st.text(max_size=8), st.text(max_size=8)), max_size=3),
    st.lists(
        st.tuples(st.floats(allow_nan=False), st.integers(-(2**62), 2**62)),
        max_size=3,
    ),
)
def test_prompb_truncated_request_raises(labels, samples):
    raw = prompb.encode_write_request(
        {
            "timeseries": [
                {
                    "labels": [{"name": n, "value": v} for n, v in labels],
                    "samples": [{"value": v, "timestamp": t} for v, t in samples],
                }
            ]
        }
    )
    for cut in range(1, len(raw)):
        with pytest.raises(ValueError):
            prompb.decode_write_request(raw[:cut])


# --- end-to-end ingest edge ---------------------------------------------------


def test_decode_remote_write_spark(spark):
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.operators.flatten import (
        flatten_write_requests,
    )
    from prometheus_pulsar_remote_write_spark.sources.remote_write import (
        decode_remote_write,
    )

    body = snappy_codec.compress(prompb.encode_write_request(_req()))
    df = spark.createDataFrame(
        [("r1", bytearray(body)), ("poison", bytearray(b"\x01\x02garbage"))],
        "req_id string, content binary",
    )
    decoded = decode_remote_write(df, keep_cols=["req_id"])
    good = decoded.filter(F.col("decode_error").isNull())
    bad = decoded.filter(F.col("decode_error").isNotNull())
    assert bad.count() == 1

    flat = flatten_write_requests(good, ["req_id"])
    rows = flat.collect()
    assert len(rows) == 6  # 3 series x 2 samples
    assert all(r.labels["__name__"] == "node_cpu_seconds_total" for r in rows)

    # egress: re-encode the collected row and decode back (A4 inverse of A1)
    (row,) = good.select("timeseries").collect()
    assert prompb.decode_body(prompb.encode_body(row.timeseries)) == _req()
