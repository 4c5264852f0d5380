"""Golden-byte parity with the reference serializers.

Every vector below is verbatim from reference
pkg/pulsar/serializers_test.go (cited per case). The reference asserts with
JSONEq (order-insensitive); we assert byte-equality against the canonical
key order our marshalers emit, plus JSON-level equality with the golden
bytes, which is strictly stronger than the reference's own check.
"""

import json
import math

from prometheus_pulsar_remote_write_spark.functions.serializers import (
    marshal_avro_json,
    marshal_json,
    marshal_json_compat,
    unmarshal_compat,
    unmarshal_json,
)

# (timestamp_ms, value, labels, tenant) fixtures: serializers_test.go:11-37
_LABELS = (("__name__", "foo"), ("labelfoo", "label-bar"))
NORMAL = (0, 456.0, _LABELS, "")
INF = (10001, math.inf, _LABELS, "")
TENANT = (0, 456.0, _LABELS, "fake")

GOLDEN_JSON = {
    # serializers_test.go:50-60
    NORMAL: '{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}',
    INF: '{"value":[10.001,"+Inf"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}',
    TENANT: '{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}',
}

GOLDEN_COMPAT = {
    # serializers_test.go:151-164
    NORMAL: '{"value":"456","timestamp":"1970-01-01T00:00:00Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"}}',
    INF: '{"value":"+Inf","timestamp":"1970-01-01T00:00:10.001Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"}}',
    TENANT: '{"value":"456","timestamp":"1970-01-01T00:00:00Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}',
}

# serializers_test.go:198-223 (tenant_id always present, default "").
# The reference asserts JSONEq only; byte order below is Avro schema
# declaration order (timestamp, value, name, labels, tenant_id), which is
# what goavro's TextualFromNative and our marshaler emit.
GOLDEN_AVRO = {
    NORMAL: '{"timestamp":"1970-01-01T00:00:00Z","value":"456","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":""}',
    INF: '{"timestamp":"1970-01-01T00:00:10.001Z","value":"+Inf","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":""}',
    TENANT: '{"timestamp":"1970-01-01T00:00:00Z","value":"456","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}',
}

# legacy unmarshal vectors: serializers_test.go:110-140
LEGACY_UNMARSHAL = [
    (
        '{"value":"456","timestamp":"1970-01-01T00:00:00Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":""}',
        NORMAL,
    ),
    (  # __name__ missing in labels -> backfilled from name (B6)
        '{"value":"456","timestamp":"1970-01-01T00:00:00Z","name":"foo","labels":{"labelfoo":"label-bar"}}',
        NORMAL,
    ),
    (  # name missing entirely
        '{"value":"456","timestamp":"1970-01-01T00:00:00Z","labels":{"__name__":"foo","labelfoo":"label-bar"}}',
        NORMAL,
    ),
    (
        '{"value":"+Inf","timestamp":"1970-01-01T00:00:10.001Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":""}',
        INF,
    ),
    (
        '{"value":"456","timestamp":"1970-01-01T00:00:00Z","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}',
        TENANT,
    ),
]


def _freeze(sample):
    ts, val, labels, tenant = sample
    return (ts, val, tuple(sorted(labels.items())), tenant)


def test_marshal_json_golden():
    for sample, expected in GOLDEN_JSON.items():
        actual = marshal_json(*sample[:2], dict(sample[2]), sample[3])
        assert json.loads(actual) == json.loads(expected)
        assert actual == expected  # byte parity (Go sorts map keys too)


def test_marshal_json_compat_golden():
    for sample, expected in GOLDEN_COMPAT.items():
        actual = marshal_json_compat(*sample[:2], dict(sample[2]), sample[3])
        assert json.loads(actual) == json.loads(expected)


def test_marshal_avro_golden():
    for sample, expected in GOLDEN_AVRO.items():
        actual = marshal_avro_json(*sample[:2], dict(sample[2]), sample[3])
        assert json.loads(actual) == json.loads(expected)
        assert actual == expected  # schema declaration order


def test_unmarshal_json_roundtrip():
    for sample, payload in GOLDEN_JSON.items():
        ts, val, labels, tenant = unmarshal_json(payload)
        assert _freeze((ts, val, labels, tenant)) == _freeze(
            (sample[0], sample[1], dict(sample[2]), sample[3])
        )


def test_unmarshal_compat_legacy_vectors():
    for payload, expected in LEGACY_UNMARSHAL:
        ts, val, labels, tenant = unmarshal_compat(payload)
        assert _freeze((ts, val, labels, tenant)) == _freeze(
            (expected[0], expected[1], dict(expected[2]), expected[3])
        )


def test_empty_metric_and_tenant_omitted():
    # json.Marshal omitempty: empty labels map and "" tenant are dropped (C1)
    assert marshal_json(0, 1.0, {}, "") == '{"value":[0,"1"]}'
    assert marshal_json(0, 1.0, None, "") == '{"value":[0,"1"]}'


def test_serialize_col_spark(spark):
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        deserialize,
        serialize_col,
    )

    rows = [
        (0, 456.0, {"__name__": "foo", "labelfoo": "label-bar"}, ""),
        (10001, math.inf, {"__name__": "foo", "labelfoo": "label-bar"}, ""),
        (0, 456.0, {"__name__": "foo", "labelfoo": "label-bar"}, "fake"),
    ]
    df = spark.createDataFrame(
        rows, "timestamp long, value double, labels map<string,string>, tenant_id string"
    )
    for fmt, golden in [("json", GOLDEN_JSON), ("json-compat", GOLDEN_COMPAT), ("avro-json-compat", GOLDEN_AVRO)]:
        payloads = [r[0] for r in df.select(serialize_col(fmt)).collect()]
        for payload, expected in zip(payloads, [golden[NORMAL], golden[INF], golden[TENANT]]):
            assert json.loads(payload) == json.loads(expected)

    # round-trip through the deserializer, plus one poison record (B9)
    payload_df = df.select(serialize_col("json-compat").alias("payload")).union(
        spark.createDataFrame([("{not json",)], "payload string")
    )
    parsed = deserialize(payload_df, "json-compat")
    good = parsed.filter(F.col("timestamp").isNotNull()).collect()
    bad = parsed.filter(F.col("timestamp").isNull()).collect()
    assert len(good) == 3 and len(bad) == 1
    got = {(r.timestamp, r.tenant_id) for r in good}
    assert got == {(0, ""), (10001, ""), (0, "fake")}


def test_deserialize_keeps_nan_sample_nan(spark):
    """A staleness marker is marshalled as "NaN". deserialize must hand it
    to Spark as a NaN double, not a null, while a poison row's value stays
    null."""
    from prometheus_pulsar_remote_write_spark.functions.serializers import deserialize

    payloads = [
        (marshal_json(1000, math.nan, {"__name__": "up"}, "t"),),
        (marshal_json(2000, 1.5, {"__name__": "up"}, "t"),),
        ("{not json",),
    ]
    parsed = deserialize(spark.createDataFrame(payloads, "payload string"), "json")
    rows = {r.timestamp: r.value for r in parsed.collect()}
    assert rows[1000] is not None and math.isnan(rows[1000])
    assert rows[2000] == 1.5
    assert rows[None] is None


def test_serialize_json_expr_matches_udf(spark):
    """The JVM expression tier agrees with the byte-parity tier on
    bounded-precision data (the catalog's operating envelope)."""
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        serialize_col,
        serialize_json_expr,
    )
    from pyspark.sql import functions as F

    rows = [
        (1704067798778, 185.22, {"__name__": "error", "k": "87"}, "13"),
        (0, 456.0, {"__name__": "foo", "labelfoo": "label-bar"}, ""),
        (1000, 0.25, {"a": "b"}, "t1"),
    ]
    df = spark.createDataFrame(
        rows, "timestamp long, value double, labels map<string,string>, tenant_id string"
    )
    out = df.select(
        serialize_col("json").alias("exact"),
        serialize_json_expr(
            F.col("timestamp"), F.col("value"), F.col("labels"), F.col("tenant_id")
        ).alias("expr"),
    ).collect()
    for r in out:
        assert r.exact == r.expr


def test_serialize_compat_avro_expr_match_udf(spark):
    """C2/C3 expression tiers agree with the golden-byte UDF tier on
    bounded-precision, non-empty-tenant data (the catalog envelope)."""
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        serialize_avro_json_expr,
        serialize_col,
        serialize_json_compat_expr,
    )
    from pyspark.sql import functions as F

    rows = [
        (1704067798778, 185.22, {"__name__": "error", "k": "87"}, "13"),
        (1000, 456.0, {"__name__": "foo", "labelfoo": "label-bar"}, "fake"),
        (123450, 0.25, {"__name__": "m", "a": "b"}, "t1"),
        (1704067200000, 7.5, {"__name__": "whole_second"}, "t2"),
    ]
    df = spark.createDataFrame(
        rows, "timestamp long, value double, labels map<string,string>, tenant_id string"
    )
    args = (F.col("timestamp"), F.col("value"), F.col("labels"), F.col("tenant_id"))
    out = df.select(
        serialize_col("json-compat").alias("compat_exact"),
        serialize_json_compat_expr(*args).alias("compat_expr"),
        serialize_col("avro-json-compat").alias("avro_exact"),
        serialize_avro_json_expr(*args).alias("avro_expr"),
    ).collect()
    for r in out:
        assert r.compat_exact == r.compat_expr
        assert r.avro_exact == r.avro_expr


# --- hypothesis round-trip properties ----------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_label_text = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=0x2FF),
    min_size=1,
    max_size=12,
)
_values = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.just(float("inf")),
    st.just(float("-inf")),
)


# C1 timestamps ride as float seconds (the reference's wire shape,
# serializers.go:116-131), so millisecond values above ~15 significant
# digits cannot round-trip in ANY implementation of this format -- the
# property holds on the format's actual precision domain (10^14 ms =
# year 5138). The compat format caps at year-9999 datetimes.
@settings(max_examples=200, deadline=None)
@given(
    ts=st.integers(min_value=0, max_value=10**14),
    value=_values,
    labels=st.dictionaries(_label_text, _label_text, max_size=5),
    tenant=st.one_of(st.just(""), _label_text),
)
def test_json_roundtrip_property(ts, value, labels, tenant):
    """marshal_json -> unmarshal_json is the identity for any sample the
    model can carry, including +/-Inf values and the empty tenant (the
    reference's golden vectors are specific instances of this law)."""
    ts2, v2, l2, t2 = unmarshal_json(marshal_json(ts, value, labels, tenant))
    assert ts2 == ts
    assert v2 == value or (v2 != v2 and value != value)
    assert l2 == labels
    assert t2 == tenant


@settings(max_examples=200, deadline=None)
@given(
    ts=st.integers(min_value=0, max_value=10**14),
    value=_values,
    labels=st.dictionaries(_label_text, _label_text, min_size=1, max_size=5),
    tenant=st.one_of(st.just(""), _label_text),
)
def test_compat_roundtrip_property(ts, value, labels, tenant):
    """marshal_json_compat -> unmarshal_compat identity, including the B6
    __name__ backfill path when the name label is present."""
    ts2, v2, l2, t2 = unmarshal_compat(marshal_json_compat(ts, value, labels, tenant))
    assert ts2 == ts
    assert v2 == value or (v2 != v2 and value != value)
    assert l2 == labels
    assert t2 == tenant


# --- custom Avro schema (reference pkg/app/pulsar.go:174-190) ----------------

#: reorders fields, drops labels, adds a non-sample field with a default,
#: and defaults tenant_id to a non-empty sentinel
CUSTOM_AVRO_SCHEMA = """{
  "namespace": "io.example",
  "type": "record",
  "name": "Slim",
  "fields": [
    {"name": "name", "type": "string"},
    {"name": "value", "type": "string"},
    {"name": "timestamp", "type": "string"},
    {"name": "tenant_id", "type": "string", "default": "anon"},
    {"name": "source", "type": "string", "default": "pulsar"}
  ]
}"""

GOLDEN_CUSTOM_AVRO = {
    NORMAL: '{"name":"foo","value":"456","timestamp":"1970-01-01T00:00:00Z","tenant_id":"anon","source":"pulsar"}',
    INF: '{"name":"foo","value":"+Inf","timestamp":"1970-01-01T00:00:10.001Z","tenant_id":"anon","source":"pulsar"}',
    TENANT: '{"name":"foo","value":"456","timestamp":"1970-01-01T00:00:00Z","tenant_id":"fake","source":"pulsar"}',
}


def test_marshal_avro_custom_schema_golden():
    """A user-supplied schema drives field set, order, and defaults: the
    encoder emits the schema's declared fields in declaration order and
    substitutes defaults for datum-absent fields, as goavro does for the
    reference's avro-json-compat=<schema-file> config."""
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        make_avro_marshaler,
    )

    marshal = make_avro_marshaler(CUSTOM_AVRO_SCHEMA)
    for sample, want in GOLDEN_CUSTOM_AVRO.items():
        got = marshal(sample[0], sample[1], dict(sample[2]), sample[3])
        assert got == want


def test_marshal_avro_custom_schema_missing_field_errors():
    """A schema field with no default that the sample cannot supply must
    fail at encode time (goavro behavior), not emit partial bytes."""
    import pytest

    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        make_avro_marshaler,
        parse_avro_schema,
    )

    no_default = """{
      "type": "record", "name": "Bad",
      "fields": [{"name": "hostname", "type": "string"}]
    }"""
    marshal = make_avro_marshaler(no_default)
    with pytest.raises(ValueError, match="no default"):
        marshal(0, 1.0, {"__name__": "x"}, "")

    # tenant_id with no default: encodable only when the sample has one
    tenant_required = parse_avro_schema(
        '{"type":"record","name":"T","fields":[{"name":"tenant_id","type":"string"}]}'
    )
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        marshal_avro_json,
    )

    assert marshal_avro_json(0, 1.0, {}, "t9", tenant_required) == '{"tenant_id":"t9"}'
    with pytest.raises(ValueError, match="no default"):
        marshal_avro_json(0, 1.0, {}, "", tenant_required)


def test_serialize_custom_avro_expr_and_udf_match(spark):
    """Both tiers honor the custom schema and agree byte-for-byte; the
    fmt string 'avro-json-compat=<inline json>' resolves like the
    reference's serializer config."""
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        serialize_avro_json_expr,
        serialize_col,
    )

    rows = [
        (1000, 456.0, {"__name__": "foo", "labelfoo": "label-bar"}, "fake"),
        (1704067798778, 185.22, {"__name__": "error", "k": "87"}, ""),
    ]
    df = spark.createDataFrame(
        rows, "timestamp long, value double, labels map<string,string>, tenant_id string"
    )
    args = (F.col("timestamp"), F.col("value"), F.col("labels"), F.col("tenant_id"))
    out = df.select(
        serialize_col("avro-json-compat=" + CUSTOM_AVRO_SCHEMA).alias("exact"),
        serialize_avro_json_expr(*args, schema=CUSTOM_AVRO_SCHEMA).alias("expr"),
    ).collect()
    for r in out:
        assert r.exact == r.expr
    # spot-check the golden bytes for the first fixture row
    assert out[0].exact == GOLDEN_CUSTOM_AVRO[TENANT].replace(
        '"1970-01-01T00:00:00Z"', '"1970-01-01T00:00:01Z"'
    )


def test_avro_schema_file_resolution(tmp_path):
    """The exact reference config form -- avro-json-compat=<file path> --
    reads the schema from disk (pkg/app/pulsar.go:174-186)."""
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        resolve_marshaler,
        resolve_unmarshaler,
        unmarshal_compat,
    )

    p = tmp_path / "schema.avsc"
    p.write_text(CUSTOM_AVRO_SCHEMA)
    marshal = resolve_marshaler(f"avro-json-compat={p}")
    got = marshal(0, 456.0, dict(_LABELS), "fake")
    assert got == GOLDEN_CUSTOM_AVRO[TENANT]
    assert resolve_unmarshaler(f"avro-json-compat={p}") is unmarshal_compat
