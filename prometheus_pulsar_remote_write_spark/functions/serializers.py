"""Wire serializers C1-C4 (see SURVEY.md §2.C).

The reference ships three pluggable sample serializations
(pkg/pulsar/serializers.go, selected at pkg/app/pulsar.go:161-191):

  C1 ``json``             {"value":[<sec>,"<val-str>"],"metric":{...},
                           "tenant_id":...}   (metric/tenant omitted if empty)
  C2 ``json-compat``      {"labels":{...},"name":...,"tenant_id":(omit if ""),
                           "timestamp":"RFC3339Nano","value":"<val-str>"}
  C3 ``avro-json-compat`` the C2 shape constrained by an Avro schema:
                           tenant_id always present (schema default ""),
                           fields in schema order
  C4 the shared compat deserializer (string value/timestamp parsing plus
     the __name__ backfill)

Two tiers:

  * ``marshal_*`` / ``unmarshal_*`` pure-Python functions: byte-parity with
    the Go implementation (golden vectors from serializers_test.go pass
    verbatim). The produce edge calls them per sample; ``serialize_col``
    and ``deserialize`` wrap them in Arrow-batched pandas stages.
  * ``serialize_json_expr`` and friends: pure Column expressions (JVM-side,
    codegen'd) for the analytics catalog, where both the Spark query and
    its DuckDB oracle apply the same formatting rules. These cover values
    with bounded decimal precision; arbitrary doubles need the UDF tier.

Note one deliberate divergence: Go's encoding/json HTML-escapes ``< > &``
inside strings; we don't (the reference's own golden tests compare with
JSONEq, so this never appears in its vectors).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .gofmt import (
    go_float_str,
    go_time_sec_str,
    ms_from_rfc3339,
    parse_go_float,
    rfc3339nano_from_ms,
)

_COMPACT = {"separators": (",", ":"), "ensure_ascii": False}

#: Field catalog of the default Avro schema (serializers.go:149-181);
#: values are rendered in this declaration order by marshal_avro_json.
AVRO_DEFAULT_FIELDS = ("timestamp", "value", "name", "labels", "tenant_id")

#: sentinel: schema field declares no default (missing datum => error,
#: matching an Avro encoder's behavior). Ellipsis, not object(): it
#: unpickles as itself, so a marshaler shipped to a Python worker still
#: finds it by identity in its parsed fields.
AVRO_NO_DEFAULT = ...


def parse_avro_schema(schema) -> tuple:
    """Parse a user-supplied Avro record schema (JSON string or dict) into
    ((field_name, default), ...) in declaration order.

    Drives the C3 serializer the way the reference's custom-schema path
    does (pkg/app/pulsar.go:174-190 reads a schema file into
    NewAvroJSONSerializer, pkg/pulsar/serializers.go:202-222): the
    encoder emits exactly the schema's declared fields, in declaration
    order, substituting each field's default when the sample datum lacks
    it. ``AVRO_NO_DEFAULT`` marks fields that must be present.
    """
    if isinstance(schema, (str, bytes)):
        schema = json.loads(schema)
    if schema.get("type") != "record":
        raise ValueError(f"avro schema must be a record, got {schema.get('type')!r}")
    fields = schema.get("fields")
    if not isinstance(fields, list) or not fields:
        raise ValueError("avro record schema declares no fields")
    out = []
    for f in fields:
        out.append((f["name"], f["default"] if "default" in f else AVRO_NO_DEFAULT))
    return tuple(out)


#: the default schema, in parsed form (only tenant_id carries a default)
AVRO_DEFAULT_PARSED = tuple(
    (name, "" if name == "tenant_id" else AVRO_NO_DEFAULT)
    for name in AVRO_DEFAULT_FIELDS
)


# ---------------------------------------------------------------------------
# pure-Python marshal/unmarshal (the byte-parity tier)
# ---------------------------------------------------------------------------


def marshal_json(timestamp_ms: int, value: float, labels: dict | None, tenant_id: str) -> str:
    """C1: upstream-model JSON. Labels sorted (Go map marshal sorts keys)."""
    out = [
        '{"value":[',
        go_time_sec_str(timestamp_ms),
        ",",
        json.dumps(go_float_str(value), **_COMPACT),
        "]",
    ]
    if labels:
        out.append(',"metric":')
        out.append(json.dumps(dict(sorted(labels.items())), **_COMPACT))
    if tenant_id:
        out.append(',"tenant_id":')
        out.append(json.dumps(tenant_id, **_COMPACT))
    out.append("}")
    return "".join(out)


def _compat_dict(timestamp_ms: int, value: float, labels: dict | None, tenant_id: str) -> dict:
    labels = labels or {}
    return {
        "timestamp": rfc3339nano_from_ms(timestamp_ms),
        "value": go_float_str(value),
        "name": labels.get("__name__", ""),
        "labels": dict(sorted(labels.items())),
    }


def marshal_json_compat(
    timestamp_ms: int, value: float, labels: dict | None, tenant_id: str
) -> str:
    """C2: legacy/compat JSON; keys sorted as Go marshals a map."""
    data = _compat_dict(timestamp_ms, value, labels, tenant_id)
    if tenant_id:
        data["tenant_id"] = tenant_id
    return json.dumps(data, sort_keys=True, **_COMPACT)


def marshal_avro_json(
    timestamp_ms: int, value: float, labels: dict | None, tenant_id: str, fields=None
) -> str:
    """C3: Avro textual encoding of the compat shape.

    Default schema: tenant_id always present (schema default ""), fields
    emitted in declaration order. ``fields`` (from ``parse_avro_schema``)
    swaps in a user-supplied schema: its declared fields, its order, its
    defaults -- a datum-absent field with no default raises, as an Avro
    encoder does (reference serializers.go:202-222 via goavro).
    """
    data = _compat_dict(timestamp_ms, value, labels, tenant_id)
    if tenant_id:  # datum carries tenant only when set (serializers.go:76-78)
        data["tenant_id"] = tenant_id
    ordered = {}
    for name, default in fields if fields is not None else AVRO_DEFAULT_PARSED:
        if name in data:
            ordered[name] = data[name]
        elif default is not AVRO_NO_DEFAULT:
            ordered[name] = default
        else:
            raise ValueError(
                f"avro schema field {name!r} has no default and the sample "
                "provides no value"
            )
    return json.dumps(ordered, **_COMPACT)


def make_avro_marshaler(schema):
    """Bind ``marshal_avro_json`` to a custom schema (file contents, JSON
    string, or dict): the Spark analog of the reference's
    ``avro-json-compat=<schema-file>`` serializer config."""
    fields = parse_avro_schema(schema)

    def _marshal(timestamp_ms, value, labels, tenant_id):
        return marshal_avro_json(timestamp_ms, value, labels, tenant_id, fields)

    return _marshal


def _sample(ts_ms: int, value: float, labels, tenant_id) -> tuple[int, float, dict, str]:
    """The unmarshalled sample, or ValueError when the wire cannot carry it:
    a timestamp outside int64, or a label map or tenant that is not all
    strings. Raising here makes such a payload poison (B9); past this
    point Arrow or the protobuf encoder would fail the whole task."""
    if not (
        -(1 << 63) <= ts_ms < 1 << 63
        and isinstance(tenant_id, str)
        and isinstance(labels, dict)
        and all(isinstance(v, str) for v in labels.values())
    ):
        raise ValueError("payload is not a sample")
    return ts_ms, value, labels, tenant_id


def unmarshal_json(payload: str) -> tuple[int, float, dict, str]:
    """Inverse of C1."""
    data = json.loads(payload)
    sec, val_str = data["value"]
    ts_ms = int(round(float(sec) * 1000))
    return _sample(
        ts_ms,
        parse_go_float(str(val_str)),
        data.get("metric") or {},
        data.get("tenant_id") or "",
    )


def unmarshal_compat(payload: str) -> tuple[int, float, dict, str]:
    """C4: shared compat deserializer with the B6 __name__ backfill."""
    data = json.loads(payload)
    labels = dict(data.get("labels") or {})
    name = data.get("name") or ""
    if "__name__" not in labels and name:
        labels["__name__"] = name
    return _sample(
        ms_from_rfc3339(data["timestamp"]),
        parse_go_float(str(data["value"])),
        labels,
        data.get("tenant_id") or "",
    )


MARSHALERS = {
    "json": marshal_json,
    "json-compat": marshal_json_compat,
    "avro-json-compat": marshal_avro_json,
}
UNMARSHALERS = {
    "json": unmarshal_json,
    "json-compat": unmarshal_compat,
    "avro-json-compat": unmarshal_compat,
}


def resolve_marshaler(fmt: str):
    """Map a serializer config string to a marshal callable, including the
    reference's ``avro-json-compat=<schema-file>`` custom-schema form
    (pkg/app/pulsar.go:161-190): the suffix is a schema file path, or --
    Spark-side convenience -- inline schema JSON (starts with '{')."""
    if fmt in MARSHALERS:
        return MARSHALERS[fmt]
    prefix = "avro-json-compat="
    if fmt.startswith(prefix):
        ref = fmt[len(prefix):]
        if ref.lstrip().startswith("{"):
            return make_avro_marshaler(ref)
        with open(ref, "r", encoding="utf-8") as fh:
            return make_avro_marshaler(fh.read())
    raise KeyError(f"unknown serializer config {fmt!r}")


def resolve_unmarshaler(fmt: str):
    """Deserializer twin of ``resolve_marshaler``: every avro-json-compat
    variant parses with the shared compat deserializer (C4), as the
    reference's AvroJSONSerializer.Unmarshal does (serializers.go:196)."""
    if fmt in UNMARSHALERS:
        return UNMARSHALERS[fmt]
    if fmt.startswith("avro-json-compat="):
        return unmarshal_compat
    raise KeyError(f"unknown serializer config {fmt!r}")


# ---------------------------------------------------------------------------
# Spark column API
# ---------------------------------------------------------------------------


def serialize_col(
    fmt: str,
    timestamp: Column = None,
    value: Column = None,
    labels: Column = None,
    tenant_id: Column = None,
) -> Column:
    """Exact Go-parity serialization as an Arrow-batched pandas UDF."""
    marshal = resolve_marshaler(fmt)
    timestamp = timestamp if timestamp is not None else F.col("timestamp")
    value = value if value is not None else F.col("value")
    labels = labels if labels is not None else F.col("labels")
    tenant_id = tenant_id if tenant_id is not None else F.col("tenant_id")

    @pandas_udf(T.StringType())
    def _ser(ts: pd.Series, val: pd.Series, lbl: pd.Series, ten: pd.Series) -> pd.Series:
        return pd.Series(
            [
                marshal(int(t), float(v), l, x if x is not None else "")
                for t, v, l, x in zip(ts, val, lbl, ten)
            ]
        )

    return _ser(timestamp, value, labels, tenant_id)


_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("tenant_id", T.StringType()),
    ]
)


def deserialize(df, fmt: str, payload_col: str = "payload", keep_cols: list[str] | None = None):
    """Parse wire payloads back to sample rows, tolerating poison records.

    Skip-bad-record semantics (B9, reference pkg/pulsar/pulsar.go:190-201):
    a payload that fails to parse yields a null struct. Callers split the
    output with ``filter(col('timestamp').isNotNull())`` for the good rows
    and the complement for the DLQ. mapInPandas keeps this a narrow,
    Arrow-batched stage.
    """
    unmarshal = resolve_unmarshaler(fmt)
    keep_cols = keep_cols or []
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep_cols] + list(_PARSED_SCHEMA.fields)
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, values = [], []
            for i, payload in enumerate(pdf[payload_col]):
                base = {c: pdf[c].iloc[i] for c in keep_cols}
                try:
                    ts, val, lbl, ten = unmarshal(payload)
                    base.update(timestamp=ts, labels=lbl, tenant_id=ten)
                except Exception:
                    base.update(timestamp=None, labels=None, tenant_id=None)
                    val = None
                rows.append(base)
                values.append(val)
            out = pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])
            # an Arrow-backed column keeps a NaN sample (a staleness marker)
            # NaN; a plain float column would hand it to Spark as null
            out["value"] = pd.arrays.ArrowExtensionArray(pa.array(values, pa.float64()))
            yield out

    return df.mapInPandas(_parse, out_schema)


# ---------------------------------------------------------------------------
# expression tier (JVM-side; for catalog queries with bounded-precision data)
# ---------------------------------------------------------------------------


def _trim_fixed_scale_expr(c: Column) -> Column:
    """Strip a trailing zero-fraction ('12.500'->'12.5', '12.000'->'12')
    from strings KNOWN to carry a '.' (fixed-positive-scale decimal
    renderings): trailing '0's cannot cross the dot, so two codegen'd
    rtrims do it without a regexp engine (r15 wire A/B: -0.15s/100k
    rows on produce_serialize_json)."""
    return F.call_function(
        "rtrim", F.lit("."), F.call_function("rtrim", F.lit("0"), c)
    )


def go_sec_expr(timestamp_ms: Column) -> Column:
    """model.Time seconds rendering (ms/1000, shortest 'f') as an expression."""
    dec = (timestamp_ms.cast(T.DecimalType(20, 0)) / F.lit(1000)).cast(T.DecimalType(24, 3))
    return _trim_fixed_scale_expr(dec.cast(T.StringType()))


def go_float_expr(value: Column, scale: int = 6) -> Column:
    """Bounded-precision 'f'-format rendering for doubles (no exponent).

    Exact for values with <= ``scale`` decimal places and |v| < 10^(38-scale);
    arbitrary doubles (and Inf/NaN) need ``serialize_col``'s UDF tier.
    """
    dec = value.cast(T.DecimalType(38, scale))
    return _trim_fixed_scale_expr(dec.cast(T.StringType()))


def labels_json_expr(labels: Column) -> Column:
    """Render a string map as compact sorted JSON (no escaping -- for data
    known to be quote-free, e.g. catalog-constructed label maps)."""
    return F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries(labels)),
                lambda e: F.concat(
                    F.lit('"'), e["key"], F.lit('":"'), e["value"], F.lit('"')
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )


def labels_json_entries_expr(entries) -> Column:
    """``labels_json_expr`` twin for a STATICALLY KNOWN label set:
    ``entries`` is a ((key, value Column), ...) sequence whose literal
    keys are already in byte order. Skips the per-row
    create_map -> map_entries -> array_sort -> transform chain (r15 wire
    A/B: -0.27s/100k rows); a NULL value drops its entry exactly as the
    map path does (concat -> NULL element -> array_join skip), so the
    rendering is byte-identical for any data. Keys must be quote-free
    literals (same caveat as labels_json_expr)."""
    keys = [k for k, _ in entries]
    if keys != sorted(keys):
        raise ValueError(f"label entry keys must be byte-sorted, got {keys}")
    return F.concat(
        F.lit("{"),
        F.array_join(
            F.array(
                *[
                    F.concat(F.lit(f'"{k}":"'), v, F.lit('"'))
                    for k, v in entries
                ]
            ),
            ",",
        ),
        F.lit("}"),
    )


def rfc3339_expr(timestamp_ms: Column) -> Column:
    """RFC3339Nano UTC rendering of epoch-ms as an expression: fractional
    seconds trimmed of trailing zeros, omitted entirely when 0 (Go
    time.RFC3339Nano; reference serializers.go:69-80)."""
    base = F.date_format(F.timestamp_millis(timestamp_ms), "yyyy-MM-dd'T'HH:mm:ss")
    ms = F.pmod(timestamp_ms, F.lit(1000))
    # trailing-zero trim of the 3-digit ms by integer CASE instead of a
    # regexp engine (r15): for ms in 1..999 the trimmed lpad is 1 digit
    # when ms % 100 == 0, 2 when ms % 10 == 0, else all 3 -- identical
    # strings, codegen'd arithmetic
    frac = (
        F.when(ms == 0, F.lit(""))
        .when(
            ms % 100 == 0,
            F.concat(F.lit("."), (ms / 100).cast("long").cast(T.StringType())),
        )
        .when(
            ms % 10 == 0,
            F.concat(
                F.lit("."),
                F.lpad((ms / 10).cast("long").cast(T.StringType()), 2, "0"),
            ),
        )
        .otherwise(F.concat(F.lit("."), F.lpad(ms.cast(T.StringType()), 3, "0")))
    )
    return F.concat(base, frac, F.lit("Z"))


def _labels_render(labels: Column, label_entries) -> tuple[Column, Column]:
    """(labels JSON, __name__ value) from either the map column or a
    static entry list (r15: the entries form skips the per-row map
    build; byte-identical rendering either way)."""
    if label_entries is not None:
        name = dict(label_entries).get("__name__")
        if name is None:
            name = F.lit(None).cast(T.StringType())
        return labels_json_entries_expr(label_entries), name
    return labels_json_expr(labels), labels["__name__"]


def serialize_json_compat_expr(
    timestamp: Column, value: Column, labels: Column, tenant_id: Column,
    label_entries=None,
) -> Column:
    """C2-shaped payload as a pure expression (keys in Go map-marshal sort
    order: labels < name < tenant_id < timestamp < value). Non-empty tenant
    only -- the empty-tenant omission branch lives in the UDF tier.
    ``label_entries`` renders the labels from a static byte-sorted
    (key, Column) list instead of the map column (see
    labels_json_entries_expr)."""
    lbl_json, name_val = _labels_render(labels, label_entries)
    return F.concat(
        F.lit('{"labels":'),
        lbl_json,
        F.lit(',"name":"'),
        F.coalesce(name_val, F.lit("")),
        F.lit('","tenant_id":"'),
        tenant_id,
        F.lit('","timestamp":"'),
        rfc3339_expr(timestamp),
        F.lit('","value":"'),
        go_float_expr(value),
        F.lit('"}'),
    )


def serialize_avro_json_expr(
    timestamp: Column, value: Column, labels: Column, tenant_id: Column, schema=None,
    label_entries=None,
) -> Column:
    """C3-shaped payload as a pure expression: the C2 fields in Avro
    schema declaration order; default schema keeps tenant_id always
    present (schema default '').

    ``schema`` (JSON string/dict) swaps in a custom schema while staying
    in whole-stage codegen: known fields render from their columns, a
    field absent from the sample model renders its schema default as a
    literal, and a missing-with-no-default field is a build-time error
    (the reference's goavro encoder fails at encode time;
    serializers.go:202-222)."""
    fields = parse_avro_schema(schema) if schema is not None else AVRO_DEFAULT_PARSED
    lbl_json, name_val = _labels_render(labels, label_entries)

    def _field_value(name: str, default) -> Column:
        if name == "timestamp":
            return F.concat(F.lit('"'), rfc3339_expr(timestamp), F.lit('"'))
        if name == "value":
            return F.concat(F.lit('"'), go_float_expr(value), F.lit('"'))
        if name == "name":
            return F.concat(
                F.lit('"'), F.coalesce(name_val, F.lit("")), F.lit('"')
            )
        if name == "labels":
            return lbl_json
        if name == "tenant_id":
            ten = F.coalesce(tenant_id, F.lit(""))
            if default is AVRO_NO_DEFAULT:
                # datum carries tenant only when non-empty; no default =>
                # an empty tenant cannot encode under this schema
                ten = F.when(F.length(ten) > 0, ten).otherwise(
                    F.raise_error(
                        F.lit("avro schema field 'tenant_id' has no default "
                              "and the sample has no tenant")
                    )
                )
                return F.concat(F.lit('"'), ten, F.lit('"'))
            return F.concat(
                F.lit('"'),
                F.when(F.length(ten) > 0, ten).otherwise(F.lit(str(default))),
                F.lit('"'),
            )
        # schema-declared field outside the sample model: literal default
        if default is AVRO_NO_DEFAULT:
            raise ValueError(
                f"avro schema field {name!r} has no default and is not a "
                "sample field"
            )
        return F.lit(json.dumps(default, **_COMPACT))

    parts = [F.lit("{")]
    for i, (name, default) in enumerate(fields):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(json.dumps(name, **_COMPACT) + ":"))
        parts.append(_field_value(name, default))
    parts.append(F.lit("}"))
    return F.concat(*parts)


def serialize_json_expr(
    timestamp: Column, value: Column, labels: Column, tenant_id: Column,
    label_entries=None,
) -> Column:
    """C1-shaped payload as a pure expression (JVM hot path).
    ``label_entries`` renders the labels from a static byte-sorted
    (key, Column) list instead of the map column (see
    labels_json_entries_expr)."""
    lbl_json, _ = _labels_render(labels, label_entries)
    tenant_part = F.when(
        F.length(tenant_id) > 0,
        F.concat(F.lit(',"tenant_id":"'), tenant_id, F.lit('"')),
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit('{"value":['),
        go_sec_expr(timestamp),
        F.lit(',"'),
        go_float_expr(value),
        F.lit('"],"metric":'),
        lbl_json,
        tenant_part,
        F.lit("}"),
    )
