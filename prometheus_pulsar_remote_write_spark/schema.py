"""Canonical Spark schemas for the engine.

Derived from the reference data model (see SURVEY.md §1):
  - a Sample is (timestamp ms, value double, labels map, tenant_id string)
    -- reference: pkg/pulsar/serializers.go:63-67 (Sample struct)
  - the wire-ingest shape is prompb.WriteRequest: timeseries[] each with
    labels[] (name/value structs sorted by name) and samples[]
    -- reference: pkg/app/produce.go:187-204 (protoToSamples)

The metric name is NOT a separate column: name == labels['__name__']
(reference pkg/pulsar/serializers.go:73-74).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

#: prompb.Label
LABEL_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)

#: prompb.Sample (note field order: value then timestamp, as in the proto)
PROTO_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.DoubleType(), False),
        T.StructField("timestamp", T.LongType(), False),
    ]
)

#: prompb.TimeSeries
TIMESERIES_SCHEMA = T.StructType(
    [
        T.StructField("labels", T.ArrayType(LABEL_SCHEMA), False),
        T.StructField("samples", T.ArrayType(PROTO_SAMPLE_SCHEMA), False),
    ]
)

#: prompb.WriteRequest -- the nested/batched ingest shape.
WRITE_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("timeseries", T.ArrayType(TIMESERIES_SCHEMA), False),
    ]
)

#: Default replica labels excluded from the partition key
#: (reference pkg/app/produce.go:49-50).
DEFAULT_REPLICA_LABELS = ["__replica__"]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(spark, sf_dir: str, names: list[str] | None = None) -> dict:
    """Load the driver-generated parquet tables as DataFrames.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown/pruning;
    no caching here -- callers decide what to persist.
    """
    names = names or TESTDATA_TABLES
    # The driver regenerates testdata between rounds and has shipped
    # events.ts both as INT64 TIMESTAMP(NANOS) (rounds 1-3) and as
    # TIMESTAMP(MICROS)/NTZ (round 4+). Keep the nanos flag on -- without
    # it a NANOS file fails outright with PARQUET_TYPE_ILLEGAL, and it is
    # a no-op for MICROS files. Runtime-settable, and the driver hands us
    # a session it built itself, so set it here, not only in get_spark().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # MICROS-era events.ts reads as TIMESTAMP_NTZ, and unix_timestamp()
    # on NTZ interprets the wall clock in the SESSION time zone -- pin it
    # to UTC (what every oracle's epoch_ms() assumes) so a foreign
    # session in any host zone computes identical epochs. Runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # NANOS-era testdata: ts arrives as epoch-nanos longs under
        # nanosAsLong. Truncate to micros (what DuckDB does) and restore
        # TimestampType so event-time semantics stay uniform. MICROS-era
        # testdata reads as TIMESTAMP_NTZ and skips this branch (the
        # streaming reader additionally casts NTZ -> TIMESTAMP for
        # watermarks; batch queries only ever take unix_timestamp(ts)).
        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                # integer `div`, NOT `/`: float division of epoch-nanos
                # (~1.7e18 > 2^53) loses low bits and rounds the last ms
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out[name] = df
    return out

