"""Flatten / nest operator semantics (B1-B3) and the B6 __name__ backfill."""

import json

from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.functions.serializers import unmarshal_compat
from prometheus_pulsar_remote_write_spark.operators.flatten import (
    flatten_write_requests,
    nest_samples,
    sorted_label_entries,
)
from prometheus_pulsar_remote_write_spark.schema import WRITE_REQUEST_SCHEMA


def _write_request_rows():
    # FIXTURES.md §2 generator shape (produce_integration_test.go:35-49)
    def series(i):
        return {
            "labels": [
                {"name": "__name__", "value": "node_cpu_seconds_total"},
                {"name": "cpu", "value": "0"},
                {"name": "instance", "value": f"instance{i}"},
            ],
            "samples": [
                {"value": float(i), "timestamp": 1588462000000 + i * 1000},
                {"value": float(i) + 0.5, "timestamp": 1588462000500 + i * 1000},
            ],
        }

    return [
        {"timeseries": [series(0), series(1)]},
        {"timeseries": [series(2)]},
    ]


def test_flatten_write_requests(spark):
    df = spark.createDataFrame(_write_request_rows(), WRITE_REQUEST_SCHEMA)
    flat = flatten_write_requests(df)
    rows = flat.orderBy("timestamp").collect()
    assert len(rows) == 6  # 3 series x 2 samples
    assert rows[0].labels == {
        "__name__": "node_cpu_seconds_total",
        "cpu": "0",
        "instance": "instance0",
    }
    assert rows[0].timestamp == 1588462000000 and rows[0].value == 0.0
    assert [f.name for f in flat.schema.fields] == ["timestamp", "value", "labels"]


def test_flatten_then_nest_roundtrip(spark):
    df = spark.createDataFrame(_write_request_rows(), WRITE_REQUEST_SCHEMA)
    flat = flatten_write_requests(df).withColumn("tenant_id", F.lit("t"))
    nested = nest_samples(flat, ["tenant_id"])
    # B2: one timeseries entry per sample -- no series merge
    (row,) = nested.collect()
    assert len(row.timeseries) == 6
    # labels sorted by name inside each entry (B3)
    for entry in row.timeseries:
        names = [l.name for l in entry.labels]
        assert names == sorted(names)
        assert len(entry.samples) == 1
    # round-trip back to the same multiset of samples
    reflat = flatten_write_requests(nested.select("timeseries"), [])
    orig = {(r.timestamp, r.value, tuple(sorted(r.labels.items()))) for r in flat.collect()}
    back = {(r.timestamp, r.value, tuple(sorted(r.labels.items()))) for r in reflat.collect()}
    assert orig == back


def test_sorted_label_entries_byte_order(spark):
    df = spark.createDataFrame(
        [({"b": "2", "A": "1", "a": "3", "__name__": "m"},)], "labels map<string,string>"
    )
    (row,) = df.select(sorted_label_entries(F.col("labels")).alias("e")).collect()
    assert [x.name for x in row.e] == ["A", "__name__", "a", "b"]  # byte-wise


def test_backfill_name():
    """B6 runs in the compat deserializer: the name field becomes __name__
    only when the labels lack one and the name is non-empty."""

    def labels(name, lbls):
        payload = json.dumps(
            {"value": "1", "timestamp": "1970-01-01T00:00:00Z", "name": name, "labels": lbls}
        )
        return unmarshal_compat(payload)[2]

    assert labels("foo", {"labelfoo": "x"})["__name__"] == "foo"
    assert labels("foo", {"__name__": "keep", "labelfoo": "x"})["__name__"] == "keep"
    assert "__name__" not in labels("", {"labelfoo": "x"})
