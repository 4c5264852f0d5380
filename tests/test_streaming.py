"""Structured Streaming pipeline tests (SURVEY.md §2 A1-A4, D1-D6, F7).

Mirrors the reference's integration strategy
(integration/produce_integration_test.go, consume_integration_test.go):
real wire bytes through the full pipeline, delivery/retry/DLQ semantics
asserted via injected sinks -- but on local temp dirs instead of live
Pulsar + HTTP.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.functions.serializers import (
    marshal_json,
    unmarshal_json,
)
from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
from prometheus_pulsar_remote_write_spark.streaming import windows
from prometheus_pulsar_remote_write_spark.streaming.consume import (
    RemoteWriteSink,
    run_consume_pipeline,
)
from prometheus_pulsar_remote_write_spark.streaming.produce import (
    FanoutError,
    FanoutPublisher,
    FilePublisher,
    run_produce_pipeline,
)

from tests.conftest import SF_SMOKE as SF
from tests.test_serializers import CUSTOM_AVRO_SCHEMA
from tests.test_wire_codecs import OVERLONG_TIMESTAMP_VARINTS, body_with_timestamp_varint


def _write_body(path: str, series: list[tuple[dict, list[tuple[float, int]]]]) -> int:
    """Write one snappy(proto(WriteRequest)) body; returns sample count."""
    req = {
        "timeseries": [
            {
                "labels": [{"name": k, "value": v} for k, v in lbls.items()],
                "samples": [{"value": v, "timestamp": t} for v, t in samples],
            }
            for lbls, samples in series
        ]
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(snappy_codec.compress(prompb.encode_write_request(req)))
    return sum(len(s) for _, s in series)


@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "drop"
    n = 0
    n += _write_body(
        str(d / "tenant-a" / "req1.bin"),
        [
            ({"__name__": "up", "job": "api"}, [(1.0, 1000), (0.0, 2000)]),
            ({"__name__": "cpu", "core": "0"}, [(0.5, 1500)]),
        ],
    )
    n += _write_body(
        str(d / "no-tenant" / "req2.bin"),
        [({"__name__": "mem", "host": "h1"}, [(42.0, 3000)])],
    )
    poison = d / "tenant-a" / "poison.bin"
    poison.parent.mkdir(parents=True, exist_ok=True)
    poison.write_bytes(b"definitely-not-snappy-proto")
    return str(d), n  # n == 4 good samples


def test_produce_pipeline_end_to_end(spark, drop_dir, tmp_path):
    d, n_samples = drop_dir
    out_dir = str(tmp_path / "out")
    q = run_produce_pipeline(spark, d, out_dir, trigger_once=True)
    q.awaitTermination(120)

    out = spark.read.option("recursiveFileLookup", "false").json(
        os.path.join(out_dir, "epoch=*")
    )
    rows = out.collect()
    assert len(rows) == n_samples
    by_tenant = {}
    for r in rows:
        by_tenant.setdefault(r["tenant_id"], []).append(r)
        assert r["key"].startswith("hex ") and len(r["key"]) == 20
        ts, val, labels, tenant = unmarshal_json(r["payload"])
        assert tenant == (r["tenant_id"] or "")
        assert "__name__" in labels
    assert len(by_tenant.get("tenant-a", [])) == 3
    # empty tenant: payload omits tenant_id, the column carries ""
    none_rows = [r for r in rows if r["tenant_id"] is None or r["tenant_id"] == ""]
    assert len(none_rows) == 1
    assert '"tenant_id"' not in none_rows[0]["payload"]


def test_produce_skips_body_repeating_a_label_name(spark, drop_dir, tmp_path):
    """A series that repeats a label name is poison: the body is skipped
    and the query finishes. A label map cannot hold such a series, and a
    body that failed the query would fail it again on every replay."""
    d, n_samples = drop_dir
    dup = {
        "labels": [{"name": "a", "value": "1"}, {"name": "a", "value": "2"}],
        "samples": [{"value": 1.0, "timestamp": 1000}],
    }
    with open(os.path.join(d, "tenant-a", "dup.bin"), "wb") as fh:
        fh.write(prompb.encode_body([dup]))
    out_dir = str(tmp_path / "out")
    q = run_produce_pipeline(spark, d, out_dir, trigger_once=True)
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.read.json(os.path.join(out_dir, "epoch=*")).collect()
    assert len(rows) == n_samples
    assert all('"a":' not in r["payload"] for r in rows)


def test_produce_skips_bodies_with_timestamps_past_int64(spark, tmp_path):
    """A body whose sample timestamp does not fit an int64 is skipped like
    any undecodable body, and the good body beside it is published. The
    json-compat marshaler cannot render such a timestamp, so a body that
    reached it would fail the query on every replay."""
    d = tmp_path / "drop"
    n_good = _write_body(
        str(d / "tenant-a" / "good.bin"),
        [({"__name__": "up", "job": "api"}, [(1.0, 1000), (2.0, 2000)])],
    )
    for i, varint in enumerate(OVERLONG_TIMESTAMP_VARINTS):
        (d / "tenant-a" / f"overlong-{i}.bin").write_bytes(
            body_with_timestamp_varint(varint)
        )
    out_dir = str(tmp_path / "out")
    q = run_produce_pipeline(
        spark, str(d), out_dir, serializer_format="json-compat", trigger_once=True
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.read.json(os.path.join(out_dir, "epoch=*")).collect()
    assert len(rows) == n_good
    stamps = sorted(json.loads(r["payload"])["timestamp"] for r in rows)
    assert stamps == ["1970-01-01T00:00:01Z", "1970-01-01T00:00:02Z"]


#: label sets for the produce parity test: replica labels, a series with
#: no labels, non-ASCII and JSON-escaped values
_PARITY_SERIES = [
    (
        {"__name__": "up", "job": "api", "replica": "r1", "cluster": "c1"},
        [(1.0, 1000), (0.0, 2000), (-0.0, 3000)],
    ),
    ({"__name__": "cpu", "__replica__": "b", "core": "0"}, [(0.5, 1500)]),
    ({}, [(2.5, 1600)]),
    ({"__name__": "t\u00e9l\u00e9", "q": 'say "hi"\n'}, [(float("inf"), -5), (-1e-7, 1)]),
]


def _old_produce_chain(bodies, fmt, replica_labels):
    """The produce edge as a chain of three Python execs: decode, then
    key and serialize over the exploded samples."""
    from prometheus_pulsar_remote_write_spark.functions.fnv import partition_key_col
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        serialize_col,
    )
    from prometheus_pulsar_remote_write_spark.operators.flatten import (
        flatten_write_requests,
    )
    from prometheus_pulsar_remote_write_spark.sources.remote_write import (
        decode_remote_write,
    )
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        tenant_from_path,
    )

    with_tenant = bodies.withColumn("tenant_id", tenant_from_path(F.col("path")))
    decoded = decode_remote_write(with_tenant, keep_cols=["tenant_id"])
    flat = flatten_write_requests(
        decoded.filter(F.col("decode_error").isNull()), ["tenant_id"]
    )
    return flat.select(
        partition_key_col(F.col("labels"), F.col("tenant_id"), replica_labels).alias(
            "key"
        ),
        serialize_col(fmt).alias("payload"),
        F.col("tenant_id"),
    )


@pytest.fixture()
def parity_drop(tmp_path):
    d = tmp_path / "drop"
    _write_body(str(d / "tenant-a" / "r1.bin"), _PARITY_SERIES)
    _write_body(str(d / "tenant-a" / "r2.bin"), _PARITY_SERIES[1:2])
    _write_body(str(d / "no-tenant" / "r3.bin"), _PARITY_SERIES)
    (d / "no-tenant" / "corrupt.bin").write_bytes(b"\xff\x00 not a body")
    schema = tmp_path / "slim.avsc"
    schema.write_text(CUSTOM_AVRO_SCHEMA)
    return str(d), str(schema)


@pytest.mark.parametrize("replica_labels", [None, ["replica", "cluster"]])
@pytest.mark.parametrize(
    "fmt", ["json", "json-compat", "avro-json-compat", "avro-json-compat=<file>"]
)
def test_produce_transform_matches_three_exec_chain(
    spark, parity_drop, fmt, replica_labels
):
    """The one-pass produce edge emits the same (key, payload, tenant_id)
    multiset as decode -> flatten -> partition key / serialize."""
    from collections import Counter

    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        produce_transform,
    )

    d, schema_file = parity_drop
    fmt = fmt.replace("<file>", schema_file)
    bodies = spark.read.format("binaryFile").load(d + "/*/*.bin")
    got = Counter(map(tuple, produce_transform(bodies, fmt, replica_labels).collect()))
    want = Counter(map(tuple, _old_produce_chain(bodies, fmt, replica_labels).collect()))
    assert got == want
    assert sum(got.values()) == 2 * 7 + 1
    assert {t for _, _, t in got} == {"tenant-a", ""}


def test_produce_transform_marshal_error_fails_like_three_exec_chain(
    spark, parity_drop
):
    """A custom Avro field with no default fails the batch on both chains."""
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        produce_transform,
    )

    d, _ = parity_drop
    fmt = "avro-json-compat=" + json.dumps(
        {"type": "record", "name": "Bad", "fields": [{"name": "hostname", "type": "string"}]}
    )
    bodies = spark.read.format("binaryFile").load(d + "/*/*.bin")
    for messages in (produce_transform(bodies, fmt), _old_produce_chain(bodies, fmt, None)):
        with pytest.raises(Exception, match="no default"):
            messages.collect()


def test_produce_transform_publishes_nan_samples(spark, tmp_path):
    """Prometheus marks a stale series with a NaN sample, and the produce
    edge publishes it."""
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        produce_transform,
    )

    _write_body(
        str(tmp_path / "tenant-a" / "r.bin"),
        [({"__name__": "up"}, [(float("nan"), 1000), (1.0, 2000)])],
    )
    bodies = spark.read.format("binaryFile").load(str(tmp_path / "*" / "*.bin"))
    payloads = sorted(r.payload for r in produce_transform(bodies).collect())
    assert payloads == [
        marshal_json(t, v, {"__name__": "up"}, "tenant-a")
        for t, v in ((1000, float("nan")), (2000, 1.0))
    ]


def test_produce_fanout_all_writers_and_error_join(spark, drop_dir, tmp_path):
    """D4: every writer gets the batch; failures are joined with names
    (reference pkg/app/produce.go:150-181)."""
    d, n_samples = drop_dir
    out_a = str(tmp_path / "writer-a")
    out_b = str(tmp_path / "writer-b")

    # happy path: both writers receive the full batch
    pub = FanoutPublisher({"a": FilePublisher(out_a), "b": FilePublisher(out_b)})
    q = run_produce_pipeline(
        spark, d, str(tmp_path / "unused"), publisher=pub, trigger_once=True,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(120)
    for out in (out_a, out_b):
        got = spark.read.json(os.path.join(out, "epoch=*")).count()
        assert got == n_samples

    # one writer failing -> FanoutError naming it; the good writer already
    # published (at-least-once on replay, as in the reference's 500 path)
    def bad_writer(batch_df, epoch_id):
        raise RuntimeError("broker down")

    out_c = str(tmp_path / "writer-c")
    failing = FanoutPublisher({"good": FilePublisher(out_c), "bad": bad_writer})
    q2 = run_produce_pipeline(
        spark, d, str(tmp_path / "unused2"), publisher=failing, trigger_once=True,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    with pytest.raises(Exception) as excinfo:
        q2.awaitTermination(120)
    assert "failed to write to: bad" in str(excinfo.value)
    assert spark.read.json(os.path.join(out_c, "epoch=*")).count() == n_samples


def _write_messages(in_dir: str, msgs: list[tuple[str, str]]) -> None:
    """msgs: (payload, tenant_id) JSONL, the consume-path input shape."""
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "messages.jsonl"), "w") as fh:
        for payload, tenant in msgs:
            fh.write(json.dumps({"key": "k", "payload": payload, "tenant_id": tenant}) + "\n")


def _sample_messages() -> tuple[list[tuple[str, str]], int]:
    msgs = []
    for i in range(7):
        labels = {"__name__": "up", "instance": f"i{i % 2}"}
        msgs.append((marshal_json(1000 + i, float(i), labels, "team-a"), "team-a"))
    for i in range(3):
        msgs.append((marshal_json(2000 + i, float(i), {"__name__": "mem"}, ""), ""))
    msgs.append(("this is not json {", "team-a"))  # poison
    return msgs, 10


def test_consume_pipeline_delivers_batches(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)

    # POSTs happen on the executors (distributed default), so record them
    # via the filesystem, not a driver-local closure list
    post_dir = str(tmp_path / "posts")
    agent_dir = str(tmp_path / "agents")

    def post_fn(url, body, headers):
        import hashlib
        import os as _os

        _os.makedirs(post_dir, exist_ok=True)
        org = headers.get("X-Scope-OrgID", "")
        name = f"{org or '_none'}-{hashlib.md5(body).hexdigest()}"
        with open(_os.path.join(post_dir, name), "wb") as fh:
            fh.write(body)
        _os.makedirs(agent_dir, exist_ok=True)
        with open(_os.path.join(agent_dir, name), "w") as fh:
            fh.write(headers["User-Agent"])
        return 200

    sink = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=post_fn, batch_size=4
    )
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)

    assert sum(sink.metrics.sent.values()) == n_good
    assert sink.metrics.sent == {"team-a": 7, "": 3}
    # team-a: 7 samples at batch_size=4 -> 2 requests; "": 1 request
    posted = []
    for name in os.listdir(post_dir):
        with open(os.path.join(post_dir, name), "rb") as fh:
            posted.append((name.split("-", 1)[0], fh.read()))
    assert len(posted) == 3
    for name in os.listdir(agent_dir):
        with open(os.path.join(agent_dir, name)) as fh:
            assert fh.read() == "prometheus-pulsar-remote-write-spark/0.1.0"
    assert len(os.listdir(agent_dir)) == 3
    total = 0
    for org, body in posted:
        req = prompb.decode_write_request(snappy_codec.decompress(body))
        for ts in req["timeseries"]:
            names = [l["name"] for l in ts["labels"]]
            assert names == sorted(names)  # B3 label sort
            total += len(ts["samples"])
    assert total == n_good
    # poison parked, stream not killed (B9)
    poison = spark.read.json(str(tmp_path / "poison"))
    assert poison.count() == 1


def _dlq_tenant(name: str) -> str:
    """The tenant a DLQ file name encodes (``tenant=<quoted>-epoch=...``)."""
    from urllib.parse import unquote

    return unquote(name[len("tenant="):].rsplit("-epoch=", 1)[0])


def test_consume_unrecoverable_goes_to_dlq(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)
    dlq = str(tmp_path / "dlq")
    post_dir = str(tmp_path / "posts")

    def reject_post(url, body, headers):
        import uuid as _uuid

        os.makedirs(post_dir, exist_ok=True)
        with open(os.path.join(post_dir, _uuid.uuid4().hex), "wb") as fh:
            fh.write(body)
        return 400

    sink = RemoteWriteSink(
        url="http://sink", dlq_dir=dlq, post_fn=reject_post, batch_size=100
    )
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)  # D6: ack-and-drop -- the query completes

    assert sum(sink.metrics.failed.values()) == n_good
    assert not sink.metrics.sent
    names = [f for f in os.listdir(dlq) if f.endswith(".bin")]
    assert len(names) == 2  # one body per tenant

    # each DLQ file is the exact body the receiver rejected, and holds
    # that tenant's samples
    received = set()
    for name in os.listdir(post_dir):
        with open(os.path.join(post_dir, name), "rb") as fh:
            received.add(fh.read())
    expected = {
        "team-a": {(1000 + i, float(i)) for i in range(7)},
        "": {(2000 + i, float(i)) for i in range(3)},
    }
    for name in names:
        with open(os.path.join(dlq, name), "rb") as fh:
            body = fh.read()
        assert body in received
        tenant = _dlq_tenant(name)
        req = prompb.decode_body(body)
        got = {
            (s["timestamp"], s["value"])
            for ts in req["timeseries"]
            for s in ts["samples"]
        }
        assert got == expected[tenant]


def test_consume_recoverable_replays_batch(spark, tmp_path):
    """D5: a 5xx fails the micro-batch; rerunning from the same checkpoint
    replays and delivers every sample (at-least-once)."""
    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)
    checkpoint = str(tmp_path / "ckpt")

    bad = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=lambda u, b, h: 503
    )
    q = run_consume_pipeline(
        spark, in_dir, bad, str(tmp_path / "poison"), checkpoint_dir=checkpoint
    )
    with pytest.raises(Exception) as exc_info:
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert "RecoverableError" in str(exc_info.value) or "503" in str(exc_info.value)
    assert not bad.metrics.sent

    good = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=lambda u, b, h: 200
    )
    q2 = run_consume_pipeline(
        spark, in_dir, good, str(tmp_path / "poison"), checkpoint_dir=checkpoint
    )
    q2.awaitTermination(120)
    assert sum(good.metrics.sent.values()) == n_good


def _run_to_memory(df, name, tmp_path):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return q


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """F7: watermarked tumbling agg over the replayed events stream equals
    the batch twin the DuckDB oracle checks."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_tumbling_hourly,
    )

    ev = windows.read_events_stream(spark, SF)
    agg = windows.tumbling_counts(ev)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in events_tumbling_hourly(spark, SF).collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match the batch result exactly, and most windows must have closed
    assert streamed
    assert len(streamed) >= len(batch) - 25
    for k, v in streamed.items():
        assert batch[k] == v


def test_streaming_hll_matches_batch(spark, tmp_path):
    """Sketching a stream: the chained (window, bucket)->window HLL
    aggregation must produce the identical estimate the batch sketch
    computes for every watermark-closed window."""
    from prometheus_pulsar_remote_write_spark.operators.sketch import hll_distinct
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = windows.read_events_stream(spark, SF)
    agg = windows.hll_tumbling_users(ev)
    q = (
        agg.writeStream.format("memory")
        .queryName("hll_tumbling")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r["window_start"]: (r["est_distinct"], r["buckets_set"])
        for r in spark.sql("SELECT * FROM hll_tumbling").collect()
    }
    evb = load_tables(spark, SF, ["events"])["events"]
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    batch = {
        r["window_start"]: (r["est_distinct"], r["buckets_set"])
        for r in hll_distinct(
            evb.withColumn("window_start", hour), ["window_start"], "user_id"
        ).collect()
    }
    assert streamed
    assert len(streamed) >= len(batch) - 25  # append mode: open windows unemitted
    for k, v in streamed.items():
        assert batch[k] == v


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """F7: dropDuplicatesWithinWatermark keeps one row per key (replay)."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_dedup_per_minute,
    )

    ev = windows.read_events_stream(spark, SF)
    dedup = windows.dedup_within_watermark(ev).select(
        "user_id", "event_type", "minute_bucket"
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.sql("SELECT * FROM dedup_stream")
    batch = events_dedup_per_minute(spark, SF)
    assert streamed.count() == batch.count()
    keys_s = {
        (r["user_id"], r["event_type"], r["minute_bucket"]) for r in streamed.collect()
    }
    keys_b = {
        (r["user_id"], r["event_type"], r["minute_bucket"]) for r in batch.collect()
    }
    assert keys_s == keys_b


def test_streaming_session_windows(spark, tmp_path):
    """F7: session_window streaming == session_window batch on replay."""
    ev_stream = windows.read_events_stream(spark, SF)
    agg = windows.session_counts(ev_stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.sql("SELECT * FROM sessions")

    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev_batch = load_tables(spark, SF, ["events"])["events"]
    batch = (
        ev_batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    s_rows = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in streamed.collect()
    }
    b_rows = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in batch.collect()
    }
    assert s_rows  # sessions were emitted
    for k, v in s_rows.items():
        assert b_rows[k] == v


def test_sink_replay_skips_settled_batches(spark, tmp_path):
    """D5 replay must not re-POST tenant batches that already got a 2xx in a
    failed attempt of the same epoch (reference write.go:208-236 keeps only
    un-acked samples)."""
    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)
    checkpoint = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dlq")

    # executor-side POSTs: count calls via marker files, not a closure list
    calls_dir = str(tmp_path / "calls")

    def flaky_post(url, body, headers):
        import os as _os
        import uuid as _uuid

        org = headers.get("X-Scope-OrgID", "")
        _os.makedirs(calls_dir, exist_ok=True)
        with open(_os.path.join(calls_dir, f"{org or '_none'}-{_uuid.uuid4().hex}"), "w"):
            pass
        # First attempt: "" gets a 200, team-a gets a 503 -> replay.
        if org == "":
            return 200
        return 503

    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=flaky_post, batch_size=100)
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"), checkpoint_dir=checkpoint)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()  # micro-batch failed -> will replay

    ok = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 200, batch_size=100)
    q2 = run_consume_pipeline(spark, in_dir, ok, str(tmp_path / "poison"), checkpoint_dir=checkpoint)
    q2.awaitTermination(120)
    assert q2.exception() is None

    # replay delivered ONLY the unsettled team-a batch; the settled ""
    # batch was not re-POSTed (no duplicate delivery)
    assert ok.metrics.sent == {"team-a": 7}
    assert sink.metrics.sent == {"": 3}
    none_calls = [f for f in os.listdir(calls_dir) if f.startswith("_none-")]
    assert len(none_calls) == 1  # exactly one POST for the settled tenant


def test_sink_replay_keeps_tenant_none_apart_from_anonymous(spark, tmp_path):
    """A tenant literally named "_none" and the anonymous tenant "" settle
    as two ledger pairs: when "_none" gets a 200 and "" a 503, the replay
    POSTs exactly the "" batch and does not re-POST "_none"."""
    in_dir = str(tmp_path / "in")
    msgs = [(marshal_json(1000 + i, 1.0, {"__name__": "up"}, "_none"), "_none") for i in range(2)]
    msgs += [(marshal_json(2000 + i, 2.0, {"__name__": "up"}, ""), "") for i in range(3)]
    _write_messages(in_dir, msgs)
    checkpoint = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dlq")
    calls_dir = str(tmp_path / "calls")

    def post(status_for_anonymous):
        def post_fn(url, body, headers):
            import os as _os
            import uuid as _uuid

            org = headers.get("X-Scope-OrgID", "")
            _os.makedirs(calls_dir, exist_ok=True)
            with open(_os.path.join(calls_dir, f"[{org}]-{_uuid.uuid4().hex}"), "w"):
                pass
            return status_for_anonymous if org == "" else 200

        return post_fn

    first = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=post(503))
    q = run_consume_pipeline(spark, in_dir, first, str(tmp_path / "poison"), checkpoint_dir=checkpoint)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    replay = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=post(200))
    q2 = run_consume_pipeline(spark, in_dir, replay, str(tmp_path / "poison"), checkpoint_dir=checkpoint)
    q2.awaitTermination(120)
    assert q2.exception() is None

    assert first.metrics.sent == {"_none": 2}
    assert replay.metrics.sent == {"": 3}
    calls = sorted(name.split("-", 1)[0] for name in os.listdir(calls_dir))
    assert calls == ["[]", "[]", "[_none]"]


def test_sink_ledger_is_one_file_per_query_holding_its_last_epoch(spark, tmp_path):
    """Three epochs of one query leave one ledger file, named by the
    query id, holding only the last epoch's settled pairs."""
    in_dir = str(tmp_path / "in")
    for epoch, tenant in enumerate(("t-a", "t-b", "t-c")):
        _write_messages(
            os.path.join(in_dir, f"f{epoch}"),
            [(marshal_json(1000, 1.0, {"__name__": "up"}, tenant), tenant)],
        )
    source = (
        spark.readStream.schema("key string, payload string, tenant_id string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .json(in_dir)
    )
    dlq = str(tmp_path / "dlq")
    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 200)
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"), source=source)
    q.awaitTermination(120)
    assert q.exception() is None
    assert sink.metrics.sent == {"t-a": 1, "t-b": 1, "t-c": 1}

    ledger_dir = os.path.join(dlq, "_sent_ledger")
    assert os.listdir(ledger_dir) == [f"{q.id}.json"]
    with open(os.path.join(ledger_dir, f"{q.id}.json")) as fh:
        ledger = json.load(fh)
    assert ledger["epoch"] == q.lastProgress["batchId"] == 2
    assert len(ledger["settled"]) == 1 and ledger["settled"][0][1] == 0


def _dlq_bodies(dlq: str) -> dict:
    """{tenant: sorted sample timestamps} over every DLQ body in ``dlq``."""
    out = {}
    for name in sorted(os.listdir(dlq)):
        if name.endswith(".bin"):
            with open(os.path.join(dlq, name), "rb") as fh:
                req = prompb.decode_body(fh.read())
            out.setdefault(_dlq_tenant(name), []).extend(
                s["timestamp"] for ts in req["timeseries"] for s in ts["samples"]
            )
    return {t: sorted(stamps) for t, stamps in out.items()}


def test_dlq_keeps_tenant_none_apart_from_anonymous(spark, tmp_path):
    """Rejected batches of a tenant named "_none" and of the anonymous
    tenant in one epoch park two bodies, not one file written twice."""
    in_dir = str(tmp_path / "in")
    msgs = [(marshal_json(1000 + i, 1.0, {"__name__": "up"}, "_none"), "_none") for i in range(2)]
    msgs += [(marshal_json(2000 + i, 2.0, {"__name__": "up"}, ""), "") for i in range(3)]
    _write_messages(in_dir, msgs)
    dlq = str(tmp_path / "dlq")
    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 400)
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert sink.metrics.failed == {"_none": 2, "": 3}
    assert _dlq_bodies(dlq) == {"_none": [1000, 1001], "": [2000, 2001, 2002]}


def test_queries_sharing_dlq_and_poison_dirs_keep_every_parked_file(spark, tmp_path):
    """Two consume queries on one DLQ dir and one poison dir, each with a
    rejected batch and a poison message in its epoch 0, keep both bodies
    and both poison lines."""
    dlq = str(tmp_path / "dlq")
    poison_dir = str(tmp_path / "poison")
    for leg, ts in (("a", 1000), ("b", 2000)):
        in_dir = str(tmp_path / f"in-{leg}")
        _write_messages(
            in_dir,
            [
                (marshal_json(ts, 1.0, {"__name__": "up"}, "team-a"), "team-a"),
                (f"poison {leg}", "team-a"),
            ],
        )
        sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 400)
        q = run_consume_pipeline(
            spark, in_dir, sink, poison_dir,
            checkpoint_dir=str(tmp_path / f"ckpt-{leg}"),
        )
        q.awaitTermination(120)
        assert q.exception() is None
    assert _dlq_bodies(dlq) == {"team-a": [1000, 2000]}
    lines = []
    for name in os.listdir(poison_dir):
        if name.startswith("epoch="):
            with open(os.path.join(poison_dir, name)) as fh:
                lines += [json.loads(line)["payload"] for line in fh]
    assert sorted(lines) == ["poison a", "poison b"]


def test_dlq_parks_a_tenant_holding_a_path_separator(spark, tmp_path):
    """A bus message's tenant is not validated by every producer: a 4xx
    for tenant "a/b" parks its body in the flat DLQ dir and the query
    finishes."""
    in_dir = str(tmp_path / "in")
    _write_messages(in_dir, [(marshal_json(1000, 1.0, {"__name__": "up"}, "a/b"), "a/b")])
    dlq = str(tmp_path / "dlq")
    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 400)
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert sink.metrics.failed == {"a/b": 1}
    assert _dlq_bodies(dlq) == {"a/b": [1000]}


def test_dlq_parks_tenants_too_long_for_a_file_name(spark, tmp_path):
    """Two 300-byte tenants that share their first 250 bytes, both
    rejected in one epoch, park two bodies under names within the 255-byte
    limit, and the epoch commits."""
    in_dir = str(tmp_path / "in")
    tenants = ["t" * 250 + "a" * 50, "t" * 250 + "b" * 50]
    _write_messages(
        in_dir,
        [(marshal_json(1000 + i, 1.0, {"__name__": "up"}, t), t) for i, t in enumerate(tenants)],
    )
    dlq = str(tmp_path / "dlq")
    checkpoint = str(tmp_path / "ckpt")
    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 400)
    q = run_consume_pipeline(
        spark, in_dir, sink, str(tmp_path / "poison"), checkpoint_dir=checkpoint
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert os.path.exists(os.path.join(checkpoint, "commits", "0"))
    assert sink.metrics.failed == {t: 1 for t in tenants}
    names = sorted(f for f in os.listdir(dlq) if f.endswith(".bin"))
    assert len(names) == 2
    assert all(len(name.encode()) <= 255 for name in names)
    stamps = []
    for name in names:
        with open(os.path.join(dlq, name), "rb") as fh:
            req = prompb.decode_body(fh.read())
        stamps += [s["timestamp"] for ts in req["timeseries"] for s in ts["samples"]]
    assert sorted(stamps) == [1000, 1001]


def test_dlq_write_interrupted_mid_file_parks_nothing(tmp_path, monkeypatch):
    """A DLQ body whose write fails half-way (a full disk) leaves nothing
    under a ``tenant=...bin`` name, so no half body is ever parked as if it
    were the rejected one."""
    import builtins
    import errno

    dlq = str(tmp_path / "dlq")
    real_open = builtins.open

    class _HalfWriter:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            self.fh.write(data[: len(data) // 2])
            raise OSError(errno.ENOSPC, "No space left on device")

    def _open(path, mode="r", *args, **kwargs):
        fh = real_open(path, mode, *args, **kwargs)
        return _HalfWriter(fh) if "w" in mode and str(path).startswith(dlq) else fh

    body = prompb.encode_body(
        [{"labels": [{"name": "__name__", "value": "up"}],
          "samples": [{"value": 1.0, "timestamp": 1000}]}]
    )
    sink = RemoteWriteSink(url="http://s", dlq_dir=dlq)
    monkeypatch.setattr(builtins, "open", _open)
    try:
        with pytest.raises(OSError):
            sink._dlq_write("q", 3, "team-a", 0, body)
    finally:
        monkeypatch.undo()
    assert os.listdir(dlq) == []


def test_app_consume_subscriptions_share_a_work_dir(spark, tmp_path):
    """Two consume subscriptions on one bus and one work dir are two
    queries with two ledgers: the second delivers every sample even though
    its epoch 0 is also the first's."""
    from prometheus_pulsar_remote_write_spark.app import parse_args, run

    bus = str(tmp_path / "bus")
    _write_messages(
        bus,
        [(marshal_json(1000 + i, 1.0, {"__name__": "up"}, "team-a"), "team-a") for i in range(5)],
    )
    for subscription in ("sub-a", "sub-b"):
        cfg = parse_args(
            [
                "consume",
                f"--pulsar.topic={bus}",
                "--remote-write.url=http://downstream/api/v1/push",
                f"--pulsar.subscription={subscription}",
                f"--work-dir={tmp_path / 'work'}",
            ]
        )
        cfg.post_fn = lambda u, b, h: 200
        q, sink = run(spark, cfg)
        q.awaitTermination(120)
        assert q.exception() is None
        assert sink.metrics.sent == {"team-a": 5}, subscription


# --- executor-side delivery (post_batches_distributed) -----------------------


def test_distributed_post_delivers_all_batches(spark, tmp_path, monkeypatch):
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        post_batches_distributed,
    )

    post_dir = str(tmp_path / "posts")

    def recording_post(url, body, headers):
        # closure: cloudpickle ships it by value to executors
        import hashlib
        import os as _os

        _os.makedirs(post_dir, exist_ok=True)
        name = hashlib.md5(body).hexdigest()
        org = headers.get("X-Scope-OrgID", "_none")
        with open(_os.path.join(post_dir, f"{org}-{name}"), "wb") as fh:
            fh.write(body)
        return 200

    rows = [
        ("team-a", 1000 + i, float(i), json.dumps({"__name__": "up", "i": str(i)}))
        for i in range(7)
    ] + [("", 2000 + i, float(i), json.dumps({"__name__": "mem"})) for i in range(3)]
    df = spark.createDataFrame(
        rows, "tenant_id string, timestamp long, value double, labels_json string"
    )
    statuses = post_batches_distributed(
        df, url="http://sink", post_fn=recording_post, batch_size=4
    )
    # team-a: 7 samples @4 -> 2 batches; "": 3 -> 1 batch; sorted by
    # (tenant, batch), and a 2xx row carries no body
    assert [(s[0], s[1], s[2], s[3], s[5]) for s in statuses] == [
        ("", 0, 200, 3, None),
        ("team-a", 0, 200, 4, None),
        ("team-a", 1, 200, 3, None),
    ]
    posts = os.listdir(post_dir)
    assert len(posts) == 3

    # posted bodies decode back to valid sorted-label WriteRequests
    total = 0
    for name in posts:
        with open(os.path.join(post_dir, name), "rb") as fh:
            req = prompb.decode_body(fh.read())
        for ts in req["timeseries"]:
            labels = [l["name"] for l in ts["labels"]]
            assert labels == sorted(labels)
            total += len(ts["samples"])
    assert total == 10


def test_distributed_post_reports_5xx_status(spark):
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        post_batches_distributed,
    )

    def post_503(url, body, headers):
        return 503

    df = spark.createDataFrame(
        [("t", 1, 1.0, "{}")],
        "tenant_id string, timestamp long, value double, labels_json string",
    )
    statuses = post_batches_distributed(
        df, url="http://sink", post_fn=post_503, batch_size=100
    )
    assert [(s[0], s[1], s[2], s[3], s[5]) for s in statuses] == [
        ("t", 0, 503, 1, None)
    ]


def _recording_post(post_dir: str, status: int = 200):
    """A picklable post_fn that keeps each POSTed body as a file and
    answers ``status``."""

    def post(url, body, headers):
        import os as _os
        import uuid as _uuid

        _os.makedirs(post_dir, exist_ok=True)
        org = headers.get("X-Scope-OrgID", "") or "_none"
        with open(_os.path.join(post_dir, f"{org}-{_uuid.uuid4().hex}"), "wb") as fh:
            fh.write(body)
        return status

    return post


def _posted_bodies(post_dir: str) -> list:
    out = []
    for name in sorted(os.listdir(post_dir)):
        with open(os.path.join(post_dir, name), "rb") as fh:
            out.append(fh.read())
    return out


@pytest.mark.parametrize("batch_size", [4, 100])
def test_distributed_post_bodies_match_reference_chain(spark, tmp_path, batch_size):
    """The grouped pass POSTs exactly the bytes of the reference chain:
    a row_number window over (timestamp, labels_json) per tenant, labels
    re-nested through from_json and sorted by name, encoded per batch.
    Series share timestamps, and label values hold non-ASCII, JSON-escaped
    and control characters (Spark writes a control character's escape in
    uppercase hex, json.dumps in lowercase). The pass gives the same bodies
    from the raw messages, which it parses itself, and from the parsed
    frame the traced benchmark probe hands it."""
    from prometheus_pulsar_remote_write_spark.operators.flatten import nest_samples
    from prometheus_pulsar_remote_write_spark.streaming.batcher import (
        microbatch_batches,
    )
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        parse_samples,
        post_batches_distributed,
    )

    odd_values = [
        "plain", "zürich", "東京", 'quo"te', "back\\slash", "new\nline",
        "ctl\x1f", "ctl\x01", "ctl\x1a", "back\\u001f",
    ]
    msgs = []
    for tenant, n_series in (("team-a", len(odd_values)), ("team-b", 2), ("", 1)):
        for s_i in range(n_series):
            labels = {
                "__name__": "up",
                "job": odd_values[s_i % len(odd_values)],
                "instance": f"i{s_i}",
            }
            for t in range(25):
                msgs.append((marshal_json(1000 * t, float(s_i * 100 + t), labels, tenant), tenant))
    in_dir = str(tmp_path / "in")
    _write_messages(in_dir, msgs)
    messages = spark.read.schema("key string, payload string, tenant_id string").json(in_dir)
    parsed = parse_samples(messages).filter(F.col("timestamp").isNotNull()).drop("payload")

    nested = nest_samples(
        microbatch_batches(parsed, batch_size).withColumn(
            "labels", F.from_json("labels_json", "map<string,string>")
        ),
        ["tenant_id", "batch_seq"],
    )
    expected = sorted(prompb.encode_body(r.timeseries) for r in nested.collect())

    for name, frame in (("raw", messages), ("parsed", parsed)):
        post_dir = str(tmp_path / f"posts-{name}")
        statuses = post_batches_distributed(
            frame, "http://sink", post_fn=_recording_post(post_dir), batch_size=batch_size
        )
        assert sum(s[3] for s in statuses) == len(msgs), name
        assert len(statuses) == len(expected), name
        assert sorted(_posted_bodies(post_dir)) == expected, name


def test_consume_delivers_nan_sample(spark, tmp_path):
    """A NaN sample (a Prometheus staleness marker) is delivered as NaN,
    and the query finishes cleanly."""
    import math

    in_dir = str(tmp_path / "in")
    labels = {"__name__": "up"}
    _write_messages(
        in_dir,
        [
            (marshal_json(1000, math.nan, labels, "team-a"), "team-a"),
            (marshal_json(2000, 2.0, labels, "team-a"), "team-a"),
        ],
    )
    post_dir = str(tmp_path / "posts")
    sink = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=_recording_post(post_dir)
    )
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert sink.metrics.sent == {"team-a": 2}
    (body,) = _posted_bodies(post_dir)
    samples = [s for ts in prompb.decode_body(body)["timeseries"] for s in ts["samples"]]
    assert [s["timestamp"] for s in samples] == [1000, 2000]
    assert math.isnan(samples[0]["value"]) and samples[1]["value"] == 2.0


def test_consume_poison_written_once_across_replay(spark, tmp_path):
    """A micro-batch that fails with a 5xx and then replays with a 2xx
    leaves one poison line per poison message, not one per attempt."""
    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)
    checkpoint = str(tmp_path / "ckpt")
    poison_dir = str(tmp_path / "poison")
    dlq = str(tmp_path / "dlq")

    bad = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 503)
    q = run_consume_pipeline(spark, in_dir, bad, poison_dir, checkpoint_dir=checkpoint)
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()

    good = RemoteWriteSink(url="http://s", dlq_dir=dlq, post_fn=lambda u, b, h: 200)
    q2 = run_consume_pipeline(spark, in_dir, good, poison_dir, checkpoint_dir=checkpoint)
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert sum(good.metrics.sent.values()) == n_good

    lines = []
    for name in os.listdir(poison_dir):
        path = os.path.join(poison_dir, name)
        if os.path.isfile(path) and not name.startswith(("_", ".")):
            with open(path) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
    assert lines == [{"payload": "this is not json {"}]


@pytest.mark.parametrize("dedup_within", [None, "10 minutes"])
def test_consume_parks_mistyped_payloads_as_poison(spark, tmp_path, dedup_within):
    """A payload that parses as JSON but cannot be a sample -- a numeric
    tenant_id, a numeric label value, a timestamp past int64, a repeated
    tenant_id key (the shuffle reads the first, json.loads keeps the last)
    -- is poison like unparseable JSON: it is parked and the tenant's good
    samples are delivered, and the query finishes, with or without the
    dedup stage's upstream parse."""
    in_dir = str(tmp_path / "in")
    good = marshal_json(1000, 1.0, {"__name__": "up"}, "team-a")
    bad = [
        '{"value":[1,"2"],"metric":{"__name__":"up"},"tenant_id":7}',
        '{"value":[1,"2"],"metric":{"__name__":"up","n":3},"tenant_id":"team-a"}',
        '{"value":[1e300,"2"],"metric":{"__name__":"up"},"tenant_id":"team-a"}',
        '{"value":[1,"2"],"metric":{"__name__":"up"},"tenant_id":"team-a","tenant_id":"x"}',
    ]
    _write_messages(in_dir, [(good, "team-a")] + [(p, "team-a") for p in bad])
    post_dir = str(tmp_path / "posts")
    poison_dir = str(tmp_path / "poison")
    sink = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=_recording_post(post_dir)
    )
    q = run_consume_pipeline(spark, in_dir, sink, poison_dir, dedup_within=dedup_within)
    q.awaitTermination(120)
    assert q.exception() is None
    assert sink.metrics.sent == {"team-a": 1}
    (body,) = _posted_bodies(post_dir)
    (series,) = prompb.decode_body(body)["timeseries"]
    assert series["samples"] == [{"value": 1.0, "timestamp": 1000}]
    lines = []
    for name in os.listdir(poison_dir):
        if name.startswith("epoch="):
            with open(os.path.join(poison_dir, name)) as fh:
                lines += [json.loads(line)["payload"] for line in fh]
    assert sorted(lines) == sorted(bad)


def test_app_continuous_consume_triggers_every_second(spark, tmp_path):
    """Continuous consume runs on the 1 s cadence produce polls at, read
    from the started query's trigger: the batch max delay (5 s by default)
    is an upper bound on it, not the interval."""
    from prometheus_pulsar_remote_write_spark.app import parse_args, run

    bus = str(tmp_path / "bus")
    os.makedirs(bus, exist_ok=True)
    for extra, interval_ms in (([], 1000), (["--batch-max-delay=250ms"], 250)):
        cfg = parse_args(
            [
                "consume",
                f"--pulsar.topic={bus}",
                "--remote-write.url=http://downstream/api/v1/push",
                "--continuous=true",
                f"--work-dir={tmp_path / 'work'}",
            ]
            + extra
        )
        cfg.post_fn = lambda u, b, h: 200
        q, _ = run(spark, cfg)
        try:
            trigger = q._jsq.streamingQuery().trigger()
            assert trigger.getClass().getSimpleName() == "ProcessingTimeTrigger"
            assert trigger.intervalMs() == interval_ms
        finally:
            q.stop()


def test_streaming_rate_matches_batch(spark, tmp_path):
    """F7 + PromQL rate: the watermarked streaming rate equals the batch
    twin the DuckDB oracle checks, on every watermark-closed window."""
    from prometheus_pulsar_remote_write_spark.plans.pipeline import consume_rate_5m

    ev = windows.read_events_stream(spark, SF)
    agg = windows.sample_rate_5m(ev)
    q = (
        agg.writeStream.format("memory")
        .queryName("rate5m")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["window_start"], r["tenant_id"], r["name"]): (
            r["n"], r["first_val"], r["last_val"], r["increase"], r["rate_per_s"]
        )
        for r in spark.sql("SELECT * FROM rate5m").collect()
    }
    batch = {
        (r["window_start"], r["tenant_id"], r["name"]): (
            r["n"], r["first_val"], r["last_val"], r["increase"], r["rate_per_s"]
        )
        for r in consume_rate_5m(spark, SF).collect()
    }
    assert streamed
    # append mode withholds only still-open windows at the stream's end
    assert len(streamed) >= len(batch) - 60
    for k, v in streamed.items():
        assert batch[k] == v, k


@pytest.mark.slow
def test_streaming_cms_matches_batch(spark, tmp_path):
    """The watermarked CMS counter stream must equal the batch sketch
    grouped by hour for every closed window."""
    from prometheus_pulsar_remote_write_spark.operators.sketch import cms_table
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = windows.read_events_stream(spark, SF)
    agg = windows.cms_tumbling_users(ev)
    q = (
        agg.writeStream.format("memory")
        .queryName("cms_tumbling")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["window_start"], r["depth"], r["bucket"]): r["n"]
        for r in spark.sql("SELECT * FROM cms_tumbling").collect()
    }
    evb = load_tables(spark, SF, ["events"])["events"]
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    batch = {}
    bt = (
        evb.withColumn("window_start", hour)
        .groupBy("window_start")
        .agg(F.count("*"))
        .collect()
    )
    for w in [r["window_start"] for r in bt]:
        part = evb.withColumn("window_start", hour).filter(
            F.col("window_start") == w
        )
        for r in cms_table(part, "user_id").collect():
            batch[(w, r["depth"], r["bucket"])] = r["n"]
    assert streamed
    closed_windows = {k[0] for k in streamed}
    for k, v in streamed.items():
        assert batch[k] == v
    # every closed window carries full counter coverage
    batch_closed = {k: v for k, v in batch.items() if k[0] in closed_windows}
    assert batch_closed == streamed


def test_streaming_latest_state_matches_batch(spark, tmp_path):
    """The streaming CDC latest-wins state must converge to exactly the
    batch events_latest_state compaction after the stream drains (the
    last update emitted per key is the final state)."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_latest_state,
    )

    ev = windows.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = (
        windows.latest_state_stream(ev)
        .writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode appends one row per (micro-batch, touched key); the
    # final state per key is the LAST row emitted for it
    import collections

    final = {}
    for r in spark.sql("SELECT * FROM latest_state").collect():
        final[r["user_id"]] = (r["last_seen_s"], r["last_event_type"], r["last_value"])
    batch = {
        r["user_id"]: (r["last_seen_s"], r["last_event_type"], r["last_value"])
        for r in events_latest_state(spark, SF).collect()
    }
    assert final == batch


def test_app_config_entry_end_to_end(spark, drop_dir, tmp_path):
    """The reference's embeddable App surface (app.go:125-147): one config
    object / CLI argv drives the full produce -> consume round trip, with
    the reference's flag names mapped onto the Spark pipelines."""
    from prometheus_pulsar_remote_write_spark.app import parse_args, run

    d, n_samples = drop_dir
    bus = str(tmp_path / "bus")
    work = str(tmp_path / "work")
    post_dir = str(tmp_path / "posts")

    produce_cfg = parse_args(
        [
            "produce",
            f"--pulsar.topic={bus}",
            f"--web.write-path={d}",
            "--pulsar.serializer=json",
            "--replica-label=__replica__",
            "--send-timeout=30s",
            f"--work-dir={work}",
        ]
    )
    q, _ = run(spark, produce_cfg)
    q.awaitTermination(120)
    assert spark.read.json(os.path.join(bus, "epoch=*")).count() == n_samples

    def post_fn(url, body, headers):
        import hashlib
        import os as _os

        _os.makedirs(post_dir, exist_ok=True)
        org = headers.get("X-Scope-OrgID", "_none")
        with open(_os.path.join(post_dir, f"{org}-{hashlib.md5(body).hexdigest()}"), "wb") as fh:
            fh.write(body)
        return 200

    consume_cfg = parse_args(
        [
            "consume",
            f"--pulsar.topic={bus}",
            "--remote-write.url=http://downstream/api/v1/push",
            "--pulsar.subscription=test-sub",
            "--batch-max-delay=5s",
            "--batch-size=100",
            f"--work-dir={work}",
        ]
    )
    consume_cfg.post_fn = post_fn  # injectable, like the reference's client seam
    q2, sink = run(spark, consume_cfg)
    q2.awaitTermination(120)

    assert sum(sink.metrics.sent.values()) == n_samples
    assert sink.metrics.sent == {"tenant-a": 3, "": 1}
    assert sink.metrics.snapshot()["send_duration"]["count"] == 2  # one POST per tenant batch
    assert len(os.listdir(post_dir)) == 2

    # the reference's integration gate (consume_integration_test.go:235-253):
    # after a clean consume run, the gathered metrics carry one series per
    # active label set for received/sent/duration and lint clean
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lint_exposition,
        parse_exposition,
    )

    text = sink.metrics.exposition(remote="http://downstream/api/v1/push")
    fams = parse_exposition(text)
    assert len(fams["received_samples_total"]["samples"]) == 2  # two tenants
    assert len(fams["sent_samples_total"]["samples"]) == 2
    assert len(fams["failed_samples_total"]["samples"]) == 0  # no errors
    gate = ["received_samples_total", "sent_samples_total",
            "sent_batch_duration_seconds"]
    assert lint_exposition(text, names=gate) == []


def test_app_config_validation():
    from prometheus_pulsar_remote_write_spark.app import AppConfig, parse_args

    with pytest.raises(ValueError, match="unknown command"):
        parse_args(["serve"])
    with pytest.raises(ValueError, match="unknown Pulsar serializer"):
        AppConfig(mode="produce", bus_dir="/b", drop_dir="/d", serializer="xml").validate()
    with pytest.raises(ValueError, match="remote_write_url"):
        parse_args(["consume", "--pulsar.topic=/b"])
    with pytest.raises(ValueError, match="unknown flag"):
        parse_args(["produce", "--web.write-path=/d", "--pulsar.topic=/b", "--no-such=1"])
    # the reference's custom-schema serializer config form is accepted
    cfg = AppConfig(
        mode="produce",
        bus_dir="/b",
        drop_dir="/d",
        serializer='avro-json-compat={"type":"record","name":"R","fields":[{"name":"value","type":"string"}]}',
    )
    assert cfg.validate() is cfg


def test_broker_publisher_adapter_seam(spark, drop_dir, tmp_path):
    """A2 broker seam: a fake broker client created executor-side by the
    factory receives every keyed message, with a flush per partition (the
    reference's Flush-before-ack); FilePublisher and a real Pulsar
    producer are interchangeable behind this interface."""
    from prometheus_pulsar_remote_write_spark.streaming.produce import BrokerPublisher

    d, n_samples = drop_dir
    sent_dir = str(tmp_path / "sent")

    def factory():
        import os as _os
        import uuid as _uuid

        class _FakeProducer:
            def __init__(self):
                self.pending = []

            def send(self, key, payload):
                assert isinstance(payload, bytes)
                self.pending.append((key, payload))

            def flush(self):
                _os.makedirs(sent_dir, exist_ok=True)
                path = _os.path.join(sent_dir, f"flush-{_uuid.uuid4().hex}.jsonl")
                with open(path, "w") as fh:
                    for key, payload in self.pending:
                        fh.write(json.dumps({"key": key, "payload": payload.decode()}) + "\n")
                self.pending = []

        return _FakeProducer()

    pub = BrokerPublisher(factory, cache_key="test-broker")
    q = run_produce_pipeline(
        spark, d, str(tmp_path / "unused"), publisher=pub, trigger_once=True,
        checkpoint_dir=str(tmp_path / "ckpt-broker"),
    )
    q.awaitTermination(120)

    msgs = []
    for name in os.listdir(sent_dir):
        with open(os.path.join(sent_dir, name)) as fh:
            msgs.extend(json.loads(line) for line in fh)
    assert len(msgs) == n_samples
    for m in msgs:
        assert m["key"].startswith("hex ")
        ts, val, labels, tenant = unmarshal_json(m["payload"])
        assert "__name__" in labels


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """F7 stream-stream interval join: with the whole (bounded) replay
    inside the watermark horizon, the streaming conversion pairs equal
    the batch range-join twin exactly."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_range_join_conversions,
    )

    ev = windows.read_events_stream(spark, SF)
    joined = windows.interval_join_conversions_stream(ev)
    q = (
        joined.writeStream.format("memory")
        .queryName("conv_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["signup_id"], r["purchase_id"]): (r["user_id"], r["delay_s"])
        for r in spark.sql("SELECT * FROM conv_pairs").collect()
    }
    batch = {
        (r["signup_id"], r["purchase_id"]): (r["user_id"], r["delay_s"])
        for r in events_range_join_conversions(spark, SF).collect()
    }
    assert streamed == batch and streamed


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """F7 stateful EWMA: the applyInPandasWithState ring-state stream
    reproduces the batch 16-term truncated EWMA exactly."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_ewma_smooth,
    )

    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.ewma_stream(ev)
        .writeStream.format("memory")
        .queryName("ewma")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r["event_id"]: (r["user_id"], r["ts_s"], r["yc"], r["ewma_centi"])
        for r in spark.sql("SELECT * FROM ewma").collect()
    }
    batch = {
        r["event_id"]: (r["user_id"], r["ts_s"], r["yc"], r["ewma_centi"])
        for r in events_ewma_smooth(spark, SF).collect()
    }
    assert streamed == batch and streamed


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """F7 stream-static join: per-micro-batch broadcast of the static
    dimension reproduces the batch left join exactly (including the
    unknown-tier fallback for users outside the dim)."""
    ev_batch = spark.read.parquet(f"{SF}/events.parquet")
    dim = (
        ev_batch.select("user_id")
        .distinct()
        .filter("user_id % 3 != 0")  # leave some users unmatched
        .withColumn(
            "tier",
            (F.col("user_id") % 2 == 0).cast("string"),
        )
    )
    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.enrich_with_static_dim(ev, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r["event_id"]: (r["user_id"], r["tier"], r["event_type"], r["value"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    batch = {
        r["event_id"]: (r["user_id"], r["tier"], r["event_type"], r["value"])
        for r in windows.enrich_with_static_dim(ev_batch, dim).collect()
    }
    assert streamed == batch and streamed


def test_ewma_stream_resumes_from_checkpoint(spark, tmp_path):
    """Stateful-stream recovery: stop the EWMA stream after the first
    file, add a second file, restart on the SAME checkpoint -- the ring
    state must carry across the restart, so the second run's outputs for
    the new rows equal the batch EWMA over the full history (a fresh
    state would smooth from scratch and disagree)."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_ewma_smooth,
    )

    ev_all = spark.read.parquet(f"{SF}/events.parquet").orderBy("ts", "event_id")
    rows = ev_all.count()
    first = ev_all.limit(rows // 2)
    second = ev_all.subtract(first)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    first.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch1.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(ev_all.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        if dict(stream.dtypes)["ts"].startswith("timestamp_ntz"):
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            windows.ewma_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    assert spark.read.parquet(out).count() == rows // 2
    second.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch2.parquet")
    run_once()

    streamed = {
        r["event_id"]: (r["yc"], r["ewma_centi"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(streamed) == rows  # batch1 not re-emitted, batch2 appended
    batch = {
        r["event_id"]: (r["yc"], r["ewma_centi"])
        for r in events_ewma_smooth(spark, SF).collect()
    }
    for eid in (r["event_id"] for r in second.select("event_id").collect()):
        assert streamed[eid] == batch[eid], eid


def test_app_produce_with_live_http_listener(spark, tmp_path):
    """The reference's full produce shape through the config entry: the
    --web.listen receiver accepts a real remote-write POST, and the
    produce pipeline publishes its samples to the bus."""
    import urllib.request

    from prometheus_pulsar_remote_write_spark import app
    drop = str(tmp_path / "drop")
    bus = str(tmp_path / "bus")
    cfg = app.parse_args(
        [
            "produce",
            f"--web.write-path={drop}",
            "--web.listen=127.0.0.1:0",
            f"--pulsar.topic={bus}",
            f"--work-dir={tmp_path / 'work'}",
        ]
    )
    # start the listener first (run() would too, but we need its port
    # before the trigger_once batch scans the spool)
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    listener = RemoteWriteListener(drop)
    host, port = listener.start()
    req = {
        "timeseries": [
            {
                "labels": [{"name": "__name__", "value": "sig"}],
                "samples": [{"value": 1.5, "timestamp": 1000}],
            }
        ]
    }
    body = snappy_codec.compress(prompb.encode_write_request(req))
    urllib.request.urlopen(
        urllib.request.Request(f"http://{host}:{port}/write", data=body)
    )
    listener.stop()
    cfg.listen = None  # receiver already ran; keep run() pipeline-only
    query, _ = app.run(spark, cfg)
    query.awaitTermination(120)
    msgs = (
        spark.read.schema("key string, payload string, tenant_id string")
        .option("recursiveFileLookup", "true")
        .json(bus)
        .collect()
    )
    assert len(msgs) == 1 and '"sig"' in msgs[0]["payload"]


def test_streaming_scd2_matches_batch(spark, tmp_path):
    """The streaming SCD2 history must converge to exactly the batch
    events_scd2_intervals gaps-and-islands build after the stream drains:
    latest update per (user, interval_seq) == the batch interval row."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_scd2_intervals,
    )

    ev = windows.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = (
        windows.scd2_stream(ev)
        .writeStream.format("memory")
        .queryName("scd2_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in spark.sql("SELECT * FROM scd2_stream").collect():
        final[(r["user_id"], r["interval_seq"])] = (
            r["state"], r["valid_from_ms"], r["valid_to_ms"],
            r["last_event_ms"], r["n_events"],
        )
    batch = {
        (r["user_id"], r["interval_seq"]): (
            r["state"], r["valid_from_ms"], r["valid_to_ms"],
            r["last_event_ms"], r["n_events"],
        )
        for r in events_scd2_intervals(spark, SF).collect()
    }
    assert final == batch and final


def test_streaming_ddsketch_matches_batch(spark, tmp_path):
    """The watermarked DDSketch counter stream must equal the same integer
    bucket function applied in batch per (hour, event_type) -- and the
    drained counters must merge by addition to the un-windowed sketch."""
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.ddsketch_tumbling_values(ev)
        .writeStream.format("memory")
        .queryName("dds_tumbling")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["window_start"], r["event_type"], r["idx"]): r["c"]
        for r in spark.sql("SELECT * FROM dds_tumbling").collect()
    }

    evb = load_tables(spark, SF, ["events"])["events"]
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    batch_rows = (
        evb.select(
            hour.alias("window_start"),
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("yc"),
        )
        .filter(F.col("yc") >= 1)
        .withColumn("b", (F.length(F.conv(F.col("yc"), 10, 2)) - 1).cast("int"))
        .withColumn(
            "idx",
            (F.col("b") * 4 + F.expr("(yc * 4 div shiftleft(1L, b)) - 4")).cast("int"),
        )
        .groupBy("window_start", "event_type", "idx")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    batch = {
        (r["window_start"], r["event_type"], r["idx"]): r["c"] for r in batch_rows
    }
    # append mode emits a window only once the watermark passes it: the
    # final (still-open) hour windows are withheld, so compare closed ones
    assert streamed
    closed = {k[0] for k in streamed}
    batch_closed = {k: v for k, v in batch.items() if k[0] in closed}
    assert streamed == batch_closed

    # mergeability: summing the emitted per-window counters reproduces
    # the per-type bucket table over the same (closed-window) events --
    # the add-merge property that lets day/stream sketches re-aggregate
    merged = {}
    for (w, et, idx), c in streamed.items():
        merged[(et, idx)] = merged.get((et, idx), 0) + c
    global_closed = {}
    for (w, et, idx), c in batch_closed.items():
        global_closed[(et, idx)] = global_closed.get((et, idx), 0) + c
    assert merged == global_closed
    # and multiple distinct windows really merged (not a 1-window triviality)
    assert len(closed) > 1


def test_streaming_alert_matches_batch_with_recovery(spark, tmp_path):
    """F10 streaming twin: the FOR-duration alert stream must converge to
    exactly the batch consume_alert_firing gaps-and-islands result --
    across a STOP + RESTART FROM CHECKPOINT mid-stream (the second half
    of the event log only arrives after recovery), proving the per-series
    pending/firing state survives in the state store."""
    import duckdb

    from prometheus_pulsar_remote_write_spark.plans.pipeline import (
        consume_alert_firing,
    )

    # stage the corpus as a two-chunk events.parquet DIRECTORY split at
    # the median ts so replay order stays time-ordered across files
    sf = tmp_path / "sf"
    evdir = sf / "events.parquet"
    evdir.mkdir(parents=True)
    src = f"{SF}/events.parquet"
    con = duckdb.connect()
    cut = con.execute(
        f"SELECT median(ts) FROM '{src}'"
    ).fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts <= TIMESTAMP '{cut}') TO "
        f"'{evdir}/chunk0.parquet' (FORMAT PARQUET)"
    )

    out_dir = str(tmp_path / "updates")

    def drain():
        ev = windows.read_events_stream(spark, str(sf), max_files_per_trigger=1)

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(out_dir)

        q = (
            windows.alert_stream(ev)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()  # first half only
    mid_rows = spark.read.parquet(out_dir).collect()

    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts > TIMESTAMP '{cut}') TO "
        f"'{evdir}/chunk1.parquet' (FORMAT PARQUET)"
    )
    drain()  # recovery: same checkpoint, second chunk arrives

    final = {}
    for r in spark.read.parquet(out_dir).orderBy("batch_id").collect():
        final[(r["tenant_id"], r["name"], r["firing_seq"])] = (
            r["pending_since_ms"], r["firing_at_ms"],
            r["resolved_at_ms"], r["n_samples"],
        )
    batch = {
        (r["tenant_id"], r["name"], r["firing_seq"]): (
            r["pending_since_ms"], r["firing_at_ms"],
            r["resolved_at_ms"], r["n_samples"],
        )
        for r in consume_alert_firing(spark, str(sf)).collect()
    }
    assert final == batch and final
    # the restart genuinely continued: the drained result strictly
    # extends what the first half alone had emitted
    assert len(mid_rows) < sum(1 for _ in final)  or len(final) >= len({
        (r["tenant_id"], r["name"], r["firing_seq"]) for r in mid_rows
    })


def test_streaming_outer_interval_join_matches_batch(spark, tmp_path):
    """F7 LEFT OUTER stream-stream interval join: conversion pairs match
    the batch twin exactly, and every signup whose interval closed
    before the final watermark emits its did-not-convert NULL row --
    signups still inside the horizon are correctly withheld."""
    from pyspark.sql import functions as FF

    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_range_join_conversions,
    )
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = windows.read_events_stream(spark, SF)
    joined = windows.interval_join_conversions_outer_stream(ev)
    q = (
        joined.writeStream.format("memory")
        .queryName("conv_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the engine's own final watermark (watermark updates lag one batch;
    # computing the horizon from max(ts) would over-expect at the edge)
    wm = q.lastProgress["eventTime"].get("watermark")
    rows = spark.sql("SELECT * FROM conv_outer").collect()
    matched = {
        (r["signup_id"], r["purchase_id"])
        for r in rows
        if r["purchase_id"] is not None
    }
    unmatched = {r["signup_id"] for r in rows if r["purchase_id"] is None}

    batch_pairs = {
        (r["signup_id"], r["purchase_id"])
        for r in events_range_join_conversions(spark, SF).collect()
    }
    assert matched == batch_pairs and matched

    import datetime as _dt

    evb = load_tables(spark, SF, ["events"])["events"]
    max_ts = evb.agg(FF.max("ts")).collect()[0][0].timestamp()
    assert wm, "no watermark recorded"
    horizon = _dt.datetime.strptime(
        wm, "%Y-%m-%dT%H:%M:%S.%fZ"
    ).replace(tzinfo=_dt.timezone.utc).timestamp()
    expected_unmatched = {
        r["event_id"]
        for r in evb.filter(FF.col("event_type") == "signup")
        .select("event_id", "ts")
        .collect()
        if r["ts"].timestamp() + 1800 < horizon
        and r["event_id"] not in {s for s, _ in batch_pairs}
    }
    # every closed-interval unconverted signup emitted; nothing inside
    # the horizon leaked out
    assert expected_unmatched <= unmatched
    leaked = {
        r["event_id"]
        for r in evb.filter(FF.col("event_type") == "signup")
        .select("event_id", "ts")
        .collect()
        if r["ts"].timestamp() + 1800 >= max_ts and r["event_id"] in unmatched
    }
    assert not leaked


def test_streaming_misra_gries_matches_batch_fold(spark, tmp_path):
    """The streaming MG summary (applyInPandasWithState) must equal the
    batch arrival-order fold EXACTLY once the replay drains -- same
    summary keys, same counters, same order."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_misra_gries_topk,
    )

    ev = windows.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = (
        windows.misra_gries_stream(ev)
        .writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {}
    for r in spark.sql("SELECT * FROM mg_stream").collect():
        final[(r["event_type"], r["seq"])] = (r["item"], r["est_count"], r["n_total"])
    # retain only the LAST emission per event_type: n_total is monotone,
    # so keep rows carrying each type's max n_total
    last_n = {}
    for (et, _), (_, _, n) in final.items():
        last_n[et] = max(last_n.get(et, 0), n)
    streamed = {
        (et, seq): (item, c)
        for (et, seq), (item, c, n) in final.items()
        if n == last_n[et]
    }
    batch = {
        (r["event_type"], r["seq"]): (r["item"], r["est_count"])
        for r in events_misra_gries_topk(spark, SF).collect()
    }
    assert streamed == batch and streamed


def test_streaming_kmv_sketches_merge_to_batch(spark, tmp_path):
    """Drained windowed KMV sketches must merge (sort union, truncate to k)
    to exactly the batch KMV sketch of each event type's full stream --
    the mergeability law that makes KMV re-aggregable across windows."""
    from prometheus_pulsar_remote_write_spark.operators.dedup import _base_hash28
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    k = 64
    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.kmv_tumbling_users(ev, k=k)
        .writeStream.format("memory")
        .queryName("kmv_windows")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    merged = {}
    for r in spark.sql("SELECT * FROM kmv_windows").collect():
        merged.setdefault(r["event_type"], set()).update(r["mins"])
    evb = load_tables(spark, SF, ["events"])["events"]
    batch = {
        r["event_type"]: r["mins"]
        for r in evb.select(
            "event_type", _base_hash28(F.col("user_id").cast("string")).alias("h")
        )
        .distinct()
        .groupBy("event_type")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("mins"))
        .collect()
    }
    assert set(merged) == set(batch) and merged
    for et, b in batch.items():
        assert sorted(merged[et])[:k] == list(b)


def test_log_flags_parse_apply_and_reject_unknown_values(capsys):
    """--log.level / --log.format (reference pkg/app/app.go:61,
    promlogflag.AddFlags): values parse into AppConfig, apply_logging
    sets the package logger level + line shape (logfmt vs json) and
    forwards the level to SparkContext.setLogLevel; promlog's error
    shape rejects unknown values."""
    import json
    import logging

    import pytest

    from prometheus_pulsar_remote_write_spark.app import apply_logging, parse_args

    cfg = parse_args(
        [
            "produce",
            "--pulsar.topic=/b",
            "--web.write-path=/d",
            "--log.level=warn",
            "--log.format=json",
        ]
    )
    assert (cfg.log_level, cfg.log_format) == ("warn", "json")

    class _FakeCtx:
        def setLogLevel(self, lvl):
            self.level = lvl

    class _FakeSpark:
        sparkContext = _FakeCtx()

    spark = _FakeSpark()
    logger = apply_logging(cfg, spark)
    assert spark.sparkContext.level == "WARN"
    assert logger.level == logging.WARNING
    logger.warning("delivery %s", "stalled")
    line = capsys.readouterr().err.strip().splitlines()[-1]
    rec = json.loads(line)
    assert rec["level"] == "warn" and rec["msg"] == "delivery stalled"

    cfg.log_format = "logfmt"
    logger = apply_logging(cfg, spark)
    assert len([h for h in logger.handlers if getattr(h, "_pprw_log_handler", 0)]) == 1
    logger.warning('quote "me"')
    line = capsys.readouterr().err.strip().splitlines()[-1]
    assert line.startswith("ts=") and 'msg="quote \\"me\\""' in line
    assert " level=warn " in line
    # the 'Z' designator must be genuine UTC, not local time mislabeled
    # (on a non-UTC host the naive formatTime default is off by the UTC
    # offset; comparing against wall-clock UTC catches that anywhere)
    import calendar
    import time as _time

    ts_str = line.split()[0][len("ts="):]
    logged = calendar.timegm(_time.strptime(ts_str, "%Y-%m-%dT%H:%M:%SZ"))
    assert abs(logged - _time.time()) < 120
    # and records must not ALSO propagate to a root handler (duplicates)
    assert logger.propagate is False
    # backslashes and newlines escape like go-kit's logfmt encoder: a
    # multi-line message must stay ONE parseable line
    logger.warning("bad path C:\\x\nretrying")
    line = capsys.readouterr().err.strip().splitlines()[-1]
    assert line.endswith('msg="bad path C:\\\\x\\nretrying"')

    with pytest.raises(ValueError, match='unrecognized log level "chatty"'):
        parse_args(
            ["produce", "--pulsar.topic=/b", "--web.write-path=/d",
             "--log.level=chatty"]
        )
    with pytest.raises(ValueError, match='unrecognized log format "xml"'):
        parse_args(
            ["produce", "--pulsar.topic=/b", "--web.write-path=/d",
             "--log.format=xml"]
        )


def test_streaming_slo_burn_matches_batch(spark, tmp_path):
    """F7 streaming twin (round 8): the multiwindow SLO burn-rate alert
    as one stateful aggregation (each event exploded into its six
    long-window buckets) must equal the batch rolling-frame twin on
    every closed bucket -- short and long burn, and the dual-window
    alert flag."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_slo_burn_rate,
    )

    ev = windows.read_events_stream(spark, SF)
    # 0s lateness: the final watermark then reaches max event time and
    # closes every bucket except the trailing partial hour
    agg = windows.slo_burn_stream(ev, watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("slo_burn")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["tenant_id"], r["hr"]): (
            r["n_events"],
            r["n_errors"],
            r["short_burn_milli"],
            r["long_burn_milli"],
            r["alert"],
        )
        for r in spark.sql("SELECT * FROM slo_burn").collect()
    }
    batch = {
        (r["tenant_id"], r["hr"]): (
            r["n_events"],
            r["n_errors"],
            r["short_burn_milli"],
            r["long_burn_milli"],
            r["alert"],
        )
        for r in events_slo_burn_rate(spark, SF).collect()
    }
    assert streamed
    # only the trailing partial hour (one bucket per tenant) may stay
    # open at drain; everything emitted must match the batch twin
    assert len(streamed) >= len(batch) - 10
    for k, v in streamed.items():
        assert batch[k] == v, f"{k}: stream {v} != batch {batch[k]}"


@pytest.mark.slow
def test_streaming_slo_burn_multi_batch_replay(spark, tmp_path):
    """Regression: bucket_ts runs up to 5h ahead of event time, so a
    naive watermark on it lets one micro-batch's k=5 buckets advance the
    watermark past the NEXT batch's own-hour contributions -- every hour
    after the first file would lose its short-window counts. The widened
    delay must keep a ts-ordered MULTI-file replay equal to the batch
    twin."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_slo_burn_rate,
    )

    ev_all = spark.read.parquet(f"{SF}/events.parquet").orderBy("ts", "event_id")
    rows = ev_all.count()
    src = str(tmp_path / "src")
    third = rows // 3
    parts = [
        ev_all.limit(third),
        ev_all.limit(2 * third).subtract(ev_all.limit(third)),
        ev_all.subtract(ev_all.limit(2 * third)),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}.parquet")

    stream = (
        spark.readStream.schema(ev_all.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    if dict(stream.dtypes)["ts"].startswith("timestamp_ntz"):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        windows.slo_burn_stream(stream, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("slo_burn_multi")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["tenant_id"], r["hr"]): (r["n_events"], r["n_errors"])
        for r in spark.sql("SELECT * FROM slo_burn_multi").collect()
    }
    batch = {
        (r["tenant_id"], r["hr"]): (r["n_events"], r["n_errors"])
        for r in events_slo_burn_rate(spark, SF).collect()
    }
    assert len(streamed) >= len(batch) - 10
    for k, v in streamed.items():
        assert batch[k] == v, f"{k}: stream {v} != batch {batch[k]}"


def test_heatmap_stream_clamps_out_of_range_bands(spark, tmp_path):
    """Regression: the dashboard-configured bounds are reachable from
    outside (unlike the batch twin's corpus-derived bounds); below-lo
    samples must clamp to band 0, above-hi to band 9 -- never a negative
    or >9 band id."""
    from datetime import datetime, timedelta

    schema = "ts timestamp, value double"
    base = datetime(2024, 1, 1)
    rows = [
        (base, -15.0),
        (base, -0.2),
        (base, 0.5),
        (base, 99.0),
        # later-hour sentinel so the watermark closes the base hour
        (base + timedelta(hours=2), 5.0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/b0.parquet")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    q = (
        windows.heatmap_stream(stream, lo_centi=0, hi_centi=1000, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("heatmap_clamp")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    hour0 = int(base.timestamp())
    got = {
        r["band"]: r["n_samples"]
        for r in spark.sql(
            f"SELECT * FROM heatmap_clamp WHERE hour_start = {hour0}"
        ).collect()
    }
    assert got == {0: 3, 9: 1}  # -15.0, -0.2, 0.5 -> band 0; 99.0 -> band 9


def test_streaming_heatmap_matches_batch(spark, tmp_path):
    """F7 streaming twin (round 8): the hourly heatmap histogram feed
    with dashboard-configured bounds equals the batch twin (which
    derives the same bounds from the corpus) on every closed hour."""
    from prometheus_pulsar_remote_write_spark.plans.pipeline import (
        consume_heatmap_buckets,
        samples_from_events,
    )

    bounds = (
        samples_from_events(spark, SF)
        .select(F.round(F.col("value") * 100).cast("bigint").alias("vc"))
        .agg(F.min("vc").alias("lo"), F.max("vc").alias("hi"))
        .collect()[0]
    )
    ev = windows.read_events_stream(spark, SF)
    agg = windows.heatmap_stream(ev, lo_centi=bounds["lo"], hi_centi=bounds["hi"])
    q = (
        agg.writeStream.format("memory")
        .queryName("heatmap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["hour_start"], r["band"]): r["n_samples"]
        for r in spark.sql("SELECT * FROM heatmap_stream").collect()
    }
    batch = {
        (r["hour_start"], r["band"]): r["n_samples"]
        for r in consume_heatmap_buckets(spark, SF).collect()
    }
    assert streamed
    assert len(streamed) >= len(batch) - 25
    for k, v in streamed.items():
        assert batch[k] == v, f"{k}: stream {v} != batch {batch[k]}"


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """F7 streaming twin (round 8): sequential CUSUM with a trained
    baseline (per-series mu2 via stream-static broadcast join) must
    equal the batch aggregate() fold at drain -- same alarm counts and
    pre-reset maxima, per (user, event_type)."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_cusum_changepoints,
    )
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    # the baseline table production would train offline: per-series
    # doubled mid-range, same definition the batch entry derives inline
    evb = load_tables(spark, SF, ["events"])["events"]
    baseline = evb.groupBy("user_id", "event_type").agg(
        (
            F.min(F.round(F.col("value") * 100).cast("bigint"))
            + F.max(F.round(F.col("value") * 100).cast("bigint"))
        ).alias("mu2_centi")
    )

    ev = windows.read_events_stream(spark, SF)
    agg = windows.cusum_stream(ev, baseline)
    q = (
        agg.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode appends a row per key per batch: keep each key's last
    streamed_rows = spark.sql(
        "SELECT * FROM cusum_stream ORDER BY n_samples"
    ).collect()
    latest = {}
    for r in streamed_rows:
        latest[(r["user_id"], r["event_type"])] = r
    streamed = {
        k: (r["n_samples"], r["mu2_centi"], r["n_alarms"], r["max_cusum_centi"])
        for k, r in latest.items()
        if r["n_samples"] >= 5 and r["n_alarms"] > 0
    }
    batch = {
        (r["user_id"], r["event_type"]): (
            r["n_samples"],
            r["mu2_centi"],
            r["n_alarms"],
            r["max_cusum_centi"],
        )
        for r in events_cusum_changepoints(spark, SF).collect()
    }
    assert streamed == batch


def test_streaming_seasonal_anomaly_matches_batch(spark, tmp_path):
    """F7 streaming twin (round 8): seasonal median/MAD anomaly scoring
    with a trained baseline must reproduce the batch entry's per-cell
    counts at drain -- baseline trained offline, scored online, the
    production split."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_seasonal_anomaly,
    )

    batch = {
        (r["event_type"], r["hod"]): (r["n"], r["n_anomalies"])
        for r in events_seasonal_anomaly(spark, SF).collect()
    }
    baseline = events_seasonal_anomaly(spark, SF).select(
        "event_type", "hod", "median_centi", "mad_centi"
    )
    ev = windows.read_events_stream(spark, SF)
    agg = windows.seasonal_anomaly_stream(ev, baseline)
    q = (
        agg.writeStream.format("memory")
        .queryName("seasonal_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["event_type"], r["hod"]): (r["n"], r["n_anomalies"])
        for r in spark.sql("SELECT * FROM seasonal_stream").collect()
    }
    assert streamed == batch


def test_streaming_transitions_match_batch_markov(spark, tmp_path):
    """F7 streaming twin (round 8): the online transition stream (last
    event per user as state) must union to exactly the batch lag()
    pair extraction -- aggregating the emitted rows reproduces
    events_markov_transitions' counts, including across micro-batch
    boundaries (maxFilesPerTrigger exercises the state carry)."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_markov_transitions,
    )

    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.transition_stream(ev)
        .writeStream.format("memory")
        .queryName("transitions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in spark.sql(
            "SELECT prev_type, next_type, count(*) AS n FROM transitions"
            " GROUP BY 1, 2"
        ).collect()
    }
    batch = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in events_markov_transitions(spark, SF).collect()
    }
    assert streamed == batch


def test_streaming_scrape_gaps_match_batch_intervals(spark, tmp_path):
    """F7 streaming twin (round 8): the online gap stream (last sample
    per series as state) must emit exactly the batch lag() interval
    multiset per series -- the consume_scrape_gaps staleness report is
    then the same aggregation over either side."""
    from collections import Counter

    from pyspark.sql import Window

    from prometheus_pulsar_remote_write_spark.plans.pipeline import (
        samples_from_events,
    )

    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.scrape_gap_stream(ev)
        .writeStream.format("memory")
        .queryName("gaps_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = Counter(
        (r["tenant_id"], r["name"], r["gap_ms"])
        for r in spark.sql("SELECT * FROM gaps_stream").collect()
    )

    s = samples_from_events(spark, SF).select(
        "tenant_id",
        F.col("labels").getItem("__name__").alias("name"),
        "timestamp",
        "event_id",
    )
    w = Window.partitionBy("tenant_id", "name").orderBy("timestamp", "event_id")
    batch = Counter(
        (r["tenant_id"], r["name"], r["gap_ms"])
        for r in s.withColumn("prev_ts", F.lag("timestamp").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "tenant_id",
            "name",
            (F.col("timestamp") - F.col("prev_ts")).alias("gap_ms"),
        )
        .collect()
    )
    assert streamed == batch and streamed


@pytest.mark.slow
def test_streaming_funnel_matches_batch_across_restart(spark, tmp_path):
    """F7 streaming twin (round 8): the online ordered-stage funnel
    (three stage timestamps per user as state) must reproduce the batch
    min()-chain funnel's per-stage user counts -- including when the
    stream is STOPPED mid-history and restarted on the same checkpoint,
    so a partially-reached funnel (view seen, click not yet) carries
    across the restart. A fresh state would re-emit stage-1 rows or
    mis-set t2, and the counts would disagree."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_funnel_conversion,
    )

    ev_all = spark.read.parquet(f"{SF}/events.parquet").orderBy("ts", "event_id")
    rows = ev_all.count()
    first = ev_all.limit(rows // 2)
    second = ev_all.subtract(first)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    first.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch1.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(ev_all.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        if dict(stream.dtypes)["ts"].startswith("timestamp_ntz"):
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            windows.funnel_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    second.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch2.parquet")
    run_once()

    emitted = spark.read.parquet(out)
    # each user reaches each stage at most once, even across the restart
    assert (
        emitted.groupBy("user_id", "stage").count().filter("count > 1").count() == 0
    )
    streamed = {
        (r["stage"], r["event_type"]): r["n"]
        for r in emitted.groupBy("stage", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    batch = {
        (r["stage"], r["event_type"]): r["n"]
        for r in events_funnel_conversion(spark, SF).collect()
    }
    assert streamed == batch and streamed


def test_streaming_path_trigrams_match_batch(spark, tmp_path):
    """F7 streaming twin (round 8): the online trigram extractor (last
    two event types per user as state) must emit exactly the batch
    lag(1)/lag(2) path multiset across micro-batch boundaries -- the
    events_top_paths dashboard is then the same count-and-rank over
    either side."""
    from collections import Counter

    from pyspark.sql import Window

    ev = windows.read_events_stream(spark, SF)
    q = (
        windows.path_trigram_stream(ev)
        .writeStream.format("memory")
        .queryName("paths_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = Counter(
        r["path"] for r in spark.sql("SELECT path FROM paths_stream").collect()
    )

    evb = spark.read.parquet(f"{SF}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = Counter(
        r["path"]
        for r in evb.select(
            F.concat_ws(
                ">",
                F.lag("event_type", 2).over(w),
                F.lag("event_type", 1).over(w),
                F.col("event_type"),
            ).alias("path"),
            F.lag("event_type", 2).over(w).alias("p2"),
        )
        .filter(F.col("p2").isNotNull())
        .select("path")
        .collect()
    )
    assert streamed == batch and streamed


@pytest.mark.slow
def test_stateful_twins_sort_within_batch(spark, tmp_path):
    """The in-order contract the stateful twins document is per-key
    ACROSS micro-batches; WITHIN a batch they must not depend on row
    order (they sort by (ts, event_id) themselves). Feed the same
    history as one deliberately shuffled file: transition and funnel
    outputs must still equal the batch extractions."""
    from collections import Counter

    from pyspark.sql import Window

    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_funnel_conversion,
    )

    ev_all = spark.read.parquet(f"{SF}/events.parquet")
    shuffled = ev_all.orderBy(F.md5(F.col("event_id").cast("string")))
    src = str(tmp_path / "src")
    shuffled.coalesce(1).write.mode("overwrite").parquet(f"{src}/all.parquet")

    def drain(make_stream, name):
        stream = spark.readStream.schema(ev_all.schema).parquet(f"{src}/*")
        if dict(stream.dtypes)["ts"].startswith("timestamp_ntz"):
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            make_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain(windows.transition_stream, "shuffled_transitions")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch_pairs = Counter(
        (r["prev_type"], r["next_type"])
        for r in ev_all.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .collect()
    )
    streamed_pairs = Counter(
        (r["prev_type"], r["next_type"])
        for r in spark.sql(
            "SELECT prev_type, next_type FROM shuffled_transitions"
        ).collect()
    )
    assert streamed_pairs == batch_pairs and streamed_pairs

    drain(windows.funnel_stream, "shuffled_funnel")
    streamed_funnel = {
        (r["stage"], r["event_type"]): r["n"]
        for r in spark.sql(
            "SELECT stage, event_type, count(*) AS n FROM shuffled_funnel"
            " GROUP BY 1, 2"
        ).collect()
    }
    batch_funnel = {
        (r["stage"], r["event_type"]): r["n"]
        for r in events_funnel_conversion(spark, SF).collect()
    }
    assert streamed_funnel == batch_funnel and streamed_funnel


@pytest.mark.slow
def test_transition_stream_idle_timeout_bounds_state(spark, tmp_path):
    """State-TTL path (round 8): with idle_timeout_ms set, a user idle
    beyond the event-time watermark horizon is EVICTED from the state
    store (the bounded-state knob a year-long deployment needs), and a
    user returning after the horizon starts a fresh timeline -- the
    cross-gap transition is NOT emitted. Without the knob the same
    replay emits it (batch parity, pinned by the other tests)."""
    from datetime import datetime, timedelta

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    base = datetime(2024, 1, 1, 0, 0, 0)
    hour = timedelta(hours=1)
    batches = [
        # user 1 is active early, then goes idle past the horizon
        [(1, 1, "view", base), (1, 2, "click", base + timedelta(minutes=1))],
        # user 2 advances the watermark (delay == horizon, so the
        # watermark trails max event time by 1h)
        [(2, 3, "view", base + 2 * hour)],
        [(2, 4, "click", base + 4 * hour)],
        # at this batch's start the watermark (base+3h) is past user 1's
        # last+1h timeout and user 1 has no data here: evicted NOW
        [(2, 6, "view", base + 6 * hour)],
        # user 1 RETURNS after the eviction
        [(1, 5, "purchase", base + 7 * hour)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.transition_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_transitions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1  # user 1's idle state was evicted

    got = {
        (r["user_id"], r["prev_type"], r["next_type"])
        for r in spark.sql("SELECT * FROM ttl_transitions").collect()
    }
    # user 1's pre-gap pair and user 2's pair are emitted; the pair
    # spanning user 1's evicted gap (click -> purchase) is not
    assert (1, "view", "click") in got
    assert (2, "view", "click") in got
    assert (1, "click", "purchase") not in got


@pytest.mark.slow
def test_scrape_gap_stream_idle_timeout_evicts_stale_series(spark, tmp_path):
    """Series-churn TTL (round 8): with idle_timeout_ms set, a series
    silent past the watermark horizon is evicted (the Prometheus
    staleness lifecycle), and a returning series starts a fresh
    incarnation -- no gap row spans the eviction."""
    from datetime import datetime, timedelta

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    base = datetime(2024, 1, 1, 0, 0, 0)
    hour = timedelta(hours=1)
    batches = [
        # series (0, 'view') scrapes twice then goes silent
        [(10, 1, "view", base), (10, 2, "view", base + timedelta(minutes=1))],
        # a different series advances the watermark (delay == horizon)
        [(11, 3, "click", base + 2 * hour)],
        [(11, 4, "click", base + 4 * hour)],
        # watermark base+3h > silent series' last+1h and it has no data
        # in this batch: evicted NOW
        [(11, 6, "click", base + 6 * hour)],
        # the silent series returns after eviction
        [(10, 5, "view", base + 7 * hour)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.scrape_gap_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_gaps")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1  # the silent series was evicted

    gaps = [
        (r["tenant_id"], r["name"], r["gap_ms"])
        for r in spark.sql("SELECT * FROM ttl_gaps").collect()
    ]
    # the intra-horizon gaps are emitted; nothing spans the eviction
    # (user 10 % 10 = tenant '0', user 11 % 10 = tenant '1')
    assert ("0", "view", 60_000) in gaps
    assert ("1", "click", 7_200_000) in gaps
    # the evicted series' only gap row is the pre-eviction one: its
    # post-gap return is a fresh incarnation, not a 7h-61m late scrape
    assert [g for g in gaps if g[0] == "0"] == [("0", "view", 60_000)]


def test_ttl_watermark_tolerates_cross_key_disorder(spark, tmp_path):
    """Regression: the TTL mode's watermark lateness must be the idle
    horizon, not 0s -- keys are skewed in time, so one key's fresh event
    must not make another key's slightly-older (within-horizon) events
    late. User B's rows arrive a batch after user A's newer event and
    must still produce B's transition."""
    from datetime import datetime, timedelta

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    base = datetime(2024, 1, 1, 12, 0, 0)
    m = timedelta(minutes=1)
    batches = [
        [(1, 1, "view", base)],                      # A @ 12:00
        [(2, 2, "view", base - 2 * m), (2, 3, "click", base - m)],  # B @ 11:58/11:59
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.transition_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_disorder")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["prev_type"], r["next_type"])
        for r in spark.sql("SELECT * FROM ttl_disorder").collect()
    }
    assert (2, "view", "click") in got


def test_interval_to_ms_parses_and_rejects():
    """The watermark-widening helper must agree with Spark's interval
    vocabulary for the forms the operators use, and reject garbage
    loudly (a silently-misparsed delay would reintroduce the derived
    -column watermark bug it exists to prevent)."""
    import pytest

    assert windows._interval_to_ms("0 seconds") == 0
    assert windows._interval_to_ms("90 seconds") == 90_000
    assert windows._interval_to_ms("1 hour") == 3_600_000
    assert windows._interval_to_ms("2 hours 30 minutes") == 9_000_000
    assert windows._interval_to_ms("interval 1 day") == 86_400_000
    assert windows._interval_to_ms("500 milliseconds") == 500
    for bad in ("", "1", "soon", "1 fortnight", "1 hour 30"):
        with pytest.raises(ValueError):
            windows._interval_to_ms(bad)


@pytest.mark.slow
def test_path_trigram_stream_idle_timeout(spark, tmp_path):
    """Journey-TTL (round 8): an idle user's trigram state evicts past
    the watermark horizon; on return the journey restarts, so no
    trigram bridges the gap. Same contract as transition_stream's
    knob."""
    from datetime import datetime, timedelta

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    base = datetime(2024, 1, 1, 0, 0, 0)
    hour = timedelta(hours=1)
    m = timedelta(minutes=1)
    batches = [
        [(1, 1, "view", base), (1, 2, "click", base + m), (1, 3, "view", base + 2 * m)],
        [(2, 4, "view", base + 2 * hour)],
        [(2, 5, "click", base + 4 * hour)],
        # watermark-advancing batch with no user-1 data: eviction fires
        [(2, 6, "view", base + 6 * hour)],
        # user 1 returns: two fresh events, only ONE new trigram with
        # no pre-gap types in it
        [(1, 7, "purchase", base + 7 * hour),
         (1, 8, "view", base + 7 * hour + m),
         (1, 9, "click", base + 7 * hour + 2 * m)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.path_trigram_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_paths")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1
    got = sorted(
        (r["user_id"], r["path"])
        for r in spark.sql("SELECT * FROM ttl_paths").collect()
    )
    # user 1 pre-gap trigram + post-gap trigram; nothing bridges user
    # 1's gap. user 2 (never idle past the horizon) keeps its trigram.
    assert got == [
        (1, "purchase>view>click"),
        (1, "view>click>view"),
        (2, "view>click>view"),
    ]


@pytest.mark.slow
def test_open_backlog_stream_matches_batch_curve(spark, tmp_path):
    """F6->F7 depth (round 9): the cumulative-flow backlog query as an
    incremental stream. Order lifecycle deltas (+1 at open, -1 the day
    after last ship) replayed ts-ordered across micro-batches through
    the per-day streaming rollup, then the consumer-side running sum,
    must reproduce relational.orders_open_backlog's exact curve."""
    from prometheus_pulsar_remote_write_spark.plans.relational import (
        orders_open_backlog,
    )

    # the same delta extraction the batch entry performs, staged as
    # three ts-ordered files so day-counts accumulate across batches
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    span = orders.select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_day")
    ).join(
        lineitem.groupBy("l_orderkey").agg(
            F.max(F.to_date("l_shipdate")).alias("end_day")
        ),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    deltas = (
        span.select(
            F.explode(
                F.array(
                    F.struct(F.col("start_day").alias("day"), F.lit(1).alias("d")),
                    F.struct(
                        F.date_add("end_day", 1).alias("day"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.day").cast("timestamp").alias("ts"), F.col("e.d"))
        .orderBy("ts")
    )
    rows = deltas.count()
    src = str(tmp_path / "src")
    pdf = deltas.toPandas()
    for i in range(3):
        chunk = pdf.iloc[i * rows // 3 : (i + 1) * rows // 3]
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/b{i}.parquet"
        )

    stream = (
        spark.readStream.schema("ts timestamp, d int")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.open_backlog_stream(stream)
        .writeStream.format("memory")
        .queryName("backlog_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # consumer-side serving aggregation: running sum over the bounded
    # day rows, sampled to every 8th epoch day like the batch entry
    streamed = {
        (r["epoch_day"], r["n_opened"], r["n_closed"], r["open_backlog"])
        for r in spark.sql(
            """
            SELECT datediff(day, DATE '1970-01-01') AS epoch_day,
                   n_opened, n_closed,
                   sum(delta) OVER (ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS open_backlog
            FROM backlog_stream
            """
        ).collect()
        if r["epoch_day"] % 8 == 0
    }
    batch = {
        (r["epoch_day"], r["n_opened"], r["n_closed"], r["open_backlog"])
        for r in orders_open_backlog(spark, SF).collect()
    }
    assert streamed == batch and streamed


@pytest.mark.slow
def test_latest_state_stream_idle_timeout_is_lossless_downstream(spark, tmp_path):
    """CDC TTL (round 9): a dormant user's latest-wins state evicts past
    the watermark horizon, and the RE-DERIVED state from their return
    event is still correct (newer than anything evicted) -- the one
    stateful twin whose eviction loses nothing downstream."""
    from datetime import datetime, timedelta

    schema = (
        "user_id long, event_id long, event_type string,"
        " value double, ts timestamp"
    )
    base = datetime(2024, 1, 1, 0, 0, 0)
    hour = timedelta(hours=1)
    batches = [
        [(1, 1, "view", 1.0, base)],
        [(2, 2, "view", 2.0, base + 2 * hour)],
        [(2, 3, "click", 3.0, base + 4 * hour)],
        # watermark-advancing batch with no user-1 data: user 1 evicts
        [(2, 4, "view", 4.0, base + 6 * hour)],
        # user 1 returns after eviction: state re-derives correctly
        [(1, 5, "purchase", 5.0, base + 7 * hour)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.latest_state_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_latest")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1  # user 1's dormant state was evicted
    final = {}
    for r in spark.sql("SELECT * FROM ttl_latest").collect():
        final[r["user_id"]] = (r["last_event_type"], r["last_value"])
    # the MERGE-sink view (last update per key) is exactly the batch
    # latest-wins state despite the eviction
    assert final == {1: ("purchase", 5.0), 2: ("view", 4.0)}


@pytest.mark.slow
def test_open_backlog_stream_append_finalizes_closed_days(spark, tmp_path):
    """The lateness-armed append mode emits each day ONCE when the
    watermark passes it (bounded state for a production deployment),
    and every finalized day's counts equal the batch per-day rollup.
    Days at or past the final watermark are withheld -- the documented
    append-mode semantics, so the comparison is over finalized days."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1, 12, 0, 0)
    day = timedelta(days=1)
    batches = [
        [(base, 1), (base + timedelta(hours=2), 1)],
        [(base + day, -1), (base + day, 1)],
        [(base + 2 * day, -1)],
        [(base + 5 * day, 1)],  # advances the watermark past days 0-2
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "ts timestamp, d int").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema("ts timestamp, d int")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.open_backlog_stream(stream, lateness="0 seconds")
        .writeStream.format("memory")
        .queryName("backlog_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        str(r["day"]): (r["n_opened"], r["n_closed"], r["delta"])
        for r in spark.sql("SELECT * FROM backlog_append").collect()
    }
    # each finalized day appears exactly once with its full cross-batch
    # counts; the still-open last day is withheld by append semantics
    assert got == {
        "2024-03-01": (2, 0, 2),
        "2024-03-02": (1, 1, 0),
        "2024-03-03": (0, 1, -1),
    }


@pytest.mark.slow
def test_funnel_stream_idle_timeout_restarts_per_incarnation(spark, tmp_path):
    """Funnel TTL (round 9): an evicted user's funnel restarts from
    stage 1 on return, so at-most-once-per-stage holds PER INCARNATION
    -- the documented trade the docstring spells out. The never-idle
    user keeps lifetime semantics."""
    from datetime import datetime, timedelta

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    base = datetime(2024, 1, 1, 0, 0, 0)
    hour = timedelta(hours=1)
    m = timedelta(minutes=1)
    batches = [
        # user 1 reaches view+click, then goes idle past the horizon
        [(1, 1, "view", base), (1, 2, "click", base + m)],
        [(2, 3, "view", base + 2 * hour)],
        [(2, 4, "click", base + 4 * hour)],
        # watermark-advancing batch with no user-1 data: eviction fires
        [(2, 5, "view", base + 6 * hour)],
        # user 1 returns: a purchase alone must NOT emit (the pre-gap
        # click is gone); a fresh view restarts the funnel at stage 1
        [(1, 6, "purchase", base + 7 * hour), (1, 7, "view", base + 7 * hour + m)],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.funnel_stream(stream, idle_timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("ttl_funnel")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1  # user 1's partial funnel was evicted
    got = sorted(
        (r["user_id"], r["stage"], r["event_type"])
        for r in spark.sql("SELECT * FROM ttl_funnel").collect()
    )
    # user 1: pre-gap view+click, then a RESTARTED stage-1 view (the
    # post-gap purchase emits nothing -- no click in this incarnation);
    # user 2: view+click, never idle past the horizon
    assert got == [
        (1, 1, "view"),
        (1, 1, "view"),
        (1, 2, "click"),
        (2, 1, "view"),
        (2, 2, "click"),
    ]


def test_retention_stream_matches_batch_matrix(spark, tmp_path):
    """F7 streaming twin (round 9): the online cohort-retention feed
    (first-seen week + last emitted week per user, O(1) state) must
    aggregate to exactly the batch retention matrix across micro-batch
    boundaries."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_retention_cohorts,
    )

    ev = windows.read_events_stream(spark, SF, max_files_per_trigger=1)
    q = (
        windows.retention_stream(ev)
        .writeStream.format("memory")
        .queryName("retention_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.sql("SELECT * FROM retention_stream")
    # each (user, activity_week) emits at most once across all batches
    assert (
        emitted.groupBy("user_id", "activity_week")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )
    streamed = {
        (r["cohort_week"], r["activity_week"]): r["n_users"]
        for r in emitted.groupBy("cohort_week", "activity_week")
        .agg(F.count("*").alias("n_users"))
        .collect()
    }
    batch = {
        (r["cohort_week"], r["activity_week"]): r["n_users"]
        for r in events_retention_cohorts(spark, SF).collect()
    }
    assert streamed == batch and streamed


@pytest.mark.slow
def test_retention_stream_ttl_arms_from_real_event_time(spark, tmp_path):
    """Round-9 advice regression: the retention fold's idle-TTL timer
    must arm from the key's real last EVENT timestamp, not the week
    floor. Arming from the floor lets a horizon shorter than a week
    evict a daily-active user mid-week (idle 'since week start'); when
    they post again in the same week they re-cohort and re-emit the
    same activity_week -- double-counting them in the retention matrix.
    Timeline (epoch weeks run Thu..Thu; 2024-01-04 is a week floor),
    horizon = 2 days:
      b0: u1 active Jan 4/5/6  -> floor-armed expiry Jan 6; real Jan 8
      b1: u2 Jan 9             -> watermark Jan 7 after the batch
      b2: u2 Jan 10, no u1     -> floor arming would evict u1 here
      b3: u1 Jan 10 (same week)-> a re-cohort would re-emit the week
    The fixed fold keeps u1 alive through b2, so (u1, week) appears
    exactly once."""
    from datetime import datetime

    schema = "user_id long, event_id long, event_type string, ts timestamp"
    batches = [
        [
            (1, 1, "view", datetime(2024, 1, 4)),
            (1, 2, "view", datetime(2024, 1, 5)),
            (1, 3, "view", datetime(2024, 1, 6)),
        ],
        [(2, 4, "view", datetime(2024, 1, 9))],
        [(2, 5, "view", datetime(2024, 1, 10))],
        [(1, 6, "view", datetime(2024, 1, 10, 12))],
    ]
    src = str(tmp_path / "src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{i}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        windows.retention_stream(stream, idle_timeout_ms=172_800_000)
        .writeStream.format("memory")
        .queryName("retention_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM retention_ttl").collect()
    per_pair = {}
    for r in rows:
        k = (r["user_id"], r["activity_week"])
        per_pair[k] = per_pair.get(k, 0) + 1
    dupes = {k: n for k, n in per_pair.items() if n > 1}
    assert not dupes, f"mid-week eviction re-emitted activity weeks: {dupes}"
    # u1's single activity week is present exactly once
    assert sum(1 for (u, _w) in per_pair if u == 1) == 1


@pytest.mark.slow
def test_consume_dedup_within_watermark_makes_delivery_effectively_once(
    spark, tmp_path
):
    """SURVEY §4 delivery-semantics upgrade (round-9 verdict task 5):
    the reference consume path is at-least-once -- a Nacked message is
    redelivered and its samples POSTed downstream AGAIN
    (pkg/pulsar/pulsar.go:204-213). With ``dedup_within`` set,
    dropDuplicatesWithinWatermark on (tenant_id, labels_json,
    timestamp) drops the replayed samples before batching, so an
    injected duplicate micro-batch (the redelivery shape) yields a
    downstream WriteRequest stream with NO duplicate sample; without
    the stage the same replay doubles every sample (control leg). The
    dedup state persists in the checkpoint, so the replay is caught
    even ACROSS a query restart. Poison bypasses the stage and still
    parks once per delivery (DLQ stays at-least-once by design)."""
    msgs, n_good = _sample_messages()

    def run(in_dir, post_dir, ckpt, dedup):
        def post_fn(url, body, headers):
            import os as _os
            import uuid as _uuid

            _os.makedirs(post_dir, exist_ok=True)
            org = headers.get("X-Scope-OrgID", "")
            # unique suffix: a REPLAYED identical body must record as a
            # second POST, not overwrite the first recording
            name = f"{org or '_none'}-{_uuid.uuid4().hex}"
            with open(_os.path.join(post_dir, name), "wb") as fh:
                fh.write(body)
            return 200

        # each leg keeps its own dlq dir for tidiness only: the replay
        # ledger is one file per streaming query, so legs on separate
        # checkpoints never share settled (epoch, tenant, batch) pairs
        sink = RemoteWriteSink(
            url="http://sink",
            dlq_dir=in_dir + "-dlq",
            post_fn=post_fn,
            batch_size=100,
        )
        q = run_consume_pipeline(
            spark,
            in_dir,
            sink,
            str(tmp_path / "poison"),
            checkpoint_dir=ckpt,
            dedup_within="10 minutes" if dedup else None,
        )
        q.awaitTermination(120)

    def posted_samples(post_dir):
        out = []
        for name in sorted(os.listdir(post_dir)):
            with open(os.path.join(post_dir, name), "rb") as fh:
                body = fh.read()
            org = name.split("-", 1)[0]
            req = prompb.decode_write_request(snappy_codec.decompress(body))
            for ts in req["timeseries"]:
                lbl = tuple((l["name"], l["value"]) for l in ts["labels"])
                for s in ts["samples"]:
                    out.append((org, lbl, s["timestamp"], s["value"]))
        return out

    # --- dedup leg: deliver, then inject the same messages again -------
    in_dir = str(tmp_path / "in_dedup")
    post_dir = str(tmp_path / "posts_dedup")
    ckpt = str(tmp_path / "ckpt_dedup")
    _write_messages(in_dir, msgs)
    run(in_dir, post_dir, ckpt, dedup=True)
    with open(os.path.join(in_dir, "replay.jsonl"), "w") as fh:  # the Nack
        for payload, tenant in msgs:
            fh.write(
                json.dumps(
                    {"key": "k", "payload": payload, "tenant_id": tenant}
                )
                + "\n"
            )
    run(in_dir, post_dir, ckpt, dedup=True)
    samples = posted_samples(post_dir)
    assert len(samples) == n_good  # replay added NOTHING downstream
    assert len(set(samples)) == n_good  # and no (tenant,series,ts) dupes

    # --- control leg: same replay without the stage doubles every sample
    in_dir2 = str(tmp_path / "in_ctl")
    post_dir2 = str(tmp_path / "posts_ctl")
    ckpt2 = str(tmp_path / "ckpt_ctl")
    _write_messages(in_dir2, msgs)
    run(in_dir2, post_dir2, ckpt2, dedup=False)
    with open(os.path.join(in_dir2, "replay.jsonl"), "w") as fh:
        for payload, tenant in msgs:
            fh.write(
                json.dumps(
                    {"key": "k", "payload": payload, "tenant_id": tenant}
                )
                + "\n"
            )
    run(in_dir2, post_dir2, ckpt2, dedup=False)
    dup_samples = posted_samples(post_dir2)
    assert len(dup_samples) == 2 * n_good  # at-least-once: all doubled


@pytest.mark.slow
def test_consume_dedup_state_eviction_at_streaming_cadence(spark, tmp_path):
    """Round-10 verdict task 5: the dedup stage's state must be bounded
    by rate x horizon, not history -- pinned against Spark upgrades by
    the operator's own progress counters over >=3 processing-time
    micro-batches. Three data batches 40 min apart under a 10-minute
    horizon, plus a replay and a first-time late arrival:

      b1: 3 samples @ t0                  -> 3 state rows
      b2: 2 samples @ t0+40m + b1 replay  -> replay adds NO state rows
      b3: 2 samples @ t0+80m + 1 NEVER-seen sample @ t0 (late)

    Asserted from the dedupe operator's progress counters: b2's own
    batch ends with exactly 5 state rows (3 + 2 fresh -- the replay
    added NONE); the watermark's no-data cleanup batches then evict
    expired keys (numRowsRemoved sums to 5) until the live state is
    just b3's 2 keys -- bounded by the horizon, NOT the 8-key history;
    numRowsDroppedByWatermark >= 1 for the late first-timer -- the
    documented loss (run_consume_pipeline docstring) made observable.
    Downstream sees exactly 7 samples: replay deduped, late one dropped."""
    import time as _time

    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        MetricsListener,
    )
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        dedup_state_metrics,
    )

    t0 = 1_700_000_000_000  # ms
    mins = 60_000

    def payloads(ts_ms, n, tag):
        return [
            (
                marshal_json(
                    ts_ms, float(i), {"__name__": "up", "instance": f"{tag}{i}"}, "t-a"
                ),
                "t-a",
            )
            for i in range(n)
        ]

    b1 = payloads(t0, 3, "a")
    b2 = payloads(t0 + 40 * mins, 2, "b") + b1  # fresh + the Nack replay
    b3 = payloads(t0 + 80 * mins, 2, "c") + payloads(t0, 1, "late-first")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir, exist_ok=True)

    def write_batch(name, msgs):
        # temp-write + atomic rename: the file source must never list a
        # half-written file mid-trigger
        tmp = str(tmp_path / f"{name}.tmp")
        with open(tmp, "w") as fh:
            for payload, tenant in msgs:
                fh.write(
                    json.dumps({"key": "k", "payload": payload, "tenant_id": tenant})
                    + "\n"
                )
        os.rename(tmp, os.path.join(in_dir, f"{name}.jsonl"))

    post_dir = str(tmp_path / "posts")

    def post_fn(url, body, headers):
        import os as _os
        import uuid as _uuid

        _os.makedirs(post_dir, exist_ok=True)
        with open(_os.path.join(post_dir, _uuid.uuid4().hex), "wb") as fh:
            fh.write(body)
        return 200

    sink = RemoteWriteSink(
        url="http://sink",
        dlq_dir=str(tmp_path / "dlq"),
        post_fn=post_fn,
        batch_size=100,
    )
    listener = MetricsListener()  # the A6 bridge sees the same counters
    listener_handle = listener.as_listener()
    spark.streams.addListener(listener_handle)
    q = run_consume_pipeline(
        spark,
        in_dir,
        sink,
        str(tmp_path / "poison"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=False,  # real processing-time cadence
        trigger_interval_ms=500,
        dedup_within="10 minutes",
    )

    def by_batch():
        seen = {}
        for p in q.recentProgress:
            seen[p["batchId"]] = p
        return seen

    def wait_for(pred, what, timeout=90.0):
        deadline = _time.monotonic() + timeout
        while _time.monotonic() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"query failed: {q.exception()}")
            if pred():
                return
            _time.sleep(0.3)
        raise AssertionError(f"timed out waiting for {what}")

    def op_metric(field):
        total = 0
        for p in by_batch().values():
            for op in p.get("stateOperators") or []:
                if "dedupe" in (op.get("operatorName") or ""):
                    total += op.get(field) or 0
        return total

    def any_batch_with_total(n):
        # per-batch snapshot from the progress HISTORY: the watermark's
        # no-data cleanup batch may shrink live state between our polls
        return any(
            (op.get("numRowsTotal") or 0) == n
            for p in by_batch().values()
            for op in p.get("stateOperators") or []
            if "dedupe" in (op.get("operatorName") or "")
        )

    try:
        write_batch("b1", b1)
        wait_for(lambda: any_batch_with_total(3), "b1's 3 state rows")
        write_batch("b2", b2)
        # the replay must add NO state rows: b2's batch ends at 3+2 == 5
        wait_for(
            lambda: any_batch_with_total(5),
            "b2's batch ending with exactly 5 state rows (replay added none)",
        )
        write_batch("b3", b3)
        # b3 advances the watermark to t0+70m: b1's keys (expire t0+10m)
        # and b2's (expire t0+50m) are evicted by the cleanup batches;
        # live state converges to b3's 2 keys -- horizon-bounded
        wait_for(
            lambda: op_metric("numRowsRemoved") == 5
            and (dedup_state_metrics(q).get("numRowsTotal") or 0) == 2,
            "5 expired keys evicted and live state bounded at 2",
        )
        assert op_metric("numRowsDroppedByWatermark") >= 1  # the late first-timer
        # the same loss reaches the A6 exposition via MetricsListener
        # (listener events are delivered asynchronously)
        deadline = _time.monotonic() + 30
        while (
            _time.monotonic() < deadline
            and listener.totals()["dedup_dropped_late"] < 1
        ):
            _time.sleep(0.3)
        assert listener.totals()["dedup_dropped_late"] >= 1
        assert "stream_dedup_dropped_late_total" in listener.exposition()
    finally:
        q.stop()
        spark.streams.removeListener(listener_handle)

    # downstream: 3 + 2 + 2 fresh samples; replay deduped, late one lost
    posted = 0
    for name in os.listdir(post_dir):
        with open(os.path.join(post_dir, name), "rb") as fh:
            req = prompb.decode_write_request(snappy_codec.decompress(fh.read()))
        posted += sum(len(ts["samples"]) for ts in req["timeseries"])
    assert posted == 7


def test_app_consume_dedup_within_flag(spark, tmp_path):
    """--consume.dedup-within (round 10, engine extension -- the
    reference has no replay dedup): the Go-duration flag parses into
    AppConfig.dedup_within_ms and run() actually wires the stage -- the
    consume query's state operators include the watermark dedup
    (effectively-once semantics proven end-to-end by
    test_consume_dedup_within_watermark_makes_delivery_effectively_once;
    this pins the CLI surface and the plumbing)."""
    from prometheus_pulsar_remote_write_spark.app import parse_args, run
    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        marshal_json,
    )

    assert (
        parse_args(
            [
                "consume",
                "--pulsar.topic=/b",
                "--remote-write.url=http://d",
                "--consume.dedup-within=10m",
            ]
        ).dedup_within_ms
        == 600_000
    )

    bus = str(tmp_path / "bus")
    os.makedirs(bus, exist_ok=True)
    msgs = [
        (marshal_json(1000 + i, float(i), {"__name__": "up"}, "t-a"), "t-a")
        for i in range(3)
    ]
    _write_messages(bus, msgs)
    cfg = parse_args(
        [
            "consume",
            f"--pulsar.topic={bus}",
            "--remote-write.url=http://downstream/api/v1/push",
            "--consume.dedup-within=10m",
            f"--work-dir={tmp_path / 'work'}",
        ]
    )
    cfg.post_fn = lambda u, b, h: 200
    q, sink = run(spark, cfg)
    q.awaitTermination(120)
    ops = [
        op.get("operatorName", "")
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    ]
    assert any("dedupe" in o.lower() for o in ops), ops
    assert sum(sink.metrics.sent.values()) == 3
