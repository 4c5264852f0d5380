"""The produce pipeline (reference pkg/app/produce.go:106-185) as a
Structured Streaming job.

Reference flow: HTTP POST /write -> snappy -> protobuf -> flatten ->
tenant -> serialize -> partition key -> async Pulsar publish -> Flush.

Spark shape:
    readStream(binaryFile drop-dir)        # A1: the HTTP edge lands bodies
      -> tenant column                     # B4 (from the path)
      -> ONE mapInPandas over (content, tenant_id), per body:
           decode_body                     # snappy+proto; poison skipped
           -> label dict per series        # B1 flatten
           -> partition key per series     # B7/B8 (FNV-1)
           -> marshal per sample           # C1-C3
      -> writeStream.foreachBatch(publisher)  # A2; batch commit == Flush

Delivery: foreachBatch + checkpointing give at-least-once, the same
contract the reference offers (ack-after-send). A failed publish raises,
the micro-batch is not committed, and Spark replays it -- which is also
the backpressure story (D5): a stalled sink halts intake.

At scale the drop-dir is any landing zone (object store, Kafka of blobs);
maxFilesPerTrigger bounds per-batch work, and the pass is narrow: no
shuffle between the body and the publisher.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fnv import sample_partition_key
from ..functions.serializers import resolve_marshaler
from ..schema import DEFAULT_REPLICA_LABELS
from ..sources import prompb
from ..sources.http_listener import TENANT_DIR_NONE
from . import start_query


def read_request_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """A1 source: stream of raw remote-write bodies from a drop directory."""
    return (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema; streaming sources require it explicitly
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(drop_dir)
    )


def tenant_from_path(path_col):
    """Tenant = parent directory name of the body file (HTTP-edge stand-in
    for BasicAuth/X-Scope-OrgID; B4)."""
    parent = F.element_at(F.split(path_col, "/"), -2)
    return F.when(parent == TENANT_DIR_NONE, F.lit("")).otherwise(parent)


def _decoded_bodies(batches: Iterator[pd.DataFrame]):
    """The per-body decode loop of both produce sinks: yields
    ``(tenant_id, series)`` per body, ``series`` a list of (label dict,
    samples) with each label dict built once. A body that does not
    decode is skipped (the listener's 400 test, so the same bodies)."""
    for pdf in batches:
        for body, tenant in zip(pdf["content"], pdf["tenant_id"]):
            try:
                req = prompb.decode_body(bytes(body))
            except Exception:
                continue
            yield tenant, [
                ({lbl["name"]: lbl["value"] for lbl in ts["labels"]}, ts["samples"])
                for ts in req["timeseries"]
            ]


def flat_sample_stream(bodies: DataFrame) -> DataFrame:
    """Body blobs -> flattened (timestamp, value, labels, tenant_id) rows.

    The front half of the lake sink (A1 decode -> B4 tenant -> B1
    flatten), before any serialization, on ``produce_transform``'s
    per-body decode loop. The value column is Arrow-backed so a NaN
    staleness marker stays NaN (a plain float column would hand it to
    Spark as null). A null tenant becomes "". Pure transformation --
    works on batch or streaming DataFrames alike."""

    def _flatten(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for tenant, series in _decoded_bodies(batches):
            stamps, values, label_col = [], [], []
            for labels, samples in series:
                for s in samples:
                    stamps.append(s["timestamp"])
                    values.append(s["value"])
                    label_col.append(labels)
            if stamps:
                yield pd.DataFrame(
                    {
                        "timestamp": stamps,
                        "value": pd.arrays.ArrowExtensionArray(
                            pa.array(values, pa.float64())
                        ),
                        "labels": label_col,
                        "tenant_id": [tenant or ""] * len(stamps),
                    }
                )

    return (
        bodies.select("content", tenant_from_path(F.col("path")).alias("tenant_id"))
        .mapInPandas(
            _flatten,
            "timestamp long, value double, labels map<string,string>, tenant_id string",
        )
    )


def produce_transform(
    bodies: DataFrame,
    serializer_format: str = "json",
    replica_labels: list[str] | None = None,
) -> DataFrame:
    """Body blobs -> (key, payload, tenant_id) wire messages, in one
    mapInPandas: one Python worker per task decodes each body, keys each
    series once and marshals each sample. A body that does not decode is
    skipped (the listener's 400); a marshal error fails the batch. A null
    tenant keys and marshals as "" and stays null in the output. One
    frame per body: a worker never holds more than one body's messages."""
    marshal = resolve_marshaler(serializer_format)
    replica = DEFAULT_REPLICA_LABELS if replica_labels is None else replica_labels

    def _produce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for tenant, series in _decoded_bodies(batches):
            ten = tenant if tenant is not None else ""
            keys, payloads = [], []
            for labels, samples in series:
                key = sample_partition_key(labels, ten, replica)
                for s in samples:
                    keys.append(key)
                    payloads.append(marshal(s["timestamp"], s["value"], labels, ten))
            if keys:
                tenants = [tenant] * len(keys)
                yield pd.DataFrame({"key": keys, "payload": payloads, "tenant_id": tenants})

    return (
        bodies.select("content", tenant_from_path(F.col("path")).alias("tenant_id"))
        .mapInPandas(_produce, "key string, payload string, tenant_id string")
    )


class FilePublisher:
    """A2 stand-in: publishes each micro-batch as JSONL part files keyed by
    partition key (a Pulsar producer plugs in here; the per-batch commit is
    the reference's Flush)."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy("tenant_id")
            .json(os.path.join(self.out_dir, f"epoch={epoch_id}"))
        )


#: per-worker broker producer cache (A5 connection reuse, one client per
#: executor python worker -- the same idiom as consume.worker_client)
_WORKER_PRODUCERS: dict = {}


def worker_producer(factory, cache_key: str):
    """Get-or-create the worker-local producer for ``cache_key`` (A5:
    the reference keeps ONE shared producer per process,
    CHANGELOG.md:20-21 -- repeated partitions/micro-batches on the same
    python worker reuse the same client/connection pool)."""
    producer = _WORKER_PRODUCERS.get(cache_key)
    if producer is None:
        producer = factory()
        _WORKER_PRODUCERS[cache_key] = producer
    return producer


class BrokerPublisher:
    """A2 on a REAL message broker: the adapter seam where a broker client
    (e.g. an Apache Pulsar producer) drops into the produce pipeline in
    place of the file-backed ``FilePublisher``.

    ``client_factory()`` runs ON THE EXECUTORS, once per python worker
    (cached under ``cache_key``, reused across partitions and
    micro-batches -- the reference keeps one shared producer per process,
    CHANGELOG.md:20-21). It must return an object with
    ``send(key: str, payload: bytes)`` and optionally ``flush()``; a thin
    closure adapts any client library::

        def factory():
            import pulsar  # the broker SDK, on the executors' image
            client = pulsar.Client("pulsar://broker:6650")
            producer = client.create_producer("persistent://tenant/ns/metrics")
            class _P:
                def send(self, key, payload):
                    producer.send_async(payload, None, partition_key=key)
                def flush(self):
                    producer.flush()
            return _P()

        run_produce_pipeline(..., publisher=BrokerPublisher(factory, "metrics"))

    Delivery semantics match the reference: ``flush()`` per partition at
    micro-batch end is the reference's Flush-before-ack (a send error
    raises => the micro-batch fails => checkpoint does not advance =>
    replay, the same at-least-once contract as the HTTP sink)."""

    def __init__(self, client_factory, cache_key: str = "default", flush: bool = True):
        self.client_factory = client_factory
        self.cache_key = cache_key
        self.flush = flush

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        factory, key, do_flush = self.client_factory, self.cache_key, self.flush

        def _send_partition(rows) -> None:
            producer = worker_producer(factory, key)
            n = 0
            for row in rows:
                payload = row.payload
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                producer.send(row.key, payload)
                n += 1
            if n and do_flush and hasattr(producer, "flush"):
                producer.flush()

        batch_df.foreachPartition(_send_partition)


class FanoutError(Exception):
    """Raised when one or more writers fail; carries their names
    (the reference's joined error listing failed writers,
    pkg/app/produce.go:166-180)."""

    def __init__(self, failed: dict[str, Exception]):
        self.failed = failed
        names = ", ".join(sorted(failed))
        super().__init__(f"failed to write to: {names}")


class FanoutPublisher:
    """D4: write every micro-batch to ALL configured writers concurrently,
    then join per-writer errors (reference pkg/app/produce.go:150-181 --
    goroutine per writer, WaitGroup, errors joined into one 500).

    Each writer runs in its own thread against a persisted batch (the
    batch plan is materialized once, not recomputed per writer). If any
    writer fails, FanoutError names the failures and the micro-batch is
    not committed -> Spark replays it; writers that succeeded will see the
    replay again, the same at-least-once contract as the reference (a 500
    makes Prometheus resend to every writer, including the ones that
    already stored the data)."""

    def __init__(self, writers: dict[str, object]):
        self.writers = dict(writers)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import threading

        batch_df.persist()
        try:
            batch_df.count()  # materialize once before the writer fan-out
            errors: dict[str, Exception] = {}
            lock = threading.Lock()

            def _run(name: str, writer) -> None:
                try:
                    writer(batch_df, epoch_id)
                except Exception as exc:  # noqa: BLE001 -- joined below
                    with lock:
                        errors[name] = exc

            threads = [
                threading.Thread(target=_run, args=(name, writer), daemon=True)
                for name, writer in self.writers.items()
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                raise FanoutError(errors)
        finally:
            batch_df.unpersist()


def run_produce_pipeline(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    serializer_format: str = "json",
    publisher=None,
    trigger_once: bool = True,
    replica_labels: list[str] | None = None,
):
    """Wire the full produce stream and start it. Returns the query."""
    messages = produce_transform(
        read_request_stream(spark, drop_dir), serializer_format, replica_labels
    )
    writer = messages.writeStream.foreachBatch(publisher or FilePublisher(out_dir))
    return start_query(writer, out_dir, checkpoint_dir, trigger_once)
