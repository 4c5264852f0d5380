"""The consume pipeline (reference pkg/app/consume.go + pkg/remote/write.go)
as a Structured Streaming job.

Reference flow: Pulsar KeyShared consumer -> deserialize (skip poison with
ack) -> per-tenant batch (size 100 OR 5 s) -> sorted-label WriteRequest ->
snappy -> POST with X-Scope-OrgID -> ack / retry(recoverable, with global
backpressure) / drop(unrecoverable).

Spark mapping:
  readStream(payload files)        # A3; checkpoint == ack bookkeeping
    -> deserialize (C4)            # poison -> DLQ, stream continues (B9)
    -> batching                    # D1 (see batcher.py)
    -> foreachBatch(RemoteWriteSink)
         post_batches_distributed  # on the executors, per (tenant, batch):
           nest_samples + encode   #   B2/B3 + prompb.encode_body (A4)
           POST                    #   D2 fan-out
         recoverable error  -> raise => micro-batch replayed (D5):
                               checkpoint does not advance, intake halts
         unrecoverable      -> the rejected body to a DLQ file + continue
                               (D6): ack-and-drop

There is one delivery path. Per-tenant requests within a micro-batch are
independent HTTP calls made where the data is, so a 1000-executor cluster
fans out exactly like the reference's per-tenant goroutines -- but
partitioned, not single-threaded. Only small status rows (plus the body of
a rejected batch) come back to the driver.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.serializers import deserialize
from ..operators.flatten import nest_samples
from ..sources import prompb


class RecoverableError(Exception):
    """Maps the reference's remote.RecoverableError (HTTP 5xx / transport):
    raising it fails the micro-batch => replay + backpressure."""


def read_payload_stream(spark: SparkSession, in_dir: str, max_files: int = 64) -> DataFrame:
    """A3 source: JSONL message files (as written by the produce pipeline's
    FilePublisher; a Pulsar reader plugs in identically)."""
    schema = "key string, payload string, tenant_id string"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files))
        .option("recursiveFileLookup", "true")
        .json(in_dir)
    )


def parse_samples(messages: DataFrame, fmt: str = "json") -> DataFrame:
    """C4 + B9: deserialize payloads; poison rows keep payload for the DLQ."""
    parsed = deserialize(messages, fmt, keep_cols=["payload"])
    return parsed.withColumn(
        "labels_json", F.to_json(F.col("labels"))
    )


@dataclass
class RemoteWriteSink:
    """A4 + D2/D5/D6: per-tenant POST with retry/DLQ semantics.

    post_fn(url, body, headers) -> status_code; injectable for tests and
    for a real `requests.post` in production. 5xx/exception => Recoverable
    (raise, batch replays); 4xx => unrecoverable (DLQ, continue).

    Delivery is EXECUTOR-SIDE (``post_batches_distributed``): each
    (tenant, batch) encodes and POSTs inside the partition that holds it,
    and only small status rows return to the driver -- the shape that
    survives 1000 executors. ``post_fn`` must be picklable (cloudpickle
    ships lambdas/closures fine; closure *mutations* stay on the executor).
    """

    url: str
    dlq_dir: str
    post_fn: object = None
    batch_size: int = 100
    send_timeout_s: float = 30.0  # reference --send-timeout (consume.go:40-41)
    user_agent: str = "prometheus-pulsar-remote-write-spark/0.1.0"
    sent: dict = field(default_factory=dict)   # tenant -> samples sent
    failed: dict = field(default_factory=dict)  # tenant -> samples dropped
    metrics: object = None  # optional operators.metrics.DeliveryMetrics
    ledger_dir: str | None = None  # settled-batch markers; default under dlq_dir

    def _ledger(self) -> str:
        return self.ledger_dir or os.path.join(self.dlq_dir, "_sent_ledger")

    def _marker(self, epoch_id: int, tenant_id: str, batch_seq) -> str:
        name = f"epoch={epoch_id}-tenant={tenant_id or '_none'}-batch={batch_seq}"
        return os.path.join(self._ledger(), name)

    def _settle(self, epoch_id: int, tenant_id: str, batch_seq) -> None:
        os.makedirs(self._ledger(), exist_ok=True)
        with open(self._marker(epoch_id, tenant_id, batch_seq), "w"):
            pass

    def _settled_pairs(self, epoch_id: int) -> set:
        """(tenant_id, batch_seq) pairs already 2xx'd or DLQ'd in a prior
        attempt of this epoch (marker files written by ``_settle``)."""
        ledger = self._ledger()
        if not os.path.isdir(ledger):
            return set()
        prefix = f"epoch={epoch_id}-tenant="
        out = set()
        for name in os.listdir(ledger):
            if not name.startswith(prefix):
                continue
            rest, _, seq = name[len(prefix):].rpartition("-batch=")
            tenant = "" if rest == "_none" else rest
            out.add((tenant, int(seq)))
        return out

    def _dlq_write(self, epoch_id: int, tenant_id: str, batch_seq, body: bytes) -> None:
        os.makedirs(self.dlq_dir, exist_ok=True)
        name = f"tenant={tenant_id or '_none'}-epoch={epoch_id}-batch={batch_seq}.bin"
        with open(os.path.join(self.dlq_dir, name), "wb") as fh:
            fh.write(body)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Encode+POST on the executors (``post_batches_distributed``), then
        apply the reference's D5/D6 policy on the returned status rows.

        A replayed micro-batch (after a RecoverableError aborted a previous
        attempt) must not re-POST batches that already got a 2xx or were
        DLQ'd: the reference only retains un-acked samples
        (write.go:208-236). batch_seq is deterministic per epoch
        (row_number over a stable sort), so settled batches are filtered
        out before the POST wave, and successes/DLQs settle before any
        RecoverableError raises."""
        from .batcher import microbatch_batches

        # Cached, the batches keep the window's partitioning: one delivery
        # task per tenant hash bucket. Uncached, adaptive execution
        # coalesces that small shuffle into one partition, and every POST
        # of the micro-batch runs in one task, one after another.
        batched = microbatch_batches(batch_df, self.batch_size).persist()
        try:
            todo = batched
            settled = self._settled_pairs(epoch_id)
            if settled:
                keys = [f"{t}\x00{b}" for t, b in settled]
                key = F.concat_ws(
                    "\x00", F.col("tenant_id"), F.col("batch_seq").cast("string")
                )
                todo = batched.filter(~key.isin(keys))
            statuses = post_batches_distributed(
                todo,
                self.url,
                user_agent=self.user_agent,
                post_fn=self.post_fn,
                send_timeout_s=self.send_timeout_s,
            )
        finally:
            batched.unpersist()
        recoverable = []
        for tenant_id, batch_seq, status, n, elapsed, body in statuses:
            if self.metrics is not None:
                self.metrics.count_received(tenant_id, n)
                self.metrics.observe_duration(elapsed, tenant_id)
            if status >= 500:  # D5 (599 = transport error)
                recoverable.append((tenant_id, batch_seq, status))
                continue
            if status >= 400:  # D6: the rejected body itself goes to the DLQ
                self._dlq_write(epoch_id, tenant_id, batch_seq, body)
                self.failed[tenant_id] = self.failed.get(tenant_id, 0) + n
                if self.metrics is not None:
                    self.metrics.count_failed(tenant_id, n)
            else:
                self.sent[tenant_id] = self.sent.get(tenant_id, 0) + n
                if self.metrics is not None:
                    self.metrics.count_sent(tenant_id, n)
            self._settle(epoch_id, tenant_id, batch_seq)
        if recoverable:
            t, b, code = recoverable[0]
            if self.metrics is not None:
                self.metrics.count_retry(t)
            raise RecoverableError(f"HTTP {code} for tenant {t!r} batch {b}")


def run_consume_pipeline(
    spark: SparkSession,
    in_dir: str,
    sink: RemoteWriteSink,
    poison_dir: str,
    checkpoint_dir: str | None = None,
    fmt: str = "json",
    trigger_once: bool = True,
    trigger_interval_ms: int = 1000,
    source: DataFrame | None = None,
    dedup_within: str | None = None,
):
    """Wire the consume stream: parse -> split poison -> sink. Returns the query.

    ``trigger_interval_ms`` is the Spark analog of the reference's
    consume batch-max-delay (app.go:36-38): a micro-batch closes at most
    this long after it opens, so an under-size per-tenant batch waits at
    most one trigger interval before the D1 delay flush ships it.

    ``source`` overrides the default file-backed payload stream with a
    bus client's consumer stream (streaming/bus.py MessageBusClient
    .source -- the A3 broker seam); it must produce (key, payload,
    tenant_id) string columns.

    ``dedup_within`` upgrades delivery from the reference's at-least-once
    (a Nacked/redelivered message is written downstream AGAIN,
    pkg/pulsar/pulsar.go:204-213 -- the reference has no replay dedup)
    to effectively-once: a watermark horizon string (e.g. ``"10
    minutes"``) enables ``dropDuplicatesWithinWatermark`` on the sample
    identity (tenant_id, labels_json, timestamp), so a replayed message
    whose samples already passed through within the horizon is dropped
    before batching/POST. Scale shape: the dedup state is one store row
    per DISTINCT in-flight sample key, partitioned by the dedup key
    hash, evicted as soon as the event-time watermark passes key_ts +
    horizon -- state is bounded by (ingest rate x horizon), not by
    history, and redeliveries only ever land within the broker's replay
    window. Poison rows (null timestamp) bypass the stage -- they carry
    no event time and every one of them must reach the DLQ, so deduping
    them on the (null, null) key would silently drop distinct bad
    payloads.

    Dedup semantics the caller must size for:

    - **Watermark-late FIRST-TIME samples are dropped, not DLQ'd.** The
      watermark is GLOBAL across tenants: any sample whose event time
      trails the stream's max event time by more than the horizon is
      discarded by the watermark filter even if it was never delivered
      before (e.g. one tenant backfilling old timestamps while another
      tenant's fresh data advances the watermark). The horizon must
      therefore exceed the worst-case CROSS-TENANT event-time skew, not
      just the broker's Nack redelivery delay. The loss is observable:
      the dedup operator reports ``numRowsDroppedByWatermark`` in every
      ``StreamingQueryProgress`` (see :func:`dedup_state_metrics`);
      alert on it > 0. Streams that must never drop backfill should run
      with ``dedup_within=None`` (the reference's at-least-once
      semantics, pkg/pulsar/pulsar.go:204-213).
    - **The key excludes the sample value**: two deliveries with the
      same (tenant, series, timestamp) but DIFFERENT values collapse to
      whichever arrived first -- consistent with Prometheus rejecting
      duplicate samples for the same series+timestamp on ingest.
    - **labels_json must be byte-stable across redeliveries**: the key
      matches on the serialized string, and upstream flatten emits
      label-sorted canonical JSON (operators/flatten.py B3), so exact
      broker replays always match; a producer that re-serializes labels
      in a different order would escape dedup (and land as an ordinary
      at-least-once duplicate, never lose data)."""
    checkpoint_dir = checkpoint_dir or os.path.join(
        poison_dir, f"_checkpoint-{uuid.uuid4().hex[:8]}"
    )
    if source is None:
        source = read_payload_stream(spark, in_dir)
    parsed = parse_samples(source, fmt)
    if dedup_within is not None:
        good = (
            parsed.filter(F.col("timestamp").isNotNull())
            .withColumn("event_ts", F.timestamp_millis(F.col("timestamp")))
            .withWatermark("event_ts", dedup_within)
            .dropDuplicatesWithinWatermark(
                ["tenant_id", "labels_json", "timestamp"]
            )
            .drop("event_ts")
        )
        parsed = good.unionByName(
            parsed.filter(F.col("timestamp").isNull())
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # cache the micro-batch: the poison count and the sink's actions
        # would otherwise each re-execute the whole upstream plan --
        # re-scanning/re-parsing the source (and re-running the stateful
        # dedup subtree, double-committing its store and doubling its
        # progress counters) once per action
        batch_df.persist()
        try:
            good = batch_df.filter(F.col("timestamp").isNotNull()).drop("payload")
            poison = batch_df.filter(F.col("timestamp").isNull()).select("payload")
            n_poison = poison.count()
            if n_poison:  # B9: log+ack+skip => park in DLQ, keep going
                poison.write.mode("append").json(poison_dir)
            sink(good, epoch_id)
        finally:
            batch_df.unpersist()

    writer = (
        parsed.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_interval_ms} milliseconds")
    return writer.start()


def dedup_state_metrics(query) -> dict:
    """The ``dedup_within`` stage's state counters from the query's most
    recent progress event: ``numRowsTotal`` (live state rows -- bounded
    by rate x horizon, NOT history), ``numRowsRemoved`` (watermark
    evictions this batch), ``numRowsDroppedByWatermark`` (input rows
    discarded for trailing the global watermark -- replays past the
    horizon AND first-time late arrivals; alert on sustained > 0 if any
    tenant backfills). Returns {} until the first stateful batch
    completes or when dedup is off. This is the observability hook the
    silent watermark-late drop documented on
    :func:`run_consume_pipeline` demands -- ship it to the A6 metrics
    endpoint or scrape it from the Spark UI's streaming tab."""
    progress = query.lastProgress
    if not progress:
        return {}
    for op in progress.get("stateOperators") or []:
        if "dedupe" in (op.get("operatorName") or ""):
            return dict(op)
    return {}


# ---------------------------------------------------------------------------
# Executor-side delivery (the 100 TB path)
# ---------------------------------------------------------------------------

#: per-worker singleton HTTP session (A5 connection reuse: the reference
#: keeps ONE shared producer/consumer per process, CHANGELOG.md:20-21 --
#: the Spark idiom is one client per executor python worker, created
#: lazily and reused across partitions/micro-batches).
_WORKER_CLIENTS: dict = {}


def worker_client(url: str):
    client = _WORKER_CLIENTS.get(url)
    if client is None:
        import requests

        client = requests.Session()
        _WORKER_CLIENTS[url] = client
    return client


def post_batches_distributed(
    batch_df: DataFrame,
    url: str,
    user_agent: str = "prometheus-pulsar-remote-write-spark/0.1.0",
    post_fn=None,
    send_timeout_s: float = 30.0,
) -> list:
    """D2 fan-out on EXECUTORS: encode + POST each (tenant, batch) inside
    the partition that holds it; only small per-batch status rows return
    to the driver. ``post_fn`` must be picklable; default is a per-worker
    singleton ``requests.Session`` (A5 connection reuse).

    Returns [(tenant_id, batch_seq, status, n_samples, elapsed_s, body)]
    sorted, so a partially-failed attempt settles the same prefix on every
    replay. ``body`` is the exact bytes POSTed when the receiver answered
    4xx (the DLQ copy) and None otherwise; ``elapsed_s`` feeds the
    send-duration histogram.
    """
    import pandas as pd

    from pyspark.sql import types as T

    with_labels = batch_df.withColumn(
        "labels", F.from_json("labels_json", "map<string,string>")
    )
    nested = nest_samples(with_labels, ["tenant_id", "batch_seq"])

    columns = ["tenant_id", "batch_seq", "status", "n_samples", "elapsed_s", "body"]
    out_schema = T.StructType(
        [
            T.StructField("tenant_id", T.StringType()),
            T.StructField("batch_seq", T.LongType()),
            T.StructField("status", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("elapsed_s", T.DoubleType()),
            T.StructField("body", T.BinaryType()),
        ]
    )

    def _post_partition(batches):
        for pdf in batches:
            rows = []
            for tenant_id, batch_seq, timeseries in zip(
                pdf["tenant_id"], pdf["batch_seq"], pdf["timeseries"]
            ):
                body = prompb.encode_body(timeseries)
                headers = {
                    "Content-Encoding": "snappy",
                    "Content-Type": "application/x-protobuf",
                    "User-Agent": user_agent,
                }
                if tenant_id:
                    headers["X-Scope-OrgID"] = tenant_id  # reference write.go:83-94
                t0 = time.perf_counter()
                try:
                    if post_fn is not None:
                        status = post_fn(url, body, headers)
                    else:
                        status = worker_client(url).post(
                            url, data=body, headers=headers, timeout=send_timeout_s
                        ).status_code
                except Exception:
                    status = 599  # transport error -> recoverable
                elapsed = time.perf_counter() - t0
                rows.append(
                    (
                        tenant_id,
                        int(batch_seq),
                        int(status),
                        len(timeseries),
                        elapsed,
                        body if 400 <= status < 500 else None,
                    )
                )
            yield pd.DataFrame(rows, columns=columns)

    statuses = nested.mapInPandas(_post_partition, out_schema).collect()
    return sorted(tuple(r) for r in statuses)
