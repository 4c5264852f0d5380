"""The consume pipeline (reference pkg/app/consume.go + pkg/remote/write.go)
as a Structured Streaming job.

Reference flow: Pulsar KeyShared consumer -> deserialize (skip poison with
ack) -> per-tenant batch (size 100 OR 5 s) -> sorted-label WriteRequest ->
snappy -> POST with X-Scope-OrgID -> ack / retry(recoverable, with global
backpressure) / drop(unrecoverable).

Spark mapping:
  readStream(payload files)        # A3; checkpoint == ack bookkeeping
    -> parse_samples (C4)          # poison rows keep their payload (B9)
    -> foreachBatch(RemoteWriteSink), one Spark action per micro-batch:
         post_batches_distributed  # repartition + groupBy(tenant_id)
                                   # .applyInPandas; per tenant: sort,
                                   # cut batch_size chunks (D1), sort
                                   # labels (B3), encode (A4), POST (D2)
         poison rows        -> <poison_dir>/epoch=<id>.json (B9)
         recoverable error  -> raise => micro-batch replayed (D5):
                               checkpoint does not advance, intake halts
         unrecoverable      -> the rejected body to a DLQ file + continue
                               (D6): ack-and-drop

There is one delivery path. Per-tenant requests within a micro-batch are
independent HTTP calls made where the data is, so a 1000-executor cluster
fans out exactly like the reference's per-tenant goroutines -- but
partitioned, not single-threaded. Only small status rows (plus the body of
a rejected batch, or a poison payload) come back to the driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.serializers import deserialize
from ..sources import prompb
from .batcher import DEFAULT_BATCH_SIZE

#: ``batch_seq`` of the status row a poison sample comes back as
POISON_SEQ = -1


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
    return parsed.withColumn("labels_json", F.to_json(F.col("labels")))


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

    def _settle(self, epoch_id: int, tenant_id: str, batch_seq) -> None:
        os.makedirs(self._ledger(), exist_ok=True)
        name = f"epoch={epoch_id}-tenant={tenant_id or '_none'}-batch={batch_seq}"
        with open(os.path.join(self._ledger(), name), "w"):
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

    def _poison_write(self, poison_dir: str, epoch_id: int, payloads: list) -> None:
        """B9: one ``{"payload": ...}`` line per poison message, in one file
        per epoch that a replay replaces whole."""
        os.makedirs(poison_dir, exist_ok=True)
        tmp = os.path.join(poison_dir, f".epoch={epoch_id}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            for p in payloads:
                payload = None if p is None else p.decode()
                fh.write(json.dumps({"payload": payload}) + "\n")
        os.replace(tmp, os.path.join(poison_dir, f"epoch={epoch_id}.json"))

    def __call__(self, batch_df: DataFrame, epoch_id: int, poison_dir: str) -> None:
        """Encode+POST on the executors (``post_batches_distributed``), then
        apply the reference's D5/D6 policy on the returned status rows.

        A replayed micro-batch (after a RecoverableError aborted a previous
        attempt) must not re-POST batches that already got a 2xx or were
        DLQ'd: the reference only retains un-acked samples
        (write.go:208-236). batch_seq is deterministic per epoch (a sort
        within each tenant), so the pass skips settled batches; poison
        (to ``poison_dir``), successes and DLQs all settle before any
        RecoverableError raises."""
        statuses = post_batches_distributed(
            batch_df,
            self.url,
            user_agent=self.user_agent,
            post_fn=self.post_fn,
            send_timeout_s=self.send_timeout_s,
            batch_size=self.batch_size,
            settled=self._settled_pairs(epoch_id),
        )
        poison = [s[5] for s in statuses if s[1] == POISON_SEQ]
        if poison:  # B9: log+ack+skip => park the payloads, keep going
            self._poison_write(poison_dir, epoch_id, poison)
        recoverable = []
        for tenant_id, batch_seq, status, n, elapsed, body in statuses:
            if batch_seq == POISON_SEQ:
                continue
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
    """Wire the consume stream: parse -> sink, which parks poison in
    ``poison_dir``. Returns the query.

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
            .dropDuplicatesWithinWatermark(["tenant_id", "labels_json", "timestamp"])
            .drop("event_ts")
        )
        parsed = good.unionByName(parsed.filter(F.col("timestamp").isNull()))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # one action per micro-batch: a second one would re-run the whole
        # upstream plan, including the stateful dedup subtree
        sink(batch_df, epoch_id, poison_dir)

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
    batch_size: int = DEFAULT_BATCH_SIZE,
    settled=frozenset(),
) -> list:
    """D2 fan-out on EXECUTORS, one grouped pass per micro-batch like the
    reference's per-tenant loop (write.go:115-242). A tenant's samples are
    one pandas frame, sorted by (timestamp, labels_json, value) and cut
    into ``batch_size`` chunks, ``batch_seq = i // batch_size``; each chunk
    not in ``settled`` (a set of (tenant, batch_seq)) is encoded with
    name-sorted labels (B3) and POSTed. ``batch_df`` needs (tenant_id,
    timestamp, value, labels_json), plus ``payload`` if it holds poison.
    ``post_fn`` must be picklable; default is a per-worker
    ``requests.Session`` (A5).

    Returns [(tenant_id, batch_seq, status, n_samples, elapsed_s, body)]
    sorted by (tenant, batch), so a partially-failed attempt settles the
    same prefix on every replay. ``body`` is the exact bytes POSTed when
    the receiver answered 4xx (the DLQ copy), else None. A poison row
    (null timestamp) returns ``(tenant_id, POISON_SEQ, 0, 0, 0.0,
    payload as UTF-8 bytes)``.
    """
    import pandas as pd

    post = post_fn or (
        lambda u, body, headers: worker_client(u)
        .post(u, data=body, headers=headers, timeout=send_timeout_s)
        .status_code
    )
    # only a poison row carries its payload into the shuffle
    payload = F.col("payload") if "payload" in batch_df.columns else F.lit(None)
    # an explicit partition count: adaptive execution would coalesce the
    # small shuffle into one task and POST every tenant's batches in series
    n_parts = int(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    poison_payload = F.when(F.col("timestamp").isNull(), payload).cast("string")
    samples = batch_df.select(
        "tenant_id", "timestamp", "value", "labels_json", poison_payload.alias("payload")
    ).repartition(n_parts, "tenant_id")
    columns = ["tenant_id", "batch_seq", "status", "n_samples", "elapsed_s", "body"]
    out_schema = (
        "tenant_id string, batch_seq long, status int, n_samples int, "
        "elapsed_s double, body binary"
    )

    def _tenant(pdf: pd.DataFrame) -> pd.DataFrame:
        tenant_id = pdf["tenant_id"].iloc[0]
        is_poison = pdf["timestamp"].isna()
        rows = [
            (tenant_id, POISON_SEQ, 0, 0, 0.0, None if p is None else p.encode())
            for p in pdf["payload"][is_poison]
        ]
        good = pdf[~is_poison].sort_values(["timestamp", "labels_json", "value"])
        labels = {
            lj: [{"name": k, "value": v} for k, v in sorted(json.loads(lj).items())]
            for lj in set(good["labels_json"])
        }
        stamps = good["timestamp"].astype("int64").tolist()
        series = [
            {"labels": labels[lj], "samples": [{"value": v, "timestamp": t}]}
            for t, v, lj in zip(stamps, good["value"], good["labels_json"])
        ]
        headers = {
            "Content-Encoding": "snappy",
            "Content-Type": "application/x-protobuf",
            "User-Agent": user_agent,
        }
        if tenant_id:
            headers["X-Scope-OrgID"] = tenant_id  # reference write.go:83-94
        for start in range(0, len(series), batch_size):
            batch_seq = start // batch_size
            if (tenant_id or "", batch_seq) in settled:
                continue
            chunk = series[start : start + batch_size]
            body = prompb.encode_body(chunk)
            t0 = time.perf_counter()
            try:
                status = int(post(url, body, headers))
            except Exception:
                status = 599  # transport error -> recoverable
            elapsed = time.perf_counter() - t0
            rejected = body if 400 <= status < 500 else None
            rows.append((tenant_id, batch_seq, status, len(chunk), elapsed, rejected))
        return pd.DataFrame(rows, columns=columns)

    statuses = samples.groupBy("tenant_id").applyInPandas(_tenant, out_schema).collect()
    return sorted(map(tuple, statuses), key=lambda r: (r[0] or "", r[1]))
