"""The consume pipeline (reference pkg/app/consume.go + pkg/remote/write.go)
as a Structured Streaming job.

Reference flow: Pulsar KeyShared consumer -> deserialize (skip poison with
ack) -> per-tenant batch (size 100 OR 5 s) -> sorted-label WriteRequest ->
snappy -> POST with X-Scope-OrgID -> ack / retry(recoverable, with global
backpressure) / drop(unrecoverable).

Spark mapping:
  readStream(payload files)        # A3; checkpoint == ack bookkeeping
    -> foreachBatch(RemoteWriteSink), one Spark action per micro-batch:
         post_batches_distributed  # repartition on the payload's tenant
                                   # + groupBy(tenant_id).applyInPandas;
                                   # per tenant: unmarshal (C4), sort,
                                   # cut batch_size chunks (D1), sort
                                   # labels (B3), encode (A4), POST (D2)
         poison rows        -> <poison_dir>/epoch=<id>-query=<query id>.json (B9)
         recoverable error  -> raise => micro-batch replayed (D5):
                               checkpoint does not advance, intake halts
         unrecoverable      -> the rejected body to a DLQ file + continue
                               (D6): ack-and-drop

There is one delivery path. Per-tenant requests within a micro-batch are
independent HTTP calls made where the data is, so a 1000-executor cluster
fans out exactly like the reference's per-tenant goroutines -- but
partitioned, not single-threaded. Only small status rows (plus the body of
a rejected batch, or a poison payload) come back to the driver.

Cadence: a continuous query triggers every ``trigger_interval_ms`` (1 s
from ``app.run``, the same cadence produce polls at) and ships every
sample it holds, so an under-size batch waits at most one trigger. The
reference instead holds a tenant's under-size batch until its 5 s
BatchMaxDelay (write.go:59-77); carrying that remainder in state would
make about half of live samples wait the full 5 s, so here the delay is
an upper bound, not a wait.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.serializers import deserialize, resolve_unmarshaler
from ..operators.metrics import DeliveryMetrics
from ..sources import prompb
from .. import __version__
from . import TRIGGER_INTERVAL_MS, replace_file, start_query, worker_cached
from .batcher import DEFAULT_BATCH_SIZE

#: the User-Agent header of every remote-write POST
USER_AGENT = f"prometheus-pulsar-remote-write-spark/{__version__}"

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
    """C4 + B9: deserialize payloads; poison rows keep payload for the DLQ.

    Delivery parses inside its per-tenant pass; this upstream parse serves
    only ``dedup_within`` (its key and event time) and the wire
    benchmark's traced probe."""
    parsed = deserialize(messages, fmt, keep_cols=["payload"])
    return parsed.withColumn("labels_json", F.to_json(F.col("labels")))


#: bytes in a file name on common file systems (ext4, xfs, tmpfs)
_NAME_MAX = 255


def _escape_tenant(tenant: str) -> str:
    return tenant.replace("%", "%25").replace("/", "%2F").replace("\0", "%00")


def _dlq_name(query_id: str, epoch_id: int, tenant_id: str, batch_seq) -> str:
    """``tenant=<t>-epoch=<e>-batch=<b>-query=<query id>.bin``.

    Only ``%``, ``/`` and NUL in the tenant are percent-escaped, so every
    tenant string names its own file (``""`` stays empty) and
    ``urllib.parse.unquote`` reads it back; escaping every non-ASCII byte
    would triple its length against the 255-byte name limit. A name over
    that limit keeps the longest prefix of whole escaped characters that
    fits, then ``%%`` and 32 hex digits of the full tenant's SHA-256. An
    escaped tenant holds no ``%%`` (each ``%`` there starts ``%25``,
    ``%2F`` or ``%00``), so a shortened name never equals a full one."""
    tail = f"-epoch={epoch_id}-batch={batch_seq}-query={query_id}.bin"
    name = f"tenant={_escape_tenant(tenant_id)}{tail}"
    if len(name.encode()) <= _NAME_MAX:
        return name
    digest = hashlib.sha256(tenant_id.encode()).hexdigest()[:32]
    room = _NAME_MAX - len(f"tenant=%%{digest}{tail}".encode())
    prefix = ""
    for ch in tenant_id:
        piece = _escape_tenant(ch)
        room -= len(piece.encode())
        if room < 0:
            break
        prefix += piece
    return f"tenant={prefix}%%{digest}{tail}"


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

    ``metrics`` holds the delivery counters (received/sent/failed samples
    per tenant, retries, POST durations). The replay ledger is one file
    per streaming query, ``<dlq_dir>/_sent_ledger/<query id>.json``,
    holding the (tenant, batch_seq) pairs the query's latest epoch
    settled.
    """

    url: str
    dlq_dir: str
    post_fn: object = None
    batch_size: int = 100
    send_timeout_s: float = 30.0  # reference --send-timeout (consume.go:40-41)
    metrics: DeliveryMetrics = field(default_factory=DeliveryMetrics)

    def _dlq_write(
        self, query_id: str, epoch_id: int, tenant_id: str, batch_seq, body: bytes
    ) -> None:
        """D6: the rejected body, one flat file per (tenant, epoch, batch,
        query), named by ``_dlq_name`` and written whole or not at all."""
        name = _dlq_name(query_id, epoch_id, tenant_id, batch_seq)
        replace_file(os.path.join(self.dlq_dir, name), body)

    def _poison_write(
        self, poison_dir: str, query_id: str, epoch_id: int, payloads: list
    ) -> None:
        """B9: one ``{"payload": ...}`` line per poison message, in one file
        per (epoch, query) that a replay replaces whole."""
        lines = (
            json.dumps({"payload": None if p is None else p.decode()}) + "\n"
            for p in payloads
        )
        path = os.path.join(poison_dir, f"epoch={epoch_id}-query={query_id}.json")
        replace_file(path, "".join(lines).encode())

    def __call__(
        self, batch_df: DataFrame, epoch_id: int, poison_dir: str, fmt: str = "json"
    ) -> None:
        """Parse, encode and POST on the executors
        (``post_batches_distributed``, payloads unmarshalled with ``fmt``),
        then apply the reference's D5/D6 policy on the returned status rows.

        A replayed micro-batch (after a RecoverableError aborted a previous
        attempt) must not re-POST batches that already got a 2xx or were
        DLQ'd: the reference only retains un-acked samples
        (write.go:208-236). batch_seq is deterministic per epoch (a sort
        within each tenant), so the pass skips the pairs this query's
        ledger file settled, and only when the file's epoch is this one:
        Spark commits epoch N before it starts N+1. Poison (to
        ``poison_dir``) is written first; then the ledger file is replaced
        once with every pair settled so far, successes and DLQs alike,
        before any RecoverableError raises."""
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        if query_id is None:
            raise ValueError("RemoteWriteSink must run inside a streaming query")
        ledger = os.path.join(self.dlq_dir, "_sent_ledger", f"{query_id}.json")
        settled = set()
        if os.path.exists(ledger):
            with open(ledger, encoding="utf-8") as fh:
                prior = json.load(fh)
            if prior["epoch"] == epoch_id:
                settled = {(t, b) for t, b in prior["settled"]}
        statuses = post_batches_distributed(
            batch_df,
            self.url,
            fmt=fmt,
            post_fn=self.post_fn,
            send_timeout_s=self.send_timeout_s,
            batch_size=self.batch_size,
            settled=settled,
        )
        poison = [s[5] for s in statuses if s[1] == POISON_SEQ]
        if poison:  # B9: log+ack+skip => park the payloads, keep going
            self._poison_write(poison_dir, query_id, epoch_id, poison)
        recoverable = []
        for tenant_id, batch_seq, status, n, elapsed, body in statuses:
            if batch_seq == POISON_SEQ:
                continue
            self.metrics.count_received(tenant_id, n)
            self.metrics.observe_duration(elapsed, tenant_id)
            if status >= 500:  # D5 (599 = transport error)
                recoverable.append((tenant_id, batch_seq, status))
                continue
            if status >= 400:  # D6: the rejected body itself goes to the DLQ
                self._dlq_write(query_id, epoch_id, tenant_id, batch_seq, body)
                self.metrics.count_failed(tenant_id, n)
            else:
                self.metrics.count_sent(tenant_id, n)
            settled.add((tenant_id, batch_seq))
        ledger_json = json.dumps({"epoch": epoch_id, "settled": sorted(settled)})
        replace_file(ledger, ledger_json.encode())
        if recoverable:
            t, b, code = recoverable[0]
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
    trigger_interval_ms: int = TRIGGER_INTERVAL_MS,
    source: DataFrame | None = None,
    dedup_within: str | None = None,
):
    """Wire the consume stream: the raw messages go to the sink, whose one
    per-tenant pass parses, batches and POSTs them and parks poison in
    ``poison_dir``. Returns the query.

    ``trigger_interval_ms`` bounds the reference's consume batch-max-delay
    (app.go:36-38) from above: each micro-batch ships every sample it
    holds, so an under-size per-tenant batch waits at most one trigger
    interval. ``app.run`` passes min(batch max delay, 1 s), the cadence
    continuous produce polls at.

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
    messages = source if source is not None else read_payload_stream(spark, in_dir)
    if dedup_within is not None:
        # the dedup key and event time need a parse before the state
        # store; delivery still parses the surviving payloads itself
        parsed = parse_samples(messages, fmt)
        good = (
            parsed.filter(F.col("timestamp").isNotNull())
            .withColumn("event_ts", F.timestamp_millis(F.col("timestamp")))
            .withWatermark("event_ts", dedup_within)
            .dropDuplicatesWithinWatermark(["tenant_id", "labels_json", "timestamp"])
            .drop("event_ts")
        )
        messages = good.unionByName(parsed.filter(F.col("timestamp").isNull()))

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # one action per micro-batch: a second one would re-run the whole
        # upstream plan, including the stateful dedup subtree
        sink(batch_df, epoch_id, poison_dir, fmt)

    writer = messages.writeStream.foreachBatch(process)
    return start_query(
        writer, poison_dir, checkpoint_dir, trigger_once, trigger_interval_ms
    )


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

def _http_session():
    import requests

    return requests.Session()


def post_batches_distributed(
    batch_df: DataFrame,
    url: str,
    post_fn=None,
    send_timeout_s: float = 30.0,
    batch_size: int = DEFAULT_BATCH_SIZE,
    settled=frozenset(),
    fmt: str = "json",
) -> list:
    """D2 fan-out on EXECUTORS, one grouped pass per micro-batch like the
    reference's per-tenant loop (write.go:115-242).

    ``batch_df`` holds bus messages: its ``payload`` column is all the pass
    reads. The shuffle keys each message on the payload's tenant as the JVM
    reads it, ``coalesce(get_json_object(payload, '$.tenant_id'), '')``,
    which is what the ``fmt`` unmarshaler returns for a well-formed
    payload. Per tenant, each payload is unmarshalled (C4); one that fails
    or names another tenant is poison (B9).
    The samples are sorted by (timestamp, labels_json, value) and cut into
    ``batch_size`` chunks, ``batch_seq = i // batch_size``; each chunk not
    in ``settled`` (a set of (tenant, batch_seq)) is encoded with
    name-sorted labels (B3) and POSTed. ``post_fn`` must be picklable;
    default is a per-worker ``requests.Session`` (A5).

    Returns [(tenant_id, batch_seq, status, n_samples, elapsed_s, body)]
    sorted by (tenant, batch), so a partially-failed attempt settles the
    same prefix on every replay. ``body`` is the exact bytes POSTed when
    the receiver answered 4xx (the DLQ copy), else None. A poison message
    returns ``(tenant_id, POISON_SEQ, 0, 0, 0.0, payload as UTF-8 bytes)``.
    """
    import pandas as pd

    post = post_fn or (
        lambda u, body, headers: worker_cached(("http", u), _http_session)
        .post(u, data=body, headers=headers, timeout=send_timeout_s)
        .status_code
    )
    unmarshal = resolve_unmarshaler(fmt)
    # an explicit partition count: adaptive execution would coalesce the
    # small shuffle into one task and POST every tenant's batches in series
    n_parts = int(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if "payload" in batch_df.columns:
        tenant = F.coalesce(F.get_json_object("payload", "$.tenant_id"), F.lit(""))
        messages = batch_df.select(tenant.alias("tenant_id"), "payload")
    else:
        # an already-parsed frame (tenant_id, timestamp, value, labels_json):
        # only the wire benchmark's traced probe passes one. This branch goes
        # with parse_samples and microbatch_batches once that probe times
        # the raw-message pass.
        messages = batch_df.select("tenant_id", "timestamp", "value", "labels_json")
    messages = messages.repartition(n_parts, "tenant_id")
    columns = ["tenant_id", "batch_seq", "status", "n_samples", "elapsed_s", "body"]
    out_schema = (
        "tenant_id string, batch_seq long, status int, n_samples int, "
        "elapsed_s double, body binary"
    )

    def _tenant(pdf: pd.DataFrame) -> pd.DataFrame:
        tenant_id = pdf["tenant_id"].iloc[0]
        rows = []
        if "payload" not in pdf:  # the probe's parsed frame
            good = pdf
            labels = {lj: json.loads(lj) for lj in set(good["labels_json"])}
        else:
            labels, samples = {}, []
            for payload in pdf["payload"]:
                try:
                    ts, value, lbl, ten = unmarshal(payload)
                    if ten != tenant_id:  # e.g. a repeated tenant_id key
                        raise ValueError("payload names another tenant")
                    # parse_samples' to_json renders labels the same, except
                    # that it writes a \u00XX escape in uppercase hex; the
                    # two cases sort any two label sets alike
                    lj = json.dumps(lbl, separators=(",", ":"), ensure_ascii=False)
                except Exception:  # B9: anything unparseable is poison, not fatal
                    payload = None if payload is None else payload.encode()
                    rows.append((tenant_id, POISON_SEQ, 0, 0, 0.0, payload))
                    continue
                labels.setdefault(lj, lbl)
                samples.append((ts, lj, value))
            good = pd.DataFrame(samples, columns=["timestamp", "labels_json", "value"])
        good = good.sort_values(["timestamp", "labels_json", "value"])
        entries = {
            lj: [{"name": k, "value": v} for k, v in sorted(lbl.items())]
            for lj, lbl in labels.items()
        }
        stamps = good["timestamp"].astype("int64").tolist()
        series = [
            {"labels": entries[lj], "samples": [{"value": v, "timestamp": t}]}
            for t, v, lj in zip(stamps, good["value"], good["labels_json"])
        ]
        headers = {
            "Content-Encoding": "snappy",
            "Content-Type": "application/x-protobuf",
            "User-Agent": USER_AGENT,
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

    statuses = messages.groupBy("tenant_id").applyInPandas(_tenant, out_schema).collect()
    return sorted(map(tuple, statuses), key=lambda r: (r[0] or "", r[1]))
