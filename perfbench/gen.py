"""Seeded load generator, downstream remote-write receiver and the
statistics helpers of the wire benchmark.

Bodies are compressed with pyarrow's snappy, which emits block format with
back-references, as Prometheus' Go snappy does; the repo's own
``snappy_codec.compress`` writes literals only, on which decompression is
two orders of magnitude cheaper than on a real sender's body.

Sample timestamps are ``BASE_MS`` plus the sample's offset on the
workload's schedule, so the bytes depend on the seed alone. The harness
maps a timestamp back to a wall clock time by adding the moment its
schedule started.
"""

from __future__ import annotations

import hashlib
import math
import random
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa

from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec

BASE_MS = 1_700_000_000_000
# Prometheus' remote_write queue_config default: a shard sends a body once
# it holds this many samples, or when batch_send_deadline (5 s) passes
MAX_SAMPLES_PER_SEND = 2000
# the scrape interval of Prometheus' example configuration
SCRAPE_INTERVAL_S = 15
_SNAPPY = pa.Codec("snappy")
_METRICS = [
    "http_requests_total",
    "http_request_duration_seconds_bucket",
    "process_cpu_seconds_total",
    "node_memory_Active_bytes",
    "go_goroutines",
    "up",
]


@dataclass
class Body:
    """One remote-write request: its tenant, its samples as
    (labels, timestamp_ms, value) and its wire bytes."""

    tenant: str
    samples: list
    wire: bytes
    offset_s: float = 0.0  # scheduled send time from the schedule's start
    corrupt: bool = False


def _series_pool(rng: random.Random, tenant: str, n: int) -> list:
    """Label sets of ``n`` series, ~7 labels each, ``__replica__``
    included."""
    return [
        {
            "__name__": _METRICS[i % len(_METRICS)],
            "job": f"job-{i % 5}",
            "instance": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{i % 250}:9100",
            "cluster": f"{tenant}-c{i % 3}",
            "env": ("prod", "staging")[i % 2],
            "series": str(i),
            "__replica__": f"replica-{i % 2}",
        }
        for i in range(n)
    ]


def encode(tenant: str, samples: list, corrupt: bool = False) -> Body:
    """Encode (labels, ts, value) samples as one snappy(prompb) body, one
    time series per sample. A corrupt body claims one byte more in its
    snappy preamble than it holds, so every decoder must refuse it."""
    req = {
        "timeseries": [
            {
                "labels": [{"name": k, "value": v} for k, v in sorted(labels.items())],
                "samples": [{"value": value, "timestamp": ts}],
            }
            for labels, ts, value in samples
        ]
    }
    raw = prompb.encode_write_request(req)
    wire = _SNAPPY.compress(raw, asbytes=True)
    if corrupt:
        n, pos = _varint(wire)
        wire = _write_varint(n + 1) + wire[pos:]
    return Body(tenant, samples, wire, corrupt=corrupt)


def _varint(data: bytes) -> tuple[int, int]:
    result = shift = pos = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


class Backlog:
    """Max-size bodies for the catch-up workload, round-robin over
    tenants. Each tenant's queue replays its scrapes in order, and a body
    is cut every ``MAX_SAMPLES_PER_SEND`` samples, so one body holds the
    next 2,000 (scrape, series) samples of one tenant. One instance draws
    every body of a run, so no sample repeats across calls."""

    def __init__(self, seed: int, tenants: int = 4, series: int = 1000):
        self.rng = random.Random(seed)
        self.names = [f"tenant-{i}" for i in range(tenants)]
        self.pools = {t: _series_pool(self.rng, t, series) for t in self.names}
        self.cursor = dict.fromkeys(self.names, 0)  # samples sent per tenant
        self.drawn = 0

    def bodies(self, n: int) -> list:
        out = []
        for _ in range(n):
            t = self.names[self.drawn % len(self.names)]
            self.drawn += 1
            pool, first = self.pools[t], self.cursor[t]
            samples = []
            for k in range(first, first + MAX_SAMPLES_PER_SEND):
                scrape, i = divmod(k, len(pool))
                ts = BASE_MS + scrape * SCRAPE_INTERVAL_S * 1000
                samples.append((pool[i], ts, round(self.rng.uniform(0, 1e6), 3)))
            self.cursor[t] = first + MAX_SAMPLES_PER_SEND
            out.append(encode(t, samples))
        return out


def zipf_weights(n: int, s: float = 1.1) -> list:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    total = sum(w)
    return [x / total for x in w]


def live_schedule(
    seed: int,
    rate: float,
    seconds: float,
    tenants: int = 64,
    max_series: int = 200,
    corrupt_every: int = 50,
    prefix: str = "fleet",
) -> list:
    """Open-loop schedule: a request every 1/rate seconds from a tenant
    drawn with Zipf weights. A tenant scrapes 1..max_series series and
    each request is one scrape of them, one sample per series, stamped
    with its scheduled send time: a scrape below ``MAX_SAMPLES_PER_SEND``
    samples leaves as one body at the next batch-send deadline. The series
    counts and the request order are the same for every seed, so every
    seed offers the same load, request by request; the seed draws the
    labels and values. Every ``corrupt_every``-th body is corrupt snappy."""
    rng = random.Random(seed)
    fleet = random.Random(0)
    names = [f"{prefix}-{i:02d}" for i in range(tenants)]
    weights = zipf_weights(tenants)
    pools = {t: _series_pool(rng, t, fleet.randint(1, max_series)) for t in names}
    out = []
    for i in range(int(rate * seconds)):
        offset = i / rate
        t = fleet.choices(names, weights)[0]
        ts = BASE_MS + int(offset * 1000)
        samples = [(labels, ts, round(rng.uniform(0, 1e6), 3)) for labels in pools[t]]
        body = encode(t, samples, corrupt=(i % corrupt_every == corrupt_every - 1))
        body.offset_s = offset
        out.append(body)
    return out


# -- output checks -------------------------------------------------------------


def sample_id(tenant: str, labels, ts: int) -> int:
    """64-bit identity of one sample: tenant, sorted labels, timestamp."""
    items = sorted(labels.items()) if isinstance(labels, dict) else sorted(labels)
    h = hashlib.blake2b(digest_size=8)
    h.update(tenant.encode())
    for k, v in items:
        h.update(b"\x00" + k.encode() + b"\x01" + v.encode())
    h.update(b"\x02" + str(ts).encode())
    return int.from_bytes(h.digest(), "little")


@dataclass
class Fingerprint:
    """Count plus order-insensitive sum of per-sample hashes over
    (tenant, sorted labels, timestamp, value)."""

    count: int = 0
    total: int = 0

    def add(self, sid: int, value: float) -> None:
        h = hashlib.blake2b(
            sid.to_bytes(8, "little") + repr(float(value)).encode(), digest_size=8
        )
        self.count += 1
        self.total = (self.total + int.from_bytes(h.digest(), "little")) % (1 << 64)


def expected_fingerprint(bodies) -> Fingerprint:
    fp = Fingerprint()
    for b in bodies:
        if not b.corrupt:
            for labels, ts, value in b.samples:
                fp.add(sample_id(b.tenant, labels, ts), value)
    return fp


class Receiver:
    """Downstream remote-write endpoint: keeps every POST with its arrival
    time, and on ``settle()`` decodes them, records each sample's arrival
    time and value by identity, and keeps the running fingerprint. The
    decoding waits for ``settle()`` so the receiver takes little CPU from
    the SUT while it runs. POSTs to ``/probe`` are answered and counted
    apart."""

    def __init__(self):
        self._lock = threading.Lock()
        self._pending: list = []  # (tenant, body, arrival) not decoded yet
        self.fp = Fingerprint()
        self.arrivals: dict = {}  # sample id -> [count, value, first arrival]
        self.posts = 0
        self.samples = 0
        self.bytes = 0
        self.probe_posts = 0
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
                now = time.time()
                if self.path == "/probe":
                    with outer._lock:
                        outer.probe_posts += 1
                else:
                    outer._record(self.headers.get("X-Scope-OrgID", ""), body, now)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = "http://127.0.0.1:%d" % self._server.server_address[1]

    def _record(self, tenant: str, body: bytes, now: float) -> None:
        with self._lock:
            self._pending.append((tenant, body, now))
            self.posts += 1
            self.bytes += len(body)

    def settle(self) -> None:
        """Decode every POST received so far."""
        with self._lock:
            pending, self._pending = self._pending, []
        for tenant, body, now in pending:
            req = prompb.decode_write_request(snappy_codec.decompress(body))
            for ts in req["timeseries"]:
                labels = {l["name"]: l["value"] for l in ts["labels"]}
                for s in ts["samples"]:
                    sid = sample_id(tenant, labels, s["timestamp"])
                    self.fp.add(sid, s["value"])
                    self.samples += 1
                    seen = self.arrivals.get(sid)
                    if seen is None:
                        self.arrivals[sid] = [1, s["value"], now]
                    else:
                        seen[0] += 1

    def reset(self) -> None:
        with self._lock:
            self._pending = []
            self.fp = Fingerprint()
            self.arrivals = {}
            self.posts = self.samples = self.bytes = 0

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)


def failed_bodies(bodies, receiver: Receiver) -> list:
    """Valid bodies whose samples did not all arrive exactly once with
    their exact values."""
    bad = []
    for b in bodies:
        if b.corrupt:
            continue
        for labels, ts, value in b.samples:
            seen = receiver.arrivals.get(sample_id(b.tenant, labels, ts))
            if seen is None or seen[0] != 1 or seen[1] != value:
                bad.append(b)
                break
    return bad


# -- statistics ------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < q <= 1)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when a sample of ``n`` leaves at least ``beyond`` values above
    the q-th percentile."""
    return n - math.ceil(q * n) >= beyond


def median(values) -> float:
    xs = sorted(values)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


@dataclass
class Spans:
    """In-memory trace: one record per harness call into a layer."""

    run_id: str
    records: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def span(self, name: str):
        spans = self

        class _Span:
            def __enter__(self):
                self.rec = {
                    "name": name,
                    "run": spans.run_id,
                    "parent": spans._stack[-1]["id"] if spans._stack else None,
                    "id": len(spans.records),
                    "start": time.time(),
                }
                spans.records.append(self.rec)
                spans._stack.append(self.rec)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                spans._stack.pop()

        return _Span()
