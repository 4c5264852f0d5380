#!/usr/bin/env python
"""End-to-end drive of the whole engine on real wire bytes AND real sockets.

The reference's two dataflows, run back-to-back through this repo's
public API on a temp directory, with live HTTP on BOTH edges:

  1. PRODUCE: snappy(protobuf(WriteRequest)) bodies (built from testdata
     events with ``prompb.encode_body``) are POSTed over HTTP to the
     engine's remote-write listener (A1 transport, Basic Auth tenants) ->
     spool -> streaming decode (A1) -> flatten (B1) -> tenant (B4) -> FNV
     partition key (B8) -> C1 JSON payloads -> bus sink (A2).
  2. CONSUME: the produced messages -> one per-tenant pass that
     deserializes (C4), parks poison (B9), cuts batches (D1/D2), sorts labels
     (B3) and POSTs snappy(prompb) bodies (A4, executor-side, REAL
     urllib over a socket) to a local downstream remote-write receiver
     that decodes each body and counts delivered samples per
     X-Scope-OrgID tenant.

Usage: python scripts/demo_pipeline.py
"""

from __future__ import annotations

import base64
import json
import os
import sys
import tempfile
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prometheus_pulsar_remote_write_spark.schema import load_tables
from prometheus_pulsar_remote_write_spark.session import get_spark
from prometheus_pulsar_remote_write_spark.sources import prompb
from prometheus_pulsar_remote_write_spark.sources.http_listener import (
    RemoteWriteListener,
)
from prometheus_pulsar_remote_write_spark.streaming.consume import (
    RemoteWriteSink,
    run_consume_pipeline,
)
from prometheus_pulsar_remote_write_spark.streaming.produce import run_produce_pipeline

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


class _Downstream:
    """A real remote-write receiving endpoint: decodes snappy+prompb and
    tallies samples per tenant. What Cortex/Mimir does at /api/v1/push."""

    def __init__(self):
        self.received: dict = {}
        self.posts = 0
        self._lock = threading.Lock()
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                body = self.rfile.read(n)
                req = prompb.decode_body(body)
                tenant = self.headers.get("X-Scope-OrgID", "")
                n_samples = sum(len(ts["samples"]) for ts in req["timeseries"])
                with outer._lock:
                    outer.posts += 1
                    outer.received[tenant] = outer.received.get(tenant, 0) + n_samples
                self.send_response(200)
                self.end_headers()

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        host, port = self._server.server_address
        self.url = f"http://{host}:{port}/api/v1/push"

    def stop(self):
        self._server.shutdown()
        self._server.server_close()


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="demo-pipeline-")
    drop, bus, poison, dlq = (
        os.path.join(work, d) for d in ("drop", "bus", "poison", "dlq")
    )

    # --- ingest: POST remote-write bodies at the engine's HTTP edge ---------
    listener = RemoteWriteListener(drop)
    host, port = listener.start()
    ev = load_tables(spark, SF_DIR, ["events"])["events"].limit(200).collect()
    n_posted = 0
    for tenant in ("tenant-a", "tenant-b"):
        timeseries = [
            {
                "labels": [
                    {"name": "__name__", "value": r["event_type"]},
                    {"name": "user", "value": str(r["user_id"])},
                ],
                "samples": [
                    {
                        "value": r["value"],
                        "timestamp": int(r["ts"].timestamp() * 1000),
                    }
                ],
            }
            for r in ev
            if (r["user_id"] % 2 == 0) == (tenant == "tenant-a")
        ]
        wire = prompb.encode_body(timeseries)
        auth = base64.b64encode(f"{tenant}:pw".encode()).decode()
        urllib.request.urlopen(
            urllib.request.Request(
                f"http://{host}:{port}/write",
                data=wire,
                headers={"Authorization": f"Basic {auth}"},
            )
        )
        n_posted += 1
    listener.stop()
    print(f"ingest: {n_posted} HTTP POSTs ({len(ev)} samples) at the A1 listener")

    # --- produce ------------------------------------------------------------
    run_produce_pipeline(spark, drop, bus, trigger_once=True).awaitTermination(120)
    produced = spark.read.json(os.path.join(bus, "epoch=*"))
    print(f"produce: {produced.count()} messages on the bus; sample payload:")
    print("  " + produced.select("payload").first()["payload"][:120])

    # --- consume ------------------------------------------------------------
    downstream = _Downstream()
    # post_fn=None -> the REAL urllib POST path, executed on the executors
    sink = RemoteWriteSink(url=downstream.url, dlq_dir=dlq, post_fn=None, batch_size=50)
    run_consume_pipeline(
        spark, os.path.join(bus, "epoch=0"), sink, poison
    ).awaitTermination(120)
    downstream.stop()
    print(
        f"consume: {downstream.posts} real HTTP POSTs downstream, "
        "samples per tenant: " + json.dumps(downstream.received, sort_keys=True)
    )
    assert sum(downstream.received.values()) == produced.count()
    print("round-trip complete: every produced sample delivered over live HTTP")
    spark.stop()


if __name__ == "__main__":
    main()
