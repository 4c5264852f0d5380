"""The A1 transport (SURVEY.md §2.A): the HTTP remote-write listener
that spools real POSTs into the drop directory the produce pipeline
reads, and its ops surface (/ready, the telemetry path, the
max-connection-age middleware).
"""

from __future__ import annotations

import pytest

from prometheus_pulsar_remote_write_spark.sources import prompb


def test_http_listener_bridges_posts_into_blob_source(spark, tmp_path):
    """A1 transport end-to-end: real HTTP remote-write POSTs (Basic Auth /
    X-Scope-OrgID / anonymous tenants, reference handlers.go semantics)
    land in the blob spool, the produce edge reads them with the drop
    source's binaryFile options and publishes each under its tenant (an
    anonymous POST under ""), and a poison body is refused with 400 and
    never spooled."""
    import base64
    import json
    import urllib.request
    from collections import Counter

    from prometheus_pulsar_remote_write_spark.sources import snappy_codec
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        produce_transform,
    )

    spool = str(tmp_path / "spool")
    listener = RemoteWriteListener(spool)
    host, port = listener.start()

    def body(name, n):
        req = {
            "timeseries": [
                {
                    "labels": [{"name": "__name__", "value": name}],
                    "samples": [
                        {"value": float(i), "timestamp": 1000 + i} for i in range(n)
                    ],
                }
            ]
        }
        return snappy_codec.compress(prompb.encode_write_request(req))

    def post(data, headers=None, path="/write"):
        r = urllib.request.Request(
            f"http://{host}:{port}{path}", data=data, headers=headers or {}
        )
        try:
            return urllib.request.urlopen(r).status
        except urllib.error.HTTPError as e:
            return e.code

    auth = {"Authorization": "Basic " + base64.b64encode(b"tenant-a:pw").decode()}
    assert post(body("m1", 3), auth) == 200
    assert post(body("m2", 2), {"X-Scope-OrgID": "tenant-b"}) == 200
    assert post(body("m3", 1)) == 200  # anonymous
    assert post(b"not snappy at all") == 400
    # valid snappy around a request cut short inside a sample
    truncated = snappy_codec.decompress(body("m5", 1))[:-3]
    assert post(snappy_codec.compress(truncated)) == 400
    assert post(body("m4", 1), path="/nope") == 404
    assert listener.accepted == 3 and listener.rejected == 2
    assert listener.accepted_by_tenant == {"tenant-a": 1, "tenant-b": 1, "": 1}
    listener.stop()

    bodies = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .load(spool)
    )
    rows = produce_transform(bodies).collect()
    assert {r.tenant_id for r in rows} == {"tenant-a", "tenant-b", ""}
    assert Counter(r.tenant_id for r in rows) == {"tenant-a": 3, "tenant-b": 2, "": 1}
    for r in rows:  # the JSON marshaler omits an empty tenant
        assert json.loads(r.payload).get("tenant_id", "") == r.tenant_id


def test_http_listener_rejects_repeated_label_name(tmp_path):
    """A series that repeats a label name gets a 400 and is never spooled:
    the produce edge cannot turn it into a label map."""
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    spool = tmp_path / "spool"
    listener = RemoteWriteListener(str(spool))
    host, port = listener.start()
    dup = {
        "labels": [{"name": "a", "value": "1"}, {"name": "a", "value": "2"}],
        "samples": [{"value": 1.0, "timestamp": 1000}],
    }
    r = urllib.request.Request(
        f"http://{host}:{port}/write",
        data=prompb.encode_body([dup]),
        headers={"X-Scope-OrgID": "tenant-a"},
    )
    try:
        status = urllib.request.urlopen(r).status
    except urllib.error.HTTPError as e:
        status = e.code
    listener.stop()
    assert status == 400
    assert listener.rejected == 1 and listener.accepted == 0
    assert not any(p.is_file() for p in spool.rglob("*"))


@pytest.mark.parametrize("length", ["abc", "-1", "missing"])
def test_http_listener_rejects_bad_content_length(tmp_path, length):
    """A missing, non-numeric or negative Content-Length gets a 400 at once,
    not a dropped connection or a read that waits for the client to close.
    Nothing is spooled, and the connection closes: the bytes after the
    headers (here a whole second request) are never served."""
    import socket

    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    spool = tmp_path / "spool"
    listener = RemoteWriteListener(str(spool))
    host, port = listener.start()
    header = "" if length == "missing" else f"Content-Length: {length}\r\n"
    try:
        with socket.create_connection((host, port), timeout=10) as sock:
            sock.sendall(
                (
                    "POST /write HTTP/1.1\r\n"
                    f"Host: {host}\r\n"
                    "X-Scope-OrgID: tenant-a\r\n"
                    f"{header}\r\n"
                    f"GET /metrics HTTP/1.1\r\nHost: {host}\r\n\r\n"
                ).encode()
            )
            received = b""
            while chunk := sock.recv(65536):  # until the listener closes
                received += chunk
    finally:
        listener.stop()
    status_lines = [l for l in received.split(b"\r\n") if l.startswith(b"HTTP/1.")]
    assert [l.split()[:2] for l in status_lines] == [[b"HTTP/1.1", b"400"]]
    assert listener.rejected == 1 and listener.accepted == 0
    assert not any(p.is_file() for p in spool.rglob("*"))


def _basic(user: str) -> str:
    import base64

    return "Basic " + base64.b64encode(f"{user}:pw".encode()).decode()


@pytest.mark.parametrize(
    "headers, tenant",
    [
        ({"Authorization": _basic("my-org-id")}, "my-org-id"),
        ({"X-Scope-OrgID": "header-org"}, "header-org"),
        ({"Authorization": _basic(""), "X-Scope-OrgID": "header-org"}, "header-org"),
        ({}, ""),
        ({"Authorization": _basic("user-org"), "X-Scope-OrgID": "header-org"}, "user-org"),
    ],
    ids=["basic-auth", "header", "empty-user-falls-back", "anonymous", "user-wins"],
)
def test_tenant_from_headers(headers, tenant):
    """B4 (reference pkg/context/handlers.go:29-40): the Basic Auth
    username, else X-Scope-OrgID, else ""."""
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        _tenant_from_headers,
    )

    assert _tenant_from_headers(headers) == tenant


def test_http_listener_rejects_traversal_tenants(tmp_path):
    """A hostile tenant string (Basic Auth username or X-Scope-OrgID) must
    not escape the spool: '../..'-style and absolute-path tenants get a
    400 and nothing is written outside the spool root."""
    import base64
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
        tenant_is_safe,
    )

    assert tenant_is_safe("tenant-a") and tenant_is_safe("T_1.x")
    bad_tenants = (
        "../../x", "a/b", "a\\b", "..", ".", "/abs", "", "x" * 129, "_foo", ".bar",
        "no-tenant",  # the anonymous spool dir: published with no tenant
    )
    for bad in bad_tenants:
        assert not tenant_is_safe(bad)

    spool = tmp_path / "nested" / "spool"
    outside = tmp_path / "nested" / "escaped"
    listener = RemoteWriteListener(str(spool))
    host, port = listener.start()
    body = snappy_codec.compress(
        prompb.encode_write_request(
            {
                "timeseries": [
                    {
                        "labels": [{"name": "__name__", "value": "m"}],
                        "samples": [{"value": 1.0, "timestamp": 1}],
                    }
                ]
            }
        )
    )

    def post(headers):
        r = urllib.request.Request(
            f"http://{host}:{port}/write", data=body, headers=headers
        )
        try:
            return urllib.request.urlopen(r).status
        except urllib.error.HTTPError as e:
            return e.code

    assert post({"X-Scope-OrgID": "../escaped"}) == 400
    assert post({"X-Scope-OrgID": "/tmp/escaped"}) == 400
    # a name Spark's file listing hides would be acked and never published
    assert post({"X-Scope-OrgID": "_foo"}) == 400
    # the anonymous spool dir's name would go downstream with no tenant
    assert post({"X-Scope-OrgID": "no-tenant"}) == 400
    assert (
        post(
            {"Authorization": "Basic " + base64.b64encode(b"../escaped:pw").decode()}
        )
        == 400
    )
    assert post({"X-Scope-OrgID": "tenant-ok"}) == 200
    listener.stop()

    assert not outside.exists()
    assert listener.rejected == 5 and listener.accepted == 1
    assert [p.name for p in spool.iterdir()] == ["tenant-ok"]


def test_http_listener_ops_endpoints(tmp_path):
    """A7 web/ops surface: GET /ready answers 200, GET /metrics serves a
    promlint-clean Prometheus exposition of the ingest counters (and the
    delivery families when a DeliveryMetrics is attached)."""
    import urllib.request

    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        DeliveryMetrics,
        lint_exposition,
    )
    from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    dm = DeliveryMetrics()
    dm.count_sent("tenant-a", 4)
    listener = RemoteWriteListener(str(tmp_path / "spool"), delivery_metrics=dm)
    host, port = listener.start()

    body = snappy_codec.compress(
        prompb.encode_write_request(
            {
                "timeseries": [
                    {
                        "labels": [{"name": "__name__", "value": "m"}],
                        "samples": [{"value": 1.0, "timestamp": 1}],
                    }
                ]
            }
        )
    )
    req = urllib.request.Request(
        f"http://{host}:{port}/write",
        data=body,
        headers={"X-Scope-OrgID": "tenant-a"},
    )
    assert urllib.request.urlopen(req).status == 200

    assert urllib.request.urlopen(f"http://{host}:{port}/ready").read() == b"ready\n"
    resp = urllib.request.urlopen(f"http://{host}:{port}/metrics")
    assert resp.headers["Content-Type"].startswith("text/plain")
    text = resp.read().decode()
    listener.stop()

    assert 'listener_accepted_requests_total{tenant="tenant-a"} 1' in text
    assert "listener_rejected_requests_total 0" in text
    assert 'sent_samples_total{remote="remote",tenant="tenant-a"} 4' in text
    assert (
        lint_exposition(
            text,
            names=[
                "listener_accepted_requests_total",
                "listener_rejected_requests_total",
                "sent_samples_total",
            ],
        )
        == []
    )


def test_max_connection_age_header_decision():
    """Pure middleware decision, the reference's fake-Clock scenarios
    verbatim (pkg/context/handlers_test.go:15-73): at connection start ->
    no header; +0.5s of a 1s cap -> no header; +1.001s -> Connection:
    close. Exactly-at-the-limit does not close (strictly-greater, like
    Go's time.After)."""
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        max_connection_age_headers,
    )

    t1 = 1577873472.0
    assert max_connection_age_headers(t1, t1, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 0.5, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 1.0, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 1.001, 1.0) == [
        ("Connection", "close")
    ]
    # unset cap: never closes (reference Default("0s") -> disabled)
    assert max_connection_age_headers(t1, t1 + 9999.0, None) == []


def test_max_connection_age_live_keepalive(tmp_path):
    """End-to-end over one kept-alive socket with an injected fake
    clock: requests inside the age window keep the connection open; the
    first response past the cap carries Connection: close and the server
    actually closes (reference pkg/app/server.go:58-66 LB-rebalance
    behavior)."""
    import http.client

    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    class FakeClock:
        def __init__(self, t):
            self.t = t

        def now(self):
            return self.t

    clk = FakeClock(1000.0)
    listener = RemoteWriteListener(
        str(tmp_path / "spool"), max_connection_age=1.0, clock=clk
    )
    host, port = listener.start()
    try:
        conn = http.client.HTTPConnection(host, port)
        conn.request("GET", "/ready")
        r1 = conn.getresponse()
        r1.read()
        assert r1.status == 200
        assert r1.getheader("Connection") is None

        clk.t = 1000.5  # inside the window: connection stays open
        conn.request("GET", "/ready")
        r2 = conn.getresponse()
        r2.read()
        assert r2.status == 200
        assert r2.getheader("Connection") is None

        clk.t = 1001.001  # past the cap: close and actually disconnect
        conn.request("GET", "/ready")
        r3 = conn.getresponse()
        r3.read()
        assert r3.status == 200
        assert r3.getheader("Connection") == "close"

        # a NEW connection gets a fresh start time from the same clock
        conn2 = http.client.HTTPConnection(host, port)
        conn2.request("GET", "/ready")
        r4 = conn2.getresponse()
        r4.read()
        assert r4.status == 200
        assert r4.getheader("Connection") is None
        conn2.close()
        conn.close()
    finally:
        listener.stop()


def test_telemetry_path_flag(tmp_path):
    """--web.telemetry-path relocates the metrics exposition (reference
    app.go:64-65): the configured path serves it, /metrics 404s."""
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.app import parse_args
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    cfg = parse_args(
        [
            "produce",
            f"--pulsar.topic={tmp_path}/bus",
            f"--web.write-path={tmp_path}/drop",
            "--web.telemetry-path=/internal/telemetry",
        ]
    )
    assert cfg.telemetry_path == "/internal/telemetry"
    listener = RemoteWriteListener(
        str(tmp_path / "spool"), telemetry_path=cfg.telemetry_path
    )
    host, port = listener.start()
    try:
        body = urllib.request.urlopen(
            f"http://{host}:{port}/internal/telemetry"
        ).read()
        assert b"listener_rejected_requests_total" in body
        try:
            urllib.request.urlopen(f"http://{host}:{port}/metrics")
            raise AssertionError("default path should 404 when relocated")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        listener.stop()
