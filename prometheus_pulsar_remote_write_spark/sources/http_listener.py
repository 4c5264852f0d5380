"""A1 transport: an HTTP remote-write listener bridging real POSTs into
the drop directory that the produce pipeline streams with Spark's
``binaryFile`` source (``streaming.produce.read_request_stream``).

This makes the sandbox analog literal: the reference runs an HTTP server
that receives snappy(proto(WriteRequest)) bodies and answers 400 on
undecodable input (reference pkg/app/produce.go:124-181); the tenant is
taken from the Basic Auth username or the X-Scope-OrgID header
(pkg/context/handlers.go:8-40). Here the accepted body is spooled as
``<spool>/<tenant>/<blob>.bin`` (``streaming.replace_file``: atomic
temp+rename, the temp name dot-prefixed and so hidden from Spark's file
listing), and a body with no tenant goes under
``<spool>/TENANT_DIR_NONE/``. The produce pipeline takes the
tenant from that parent directory, so a stock Prometheus can
remote-write at this listener and the Spark pipeline consumes it with no
format shim. This module owns the spool layout.

Built on the stdlib's http.server, it never imports Spark, and it is
validation-first: the body must decode whole (``prompb.decode_body``)
before it is spooled, so poison never enters the stream (the
reference's 400 path). The listener is a dev/test-scale
receiver; a production deployment would terminate HTTP at any
load-balanced fleet writing the same spool (or object store) layout.
"""

from __future__ import annotations

import base64
import os
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..operators.metrics import render_exposition
from ..streaming import replace_file
from . import prompb

#: The spool directory of a body that names no tenant; the produce
#: pipeline maps it back to the empty tenant. It must NOT start with '_'
#: or '.' (Spark's file index treats those as hidden metadata, e.g.
#: _SUCCESS, and skips them).
TENANT_DIR_NONE = "no-tenant"


class SystemClock:
    """Real wall clock; tests inject a fake with the same interface
    (reference pkg/context/handlers.go:12-27 Clock seam)."""

    def now(self) -> float:
        return time.time()


def max_connection_age_headers(
    connection_start: float, now: float, max_connection_age: float | None
) -> list[tuple[str, str]]:
    """The max-connection-age middleware decision (reference
    pkg/context/handlers.go:41-48 MaxConnectionAgeHandler): once a
    kept-alive connection is STRICTLY older than ``max_connection_age``
    seconds, every response carries ``Connection: close`` so a
    load-balanced fleet re-balances long-running remote_write
    connections instead of pinning them to one instance forever
    (pkg/app/server.go:58-66). Age exactly equal to the limit does NOT
    close (the reference uses ``time.After``, i.e. strictly-greater)."""
    if max_connection_age is not None and now > connection_start + max_connection_age:
        return [("Connection", "close")]
    return []

# Tenant names become one path component under the spool, so the charset is
# restricted the same way Cortex/Mimir restrict tenant IDs: a bare token with
# no separators.  It may not start with "_" or "." either: Spark's file
# listing hides such a directory, so its bodies would be acknowledged and
# never published (this also rules out "." and "..").  Anything else is a
# 400 (never a silent rewrite -- a client must not discover that "../../x"
# mapped somewhere).
# \Z, not $: Python's $ also matches just before a trailing newline, so
# "$" would accept "abc\n" and create a spool dir with an embedded \n
# (Hypothesis-found; pinned in test_properties.py).
_TENANT_RE = re.compile(r"[A-Za-z0-9\-][A-Za-z0-9_.\-]{0,127}\Z")


def tenant_is_safe(tenant: str) -> bool:
    """True iff ``tenant`` is safe to use as a single spool path component.
    ``TENANT_DIR_NONE`` is not: its bodies are published with no tenant."""
    return tenant != TENANT_DIR_NONE and _TENANT_RE.fullmatch(tenant) is not None


def _tenant_from_headers(headers) -> str:
    auth = headers.get("Authorization", "")
    if auth.startswith("Basic "):
        try:
            user = base64.b64decode(auth[6:]).decode().split(":", 1)[0]
            if user:
                return user
        except Exception:
            pass
    return headers.get("X-Scope-OrgID", "") or ""


class RemoteWriteListener:
    """Minimal threaded remote-write receiver writing the blob spool.

    Ops surface (the reference's web endpoints, pkg/app/app.go):
    ``POST /write`` / ``/api/v1/push`` ingest; ``GET /ready`` liveness;
    ``GET /metrics`` Prometheus text exposition of the listener's
    accepted/rejected counters plus, when a ``delivery_metrics``
    (operators.metrics.DeliveryMetrics) is attached, the five
    reference delivery families."""

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        delivery_metrics=None,
        max_connection_age: float | None = None,
        clock=None,
        telemetry_path: str = "/metrics",
    ):
        self.spool_dir = spool_dir
        self._host = host
        self._port = port
        self.max_connection_age = max_connection_age
        self.clock = clock if clock is not None else SystemClock()
        self.telemetry_path = telemetry_path  # web.telemetry-path analog
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # observability counters (reference produce.go exposes the same
        # accepted/refused split via prometheus metrics)
        self._lock = threading.Lock()
        self.accepted = 0
        self.rejected = 0
        self.accepted_by_tenant: dict = {}
        self.delivery_metrics = delivery_metrics

    def exposition(self) -> str:
        """Prometheus text exposition of the ingest counters (promlint-
        clean; see operators.metrics.lint_exposition)."""
        with self._lock:
            accepted_by_tenant = dict(self.accepted_by_tenant)
            rejected = self.rejected
        text = render_exposition(
            [
                ("listener_accepted_requests_total",
                 "Remote-write bodies accepted and spooled.", "counter",
                 [("", (("tenant", t),), accepted_by_tenant[t])
                  for t in sorted(accepted_by_tenant)]),
                ("listener_rejected_requests_total",
                 "Bodies refused with 400 (undecodable or bad tenant).",
                 "counter", [("", (), rejected)]),
            ]
        )
        if self.delivery_metrics is not None:
            text += self.delivery_metrics.exposition()
        return text

    def start(self) -> tuple[str, int]:
        spool = self.spool_dir
        os.makedirs(spool, exist_ok=True)
        outer = self

        class _Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 so connections keep alive between requests -- the
            # max-connection-age middleware is only meaningful on
            # persistent connections (reference pkg/app/server.go:58-66)
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):  # quiet test output
                pass

            def setup(self):
                super().setup()
                # per-CONNECTION start time (reference ConnContext:
                # ContextWithConnectionStartTime); one handler instance
                # serves every request on a kept-alive connection
                self.connection_start = outer.clock.now()

            def _finish(self, code, body=b"", ctype=None):
                self.send_response(code)
                if ctype:
                    self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                for k, v in max_connection_age_headers(
                    self.connection_start, outer.clock.now(), outer.max_connection_age
                ):
                    self.send_header(k, v)
                    if (k, v) == ("Connection", "close"):
                        self.close_connection = True
                self.end_headers()
                if body:
                    self.wfile.write(body)

            def do_GET(self):
                if self.path == "/ready":
                    body = b"ready\n"
                elif self.path == outer.telemetry_path:
                    body = outer.exposition().encode()
                else:
                    self._finish(404)
                    return
                self._finish(
                    200, body, "text/plain; version=0.0.4; charset=utf-8"
                )

            def do_POST(self):
                if self.path not in ("/write", "/api/v1/push"):
                    self._finish(404)
                    return
                length = self.headers.get("Content-Length", "").strip()
                if not (length.isascii() and length.isdigit()):
                    # missing, non-numeric or negative: the body's end is
                    # unknown, so nothing of it is read (its bytes must not
                    # be served as the next request) and the connection
                    # closes
                    with outer._lock:
                        outer.rejected += 1
                    self.close_connection = True
                    self._finish(400)
                    return
                body = self.rfile.read(int(length))
                try:
                    prompb.decode_body(body)
                except Exception:
                    with outer._lock:
                        outer.rejected += 1
                    self._finish(400)
                    return
                tenant = _tenant_from_headers(self.headers)
                if tenant and not tenant_is_safe(tenant):
                    with outer._lock:
                        outer.rejected += 1
                    self._finish(400)
                    return
                target_dir = os.path.join(spool, tenant or TENANT_DIR_NONE)
                # belt-and-braces: the resolved dir must stay under the spool
                spool_real = os.path.realpath(spool)
                if not os.path.realpath(target_dir).startswith(spool_real + os.sep):
                    with outer._lock:
                        outer.rejected += 1
                    self._finish(400)
                    return
                # .bin suffix: the produce source's pathGlobFilter
                replace_file(os.path.join(target_dir, f"{uuid.uuid4().hex}.bin"), body)
                with outer._lock:
                    outer.accepted += 1
                    outer.accepted_by_tenant[tenant] = (
                        outer.accepted_by_tenant.get(tenant, 0) + 1
                    )
                self._finish(200)

        self._server = ThreadingHTTPServer((self._host, self._port), _Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._server.server_address[0], self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
