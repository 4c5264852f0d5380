"""The wire benchmark's harness (``perfbench/``) drives the package through
names it imports directly, e.g. the traced prefix probe in
``perfbench/sut.py``. A rename or deletion of one of those names breaks
the benchmark, not the unit suite; these tests make it break the suite
too, by name for every harness file and by a run of the probe's consume
chain. The scripts, ``bench.py`` and ``__spark_entry__.py`` are checked by
name the same way."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

PACKAGE = "prometheus_pulsar_remote_write_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_HARNESS = sorted(glob.glob(os.path.join(_REPO, "perfbench", "*.py")))
#: the other programs that import the package by name: the scripts, the
#: catalog bench and the catalog's entry point
_SCRIPTS = sorted(glob.glob(os.path.join(_REPO, "scripts", "*.py"))) + [
    os.path.join(_REPO, "bench.py"),
    os.path.join(_REPO, "__spark_entry__.py"),
]


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every import of the package in ``path``, at any
    depth; ``name`` is None for a plain ``import``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            out += [(node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.startswith(PACKAGE)]
    return out


def test_harness_files_found():
    assert os.path.join(_REPO, "perfbench", "sut.py") in _HARNESS
    assert _package_imports(os.path.join(_REPO, "perfbench", "sut.py"))
    assert all(os.path.exists(p) for p in _SCRIPTS)
    assert len({os.path.basename(p) for p in _HARNESS + _SCRIPTS}) == len(_HARNESS + _SCRIPTS)


@pytest.mark.parametrize("path", _HARNESS + _SCRIPTS, ids=os.path.basename)
def test_harness_imports_resolve(path):
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")


def test_probe_consume_chain_runs(spark, tmp_path):
    """The traced probe's consume chain, call for call as ``perfbench/sut.py``
    makes it: ``parse_samples`` -> drop poison and payload ->
    ``microbatch_batches`` -> ``post_batches_distributed(batched, url)``
    with the default per-worker HTTP client, against a local receiver. A
    change to that contract fails here, not only in a traced run."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.functions.serializers import marshal_json
    from prometheus_pulsar_remote_write_spark.sources import prompb
    from prometheus_pulsar_remote_write_spark.streaming.batcher import (
        microbatch_batches,
    )
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        parse_samples,
        post_batches_distributed,
    )

    received = []

    class _Receiver(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.headers.get("X-Scope-OrgID"), body))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

    server = ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    url = f"http://127.0.0.1:{server.server_address[1]}/api/v1/push"

    lines = [
        {"key": "k", "payload": marshal_json(1000 + i, float(i), {"__name__": "up"}, t),
         "tenant_id": t}
        for i in range(150)
        for t in ("a", "b")
    ] + [{"key": "k", "payload": "not json", "tenant_id": "a"}]
    (tmp_path / "m.json").write_text("\n".join(json.dumps(x) for x in lines))
    try:
        messages = spark.read.schema("key string, payload string, tenant_id string").json(
            str(tmp_path)
        )
        parsed = parse_samples(messages).filter(F.col("timestamp").isNotNull()).drop(
            "payload"
        )
        batched = microbatch_batches(parsed, 100)
        statuses = post_batches_distributed(batched, url)
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=10)
    assert not thread.is_alive()
    assert [(s[0], s[1], s[2], s[3]) for s in statuses] == [
        ("a", 0, 200, 100), ("a", 1, 200, 50), ("b", 0, 200, 100), ("b", 1, 200, 50)
    ]
    per_tenant = {}
    for org, body in received:
        n = sum(len(ts["samples"]) for ts in prompb.decode_body(body)["timeseries"])
        per_tenant[org] = per_tenant.get(org, 0) + n
    assert len(received) == 4 and per_tenant == {"a": 150, "b": 150}
