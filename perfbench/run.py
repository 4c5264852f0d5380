#!/usr/bin/env python3
"""End-to-end benchmark of the remote-write -> bus -> remote-write wire path.

    python3 perfbench/run.py --workload backlog_catchup --seed 1 --seconds 15 --trace 0

Workloads (perfbench/METRICS.md says why each exists and what it measures):
  backlog_catchup  rounds of max-size bodies spooled, then drained by
                   app.run produce and consume (trigger once)
  live_fleet       an open-loop fleet of small senders POSTing over HTTP to
                   the listener while produce and consume run continuously

This process is the harness: the seeded load generator and a downstream
remote-write receiver. The system under test runs in its own process
(``sut.py``), so generator work never holds the SUT's interpreter lock and
``setup_s`` and ``peak_rss_mb`` measure the SUT alone.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans are
written to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import base64
import http.client
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.parse
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import gen  # noqa: E402
import plans_probe  # noqa: E402
from prometheus_pulsar_remote_write_spark.functions import fnv, serializers  # noqa: E402
from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec  # noqa: E402

WORKLOADS = ("backlog_catchup", "live_fleet")
CPUS = len(os.sched_getaffinity(0))
# the session's own default (16g) exceeds a small host's memory
DRIVER_MEMORY = "2g"
WARM_BODIES = 6  # max-size bodies drained during backlog_catchup's set-up
BACKLOG_BODIES_PER_S = 1.2  # max-size bodies per second of the window
BACKLOG_ROUNDS = 4
LIVE_RATE = 2.5  # requests/s; the seed commit holds a flat backlog here
CONSUME_TRIGGER_S = 5  # app.run's consume trigger, its batch_max_delay default
WINDOW_PHASE_S = 0.5  # live window start after a consume trigger's grid point
WARM_LIVE_S = 6  # seconds of fleet traffic in live_fleet's warm-up
SENDERS = min(4, CPUS)
# reading smaps_rollup of every SUT process took 45 ms of kernel time per
# poll, which at 0.25 s held a fifth of a core and the JVM's memory map lock
PSS_POLL_S = 1.0
BUS_CHECKS = 200  # bus messages checked against the pure-Python codecs
CODEC_BODIES = 8  # bodies timed per call through the pure-Python codecs
PROBE_SAMPLES = 8_000  # samples each DataFrame prefix is timed on
DRAIN_TIMEOUT_S = 40.0
WATCHDOG_S = 175.0
# checkpoint directories app.run keeps under work_dir for the default
# subscription
PRODUCE_CKPT, CONSUME_CKPT = "ckpt-produce-pulsar-adapter", "ckpt-consume-pulsar-adapter"

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "e2e_latency_p50_s": "s",
    "e2e_latency_p99_s": "s",
}


# -- the SUT process ----------------------------------------------------------------


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: str):
    """(session id, name, CPU seconds of the process and of its reaped
    children) of one live /proc entry, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    if fields[0] == "Z":
        return None
    return int(fields[3]), name, sum(int(x) for x in fields[11:15]) / _TICK


def _pss(pid: int) -> int:
    """Proportional set size in bytes: shared pages divided among the
    processes that map them, so forked Python workers sum correctly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _session_pids(sid: int) -> list:
    """(pid, name, CPU seconds) of every process in session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None and st[0] == sid:
                out.append((int(pid), st[1], st[2]))
    return out


def _steal_share() -> tuple:
    """(steal ticks, all ticks) of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class SutProc:
    """One SUT process tree (driver, JVM, Python workers), in a session of
    its own so the harness can measure and stop all of it."""

    def __init__(self, run_dir: str):
        local = os.path.join(run_dir, "spark-local")
        os.makedirs(local, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            PYTHONPATH=REPO + os.pathsep + env.get("PYTHONPATH", ""),
            PYSPARK_PYTHON=sys.executable,
            PERFBENCH_LOCAL_DIR=local,
            TMPDIR=local,
        )
        self.log = open(os.path.join(run_dir, "sut.log"), "a")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            cwd=run_dir,
            env=env,
            start_new_session=True,
        )
        self.peak_rss = 0
        self.peak_parts = (0, 0, 0)  # JVM, Python workers, processes at the peak
        self.peak_python_rss = 0
        self._stop = threading.Event()
        self._monitor = threading.Thread(target=self._poll_rss, daemon=True)
        self._monitor.start()
        self._read_reply()  # the session is up

    def _poll_rss(self) -> None:
        while not self._stop.wait(PSS_POLL_S):
            # the driver, the JVM and the Python workers only: a child the
            # JVM forks shares the JVM's memory until it execs, and counting
            # it would count the JVM twice
            sizes = [
                (pid, name, _pss(pid))
                for pid, name, _ in _session_pids(self.proc.pid)
                if name == "java" or name.startswith("python")
            ]
            total = sum(p[2] for p in sizes)
            py = sum(p[2] for p in sizes if p[1].startswith("python") and p[0] != self.proc.pid)
            if total > self.peak_rss:
                jvm = sum(p[2] for p in sizes if p[1] == "java")
                self.peak_rss, self.peak_parts = total, (jvm, py, len(sizes))
            self.peak_python_rss = max(self.peak_python_rss, py)

    def cpu_s(self) -> float:
        """CPU seconds the SUT's processes have used so far."""
        return sum(p[2] for p in _session_pids(self.proc.pid))

    def _read_reply(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"SUT exited (code {self.proc.poll()}); see {self.log.name}")
            if line.startswith("@@ "):
                reply = json.loads(line[3:])
                if not reply.pop("ok"):
                    raise RuntimeError("SUT: " + reply["error"])
                return reply

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read_reply()

    def close(self) -> None:
        """Kill the whole tree: its files live in the run directory, which
        the harness removes, so nothing needs an orderly shutdown."""
        kill_session(self.proc.pid)
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
        self._stop.set()
        self._monitor.join(timeout=5)
        self.log.close()


def kill_session(sid: int) -> None:
    for _ in range(50):
        pids = [p[0] for p in _session_pids(sid)]
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.1)


# -- HTTP ingest -----------------------------------------------------------------------


def post(conn: http.client.HTTPConnection, body: gen.Body) -> int:
    auth = base64.b64encode(f"{body.tenant}:pw".encode()).decode()
    conn.request(
        "POST",
        "/api/v1/push",
        body=body.wire,
        headers={
            "Authorization": f"Basic {auth}",
            "Content-Encoding": "snappy",
            "Content-Type": "application/x-protobuf",
        },
    )
    resp = conn.getresponse()
    resp.read()
    return resp.status


def send_schedule(port: int, bodies: list, t0: float) -> list:
    """Open loop: each body goes out at t0 + its offset, whatever the SUT
    does. Returns (body index, status, scheduled, sent, acked) per body."""
    results = [None] * len(bodies)
    nxt = iter(range(len(bodies)))
    lock = threading.Lock()

    def _sender():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                due = t0 + bodies[i].offset_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                sent = time.time()
                try:
                    status = post(conn, bodies[i])
                except (OSError, http.client.HTTPException):
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
                    status = 0
                results[i] = (i, status, due, sent, time.time())
        finally:
            conn.close()

    threads = [threading.Thread(target=_sender) for _ in range(SENDERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def spool(drop: str, bodies: list) -> None:
    """Write bodies in the listener's <spool>/<tenant>/<id>.bin layout,
    atomically, as the listener does."""
    for b in bodies:
        d = os.path.join(drop, b.tenant)
        os.makedirs(d, exist_ok=True)
        name = f"{uuid.uuid4().hex}.bin"
        with open(os.path.join(d, "." + name), "wb") as fh:
            fh.write(b.wire)
        os.rename(os.path.join(d, "." + name), os.path.join(d, name))


# -- the run ---------------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(REPO, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.drop = os.path.join(self.dir, "drop")
        self.bus = os.path.join(self.dir, "bus")
        self.work = os.path.join(self.dir, "work")
        self.spans = gen.Spans(run_id=f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
        self.receiver = gen.Receiver()
        self.sut: SutProc | None = None
        self.acks: list = []  # (status, scheduled, sent, acked, body)
        self.bodies: list = []  # every body of the timed part
        self.warm_bodies: list = []  # every body of the warm-up
        self.failures: list = []
        self.attempted = 0
        self.e2e: dict = {}
        self.layers: dict = {}
        self.invalid: list = []

    def call(self, cmd: str, **kw) -> dict:
        with self.spans.span(f"sut.{cmd}"):
            return self.sut.call(cmd, **kw)

    # -- set-up ------------------------------------------------------------------------

    def setup(self) -> None:
        """Start the SUT and run it to ready: session up, warm-up through
        produce and consume, listener bound."""
        for d in (self.drop, self.bus, self.work):
            os.makedirs(d)
        with self.spans.span("setup"):
            self.sut = SutProc(self.dir)
            t_session = time.perf_counter() - self.sut.t0
            self.warm_up()
            self.e2e["setup_s"] = time.perf_counter() - self.sut.t0
        print(f"  setup: session {t_session:.1f} s, ready {self.e2e['setup_s']:.1f} s", file=sys.stderr)
        self.receiver.reset()
        self.t_ready = time.time()
        self.cpu0, self.steal0 = self.sut.cpu_s(), _steal_share()
        self.stage0 = self.call("counters", since_stage=10**9)["max_stage"]

    def warm_up(self) -> None:
        live = self.workload == "live_fleet"
        if live:
            # the fleet's own traffic, so every Python worker and query
            # path the window uses is warm before it starts
            warm = gen.live_schedule(self.seed, LIVE_RATE, WARM_LIVE_S, corrupt_every=4, prefix="warm")
            self.call("consume", bus=self.bus, work=self.work, url=self.receiver.url, once=False)
        else:
            warm = gen.live_schedule(
                self.seed, rate=8, seconds=1, tenants=4, corrupt_every=4, prefix="warm"
            )
        self.port = self.call(
            "produce", drop=self.drop, bus=self.bus, work=self.work, once=not live, listen=True
        )["port"]
        results = send_schedule(self.port, warm, time.time())
        self.acks = [(s, d, st, a, warm[i]) for i, s, d, st, a in results]
        self.warm_bodies = list(warm)
        expected = sum(len(b.samples) for b in warm if not b.corrupt)
        if live:
            self.wait_for(expected)
        else:
            # and max-size bodies, so the cold first drain of such bodies
            # lands in set-up, not in the first timed round
            self.backlog = gen.Backlog(self.seed)
            big = self.backlog.bodies(WARM_BODIES)
            spool(self.drop, big)
            self.warm_bodies += big
            expected += sum(len(b.samples) for b in big)
            self.call("produce", drop=self.drop, bus=self.bus, work=self.work, once=True, listen=False)
            self.call("consume", bus=self.bus, work=self.work, url=self.receiver.url, once=True)
        self.receiver.settle()
        if self.receiver.samples != expected:
            raise RuntimeError(f"warm-up delivered {self.receiver.samples} of {expected} samples")

    def wait_for(self, samples: int, timeout: float = DRAIN_TIMEOUT_S) -> float:
        t0 = time.time()
        self.receiver.settle()
        while self.receiver.samples < samples and time.time() - t0 < timeout:
            time.sleep(0.05)
            self.receiver.settle()
        return time.time() - t0

    # -- workloads -----------------------------------------------------------------------

    def backlog_catchup(self) -> None:
        """BACKLOG_ROUNDS catch-up rounds: spool a seeded backlog, drain it
        with one produce run, then drain the bus with one consume run. The
        throughputs are the median round's."""
        per_round = max(1, round(self.seconds * BACKLOG_BODIES_PER_S / BACKLOG_ROUNDS))
        produce, consume, lat = [], [], []
        for k in range(BACKLOG_ROUNDS):
            bodies = self.backlog.bodies(per_round)
            spool(self.drop, bodies)
            self.bodies += bodies
            n = sum(len(b.samples) for b in bodies)
            t0 = time.time()
            wp = self.call("produce", drop=self.drop, bus=self.bus, work=self.work, once=True, listen=False)["wall_s"]
            wc = self.call("consume", bus=self.bus, work=self.work, url=self.receiver.url, once=True)["wall_s"]
            produce.append(n / wp)
            consume.append(n / wc)
            self.receiver.settle()
            lat.append(self.arrival_latencies(bodies, lambda ts, t0=t0: t0))
            print(f"  round {k}: {per_round} bodies, produce {wp:.2f} s, consume {wc:.2f} s", file=sys.stderr)
        self.layers["produce.samples_per_s"] = gen.median(produce)
        self.layers["consume.samples_per_s"] = gen.median(consume)
        self.latencies = lat

    def live_fleet(self) -> None:
        bodies = gen.live_schedule(self.seed, LIVE_RATE, self.seconds)
        self.bodies = bodies
        expected = sum(len(b.samples) for b in bodies if not b.corrupt)
        # Spark starts a processing-time trigger on the epoch multiples of
        # its interval while the query keeps up, so consume fires on the 5 s
        # grid; the window starts at a fixed phase of that grid, and every
        # run sees its bodies meet the consume triggers at the same points
        t0 = (int(time.time() + 0.5) // CONSUME_TRIGGER_S + 1) * CONSUME_TRIGGER_S + WINDOW_PHASE_S
        backlog = []  # (seconds into the window, lag())
        done = threading.Event()

        def _sample():
            while not done.wait(0.5):
                if time.time() >= t0:
                    backlog.append((time.time() - t0, self.lag()))

        sampler = threading.Thread(target=_sample, daemon=True)
        sampler.start()
        with self.spans.span("gen.live_fleet"):
            results = send_schedule(self.port, bodies, t0)
        done.set()
        sampler.join()
        end = self.lag()
        drain_s = self.wait_for(expected)
        self.acks = [(s, d, st, a, bodies[i]) for i, s, d, st, a in results]
        self.layers["gen.lateness_p99_ms"] = _lateness_p99(self.acks)
        self.layers["bus.backlog_files_end"] = end["bus"] + end["drop"]
        if self.layers["gen.lateness_p99_ms"] > 100:
            self.invalid.append(f"generator ran late: p99 {self.layers['gen.lateness_p99_ms']:.0f} ms")
        # a flat backlog: over the window's second half, the median wait
        # exceeds the first half's by no more than a second of bodies, or
        # one consume trigger's worth of bus files; a median, because one
        # slow trigger leaves a short peak that is gone a trigger later
        half = self.seconds / 2
        for queue, margin in (("drop", LIVE_RATE), ("bus", 64)):
            first = gen.median([b[queue] for t, b in backlog if t < half] or [0])
            second = gen.median([b[queue] for t, b in backlog if t >= half] or [0])
            print(f"  {queue} backlog median: {first} -> {second} files", file=sys.stderr)
            if second > first + margin:
                self.invalid.append(f"{queue} backlog grew: median {first} -> {second} files")
        if self.receiver.samples < expected:
            self.invalid.append(f"receiver drained {self.receiver.samples} of {expected} samples in {drain_s:.1f} s")
        self.latencies = [
            self.arrival_latencies(bodies, lambda ts: t0 + (ts - gen.BASE_MS) / 1e3)
        ]
        # throughput over the triggers that started inside the window, so
        # each one saw steady arrivals: samples read per second of trigger
        # time (the queries idle between triggers)
        batch_samples = {}
        for path, batch in _source_log(os.path.join(self.work, PRODUCE_CKPT)).items():
            batch_samples[batch] = batch_samples.get(batch, 0) + _body_samples(path)
        samples = {"produce": 0, "consume": 0}
        busy = {"produce": 0.0, "consume": 0.0}
        for e in self.call("progress")["events"]:
            if e["numInputRows"] > 0 and t0 <= _epoch_s(e["timestamp"]) < t0 + self.seconds:
                role = e["role"]
                busy[role] += e["durationMs"]["triggerExecution"] / 1e3
                samples[role] += (
                    batch_samples.get(e["batchId"], 0) if role == "produce" else e["numInputRows"]
                )
        for role in busy:
            self.layers[f"{role}.samples_per_s"] = samples[role] / busy[role]

    def arrival_latencies(self, bodies: list, offered) -> list:
        """Receiver arrival minus ``offered(timestamp)`` for every delivered
        sample of the valid bodies."""
        out = []
        for b in bodies:
            if not b.corrupt:
                for labels, ts, _ in b.samples:
                    seen = self.receiver.arrivals.get(gen.sample_id(b.tenant, labels, ts))
                    if seen is not None:
                        out.append(seen[2] - offered(ts))
        return out

    def lag(self) -> dict:
        """Files waiting at the two queues: spooled bodies the produce
        source has not read, and bus files the consume source has not."""
        return {
            "drop": _unread(self.drop, ".bin", os.path.join(self.work, PRODUCE_CKPT)),
            "bus": _unread(self.bus, ".json", os.path.join(self.work, CONSUME_CKPT)),
        }

    # -- checks ----------------------------------------------------------------------------

    def check(self) -> None:
        """Every valid body delivered exactly once with its exact content,
        every corrupt body refused, and a seeded sample of bus messages
        equal to the pure-Python key and payload functions."""
        self.receiver.settle()
        failed = {}
        for status, *_, body in self.acks:
            if body.corrupt != (status == 400) or status not in (200, 400):
                failed[id(body)] = f"{'corrupt' if body.corrupt else 'valid'} body from {body.tenant} answered {status}"
        for b in gen.failed_bodies(self.bodies, self.receiver):
            failed.setdefault(id(b), f"body from {b.tenant} not delivered exactly once")
        self.failures += failed.values()
        self.layers["gen.requests"] = len({id(b) for b in self.bodies} | {id(a[4]) for a in self.acks})
        self.attempted += self.layers["gen.requests"]
        want = gen.expected_fingerprint(self.bodies)
        if (want.count, want.total) != (self.receiver.fp.count, self.receiver.fp.total):
            self.failures.append(
                f"receiver fingerprint {self.receiver.fp.count}/{self.receiver.fp.total:x} "
                f"!= generated {want.count}/{want.total:x}"
            )
        truth = {}
        for b in self.warm_bodies + self.bodies:
            if not b.corrupt:
                for labels, ts, value in b.samples:
                    truth[gen.sample_id(b.tenant, labels, ts)] = (labels, ts, value, b.tenant)
        msgs = _bus_messages(self.bus)
        rng = random.Random(self.seed)
        checked = rng.sample(msgs, min(BUS_CHECKS, len(msgs)))
        for tenant, msg in checked:
            ts, _, labels, _ = serializers.unmarshal_json(msg["payload"])
            sid = gen.sample_id(tenant, labels, ts)
            if sid not in truth:
                self.failures.append(f"bus message of {tenant} matches no generated sample")
                continue
            labels, ts, value, tenant = truth[sid]
            if msg["key"] != fnv.sample_partition_key(labels, tenant, ["__replica__"]):
                self.failures.append(f"bus key mismatch for {tenant}")
            if msg["payload"] != serializers.marshal_json(ts, value, labels, tenant):
                self.failures.append(f"bus payload mismatch for {tenant}")
        self.attempted += len(checked)
        if not checked:
            self.failures.append("no bus message was checked")

    # -- traced extras -----------------------------------------------------------------------

    def trace_layers(self) -> None:
        L = self.layers
        progress = self.call("progress")
        for role in ("produce", "consume"):
            ev = [
                e
                for e in progress["events"]
                if e["role"] == role
                and e["numInputRows"] > 0
                and _epoch_s(e["timestamp"]) >= self.t_ready
            ]
            d = lambda k: [e["durationMs"].get(k, 0) for e in ev]  # noqa: E731
            L[f"{role}.triggers"] = len(ev)
            L[f"{role}.trigger_ms_p50"] = gen.median(d("triggerExecution"))
            L[f"{role}.latest_offset_ms"] = gen.median(d("latestOffset"))
            L[f"{role}.add_batch_ms"] = gen.median(d("addBatch"))
            if role == "produce":
                L["produce.query_planning_ms"] = gen.median(d("queryPlanning"))
                L["produce.wal_commit_ms"] = gen.median(d("walCommit"))
        sink = progress["sink"]
        L["consume.posts"] = self.receiver.posts
        L["consume.post_ms_p50"] = sink["post_ms_p50"]
        L["consume.samples_per_post"] = self.receiver.samples / max(1, self.receiver.posts)
        L["consume.retries"] = sink["retries"]
        dlq = os.path.join(self.work, "dlq")
        L["consume.dlq_batches"] = len([f for f in _files(dlq) if f.endswith(".bin")])
        L["consume.ledger_files"] = len(_files(os.path.join(dlq, "_sent_ledger")))
        bus_files = [f for f in _files(self.bus) if f.endswith(".json")]
        L["bus.files"] = len(bus_files)
        L["bus.mb"] = sum(os.path.getsize(f) for f in bus_files) / 1e6
        L.setdefault("bus.backlog_files_end", sum(self.lag().values()))
        c = self.call("counters", since_stage=self.stage0)
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_mb", "spill_mb", "task_max_over_p50",
                  "jvm_heap_peak_mb"):
            L[f"spark.{k}"] = c[k]
        L["spark.python_rss_peak_mb"] = self.sut.peak_python_rss / 1e6
        # the probes below run alone
        self.call("stop")
        # listener: ack times from the scheduled send; validation is the
        # same decompress + decode the listener runs, timed here per body
        ok = [a for a in self.acks if a[0] in (200, 400)]
        L["http_listener.accepted"] = sum(1 for a in ok if a[0] == 200)
        L["http_listener.rejected"] = sum(1 for a in ok if a[0] == 400)
        validate, wait = 0.0, []
        for status, due, _, acked, body in ok:
            with self.spans.span("http_listener.validate"):
                t0 = time.perf_counter()
                try:
                    prompb.decode_write_request(snappy_codec.decompress(body.wire))
                except ValueError:
                    pass
                v = time.perf_counter() - t0
            validate += v
            wait.append((acked - due - v) * 1e3)
        L["http_listener.validate_busy_s"] = validate
        L["http_listener.ack_wait_ms_p50"] = gen.median(wait)
        acks = [(a[3] - a[1]) * 1e3 for a in ok]
        L["http_listener.ack_ms_p50"] = gen.median(acks)
        L["http_listener.ack_ms_p99"] = gen.percentile(acks, 0.99)
        self.codec_layers()
        with self.spans.span("prefixes"):
            secs = self.call(
                "prefixes", bodies=_first_files(self.drop, ".bin", PROBE_SAMPLES, _body_samples),
                messages=_first_files(self.bus, ".json", PROBE_SAMPLES, _lines),
                url=self.receiver.url + "/probe", out=os.path.join(self.dir, "probe"),
            )["seconds"]
        for k, v in secs.items():
            L[f"{k}.s"] = v
        self.plan_layers()
        L["receiver.posts"] = self.receiver.posts
        L["receiver.samples"] = self.receiver.samples
        L["receiver.mb"] = self.receiver.bytes / 1e6
        for k, v in self.e2e.items():
            if k != "setup_s":
                L[f"traced.{k}"] = v
        # the traced run's end-to-end numbers minus an untraced run's are
        # the tracing overhead; both sets are printed for that comparison
        for k in sorted(L):
            if k.startswith("traced."):
                print(f"  {k} {L[k]:.6g}", file=sys.stderr)

    def plan_layers(self) -> None:
        """bench.py's HEADLINE queries on the probe's generated tables:
        per-query seconds, per-module stage sums, and each query's rows
        checked against the recorded expected outputs."""
        with open(plans_probe.EXPECTED) as fh:
            expected = json.load(fh)["queries"]
        with self.spans.span("plans"):
            sf_dir = plans_probe.make_tables(os.path.join(self.dir, "tables"))
            out = self.call("catalog", sf_dir=sf_dir)
        self.attempted += len(expected)
        for name, want in expected.items():
            if name in out["errors"]:
                self.failures.append(f"catalog query {name} raised {out['errors'][name]}")
            elif out["digests"][name] != want:
                self.failures.append(f"catalog query {name}: rows/digest {out['digests'][name]} != {want}")
            else:
                self.layers[f"plans.{name}_s"] = out["seconds"][name]
        for module, sums in out["modules"].items():
            for k, v in sums.items():
                self.layers[f"plans.{module}.{k}"] = v

    def codec_layers(self) -> None:
        """Per-call times of the pure-Python codecs on the run's first
        CODEC_BODIES valid bodies."""
        L = self.layers
        bodies = [b for b in self.bodies if not b.corrupt][:CODEC_BODIES]
        t = dict.fromkeys(("dec", "pb", "enc", "comp", "key", "marshal", "unmarshal"), 0.0)
        mb_out = series = comp_in = comp_out = 0
        for b in bodies:
            with self.spans.span("snappy_codec.decompress"):
                t0 = time.perf_counter()
                raw = snappy_codec.decompress(b.wire)
                t["dec"] += time.perf_counter() - t0
            with self.spans.span("prompb.decode_write_request"):
                t0 = time.perf_counter()
                req = prompb.decode_write_request(raw)
                t["pb"] += time.perf_counter() - t0
            with self.spans.span("prompb.encode_write_request"):
                t0 = time.perf_counter()
                enc = prompb.encode_write_request(req)
                t["enc"] += time.perf_counter() - t0
            with self.spans.span("snappy_codec.compress"):
                t0 = time.perf_counter()
                comp = snappy_codec.compress(enc)
                t["comp"] += time.perf_counter() - t0
            mb_out += len(raw)
            series += len(req["timeseries"])
            comp_in += len(enc)
            comp_out += len(comp)
            payloads = []
            with self.spans.span("fnv.sample_partition_key"):
                t0 = time.perf_counter()
                for labels, ts, value in b.samples:
                    fnv.sample_partition_key(labels, b.tenant, ["__replica__"])
                t["key"] += time.perf_counter() - t0
            with self.spans.span("serializers.marshal_json"):
                t0 = time.perf_counter()
                for labels, ts, value in b.samples:
                    payloads.append(serializers.marshal_json(ts, value, labels, b.tenant))
                t["marshal"] += time.perf_counter() - t0
            with self.spans.span("serializers.unmarshal_json"):
                t0 = time.perf_counter()
                for p in payloads:
                    serializers.unmarshal_json(p)
                t["unmarshal"] += time.perf_counter() - t0
        L["snappy_codec.decompress.busy_s"] = t["dec"]
        L["snappy_codec.decompress.mb_out"] = mb_out / 1e6
        L["snappy_codec.compress.busy_s"] = t["comp"]
        L["snappy_codec.compress.ratio"] = comp_out / comp_in
        L["prompb.decode.busy_s"] = t["pb"]
        L["prompb.decode.series"] = series
        L["prompb.encode.busy_s"] = t["enc"]
        L["fnv.sample_partition_key.busy_s"] = t["key"]
        L["serializers.marshal_json.busy_s"] = t["marshal"]
        L["serializers.unmarshal_json.busy_s"] = t["unmarshal"]

    # -- running ---------------------------------------------------------------------------

    def abort(self) -> None:
        """Stop the SUT tree and leave: the watchdog's and SIGTERM's path."""
        if self.sut is not None:
            kill_session(self.sut.proc.pid)
        print("  ABORTED: run exceeded its time limit or was terminated", file=sys.stderr)
        os._exit(3)

    def execute(self) -> dict:
        ok = False
        try:
            self.setup()
            getattr(self, self.workload)()
            cpu = self.sut.cpu_s() - self.cpu0
            steal = [b - a for a, b in zip(self.steal0, _steal_share())]
            self.layers["sut.cpu_us_per_sample"] = cpu / self.receiver.samples * 1e6
            print(f"  SUT cpu {cpu:.1f} s, host steal {steal[0] / steal[1]:.1%}", file=sys.stderr)
            self.layers.setdefault("gen.lateness_p99_ms", _lateness_p99(self.acks))
            # one latency sample per round (a single one on live_fleet);
            # each percentile is the median round's
            for q in (0.5, 0.99):
                self.e2e[f"e2e_latency_p{round(q * 100)}_s"] = gen.median(
                    [gen.percentile(lat, q) for lat in self.latencies]
                )
            if not all(gen.tail_supported(len(lat), 0.99) for lat in self.latencies):
                self.invalid.append("a latency p99 has fewer than 10 samples beyond it")
            self.check()
            if self.trace:
                self.trace_layers()
            self.sut.close()
            self.e2e["peak_rss_mb"] = self.sut.peak_rss / 1e6
            jvm, py, procs = self.sut.peak_parts
            print(f"  peak: JVM {jvm / 1e6:.0f} MB, Python workers {py / 1e6:.0f} MB, {procs} processes", file=sys.stderr)
            if self.trace:
                self.layers["traced.peak_rss_mb"] = self.e2e["peak_rss_mb"]
            out = self.result()
            ok = True
            return out
        finally:
            if self.sut is not None:
                self.sut.close()
            self.receiver.stop()
            self.write_trace()
            if ok:  # a failed run keeps its directory and the SUT log
                shutil.rmtree(self.dir, ignore_errors=True)

    def result(self) -> dict:
        failed = len(self.failures)
        for f in self.failures[:20]:
            print(f"  FAILED: {f}", file=sys.stderr)
        for why in self.invalid:
            print(f"  INVALID RUN: {why}", file=sys.stderr)
        print(f"failed_frac {failed / self.attempted:.6f} ratio")
        for k, v in self.e2e.items():
            print(f"{k} {v:.6g} {E2E_UNITS[k]}")
        for k in ("produce.samples_per_s", "consume.samples_per_s"):
            print(f"{k} {self.layers[k]:.6g} samples/s")
        if self.trace:
            # a catalog query that failed has no time; the run is incorrect
            metrics = {
                k: {"value": self.layers[k], "unit": u}
                for k, u in LAYER_UNITS.items()
                if k in self.layers
            }
        else:
            metrics = {k: {"value": self.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        return {
            "correct": failed == 0 and not self.invalid,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def write_trace(self) -> None:
        if not self.trace:
            return
        path = os.path.join(REPO, ".perfbench", f"trace-{self.workload}-{self.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": self.spans.records, "layers": self.layers, "e2e": self.e2e}, fh)


def _lateness_p99(acks: list) -> float:
    """p99 of how late the generator sent, in ms."""
    return gen.percentile([(sent - due) * 1e3 for _, due, sent, _, _ in acks], 0.99)


def _epoch_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _files(root: str) -> list:
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if not n.startswith((".", "_"))]
    return out


def _source_log(checkpoint: str) -> dict:
    """path -> batch id of every file a file source has read, from the
    source log in its checkpoint."""
    out = {}
    for f in _files(os.path.join(checkpoint, "sources", "0")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    path = urllib.parse.unquote(urllib.parse.urlparse(entry["path"]).path)
                    out[path] = entry["batchId"]
    return out


def _unread(root: str, suffix: str, checkpoint: str) -> int:
    """Files under root that the file source has not read yet."""
    seen = _source_log(checkpoint)
    return sum(1 for f in _files(root) if f.endswith(suffix) and f not in seen)


def _body_samples(path: str) -> int:
    with open(path, "rb") as fh:
        req = prompb.decode_write_request(snappy_codec.decompress(fh.read()))
    return sum(len(ts["samples"]) for ts in req["timeseries"])


def _lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _first_files(root: str, suffix: str, samples: int, count) -> list:
    """The first files under root, in name order, that hold ``samples``
    samples between them."""
    out, n = [], 0
    for f in sorted(f for f in _files(root) if f.endswith(suffix)):
        if n >= samples:
            break
        out.append(f)
        n += count(f)
    return out


def _bus_messages(bus: str) -> list:
    """(tenant, message) for every message on the file bus; the tenant is
    the publisher's tenant_id= partition directory."""
    out = []
    for f in _files(bus):
        if not f.endswith(".json"):
            continue
        tenant = os.path.basename(os.path.dirname(f)).partition("tenant_id=")[2]
        tenant = urllib.parse.unquote(tenant)
        with open(f) as fh:
            out += [(tenant, json.loads(line)) for line in fh if line.strip()]
    out.sort(key=lambda m: (m[0], m[1]["key"], m[1]["payload"]))
    return out


LAYER_UNITS = {}  # filled from BENCHMARK.json


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        LAYER_UNITS.update({m["name"]: m["unit"] for m in json.load(fh)["per_layer"]})
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    watchdog = threading.Timer(WATCHDOG_S, run.abort)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: run.abort())
    t0 = time.time()
    out = run.execute()
    print(f"  run took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
