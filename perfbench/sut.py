"""The system under test, as a process of its own.

The harness (``run.py``) starts this script, writes one JSON command per
line on its stdin and reads one ``@@ {json}`` reply line per command from
its stdout. The script touches the app only through its public entry
points: ``app.run`` (which also starts the ``RemoteWriteListener``) and the
public DataFrame functions the produce and consume plans are built from,
for the traced prefix probe.

Commands:
  produce   {drop, bus, work, once, listen}  app.run in produce mode
  consume   {bus, work, url, once}           app.run in consume mode
  progress  {}      every progress event of every query started so far
  counters  {since_stage}   engine counters from the status store
  stop      {}      stop every query started so far
  prefixes  {bodies, messages, url, out}  timed cumulative prefixes of
            both plans, on the given body files and bus message files
  catalog   {sf_dir}  bench.py's HEADLINE queries, through plans_probe

The harness ends the process by killing its process session.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import bench  # noqa: E402
import plans_probe  # noqa: E402
from prometheus_pulsar_remote_write_spark import app  # noqa: E402
from prometheus_pulsar_remote_write_spark.operators.metrics import (  # noqa: E402
    DURATION_BUCKETS,
)
from prometheus_pulsar_remote_write_spark.session import get_spark  # noqa: E402


def _reply(obj: dict) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


class Sut:
    def __init__(self, local_dir: str):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            # the serial collector sizes the heap from the data left after
            # each collection, so the driver's peak follows what the program
            # keeps; G1 sizes its young generation from pause-time goals,
            # which moved the peak by 0.4 GB between identical runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData -XX:+UseSerialGC"
            ),
            # every trigger of a run stays readable at the end of the run
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            # JVM memory peaks per stage, for the engine counters
            "spark.executor.metrics.pollingInterval": "250ms",
        }
        self.spark = get_spark(app_name="perfbench-sut", extra_conf=conf)
        self.queries: list = []  # (role, StreamingQuery)
        self.sinks: list = []

    # -- app.run ------------------------------------------------------------

    def produce(self, drop, bus, work, once, listen) -> dict:
        cfg = app.AppConfig(
            mode="produce",
            bus_dir=bus,
            drop_dir=drop,
            work_dir=work,
            listen="127.0.0.1:0" if listen else None,
            trigger_once=once,
            log_level="warn",
        )
        return self._run(cfg, "produce")

    def consume(self, bus, work, url, once) -> dict:
        cfg = app.AppConfig(
            mode="consume",
            bus_dir=bus,
            work_dir=work,
            remote_write_url=url,
            trigger_once=once,
            log_level="warn",
        )
        return self._run(cfg, "consume")

    def _run(self, cfg, role: str) -> dict:
        t0 = time.perf_counter()
        query, extra = app.run(self.spark, cfg)
        self.queries.append((role, query))
        out: dict = {}
        if role == "produce" and extra is not None:
            # app.run binds port 0 and keeps the listener, not its address
            out["port"] = extra._server.server_address[1]
        if role == "consume":
            self.sinks.append(extra)
        if cfg.trigger_once:
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            out["wall_s"] = time.perf_counter() - t0
        return out

    def progress(self) -> dict:
        events = []
        for role, q in self.queries:
            for p in q.recentProgress:
                events.append({"role": role, "id": str(q.id), **_progress_fields(p)})
        buckets = [0] * (len(DURATION_BUCKETS) + 1)
        retries = 0
        for s in self.sinks:
            m = s.metrics.snapshot()
            buckets = [a + b for a, b in zip(buckets, m["send_duration"]["buckets"])]
            retries += m["retries"]
        sink = {"retries": retries, "post_ms_p50": _bucket_quantile(buckets, 0.5) * 1e3}
        return {"events": events, "sink": sink}

    def stop(self) -> dict:
        for _, q in self.queries:
            q.stop()
        return {}

    # -- engine counters ------------------------------------------------------

    def counters(self, since_stage: int) -> dict:
        return engine_counters(self.spark, since_stage)

    def catalog(self, sf_dir) -> dict:
        return plans_probe.run(self.spark, sf_dir, int(os.environ["SPARK_GRAFT_CPUS"]))

    # -- traced prefix probe ---------------------------------------------------

    def prefixes(self, bodies, messages, url, out) -> dict:
        from pyspark.sql import functions as F

        from prometheus_pulsar_remote_write_spark.functions.fnv import partition_key_col
        from prometheus_pulsar_remote_write_spark.functions.serializers import serialize_col
        from prometheus_pulsar_remote_write_spark.operators.flatten import (
            flatten_write_requests,
            nest_samples,
        )
        from prometheus_pulsar_remote_write_spark.sources.remote_write import (
            decode_remote_write,
        )
        from prometheus_pulsar_remote_write_spark.streaming.batcher import (
            microbatch_batches,
        )
        from prometheus_pulsar_remote_write_spark.streaming.consume import (
            parse_samples,
            post_batches_distributed,
        )
        from prometheus_pulsar_remote_write_spark.streaming.produce import (
            FilePublisher,
            tenant_from_path,
        )

        spark = self.spark
        read = (
            spark.read.format("binaryFile")
            .load(bodies)
            .withColumn("tenant_id", tenant_from_path(F.col("path")))
        )
        decoded = decode_remote_write(read, keep_cols=["tenant_id"]).filter(
            F.col("decode_error").isNull()
        )
        flat = flatten_write_requests(decoded, ["tenant_id"])
        keyed = flat.withColumn(
            "key", partition_key_col(F.col("labels"), F.col("tenant_id"))
        )
        serialized = keyed.select(
            "key", serialize_col("json").alias("payload"), "tenant_id"
        )
        produce = [
            ("read", read),
            ("remote_write.decode", decoded),
            ("flatten.flatten", flat),
            ("fnv.partition_key", keyed),
            ("serializers.serialize", serialized),
        ]
        times = _timed_prefixes(produce)
        publish_dir = os.path.join(out, "publish")
        n = 0

        def _publish():
            nonlocal n
            FilePublisher(publish_dir)(serialized, n)
            n += 1

        times["produce.publish"] = _warm_timed(_publish) - times.pop("_last")

        messages = spark.read.schema("key string, payload string, tenant_id string").json(
            messages
        )
        parsed = parse_samples(messages).filter(F.col("timestamp").isNotNull()).drop(
            "payload"
        )
        batched = microbatch_batches(parsed, 100)
        nested = nest_samples(
            batched.withColumn("labels", F.from_json("labels_json", "map<string,string>")),
            ["tenant_id", "batch_seq"],
        )
        consume = [
            ("consume.read", messages),
            ("serializers.deserialize", parsed),
            ("batcher.microbatch", batched),
            ("flatten.nest", nested),
        ]
        times.update(_timed_prefixes(consume))
        times["consume.post"] = _warm_timed(
            lambda: post_batches_distributed(batched, url)
        ) - times.pop("_last")
        return {"seconds": times}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_timed(fn) -> float:
    """Seconds of one call to ``fn`` after one untimed warm-up call."""
    fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _timed_prefixes(stages: list) -> dict:
    """Each stage's time as its cumulative prefix minus the previous prefix.
    The first entry is the read, which is the base and is not reported."""
    out: dict = {}
    prev = 0.0
    for name, df in stages:
        t = _warm_timed(lambda df=df: _noop(df))
        if name not in ("read", "consume.read"):
            out[name] = t - prev
        prev = t
    out["_last"] = prev
    return out


def _bucket_quantile(buckets: list, q: float) -> float:
    """Quantile of a send-duration histogram, interpolated linearly inside
    its bucket as Prometheus' histogram_quantile does."""
    total = sum(buckets)
    if not total:
        return 0.0
    rank, cum, lower = q * total, 0, 0.0
    for count, upper in zip(buckets, DURATION_BUCKETS):
        if cum + count >= rank:
            return lower + (upper - lower) * (rank - cum) / count
        cum, lower = cum + count, upper
    return DURATION_BUCKETS[-1]


def _progress_fields(p) -> dict:
    p = json.loads(p.json) if hasattr(p, "json") else p
    d = p.get("durationMs") or {}
    return {
        "batchId": p.get("batchId"),
        "timestamp": p.get("timestamp"),
        "numInputRows": p.get("numInputRows", 0),
        "durationMs": {k: d.get(k, 0) for k in d},
    }


def engine_counters(spark, since_stage: int) -> dict:
    """Sums over the stages with id > since_stage, read from the status
    store through bench.py's helpers, plus the job count over the same
    stages' jobs."""
    bench._drain_listener_bus(spark)
    store = spark._jsc.sc().statusStore()
    c = {
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "task_max_over_p50": 0.0,
        "max_stage": -1,
    }
    quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    it = bench._stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        c["max_stage"] = max(c["max_stage"], sid)
        if sid <= since_stage:
            continue
        c["stages"] += 1
        c["tasks"] += s.numCompleteTasks()
        c["executor_run_s"] += s.executorRunTime() / 1e3
        c["executor_cpu_s"] += s.executorCpuTime() / 1e9
        c["gc_s"] += s.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        if s.numCompleteTasks() >= 2:
            dist = store.taskSummary(sid, s.attemptId(), quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                if run.apply(0) > 0:
                    c["task_max_over_p50"] = max(
                        c["task_max_over_p50"], run.apply(1) / run.apply(0)
                    )
    peaks = bench._peak_memory_snapshot(spark, since_stage) or {}
    c["jvm_heap_peak_mb"] = peaks.get("peak_jvm_heap_mb", 0.0)
    jobs = 0
    jit = store.jobsList(None).iterator()
    while jit.hasNext():
        ids = jit.next().stageIds().iterator()
        while ids.hasNext():
            if ids.next() > since_stage:
                jobs += 1
                break
    c["jobs"] = jobs
    return c


def main() -> None:
    sut = Sut(os.environ["PERFBENCH_LOCAL_DIR"])
    _reply({"ok": True, "ready": "session"})
    for line in sys.stdin:
        cmd = json.loads(line)
        name = cmd.pop("cmd")
        try:
            out = getattr(sut, name)(**cmd)
            _reply({"ok": True, **out})
        except Exception as exc:  # noqa: BLE001 -- reported to the harness
            _reply({"ok": False, "error": f"{type(exc).__name__}: {exc}"})


if __name__ == "__main__":
    main()
