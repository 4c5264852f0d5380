#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1,
     "noise_ratio": 1.1}

The final line is deliberately minimal (the driver captures only the
last ~2.2 KB of output and parses the last line); per-run spreads and
the per-query shuffle-bytes profile are written to bench_detail.json
next to this script. Each query executes to completion through the
noop sink (full plan runs, no driver-side result materialization)."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prometheus_pulsar_remote_write_spark.plans import catalog
from prometheus_pulsar_remote_write_spark.session import get_spark

#: scale-representative subset: heavy aggregation, multi-join, windows,
#: sessionization, wire serialization, batching, LSH dedup, ANN search
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "window_top3_orders_per_segment",
    "events_sessionization",
    "produce_flatten",
    "produce_serialize_json",
    "consume_batching",
    "consume_rate_5m",
    "docs_token_stats",
    "events_hll_user_estimate",
    "docs_mixture_sample",
    "docs_curation_pipeline",
    "docs_neardup_pairs",
    "docs_fingerprints",
    "emb_cosine_topk",
    "emb_neardup_lsh",
    "emb_int8_quantize",
    "docs_char_entropy",
    "multimodal_dhash_neardup",
    "docs_phrase_search",
]

#: Uniform timed-run count for EVERY query (r15, the round-14 verdict's
#: top item): one warmup + min-of-N with the same N everywhere, so no
#: per-query methodology can flatter any row round-over-round. N=6 was
#: already validated for the deepest-warming queries (the r14 drift A/B,
#: `git show 758e961:scripts/drift_ab_r14.py` / SCALE.md §12: the wire
#: queries' JIT keeps warming ~6 runs deep and min-of-6 lands within
#: ~5% of the 12-run floor), and the r14 driver run showed best-of-2
#: is not noise-robust on a contended host (noise_ratio 1.328 got
#: recorded as ground truth: 19 plan-identical queries "regressed"
#: 30-60%). min-of-6 gives every query six chances to land a clean run
#: between contention bursts.
#: The r14 per-query values remain comparable: min over MORE runs of
#: the same plan can only be <= the old statistic, and the two queries
#: that were already min-of-6 are measured identically.
UNIFORM_RUNS = 6


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain_listener_bus(spark) -> None:
    try:
        spark._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        try:
            spark._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            pass


def _stage_list(spark):
    store = spark._jsc.sc().statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    return store.stageList(None, *defaults)


def _max_stage_id(spark) -> int:
    """Highest stage id the status store has seen (or -1)."""
    try:
        _drain_listener_bus(spark)
        it = _stage_list(spark).iterator()
        m = -1
        while it.hasNext():
            m = max(m, it.next().stageId())
        return m
    except Exception:
        return -1


def _peak_memory_snapshot(spark, min_stage_id: int) -> dict | None:
    """Max per-stage memory peaks across stages with id > min_stage_id.

    Three signals, three failure modes they catch (the round-12 lesson:
    the B x B LSH-bucket hazard is a MEMORY quadratic that is invisible
    in shuffle-byte profiles):
      - peak_exec_mem_mb: JVM unified execution memory (sort/agg/join
        buffers) -- task-metric exact;
      - peak_python_rss_mb: resident set of ALL Python UDF workers (the
        numpy blocks inside pandas UDFs) -- polled every 250 ms via
        spark.executor.processTreeMetrics, so short spikes can
        under-report but sustained quadratics cannot hide. POOL-WIDE:
        local[32] keeps ~32 forked workers resident (~6 GB baseline),
        so read the DELTA against the detail file's
        python_rss_baseline_mb / neighboring queries, not the absolute;
      - peak_jvm_heap_mb: polled JVM heap, the catch-all.
    Returns None if the store's Scala surface drifts -- the bench must
    never depend on metrics plumbing."""
    try:
        _drain_listener_bus(spark)
        it = _stage_list(spark).iterator()
        exec_mem = py_rss = jvm_heap = 0
        while it.hasNext():
            s = it.next()
            if s.stageId() <= min_stage_id:
                continue
            exec_mem = max(exec_mem, s.peakExecutionMemory())
            pem = s.peakExecutorMetrics()
            if pem.isDefined():
                em = pem.get()
                py_rss = max(py_rss, em.getMetricValue("ProcessTreePythonRSSMemory"))
                jvm_heap = max(jvm_heap, em.getMetricValue("JVMHeapMemory"))
        return {
            "peak_exec_mem_mb": round(exec_mem / 1e6, 1),
            "peak_python_rss_mb": round(py_rss / 1e6, 1),
            "peak_jvm_heap_mb": round(jvm_heap / 1e6, 1),
        }
    except Exception:
        return None


def _metrics_snapshot(spark) -> tuple[int, int] | None:
    """Cumulative (shuffle_write, shuffle_read) bytes across all
    stages, read from the JVM AppStatusStore (populated with the UI off).
    Per-query deltas are the environment-independent efficiency numbers
    wall-clock can't give: bytes moved are a property of the PLAN, not of
    host contention. Returns None if the store's Scala signature ever
    drifts -- timings must never depend on metrics plumbing."""
    try:
        # the status store is fed by the ASYNC listener bus: a snapshot
        # taken right after a job returns can miss its final stages'
        # metrics, so drain the bus first (bounded wait; failure just
        # means a slightly early snapshot, never a broken bench)
        _drain_listener_bus(spark)
        it = _stage_list(spark).iterator()
        sw = sr = 0
        while it.hasNext():
            s = it.next()
            sw += s.shuffleWriteBytes()
            sr += s.shuffleReadBytes()
        # inputBytes is deliberately not reported: the vectorized parquet
        # scan under-reports it (near-zero at every SF), and a misleading
        # zero is worse than no number
        return sw, sr
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1)) if match else -1.0
    # processTree + fast polling feed the per-stage peak-memory columns
    # (bench-only conf: a 250 ms /proc walk is noise here, wrong as a
    # production default)
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.executor.processTreeMetrics.enabled": "true",
            "spark.executor.metrics.pollingInterval": "250ms",
        },
    )
    # warm the JVM + Python worker pool so timings measure queries, not
    # first-job session start-up (codegen compiler, executor threads, Arrow)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, "x int"
    ).write.format("noop").mode("overwrite").save()
    baseline = _peak_memory_snapshot(spark, -1)

    # One UNTIMED warmup execution per query absorbs the one-time codegen /
    # file-index / Python-worker-fork costs a long-running engine amortizes
    # away, so every timed run measures steady-state plan throughput (r5
    # noise_ratio 1.4 was entirely first-run JIT). Then min-of-UNIFORM_RUNS
    # timed runs; if even the two best disagree by >1.2x the host is
    # contended (round 3: every query ran uniformly ~3x slower while the
    # driver's correctness job shared the cores) -- take extra runs so the
    # minimum reflects the plan, not the neighbor.
    # self-run scaling studies (SCALE.md sf0.1-vs-sf1 slopes) subset the
    # list and redirect the detail file via env; the driver path -- no
    # env set -- is byte-identical to before
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = subset.split(",") if subset else HEADLINE
    timings: dict[str, float] = {}
    spreads: dict[str, list] = {}
    bytes_moved: dict[str, dict] = {}
    for name in headline:
        fn = catalog.QUERIES[name]
        # a JVM GC between queries keeps one query's garbage (noop write
        # buffers, broadcast blocks) from surfacing as a GC pause inside
        # the next query's timed window
        spark._jvm.System.gc()
        first_stage = _max_stage_id(spark)
        run_query(fn(spark, sf_dir))  # untimed warmup
        runs = []
        before = _metrics_snapshot(spark)
        for _ in range(UNIFORM_RUNS):
            t0 = time.time()
            run_query(fn(spark, sf_dir))
            runs.append(time.time() - t0)
            if before is not None and name not in bytes_moved:
                after = _metrics_snapshot(spark)
                if after is not None:
                    # bytes for ONE steady-state execution (the first
                    # timed run); deterministic per plan, unlike seconds
                    bytes_moved[name] = {
                        "shuffle_write_mb": round((after[0] - before[0]) / 1e6, 2),
                        "shuffle_read_mb": round((after[1] - before[1]) / 1e6, 2),
                    }
        # retry (up to 2 extra runs) until the two best runs agree within
        # 1.2x: a single GC pause / contended run then costs one retry
        # instead of poisoning the reported spread
        while len(runs) < UNIFORM_RUNS + 2:
            best2 = sorted(runs)[:2]
            if best2[1] <= 1.2 * best2[0]:
                break
            t0 = time.time()
            run_query(fn(spark, sf_dir))
            runs.append(time.time() - t0)
        peaks = _peak_memory_snapshot(spark, first_stage)
        if peaks is not None:
            # max over warmup + timed runs of the same plan -- a memory
            # quadratic shows in every execution
            bytes_moved.setdefault(name, {}).update(peaks)
        timings[name] = round(min(runs), 3)
        spreads[name] = [round(r, 3) for r in runs]
        print(f"  {name}: {timings[name]}s (runs: {spreads[name]})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # reproducibility of the reported minimum: max over queries of
    # (second-best / best) run time -- ~1.0 = the reported timing is
    # steady-state, >>1 = even the two best runs disagree (host
    # contended); outlier runs that triggered a retry don't count,
    # they're visible in "spread"
    noise = round(
        max(
            (
                (lambda s: s[1] / s[0])(sorted(r))
                for r in spreads.values()
                if len(r) >= 2 and min(r) > 0
            ),
            default=1.0,
        ),
        3,
    )
    # The driver captures only the last ~2.2 KB of output and parses the
    # FINAL line as the headline JSON (BENCH_r08 was lost to a 3.5 KB
    # line), so the final stdout line stays minimal. The full per-run
    # spreads and per-query shuffle-bytes profile -- the plan-regression
    # instrument -- go to a side file (durable, committable) and stderr.
    # per-query reproducibility (second-best / best run): identifies a
    # contended ROW post-hoc -- the headline noise_ratio is just the max
    # of this column, so a single noisy query no longer indicts all 22
    per_query_noise = {
        name: round((lambda s: s[1] / s[0])(sorted(r)), 3)
        for name, r in spreads.items()
        if len(r) >= 2 and min(r) > 0
    }
    detail = {
        "spread": spreads,
        "bytes": bytes_moved,
        "noise_ratio": per_query_noise,
        "sf": sf,
        # worker-pool RSS right after session warmup: the subtrahend for
        # every query's peak_python_rss_mb
        "python_rss_baseline_mb": (baseline or {}).get("peak_python_rss_mb"),
    }
    try:
        detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
        print(f"  detail (spread+bytes) -> {detail_path}", file=sys.stderr)
    except Exception as exc:  # a read-only checkout must not kill the bench
        # last resort: dump to stderr EARLY enough that the driver's
        # ~2.2 KB tail capture (per-query lines + headline) stays clean
        print(json.dumps(detail), file=sys.stderr)
        print(f"  detail file unwritable ({exc}); dumped to stderr", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "noise_ratio": noise,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
