#!/usr/bin/env python
"""TTL-eviction soak at realistic micro-batch cadence (round 9).

The round-8 soak replayed sf0.1 as 8 coarse (~90h) batches, so nearly
every user appeared in every batch and eviction fired only 491 times at
end-of-run -- under-exercising the knob (SCALE.md recorded the caveat).
This replays the SAME 100k-event / 720h history as ts-ordered
fine-grained micro-batches (default 120, ~6h each) against
``transition_stream(idle_timeout_ms=6h)`` and records the per-batch
state-store telemetry: with natural key churn (mean per-user event gap
~10.7h > the 6h horizon) the store must hold a STEADY-STATE active set
well under the 1,500 total users, with evictions firing continuously,
not at drain.

Usage: python scripts/soak_ttl.py [n_batches] [idle_hours]
The fold runs on applyInPandasWithState with an EventTimeTimeout.
Prints per-decile numRowsTotal/numRowsRemoved and the summary line
SCALE.md records.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from prometheus_pulsar_remote_write_spark.session import get_spark
from prometheus_pulsar_remote_write_spark.streaming import windows


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    idle_hours = float(sys.argv[2]) if len(sys.argv) > 2 else 6.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # stage the history as ts-ordered micro-batch files (pyarrow: one
    # sort + N slice-writes, no Spark jobs)
    tbl = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "event_id", "event_type", "ts"],
    )
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = tbl.num_rows
    users = pa.compute.count_distinct(tbl["user_id"]).as_py()
    stage = tempfile.mkdtemp(prefix="soak-ttl-")
    src = os.path.join(stage, "src")
    os.makedirs(src)
    per = (n + n_batches - 1) // n_batches
    for i in range(n_batches):
        pq.write_table(
            tbl.slice(i * per, per), os.path.join(src, f"b{i:04d}.parquet")
        )

    spark = get_spark(
        app_name="soak-ttl",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={
            # keep every micro-batch's progress event so the full
            # peak-state curve is reportable, not just the last 100
            "spark.sql.streaming.numRecentProgressUpdates": str(
                n_batches + 16
            ),
        },
    )
    schema = spark.read.parquet(os.path.join(src, "b0000.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    if dict(stream.dtypes)["ts"].startswith("timestamp_ntz"):
        stream = stream.withColumn(
            "ts", stream["ts"].cast("timestamp")
        )
    import time

    t0 = time.time()
    q = (
        windows.transition_stream(stream, idle_timeout_ms=int(idle_hours * 3_600_000))
        .writeStream.format("memory")
        .queryName("soak_ttl")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(stage, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    elapsed = time.time() - t0

    curve = []  # (batch_idx, state_rows, removed, updated)
    peak_state_bytes = 0
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            curve.append(
                (
                    p["batchId"],
                    op.get("numRowsTotal", 0),
                    op.get("numRowsRemoved", 0),
                    op.get("numRowsUpdated", 0),
                )
            )
            peak_state_bytes = max(
                peak_state_bytes, op.get("memoryUsedBytes", 0)
            )
    curve.sort()
    emitted = spark.sql("SELECT count(*) AS c FROM soak_ttl").collect()[0]["c"]

    peak = max(c[1] for c in curve)
    total_removed = sum(c[2] for c in curve)
    batches_evicting = sum(1 for c in curve if c[2] > 0)
    steady = [c[1] for c in curve[len(curve) // 3 :]]
    print(
        f"history: {n} events, {users} users, {n_batches} micro-batches,"
        f" idle horizon {idle_hours}h"
    )
    print("batch  state_rows  removed  updated")
    for b, tot, rem, upd in curve[:: max(1, len(curve) // 12)]:
        print(f"{b:5d}  {tot:10d}  {rem:7d}  {upd:7d}")
    print(
        f"\npeak state {peak} rows vs {users} total users"
        f" ({100.0 * peak / users:.0f}%); steady-state mean"
        f" {sum(steady) / len(steady):.0f}; {total_removed} evictions"
        f" across {batches_evicting}/{len(curve)} batches;"
        f" {emitted} transitions emitted"
    )
    print(
        f"throughput: {n} rows in {elapsed:.1f}s ="
        f" {n / elapsed:,.0f} rows/s end-to-end ({len(curve)} batches,"
        f" {elapsed / max(1, len(curve)):.2f}s/batch);"
        f" peak state store {peak_state_bytes:,} bytes"
    )
    spark.stop()


if __name__ == "__main__":
    main()
