"""D1: per-tenant batching with the dual size-OR-delay trigger.

Reference semantics (pkg/remote/write.go:27-43, 59-77, 115-180): buffer
samples per tenant; flush a tenant's buffer when it reaches BatchSize
(default 100) OR when its oldest sample is older than BatchMaxDelay
(default 5 s); a 100 ms poll drives the delay check.

Spark mapping: ``applyInPandasWithState`` keyed by tenant_id.
  - size trigger: on every input chunk, emit floor(buffered/batch_size)
    full batches and keep the remainder in state;
  - delay trigger: a processing-time timeout set batch_max_delay_ms ahead
    of the first buffered sample; when it fires, flush the remainder.

This is strictly more parallel than the reference (its batcher is one
single-threaded event loop; state here is per-key across executors), with
the same per-flush grouping and ordering guarantees. State is bounded:
at most batch_size-1 rows per tenant.

The consume pipeline batches per micro-batch inside its per-tenant
delivery pass (``consume.post_batches_distributed``): it cuts each
tenant's sorted samples into ``DEFAULT_BATCH_SIZE`` chunks, and the
trigger interval plays the role of max delay. ``stateful_batches`` is the
faithful mid-batch delay batcher, on the state API every other stateful
operator here uses (Structured Streaming's ``GroupState``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_BATCH_SIZE = 100  # reference write.go:67-69
DEFAULT_MAX_DELAY_MS = 5000

#: flushed batches: one row per sample, tagged with a per-tenant batch seq
BATCH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("tenant_id", T.StringType(), False),
        T.StructField("batch_seq", T.LongType(), False),
        T.StructField("flush_reason", T.StringType(), False),  # size | delay
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("labels_json", T.StringType(), False),
    ]
)

#: state: buffered samples (columnar lists) + next batch seq + the flush
#: deadline (epoch ms) fixed when the buffer first became non-empty --
#: mirrors the reference's deadlinePerTenantID (write.go:35-43, 146-157),
#: which is created once per buffer lifetime, NOT refreshed per arrival.
BATCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("timestamps", T.ArrayType(T.LongType()), True),
        T.StructField("values", T.ArrayType(T.DoubleType()), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
        T.StructField("next_seq", T.LongType(), True),
        T.StructField("deadline_ms", T.LongType(), True),
    ]
)


def _make_batch_fn(batch_size: int, max_delay_ms: int):
    def batch_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (tenant_id,) = key
        out_cols = [f.name for f in BATCH_OUTPUT_SCHEMA.fields]
        if state.exists:
            ts_buf, val_buf, lbl_buf, next_seq, deadline = state.get
        else:
            ts_buf, val_buf, lbl_buf, next_seq, deadline = [], [], [], 0, None

        if state.hasTimedOut:
            # delay trigger (write.go:162-181): flush whatever is buffered
            # as ONE under-size batch. update -- never remove -- so next_seq
            # survives; removing state here would restart batch_seq at 0
            # for the tenant.
            if len(ts_buf):
                out = pd.DataFrame(
                    {
                        "tenant_id": tenant_id,
                        "batch_seq": np.full(len(ts_buf), next_seq, np.int64),
                        "flush_reason": "delay",
                        "timestamp": np.asarray(ts_buf, np.int64),
                        "value": np.asarray(val_buf, np.float64),
                        "labels_json": np.asarray(lbl_buf, dtype=object),
                    }
                )
                next_seq += 1
            else:
                out = pd.DataFrame([], columns=out_cols)
            state.update(([], [], [], next_seq, None))
            yield out
            return

        # vectorized size path: the stored remainder (< batch_size rows)
        # and the incoming columns concatenate ONCE; full batches peel off
        # as array slices with batch_seq = next_seq + i // batch_size --
        # no per-row Python on the ingest hot path (this operator sees
        # every sample the produce pipeline ships)
        frames = list(pdfs)
        ts = np.concatenate(
            [np.asarray(ts_buf, np.int64)]
            + [f["timestamp"].to_numpy(np.int64) for f in frames]
        )
        val = np.concatenate(
            [np.asarray(val_buf, np.float64)]
            + [f["value"].to_numpy(np.float64) for f in frames]
        )
        lbl = np.concatenate(
            [np.asarray(lbl_buf, dtype=object)]
            + [f["labels_json"].to_numpy(dtype=object) for f in frames]
        )
        n_batches = len(ts) // batch_size
        n_flush = n_batches * batch_size
        if n_flush:
            idx = np.arange(n_flush, dtype=np.int64)
            out = pd.DataFrame(
                {
                    "tenant_id": tenant_id,
                    "batch_seq": next_seq + idx // batch_size,
                    "flush_reason": "size",
                    "timestamp": ts[:n_flush],
                    "value": val[:n_flush],
                    "labels_json": lbl[:n_flush],
                }
            )
            next_seq += n_batches
            # flushed samples owned the deadline; any remainder starts a
            # fresh buffer lifetime below
            deadline = None
        else:
            out = pd.DataFrame([], columns=out_cols)
        ts_buf = ts[n_flush:].tolist()
        val_buf = val[n_flush:].tolist()
        lbl_buf = lbl[n_flush:].tolist()
        now = state.getCurrentProcessingTimeMs()
        if ts_buf and deadline is None:
            # deadline is fixed when the buffer transitions from empty
            # (reference write.go:146-157); a steady trickle must NOT
            # push it back, or the flush is postponed indefinitely
            deadline = now + max_delay_ms
        state.update((ts_buf, val_buf, lbl_buf, next_seq, deadline))
        if ts_buf:
            state.setTimeoutDuration(max(int(deadline - now), 1))
        yield out

    return batch_fn


def stateful_batches(
    samples: DataFrame,
    batch_size: int = DEFAULT_BATCH_SIZE,
    max_delay_ms: int = DEFAULT_MAX_DELAY_MS,
) -> DataFrame:
    """Faithful size-OR-delay batching over a streaming sample DataFrame.

    Input needs columns (tenant_id, timestamp, value, labels_json).
    """
    return samples.groupBy("tenant_id").applyInPandasWithState(
        _make_batch_fn(batch_size, max_delay_ms),
        outputStructType=BATCH_OUTPUT_SCHEMA,
        stateStructType=BATCH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def microbatch_batches(batch_df: DataFrame, batch_size: int = DEFAULT_BATCH_SIZE) -> DataFrame:
    """Per-micro-batch batch ids as a window column: deterministic per
    tenant within one micro-batch, in the order the consume pass cuts its
    batches. Only the wire benchmark's traced prefix probe
    (``perfbench/sut.py``) and ``scripts/bench_wire.py`` call it; it is
    deleted once that probe times the consume pass itself (ROADMAP.md)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tenant_id").orderBy("timestamp", "labels_json")
    return batch_df.withColumn(
        "batch_seq", ((F.row_number().over(w) - 1) / batch_size).cast("bigint")
    )
