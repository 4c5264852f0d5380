#!/usr/bin/env python
"""Micro-bench for the per-key fold twins' per-batch cost (round 9).

The shift-shaped folds (transition, scrape gap, trigram) and the D1
batcher ingest were rewritten
from a per-row Python loop to vectorized pandas column ops seeded by
the carried state row. This measures both on a single hot key's
micro-batch (default 10,000 rows -- the regime where a skewed key's
fold cost is the twin's throughput ceiling), using the loop bodies the
r8 twins shipped as the baseline. Runs pure-pandas (no Spark session):
the fold is the only thing that changed, and it executes identically
inside applyInPandasWithState workers.

Usage: python scripts/bench_fold.py [rows]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from prometheus_pulsar_remote_write_spark.streaming.windows import (
    _path_trigram_fold_kwargs,
    _scrape_gap_fold_kwargs,
    _transition_fold_kwargs,
)


def _loop_transition(key, pdf, prior):
    """The r8 per-row loop (baseline)."""
    (user_id,) = key
    (last_type,) = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if last_type is not None:
            out.append(
                {
                    "user_id": user_id,
                    "prev_type": last_type,
                    "next_type": etype,
                    "ts_us": int(ts_us),
                }
            )
        last_type = etype
        last_ts = int(ts_us)
    return out, (last_type,), last_ts // 1000


def _loop_scrape_gap(key, pdf, prior):
    tenant_id, name = key
    (last_ts,) = prior
    out = []
    for ts_ms in pdf["ts_ms"]:
        if last_ts is not None:
            out.append(
                {
                    "tenant_id": tenant_id,
                    "name": name,
                    "gap_ms": int(ts_ms) - int(last_ts),
                    "ts_ms": int(ts_ms),
                }
            )
        last_ts = int(ts_ms)
    return out, (last_ts,), last_ts


def _loop_trigram(key, pdf, prior):
    (user_id,) = key
    p1, p2 = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if p2 is not None:
            out.append(
                {
                    "user_id": user_id,
                    "path": f"{p2}>{p1}>{etype}",
                    "ts_us": int(ts_us),
                }
            )
        p2, p1 = p1, etype
        last_ts = int(ts_us)
    return out, (p1, p2), last_ts // 1000


class _FakeBatchState:
    """Just enough GroupState for driving the batcher fold directly."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_set = None
        self.now_ms = 0

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def setTimeoutDuration(self, d):
        self.timeout_set = d

    def getCurrentProcessingTimeMs(self):
        return self.now_ms


def _loop_batcher(batch_size, max_delay_ms):
    """The r8 per-row D1 batcher (baseline)."""

    def batch_fn(key, pdfs, state):
        (tenant_id,) = key
        if state.exists:
            ts_buf, val_buf, lbl_buf, next_seq, deadline = state.get
            ts_buf, val_buf, lbl_buf = list(ts_buf), list(val_buf), list(lbl_buf)
        else:
            ts_buf, val_buf, lbl_buf, next_seq, deadline = [], [], [], 0, None
        out_rows = []

        def flush(reason):
            nonlocal ts_buf, val_buf, lbl_buf, next_seq, deadline
            take = batch_size if reason == "size" else len(ts_buf)
            for i in range(take):
                out_rows.append(
                    {
                        "tenant_id": tenant_id,
                        "batch_seq": next_seq,
                        "flush_reason": reason,
                        "timestamp": ts_buf[i],
                        "value": val_buf[i],
                        "labels_json": lbl_buf[i],
                    }
                )
            ts_buf, val_buf, lbl_buf = ts_buf[take:], val_buf[take:], lbl_buf[take:]
            next_seq += 1
            deadline = None

        for p in pdfs:
            ts_buf.extend(int(x) for x in p["timestamp"])
            val_buf.extend(float(x) for x in p["value"])
            lbl_buf.extend(str(x) for x in p["labels_json"])
            while len(ts_buf) >= batch_size:
                flush("size")
        now = state.getCurrentProcessingTimeMs()
        if ts_buf and deadline is None:
            deadline = now + max_delay_ms
        state.update((ts_buf, val_buf, lbl_buf, next_seq, deadline))
        if ts_buf:
            state.setTimeoutDuration(max(int(deadline - now), 1))
        yield pd.DataFrame(
            out_rows,
            columns=[
                "tenant_id",
                "batch_seq",
                "flush_reason",
                "timestamp",
                "value",
                "labels_json",
            ],
        )

    return batch_fn


def _bench_batcher(n):
    from prometheus_pulsar_remote_write_spark.streaming.batcher import (
        _make_batch_fn,
    )

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "timestamp": np.arange(n, dtype=np.int64),
            "value": rng.random(n),
            "labels_json": np.asarray(
                ['{"__name__":"up","job":"node"}'] * n, dtype=object
            ),
        }
    )

    def run(factory):
        fn = factory(100, 5000)
        runs, res = [], None
        for _ in range(5):
            st = _FakeBatchState()
            t0 = time.perf_counter()
            res = pd.concat(list(fn(("t",), iter([pdf]), st)), ignore_index=True)
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[len(runs) // 2], res

    t_loop, r_loop = run(_loop_batcher)
    t_vec, r_vec = run(_make_batch_fn)
    pd.testing.assert_frame_equal(r_loop, r_vec, check_dtype=False)
    print(
        f"  {'d1_batcher':<11} loop {t_loop * 1000:8.2f} ms   "
        f"vectorized {t_vec * 1000:7.2f} ms   "
        f"speedup {t_loop / t_vec:6.1f}x   ({len(r_vec)} rows out)"
    )


def _time(fn, key, pdf, prior, out_cols, reps=5):
    """Median seconds for fold + DataFrame materialization (the loop
    baseline pays pd.DataFrame(list-of-dicts) exactly as the r8
    scaffold did)."""
    runs = []
    result = None
    for _ in range(reps):
        t0 = time.perf_counter()
        out, state, last = fn(key, pdf, prior)
        frame = out.loc[:, out_cols] if isinstance(out, pd.DataFrame) else pd.DataFrame(out, columns=out_cols)
        runs.append(time.perf_counter() - t0)
        result = (frame, state, last)
    return sorted(runs)[len(runs) // 2], result


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    rng = np.random.default_rng(7)
    types = np.array(["view", "click", "purchase", "search", "scroll"])
    ts = np.sort(rng.integers(1_700_000_000_000_000, 1_700_003_600_000_000, n))
    pdf_ev = pd.DataFrame(
        {"ts_us": ts, "event_type": types[rng.integers(0, 5, n)]}
    )
    pdf_gap = pd.DataFrame({"ts_ms": ts // 1000})

    cases = [
        (
            "transition",
            (7,),
            pdf_ev,
            ("view",),
            _loop_transition,
            _transition_fold_kwargs(),
        ),
        (
            "scrape_gap",
            ("3", "http_requests_total"),
            pdf_gap,
            (int(ts[0] // 1000) - 15_000,),
            _loop_scrape_gap,
            _scrape_gap_fold_kwargs(),
        ),
        (
            "trigram",
            (7,),
            pdf_ev,
            ("view", "click"),
            _loop_trigram,
            _path_trigram_fold_kwargs(),
        ),
    ]
    print(f"rows per batch: {n}")
    for name, key, pdf, prior, loop_fn, kwargs in cases:
        out_cols = [f.name for f in kwargs["out_schema"].fields]
        t_loop, (f_loop, s_loop, l_loop) = _time(loop_fn, key, pdf, prior, out_cols)
        t_vec, (f_vec, s_vec, l_vec) = _time(
            kwargs["fold"], key, pdf, prior, out_cols
        )
        # the rewrite must be a pure speedup: identical rows, state, ts
        pd.testing.assert_frame_equal(
            f_loop.reset_index(drop=True),
            f_vec.reset_index(drop=True),
            check_dtype=False,
        )
        assert tuple(s_loop) == tuple(s_vec) and l_loop == l_vec
        print(
            f"  {name:<11} loop {t_loop * 1000:8.2f} ms   "
            f"vectorized {t_vec * 1000:7.2f} ms   "
            f"speedup {t_loop / t_vec:6.1f}x   ({len(f_vec)} rows out)"
        )
    _bench_batcher(n)


if __name__ == "__main__":
    main()
