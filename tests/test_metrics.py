"""A6 observability: observe() metrics, streaming listener, delivery counters
(reference pkg/metrics/metrics.go:20-59, metric families per tenant)."""

from __future__ import annotations

import json
import os
import pickle
from types import SimpleNamespace

import pytest
from pyspark.sql import Row

from prometheus_pulsar_remote_write_spark.operators.metrics import (
    DURATION_BUCKETS,
    DeliveryMetrics,
    MetricsListener,
    observe_samples,
)


def test_observe_samples_batch(spark):
    df = spark.createDataFrame(
        [(1000, 1.0, "a"), (2000, 2.0, "a"), (3000, 4.0, "b")],
        "timestamp long, value double, tenant_id string",
    )
    observed, obs = observe_samples(df)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_samples"] == 3
    assert got["n_tenants"] == 2
    assert got["sum_value"] == 7.0
    assert (got["min_ts"], got["max_ts"]) == (1000, 3000)


def test_metrics_listener_streaming(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "p.jsonl"), "w") as fh:
        for i in range(25):
            fh.write(json.dumps({"timestamp": i, "value": 1.0, "tenant_id": "t"}) + "\n")
    listener = MetricsListener()
    l = listener.as_listener()
    spark.streams.addListener(l)
    try:
        stream = spark.readStream.schema("timestamp long, value double, tenant_id string").json(in_dir)
        observed, _ = observe_samples(stream)
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously
        import time

        deadline = time.time() + 30
        while time.time() < deadline and listener.totals()["n_samples"] < 25:
            time.sleep(0.5)
        totals = listener.totals()
        assert totals["n_samples"] == 25
        assert totals["num_input_rows"] == 25
    finally:
        spark.streams.removeListener(l)


def test_delivery_metrics_counters_and_histogram():
    m = DeliveryMetrics()
    m.count_received("a", 10)
    m.count_sent("a", 7)
    m.count_failed("a", 3)
    m.count_retry()
    m.observe_duration(0.004)   # first bucket
    m.observe_duration(0.3)     # <= 0.5 bucket
    m.observe_duration(99.0)    # overflow bucket
    snap = m.snapshot()
    assert snap["received"] == {"a": 10}
    assert snap["sent"] == {"a": 7}
    assert snap["failed"] == {"a": 3}
    assert snap["retries"] == 1
    hist = snap["send_duration"]
    assert hist["count"] == 3
    assert hist["buckets"][0] == 1
    assert hist["buckets"][DURATION_BUCKETS.index(0.5)] == 1
    assert hist["buckets"][-1] == 1


def test_sink_records_delivery_metrics(spark, tmp_path):
    """RemoteWriteSink feeds the per-tenant counters + duration histogram."""
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        RemoteWriteSink,
        run_consume_pipeline,
    )
    from tests.test_streaming import _sample_messages, _write_messages

    in_dir = str(tmp_path / "in")
    msgs, n_good = _sample_messages()
    _write_messages(in_dir, msgs)
    metrics = DeliveryMetrics()

    # deterministic under executor-side delivery (a stateful iterator
    # closure would be pickled per-task): reject the no-tenant batch,
    # accept everything else
    sink = RemoteWriteSink(
        url="http://x",
        dlq_dir=str(tmp_path / "dlq"),
        post_fn=lambda u, b, h: 400 if "X-Scope-OrgID" not in h else 200,
        batch_size=100,
        metrics=metrics,
    )
    q = run_consume_pipeline(spark, in_dir, sink, str(tmp_path / "poison"))
    q.awaitTermination(120)
    snap = metrics.snapshot()
    assert sum(snap["received"].values()) == n_good
    assert sum(snap["sent"].values()) + sum(snap["failed"].values()) == n_good
    assert snap["send_duration"]["count"] == 2  # one POST per tenant batch
    assert snap["retries"] == 0


def test_exposition_matches_reference_families_and_lints_clean():
    """Metric exposition + lint parity (reference pkg/metrics/metrics.go:20-59
    and the GatherAndCount/GatherAndLint gate in
    integration/consume_integration_test.go:235-253): the five families
    carry the reference's exact names/HELP/labels, the series counts match
    the activity, and the three families the reference lints are
    promlint-clean."""
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lint_exposition,
        parse_exposition,
    )

    m = DeliveryMetrics()
    m.count_received("tenant-a", 5)
    m.count_received("tenant-b", 3)
    m.count_sent("tenant-a", 5)
    m.count_failed("tenant-b", 3)
    m.count_retry("tenant-b")
    m.observe_duration(0.001, "tenant-a")
    m.observe_duration(0.2, "tenant-b")

    text = m.exposition(remote="http://rw.example/api/v1/write")
    fams = parse_exposition(text)
    assert set(fams) == {
        "received_samples_total",
        "sent_samples_total",
        "failed_samples_total",
        "retryable_failed_writes",
        "sent_batch_duration_seconds",
    }
    # GatherAndCount analog: series per family match activity
    assert len(fams["received_samples_total"]["samples"]) == 2
    assert len(fams["sent_samples_total"]["samples"]) == 1
    assert len(fams["failed_samples_total"]["samples"]) == 1
    # histogram: 2 tenants x (11 finite buckets + Inf + sum + count)
    assert len(fams["sent_batch_duration_seconds"]["samples"]) == 2 * 14
    # label keys mirror the reference's CounterVec label sets
    name, labels, value = fams["received_samples_total"]["samples"][0]
    assert set(labels) == {"tenant"}
    name, labels, value = fams["sent_samples_total"]["samples"][0]
    assert set(labels) == {"remote", "tenant"} and value == "5"

    # the reference lints these three families; they must be clean
    problems = lint_exposition(
        text,
        names=[
            "received_samples_total",
            "sent_samples_total",
            "sent_batch_duration_seconds",
        ],
    )
    assert problems == []
    # full-text lint flags exactly the reference's one non-conforming
    # name (retryable_failed_writes lacks _total -- kept for parity)
    assert lint_exposition(text) == [
        'retryable_failed_writes: counter metrics should have "_total" suffix'
    ]


def test_lint_exposition_catches_problems():
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lint_exposition,
    )

    bad = (
        "# HELP wrong_counter a counter without total\n"
        "# TYPE wrong_counter counter\n"
        'wrong_counter{__reserved="x"} 1\n'
        "untyped_series 2\n"
        "# HELP short_hist histogram missing parts\n"
        "# TYPE short_hist histogram\n"
        'short_hist_bucket{le="1.0"} 1\n'
    )
    problems = lint_exposition(bad)
    assert any("_total" in p for p in problems)
    assert any("reserved label" in p for p in problems)
    assert any("no TYPE" in p for p in problems)
    assert any("base-unit suffix" in p for p in problems)
    assert any("missing _sum" in p for p in problems)
    assert any("missing +Inf bucket" in p for p in problems)


def _progress_event(input_rows, observed, dedup=None):
    """A QueryProgressEvent's shape as MetricsListener reads it; ``dedup``
    is (state rows, evicted, dropped late) of a dedupe operator."""
    ops = []
    if dedup is not None:
        ops.append(
            SimpleNamespace(
                operatorName="dedupeWithinWatermark",
                numRowsTotal=dedup[0],
                numRowsRemoved=dedup[1],
                numRowsDroppedByWatermark=dedup[2],
            )
        )
    return SimpleNamespace(
        progress=SimpleNamespace(
            numInputRows=input_rows, observedMetrics=observed, stateOperators=ops
        )
    )


def test_metrics_listener_exposition_lints_clean():
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lint_exposition,
    )

    listener = MetricsListener()
    listener._on_progress(_progress_event(7, {"samples": Row(n_samples=7)}))
    text = listener.exposition()
    assert "stream_input_rows_total 7" in text
    assert lint_exposition(text) == []


def test_metrics_listener_dedup_counters_and_lint():
    """The dedup_within stage's loss counters ride the listener to the
    A6 exposition (round-10 advice: the watermark-late drop must be
    observable): dropped_late/evicted SUM across batches, state_rows is
    the latest gauge; families lint clean. The extraction from a real
    dedupe operator's progress is exercised by
    test_consume_dedup_state_eviction_at_streaming_cadence."""
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lint_exposition,
    )

    listener = MetricsListener()
    listener._on_progress(_progress_event(3, {}, dedup=(5, 0, 0)))
    listener._on_progress(_progress_event(3, {}, dedup=(2, 5, 1)))
    t = listener.totals()
    assert t["dedup_dropped_late"] == 1
    assert t["dedup_evicted"] == 5
    assert t["dedup_state_rows"] == 2  # gauge: latest, not summed
    text = listener.exposition()
    assert "stream_dedup_dropped_late_total 1" in text
    assert "stream_dedup_state_rows 2" in text
    assert lint_exposition(text) == []


def test_metrics_listener_holds_no_per_event_state():
    """Each progress event is folded into counters as it arrives: 10,000
    events give exact totals, and the pickled listener grows only by the
    width of its six counters, not by the event count."""

    def feed(n):
        listener = MetricsListener()
        for i in range(n):
            listener._on_progress(
                _progress_event(7, {"samples": Row(n_samples=5)}, dedup=(i, 1, 2))
            )
        return listener

    small, big = feed(10), feed(10_000)
    assert big.totals() == {
        "num_input_rows": 70_000,
        "n_samples": 50_000,
        "dedup_dropped_late": 20_000,
        "dedup_evicted": 10_000,
        "dedup_state_rows": 9_999,
    }
    assert "stream_batches_total 10000" in big.exposition()
    assert not any(isinstance(v, (list, tuple)) for v in vars(big).values())
    assert len(pickle.dumps(big)) - len(pickle.dumps(small)) <= 3 * 6


def test_delivery_snapshot_rolls_up_per_tenant_data():
    """snapshot()'s global retries and send-duration histogram are the
    sums of the per-tenant series the exposition writes."""
    m = DeliveryMetrics()
    m.count_retry("a")
    m.count_retry("b")
    m.count_retry("a")
    for seconds, tenant in ((0.001, "a"), (0.005, "b"), (0.3, "a"), (60.0, "b")):
        m.observe_duration(seconds, tenant)
    snap = m.snapshot()
    assert snap["retries"] == 3
    buckets = [0] * (len(DURATION_BUCKETS) + 1)
    buckets[0], buckets[6], buckets[-1] = 2, 1, 1  # <=0.005, <=0.5, +Inf
    assert snap["send_duration"]["buckets"] == buckets
    assert snap["send_duration"]["count"] == 4
    assert snap["send_duration"]["sum"] == pytest.approx(60.306)


def test_lsh_bucket_histogram_detects_planted_hot_bucket(spark):
    """The SCALE.md §10 saturation-regime detector: a planted dup mass
    (40 copies of one document) must surface as a hot max_bucket with a
    small median -- the 'dup mass, star-cap territory' signature -- and
    the over-cap counter must count the hot buckets when a cap is set.
    Pins BOTH hooks: the free observe() riding lsh_candidate_pairs and
    the on-demand embedding-path accessor."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    hot = [(i, "the same boilerplate template text repeats verbatim here")
           for i in range(40)]
    # distinct docs with ENOUGH token variety that their signatures
    # differ; a couple may still share a band bucket -- the assertions
    # below pin the planted mass, not zero background
    cold = [(100 + i, f"unique document number {i} about topic {i * 7} "
                      f"with words w{i}a w{i}b w{i}c w{i}d") for i in range(12)]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    sigs = minhash_signatures(docs)

    obs = Observation("lsh_buckets")
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2, bucket_obs=obs)
    pairs.write.format("noop").mode("overwrite").save()
    got = obs.get
    # 40 identical docs share every band bucket: the hot mass is the max
    # (>= not ==: a cold doc colliding into a hot band bucket makes it
    # 41 -- pin the planted-mass signature, not the minhash seeding)
    assert 40 <= got["max_bucket"] <= 42
    assert got["n_buckets"] >= 4  # at least the 4 hot band buckets
    # dup-mass signature: median stays far below the hot mass
    assert got["median_bucket"] <= 40
    # all-pairs proxy: at least the 4 hot buckets' 40^2 contributions
    assert got["sum_sq_size"] >= 4 * 40 * 40
    assert "over_cap_buckets" not in got  # no cap requested -> no column

    obs2 = Observation("lsh_buckets_capped")
    capped = lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=2, max_bucket_size=8, bucket_obs=obs2
    )
    capped.write.format("noop").mode("overwrite").save()
    got2 = obs2.get
    assert got2["over_cap_buckets"] >= 4  # every hot band bucket trips the cap

    # the embedding-path twin: plant 30 identical vectors among 20 spread
    # ones and read the same histogram shape through the accessor
    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_lsh_bucket_histogram,
    )

    rng = np.random.default_rng(5)
    twin = [float(x) for x in rng.normal(size=16)]
    rows = [(i, twin) for i in range(30)]
    rows += [(100 + i, [float(x) for x in rng.normal(size=16)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    hist = embedding_lsh_bucket_histogram(
        emb, bands=2, bits_per_band=4, dim=16, max_bucket_size=10
    )
    assert hist["max_bucket"] >= 30  # the planted mass (plus collisions)
    assert hist["over_cap_buckets"] >= 2  # both bands' hot buckets
    assert hist["n_buckets"] >= 2


def test_lsh_bucket_histogram_empty_corpus_is_all_zero(spark):
    """A corpus where nothing collides (no bucket of size >= 2) must
    yield an all-ZERO histogram, not NULLs -- arithmetic consumers (the
    saturation gate's median comparison, ratio checks) would TypeError
    on None (r13 advice)."""
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        lsh_bucket_histogram,
        warn_if_saturated,
    )

    banded = spark.createDataFrame(
        [(1, 0, "0001"), (2, 0, "0010"), (3, 1, "0100")],
        "doc_id long, band_id int, bucket string",
    )
    hist = lsh_bucket_histogram(banded, "band_id", "bucket", cap=5)
    assert hist["n_buckets"] == 0
    for k in ("max_bucket", "median_bucket", "p99_bucket", "sum_size",
              "sum_sq_size", "over_cap_buckets"):
        assert hist[k] == 0, k
    # and the gate consumes it without raising
    assert warn_if_saturated(hist) is None


def test_warn_if_saturated_fires_on_saturation_not_on_dup_mass(spark, caplog):
    """r14: the SCALE.md §11 operating rule as a production gate.
    Regime (a) -- median occupancy far above target (signature
    saturation) -- logs ONE loud structured warning naming the bits
    suggest_signature_bits would pick; regime (b) -- max grows, median
    flat (a dup mass, the star cap's correct territory) -- stays silent.
    Pinned on synthetic histograms AND end-to-end through
    embedding_lsh_bucket_histogram on a planted saturated corpus."""
    import json
    import logging

    import numpy as np

    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        warn_if_saturated,
    )
    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        embedding_lsh_bucket_histogram,
    )

    # regime (a): saturated -- the r13 sf100 measurement's shape
    saturated = {
        "n_buckets": 1024, "max_bucket": 2405, "median_bucket": 1953,
        "p99_bucket": 2200, "sum_size": 8_000_000, "sum_sq_size": 10**10,
        "n_vectors": 2_000_000, "bands": 4, "bits_per_band": 8,
    }
    with caplog.at_level(
        logging.WARNING,
        logger="prometheus_pulsar_remote_write_spark.operators.metrics",
    ):
        payload = warn_if_saturated(saturated)
    assert payload is not None
    assert payload["suggested_bits_per_band"] == 15  # the sf100 rule pick
    logged = [r for r in caplog.records if "LSH_SATURATION" in r.message]
    assert logged and json.loads(
        logged[0].message.split("LSH_SATURATION ", 1)[1]
    )["suggested_bits_per_band"] == 15
    caplog.clear()

    # regime (b): dup mass -- median flat at 2, one huge bucket (the
    # sf10 text-ladder shape); the star cap is correct, NO warning
    dup_mass = {
        "n_buckets": 40_000, "max_bucket": 844, "median_bucket": 2,
        "p99_bucket": 9, "sum_size": 120_000, "sum_sq_size": 10**6,
    }
    with caplog.at_level(
        logging.WARNING,
        logger="prometheus_pulsar_remote_write_spark.operators.metrics",
    ):
        assert warn_if_saturated(dup_mass) is None
    assert not [r for r in caplog.records if "LSH_SATURATION" in r.message]
    caplog.clear()

    # end-to-end: 3 point masses of 300 vectors saturate every band
    # bucket (median ~300 > 4 * 64), so the histogram accessor itself
    # must emit the warning -- the detector is a gate, not a ladder tool
    rng = np.random.default_rng(9)
    masses = [[float(x) for x in rng.normal(size=8)] for _ in range(3)]
    rows = [(m * 1000 + i, masses[m]) for m in range(3) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with caplog.at_level(
        logging.WARNING,
        logger="prometheus_pulsar_remote_write_spark.operators.metrics",
    ):
        hist = embedding_lsh_bucket_histogram(
            emb, bands=2, bits_per_band=4, dim=8
        )
    assert hist["median_bucket"] >= 300
    assert [r for r in caplog.records if "LSH_SATURATION" in r.message]
    # while the planted DUP-MASS corpus above (40 hot + cold) stays
    # silent is covered by regime (b)'s synthetic shape; the planted
    # corpus in test_lsh_bucket_histogram_detects_planted_hot_bucket has
    # median << 4*64 by the same arithmetic


def test_warn_if_saturated_minhash_histogram_gets_generic_remedy():
    """A MinHash histogram (text path: no n_vectors/bands/bits keys) in
    regime (a) must warn in ITS OWN terms -- widen bands/rows_per_band
    -- and must NOT name a bits_per_band/auto-size knob the MinHash
    path does not have, nor invent a suggested width from a guessed
    band count (r14 review finding)."""
    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        warn_if_saturated,
    )

    minhash_saturated = {
        "n_buckets": 64, "max_bucket": 9_000, "median_bucket": 3_000,
        "p99_bucket": 8_000, "sum_size": 200_000, "sum_sq_size": 10**9,
    }
    payload = warn_if_saturated(minhash_saturated)
    assert payload is not None
    assert "suggested_bits_per_band" not in payload
    assert "bits_per_band" not in payload
    assert "rows_per_band" in payload["remedy"]
    assert "auto-size" not in payload["remedy"]


def test_emb_banded_cte_refuses_overwide_auto_clamp():
    """The SQL twin must mirror auto_banded_signs' ValueError when asked
    for an auto clamp wider than the MAX_AUTO_BITS planes banded_full
    actually computes -- substr() would otherwise silently truncate
    while the params CTE claims the wider width (r14 review finding)."""
    import pytest as _pytest

    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        _emb_banded_cte,
    )

    with _pytest.raises(ValueError, match="capped at 16 bits/band"):
        _emb_banded_cte(4, None, max_bits=17)
    # explicit widths above 16 are the historical flat layout -- allowed
    cte, bits = _emb_banded_cte(2, 20)
    assert bits == "20" and "banded AS (" in cte
