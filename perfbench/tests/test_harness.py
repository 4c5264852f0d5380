"""Tests of the benchmark harness's own pieces: the generator's bodies,
the percentile rule, the receiver's fingerprint and the catalog digest.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import plans_probe  # noqa: E402
from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec  # noqa: E402


def _copy_elements(wire: bytes) -> int:
    """Number of copy (back-reference) elements in a snappy block."""
    _, pos = gen._varint(wire)
    copies = 0
    while pos < len(wire):
        tag = wire[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:
            length = tag >> 2
            if length >= 60:
                extra = length - 59
                length = int.from_bytes(wire[pos : pos + extra], "little")
                pos += extra
            pos += length + 1
        else:
            copies += 1
            pos += {1: 1, 2: 2, 3: 4}[kind]
    return copies


def _bodies():
    return gen.Backlog(5).bodies(3) + gen.live_schedule(5, rate=20, seconds=2)


def test_every_body_is_real_snappy_with_back_references():
    for body in _bodies():
        if not body.corrupt:
            assert _copy_elements(body.wire) > 0


def test_every_body_round_trips_to_the_generated_series():
    for body in _bodies():
        if body.corrupt:
            with pytest.raises(ValueError):
                snappy_codec.decompress(body.wire)
            continue
        req = prompb.decode_write_request(snappy_codec.decompress(body.wire))
        got = [
            ({l["name"]: l["value"] for l in ts["labels"]}, s["timestamp"], s["value"])
            for ts in req["timeseries"]
            for s in ts["samples"]
        ]
        assert got == [(dict(labels), ts, value) for labels, ts, value in body.samples]


def test_generator_is_deterministic_per_seed():
    def wires(seed):
        return [b.wire for b in gen.Backlog(seed).bodies(2)] + [
            b.wire for b in gen.live_schedule(seed, rate=10, seconds=3)
        ]

    assert wires(7) == wires(7)
    assert wires(7) != wires(8)


def test_live_schedule_mixes_tenants_sizes_and_corrupt_bodies():
    bodies = gen.live_schedule(3, rate=20, seconds=10)
    assert len(bodies) == 200
    assert sum(b.corrupt for b in bodies) == 4
    assert all(1 <= len(b.samples) <= 200 for b in bodies)
    counts = {}
    for b in bodies:
        counts[b.tenant] = counts.get(b.tenant, 0) + 1
    assert max(counts.values()) > 5 * min(counts.values())  # Zipf skew


def test_live_bodies_are_whole_scrapes_of_a_fixed_fleet():
    def series(bodies):
        out = {}
        for b in bodies:
            labels = [sorted(l.items()) for l, _, _ in b.samples]
            assert out.setdefault(b.tenant, labels) == labels
            assert len({ts for _, ts, _ in b.samples}) == 1
        return {t: len(v) for t, v in out.items()}

    a = gen.live_schedule(3, rate=20, seconds=10)
    b = gen.live_schedule(4, rate=20, seconds=10)
    assert series(a) == series(b)
    # every seed sends the same tenants in the same order
    assert [x.tenant for x in a] == [x.tenant for x in b]


def test_backlog_bodies_replay_whole_scrapes_in_order():
    backlog = gen.Backlog(2, tenants=2, series=1000)
    first, _, again = backlog.bodies(3)
    assert len(first.samples) == gen.MAX_SAMPLES_PER_SEND
    step = gen.SCRAPE_INTERVAL_S * 1000
    assert [ts for _, ts, _ in first.samples] == [gen.BASE_MS] * 1000 + [gen.BASE_MS + step] * 1000
    assert [l for l, _, _ in first.samples[:1000]] == [l for l, _, _ in first.samples[1000:]]
    assert again.tenant == first.tenant
    assert again.samples[0][1] == gen.BASE_MS + 2 * step


def test_percentile_rule_needs_ten_samples_beyond():
    assert gen.tail_supported(1000, 0.99)
    assert not gen.tail_supported(999, 0.99)
    assert gen.tail_supported(20, 0.5)
    assert gen.percentile(range(1, 101), 0.99) == 99
    assert gen.percentile(range(1, 101), 0.5) == 50
    assert gen.median([3, 1, 2, 4]) == 2.5


def _post(url: str, tenant: str, samples: list) -> None:
    req = {
        "timeseries": [
            {
                "labels": [{"name": k, "value": v} for k, v in labels.items()],
                "samples": [{"value": value, "timestamp": ts}],
            }
            for labels, ts, value in samples
        ]
    }
    body = snappy_codec.compress(prompb.encode_write_request(req))
    urllib.request.urlopen(
        urllib.request.Request(url, data=body, headers={"X-Scope-OrgID": tenant})
    ).read()


def test_receiver_fingerprint_is_order_insensitive_and_exact():
    bodies = [b for b in gen.live_schedule(9, rate=10, seconds=2) if not b.corrupt]
    want = gen.expected_fingerprint(bodies)
    receiver = gen.Receiver()
    try:
        # re-batched and reversed, as the consume side may deliver them
        flat = [(b.tenant, s) for b in bodies for s in b.samples][::-1]
        for i in range(0, len(flat), 37):
            chunk = flat[i : i + 37]
            for tenant in {t for t, _ in chunk}:
                _post(receiver.url, tenant, [s for t, s in chunk if t == tenant])
        receiver.settle()
        assert (receiver.fp.count, receiver.fp.total) == (want.count, want.total)
        assert gen.failed_bodies(bodies, receiver) == []

        # a duplicate changes the fingerprint and fails its body
        labels, ts, value = bodies[0].samples[0]
        _post(receiver.url, bodies[0].tenant, [(labels, ts, value)])
        receiver.settle()
        assert (receiver.fp.count, receiver.fp.total) != (want.count, want.total)
        assert gen.failed_bodies(bodies, receiver) == [bodies[0]]

        # probe traffic is counted apart
        _post(receiver.url + "/probe", "x", [({"a": "b"}, 1, 1.0)])
        assert receiver.probe_posts == 1
    finally:
        receiver.stop()


def test_fingerprint_sees_a_changed_value_and_a_missing_sample():
    bodies = gen.Backlog(1).bodies(1)
    labels, ts, value = bodies[0].samples[0]
    base = gen.expected_fingerprint(bodies)
    fp = gen.Fingerprint()
    for labels_, ts_, value_ in bodies[0].samples[1:]:
        fp.add(gen.sample_id(bodies[0].tenant, labels_, ts_), value_)
    assert fp.count == base.count - 1
    fp.add(gen.sample_id(bodies[0].tenant, labels, ts), value + 1)
    assert fp.count == base.count and fp.total != base.total


def test_catalog_digest_ignores_row_order_and_summation_jitter():
    rows = [("a", 1, 0.1 + 0.2, [1.5, None]), ("b", 2, 3.0, [])]
    base = plans_probe.digest(rows)
    assert base[0] == 2
    assert plans_probe.digest(rows[::-1]) == base
    assert plans_probe.digest([("a", 1, 0.3, [1.5, None]), rows[1]]) == base
    assert plans_probe.digest([("a", 1, 0.31, [1.5, None]), rows[1]]) != base
    assert plans_probe.digest(rows[:1]) != base
