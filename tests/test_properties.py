"""Property-based tests (hypothesis) for the pure-Python hot surfaces:
media codecs round-trip arbitrary payloads, and the listener's tenant
sanitizer never lets ANY string escape the spool.
"""

from __future__ import annotations

import io
import os
import struct
import wave
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prometheus_pulsar_remote_write_spark.operators.multimodal import (
    _decode_real,
    png_bytes,
    wav_bytes,
)
from prometheus_pulsar_remote_write_spark.sources.http_listener import (
    tenant_is_safe,
)

# The loop-spec reference folds must stay dtype-stable under future
# pandas: concat of empty/all-NA frames is deprecated, so the helpers
# below filter zero-row frames before concat, pin chunk dtypes from the
# fold's declared out_schema, and this marker turns any regression into
# a hard failure instead of a silent dtype change.
pytestmark = pytest.mark.filterwarnings("error::FutureWarning")


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096), st.sampled_from([8000, 16000, 44100]))
def test_wav_roundtrip_any_payload(samples, rate):
    data = wav_bytes(samples, framerate=rate)
    with wave.open(io.BytesIO(data)) as w:
        assert w.getframerate() == rate
        assert w.getnframes() == len(samples)
        assert w.readframes(len(samples)) == samples
    width, height, duration_ms, status = _decode_real(data)
    assert status == "ok:wav" and (width, height) == (None, None)
    assert duration_ms == len(samples) * 1000 // rate


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048), st.integers(min_value=1, max_value=64))
def test_png_roundtrip_any_payload(pixels, width):
    data = png_bytes(pixels, width=width)
    w, h, duration_ms, status = _decode_real(data)
    assert status == "ok:png" and duration_ms is None
    assert w == width
    assert h == max(1, -(-len(pixels) // width))
    # IDAT inflates to exactly h filtered scanlines carrying the pixels
    idat_len = struct.unpack(">I", data[33:37])[0]
    raw = zlib.decompress(data[41 : 41 + idat_len])
    assert len(raw) == h * (width + 1)
    recovered = b"".join(
        raw[y * (width + 1) + 1 : (y + 1) * (width + 1)] for y in range(h)
    )
    assert recovered[: len(pixels)] == pixels
    assert set(recovered[len(pixels) :]) <= {0}


@settings(max_examples=500, deadline=None)
@given(st.text(max_size=64))
def test_tenant_sanitizer_never_escapes_spool(tenant):
    spool = "/srv/spool"
    if tenant_is_safe(tenant):
        target = os.path.normpath(os.path.join(spool, tenant))
        assert target.startswith(spool + os.sep) and os.sep not in tenant
        assert "\x00" not in tenant and "\n" not in tenant
    # everything rejected is simply rejected -- nothing to assert beyond
    # the accepted side staying inside the spool


# --- vectorized stream folds == the per-row loop spec (round 9) -------------
# The shift-shaped fold twins (transition, scrape-gap, trigram) were
# vectorized; these properties pin them to the r8 loop semantics -- same
# emitted rows, same carried state, same last-ts -- across every edge the
# replay tests can't sweep: single-row batches, empty priors, carried
# types absent from the batch's own vocabulary, duplicate timestamps.

_TYPES = ["view", "click", "purchase", "search", "scroll", "rare&type"]


def _loop_transition_spec(key, pdf, prior):
    (user_id,) = key
    (last_type,) = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if last_type is not None:
            out.append((user_id, last_type, etype, int(ts_us)))
        last_type = etype
        last_ts = int(ts_us)
    return out, (last_type,), last_ts // 1000


def _loop_scrape_gap_spec(key, pdf, prior):
    tenant_id, name = key
    (last_ts,) = prior
    out = []
    for ts_ms in pdf["ts_ms"]:
        if last_ts is not None:
            out.append((tenant_id, name, int(ts_ms) - int(last_ts), int(ts_ms)))
        last_ts = int(ts_ms)
    return out, (last_ts,), last_ts


def _loop_trigram_spec(key, pdf, prior):
    (user_id,) = key
    p1, p2 = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if p2 is not None:
            out.append((user_id, f"{p2}>{p1}>{etype}", int(ts_us)))
        p2, p1 = p1, etype
        last_ts = int(ts_us)
    return out, (p1, p2), last_ts // 1000


def _batch_frame(events):
    import pandas as pd

    ts = [1_700_000_000_000_000 + d for d, _ in events]
    return pd.DataFrame({"ts_us": ts, "event_type": [t for _, t in events]})


@given(
    events=st.lists(
        st.tuples(st.integers(0, 10**9), st.sampled_from(_TYPES)),
        min_size=1,
        max_size=40,
    ),
    prior=st.one_of(st.none(), st.sampled_from(_TYPES + ["absent-type"])),
)
@settings(max_examples=200, deadline=None)
def test_transition_fold_equals_loop_spec(events, prior):
    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _transition_fold_kwargs,
    )

    pdf = _batch_frame(sorted(events)).sort_values("ts_us", kind="stable")
    fold = _transition_fold_kwargs()["fold"]
    out, state, last = fold((7,), pdf, (prior,))
    ref_out, ref_state, ref_last = _loop_transition_spec((7,), pdf, (prior,))
    assert [tuple(r) for r in out.itertuples(index=False)] == ref_out
    assert tuple(state) == ref_state and last == ref_last


@given(
    ts_list=st.lists(st.integers(0, 10**12), min_size=1, max_size=40),
    prior=st.one_of(st.none(), st.integers(0, 10**12)),
)
@settings(max_examples=200, deadline=None)
def test_scrape_gap_fold_equals_loop_spec(ts_list, prior):
    import pandas as pd

    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _scrape_gap_fold_kwargs,
    )

    pdf = pd.DataFrame({"ts_ms": sorted(ts_list)})
    fold = _scrape_gap_fold_kwargs()["fold"]
    key = ("3", "up")
    out, state, last = fold(key, pdf, (prior,))
    ref_out, ref_state, ref_last = _loop_scrape_gap_spec(key, pdf, (prior,))
    assert [tuple(r) for r in out.itertuples(index=False)] == ref_out
    assert tuple(state) == ref_state and last == ref_last


@given(
    events=st.lists(
        st.tuples(st.integers(0, 10**9), st.sampled_from(_TYPES)),
        min_size=1,
        max_size=40,
    ),
    prior=st.one_of(
        st.just((None, None)),
        st.tuples(st.sampled_from(_TYPES + ["absent-type"]), st.none()),
        st.tuples(
            st.sampled_from(_TYPES + ["absent-type"]),
            st.sampled_from(_TYPES + ["other-absent"]),
        ),
    ),
)
@settings(max_examples=200, deadline=None)
def test_trigram_fold_equals_loop_spec(events, prior):
    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _path_trigram_fold_kwargs,
    )

    pdf = _batch_frame(sorted(events)).sort_values("ts_us", kind="stable")
    fold = _path_trigram_fold_kwargs()["fold"]
    out, state, last = fold((7,), pdf, prior)
    ref_out, ref_state, ref_last = _loop_trigram_spec((7,), pdf, prior)
    assert [tuple(r) for r in out.itertuples(index=False)] == ref_out
    assert tuple(state) == ref_state and last == ref_last


# --- split-invariance: state carry stitches any micro-batch boundary --------
# The stream==batch Spark tests replay ONE split; these sweep many. For
# any history and ANY cut points, folding the chunks sequentially
# (carrying state) must emit exactly the same rows as folding the whole
# history at once -- the law that makes the twins correct under every
# trigger/file-size configuration.


def _schema_dtypes(out_schema):
    """Explicit pandas dtypes for a fold's declared Spark out_schema --
    nullable Int64/boolean/float64 so an all-NA chunk (e.g. scd2's open
    interval with valid_to_ms=None) carries the SAME dtype as a chunk
    with values, keeping concat out of pandas' deprecated empty/all-NA
    dtype-exclusion path (the product scaffolds never concat across
    batches; Arrow casts each yield to out_schema directly)."""
    from pyspark.sql import types as T

    dtypes = {}
    for f in out_schema.fields:
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            dtypes[f.name] = "Int64"
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            dtypes[f.name] = "float64"
        elif isinstance(f.dataType, T.BooleanType):
            dtypes[f.name] = "boolean"
    return dtypes


def _fold_chunks(fold, key, pdf, n_state, cuts, out_schema=None):
    import pandas as pd

    dtypes = _schema_dtypes(out_schema) if out_schema is not None else {}
    prior = (None,) * n_state
    frames = []
    bounds = [0] + sorted(cuts) + [len(pdf)]
    for a, b in zip(bounds, bounds[1:]):
        chunk = pdf.iloc[a:b]
        if not len(chunk):
            continue
        out, prior, _ = fold(key, chunk, prior)
        f = out if isinstance(out, pd.DataFrame) else pd.DataFrame(out)
        frames.append(
            f.astype({k: v for k, v in dtypes.items() if k in f.columns})
        )
    # zero-row frames carry no values but would trip pandas' deprecated
    # empty/all-NA concat dtype inference -- drop them before concat,
    # keeping one as the column template when every chunk came up empty
    nonempty = [f for f in frames if len(f)]
    if nonempty:
        return pd.concat(nonempty, ignore_index=True), prior
    return (frames[0].iloc[:0] if frames else None), prior


@given(
    events=st.lists(
        st.tuples(st.integers(0, 10**9), st.sampled_from(_TYPES)),
        min_size=2,
        max_size=40,
    ),
    cuts=st.lists(st.integers(1, 39), max_size=4),
)
@settings(max_examples=150, deadline=None)
def test_fold_twins_are_split_invariant(events, cuts):
    import pandas as pd

    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _path_trigram_fold_kwargs,
        _retention_fold_kwargs,
        _transition_fold_kwargs,
    )

    pdf = _batch_frame(sorted(events)).sort_values("ts_us", kind="stable")
    pdf = pdf.reset_index(drop=True)
    cuts = [c for c in cuts if c < len(pdf)]
    for kwargs, key, extra in (
        (_transition_fold_kwargs(), (7,), None),
        (_path_trigram_fold_kwargs(), (7,), None),
        (_retention_fold_kwargs(), (7,), "week"),
    ):
        p = pdf.copy()
        if extra == "week":
            # the retention fold reads precomputed week + ts_ms columns
            # (the select would derive them from ts JVM-side)
            p["week"] = (p["ts_us"] // 1_000_000 // 604800) * 604800
            p["ts_ms"] = p["ts_us"] // 1000
        n_state = len(kwargs["state_schema"].fields)
        whole, state_whole = _fold_chunks(
            kwargs["fold"], key, p, n_state, [], kwargs["out_schema"]
        )
        split, state_split = _fold_chunks(
            kwargs["fold"], key, p, n_state, cuts, kwargs["out_schema"]
        )
        pd.testing.assert_frame_equal(
            whole.reset_index(drop=True),
            split.reset_index(drop=True),
            check_dtype=False,
        )
        assert tuple(state_whole) == tuple(state_split)


@given(
    ts_list=st.lists(st.integers(0, 10**12), min_size=2, max_size=40),
    cuts=st.lists(st.integers(1, 39), max_size=4),
)
@settings(max_examples=150, deadline=None)
def test_scrape_gap_fold_is_split_invariant(ts_list, cuts):
    import pandas as pd

    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _scrape_gap_fold_kwargs,
    )

    pdf = pd.DataFrame({"ts_ms": sorted(ts_list)})
    cuts = [c for c in cuts if c < len(pdf)]
    kwargs = _scrape_gap_fold_kwargs()
    whole, sw = _fold_chunks(
        kwargs["fold"], ("3", "up"), pdf, 1, [], kwargs["out_schema"]
    )
    split, ss = _fold_chunks(
        kwargs["fold"], ("3", "up"), pdf, 1, cuts, kwargs["out_schema"]
    )
    pd.testing.assert_frame_equal(
        whole.reset_index(drop=True),
        split.reset_index(drop=True),
        check_dtype=False,
    )
    assert tuple(sw) == tuple(ss)


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 10**9),
            st.sampled_from(_TYPES),
            st.integers(-500, 500),
        ),
        min_size=2,
        max_size=40,
    ),
    cuts=st.lists(st.integers(1, 39), max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_update_mode_folds_are_split_invariant(events, cuts):
    """The update-mode folds' FINAL state must be split-invariant (their
    emissions are per-batch running summaries, so the law is on the
    carried state plus, for scd2/alert, the CLOSED-row prefix)."""
    import pandas as pd

    from prometheus_pulsar_remote_write_spark.streaming.windows import (
        _alert_fold_kwargs,
        _cusum_fold_kwargs,
        _ewma_fold_kwargs,
        _latest_state_fold_kwargs,
        _misra_gries_fold_kwargs,
        _scd2_fold_kwargs,
    )

    events = sorted(events)
    base = 1_700_000_000_000_000
    pdf = pd.DataFrame(
        {
            "ts_us": [base + d for d, _, _ in events],
            "ts_ms": [(base + d) // 1000 for d, _, _ in events],
            "event_id": range(len(events)),
            "event_type": [t for _, t, _ in events],
            "value": [v / 10.0 for _, _, v in events],
            "yc": [v * 10 for _, _, v in events],
            "xc": [v * 10 for _, _, v in events],
            "mu2_centi": 40,
            "above": [v > 250 for _, _, v in events],
            "item": [t for _, t, _ in events],
        }
    )
    cuts = [c for c in cuts if c < len(pdf)]
    cases = [
        (_latest_state_fold_kwargs(), (7,)),
        (_ewma_fold_kwargs(), (7,)),
        (_scd2_fold_kwargs(), (7,)),
        (_alert_fold_kwargs(1000, 600000), ("3", "up")),
        (_misra_gries_fold_kwargs(4), ("view",)),
        (_cusum_fold_kwargs(100, 4000), (7, "view")),
    ]
    for kwargs, key in cases:
        n_state = len(kwargs["state_schema"].fields)
        whole, state_whole = _fold_chunks(
            kwargs["fold"], key, pdf, n_state, [], kwargs["out_schema"]
        )
        split, state_split = _fold_chunks(
            kwargs["fold"], key, pdf, n_state, cuts, kwargs["out_schema"]
        )
        assert tuple(state_whole) == tuple(state_split), kwargs["fold"]
        # ewma emits per-row (append-like): full emission equality holds
        if "ewma_centi" in [f.name for f in kwargs["out_schema"].fields]:
            pd.testing.assert_frame_equal(
                whole.reset_index(drop=True),
                split.reset_index(drop=True),
                check_dtype=False,
            )


@given(
    # r13: s up to 1e20 covers the DECIMAL(38,0)/HUGEINT e4/e6 money
    # sums (sf100 charge sums reach ~1e17; two more decades of headroom)
    # and n up to 1e12 covers any realistic group cardinality -- the
    # identity is pure integer arithmetic, so the pin is magnitude-free
    # by construction and this just proves it where the catalog lives
    s=st.integers(min_value=0, max_value=10**20),
    n=st.integers(min_value=1, max_value=10**12),
    scale=st.sampled_from([100, 10_000, 1_000_000, 2_000_000]),
)
@settings(max_examples=300, deadline=None)
def test_halfup_floordiv_equals_decimal_half_up(s, n, scale):
    """The round(avg) lottery-class cure (SCALE.md §9/§10): the integer
    form floor((2*scale*s + n) / (2n)) must equal ROUND_HALF_UP of the
    exact rational scale*s/n for EVERY (s, n) -- including the half
    boundaries where round(DOUBLE, k) splits the engines. Pure integer
    arithmetic, so Spark's `div` and DuckDB's `//` compute it
    identically by construction; this pins the formula itself.

    DOMAIN: s >= 0 only. Every call site aggregates non-negative
    quantities (counts, lengths, cents of non-negative prices), so the
    non-negative domain is the one the catalog exercises; for negative
    numerators the ROUND_HALF_UP identity does NOT hold, because Spark
    `div` and DuckDB `//` both truncate toward zero (still agreeing
    with EACH OTHER -- see the companion test below -- but not with
    Python's flooring `//` or with decimal half-up)."""
    from decimal import ROUND_HALF_UP, Decimal

    got = (2 * scale * s + n) // (2 * n)
    # widen the Decimal context: scale*s reaches 27 digits and the
    # default 28-digit precision would make the REFERENCE the rounding
    # error at the top of the range
    from decimal import localcontext

    with localcontext() as ctx:
        ctx.prec = 60
        want = int(
            (Decimal(scale) * Decimal(s) / Decimal(n)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
    assert got == want


@given(
    s=st.integers(min_value=-(10**14), max_value=0),
    n=st.integers(min_value=1, max_value=10**9),
    scale=st.sampled_from([100, 10_000, 1_000_000, 2_000_000]),
)
@settings(max_examples=200, deadline=None)
def test_truncating_div_cross_engine_semantics_for_negative_numerators(s, n, scale):
    """Pins what the ENGINES actually compute on negative numerators:
    Spark's `div` and DuckDB's `//` both truncate the integer quotient
    toward zero (verified against DuckDB in
    test_catalog_oracle/test_properties fixtures), which differs from
    Python's flooring `//` whenever the division is inexact. The
    catalog never feeds a negative numerator into the half-up formula
    (all call sites sum non-negative integers), but if one ever does,
    this is the cross-engine contract: trunc, not floor, not half-up."""
    num = 2 * scale * s + n
    den = 2 * n
    # truncation toward zero -- the Spark `div` / DuckDB `//` semantics
    trunc = abs(num) // den
    if num < 0:
        trunc = -trunc
    import duckdb

    want = duckdb.sql(f"SELECT {num} // {den}").fetchone()[0]
    assert trunc == want


def test_floor_quant_expr_bit_identical_across_spark_and_duckdb(spark):
    """The r13 quantizer doctrine's central claim, pinned at the ENGINE
    level rather than by argument: floor(x*10^k + 0.5)/10^k computes
    bit-identically in Spark and DuckDB for the same input double,
    because every op is an exact IEEE double op (scale by a power of
    ten: correctly-rounded multiply; +0.5: exact for |x*s| < 2^52;
    floor: exact; divide: correctly rounded). The draw set leans on the
    adversarial classes: representable halves (2^-k), e2/e4 rationals
    near cut points, tiny magnitudes, negatives (where floor-quant
    deliberately differs from round-half-away -- on BOTH engines the
    same way), and cosine-range values."""
    import duckdb

    from pyspark.sql import functions as F

    from prometheus_pulsar_remote_write_spark.operators.similarity import (
        floor_quant_expr,
    )

    xs = [0.0078125, -0.0078125, 2**-20, -(2**-20), 0.1234565, -0.1234565,
          0.5, -0.5, 0.9999995, -0.9999995, 1.0, -1.0, 0.42, 0.7,
          0.6999995, 0.7000005, 3.0 / 8.0, 5.0 / 7.0, -5.0 / 7.0,
          1e-9, -1e-9, 0.145, 12345.678949999, -12345.678949999]
    import random

    rnd = random.Random(13)
    xs += [rnd.uniform(-1, 1) for _ in range(200)]
    xs += [rnd.uniform(-1e6, 1e6) for _ in range(100)]

    for k in (2, 4, 6, 9):
        df = spark.createDataFrame([(x,) for x in xs], "x double")
        got = [
            r.q
            for r in df.select(floor_quant_expr(F.col("x"), k).alias("q"))
            .collect()
        ]
        con = duckdb.connect()
        want = [
            con.execute(
                f"SELECT floor(? * 1e{k} + 0.5) / 1e{k}", [x]
            ).fetchone()[0]
            for x in xs
        ]
        con.close()
        import struct

        for x, g, w in zip(xs, got, want):
            assert struct.pack("<d", g) == struct.pack("<d", w), (x, k, g, w)
