"""F7 streaming extensions (SURVEY.md §2.F): event-time windows with
watermarks over the sample/event stream.

The reference batches on processing time only (pkg/remote/write.go:150)
and has no late-data handling (SURVEY.md §2.E); these operators are the
engine's event-time upgrade. Each has a batch twin in
plans.events_batch so the driver's DuckDB oracle covers the semantics;
the tests assert streaming == batch on replayed data.

Scale notes: watermarking bounds state; the windowed aggregations are
partial+final hash aggs keyed by (window, event_type) -- one shuffle.
``dropDuplicatesWithinWatermark`` keeps only the keys inside the
watermark horizon instead of an unbounded seen-set.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _interval_to_ms(interval: str) -> int:
    """Parse the subset of Spark's interval strings these operators use
    ('90 seconds', '1 hour', '2 hours 30 minutes') to milliseconds, so a
    derived-column watermark can be widened by a known lead without
    string-concatenating interval units (Spark rejects repeated units)."""
    units = {
        "millisecond": 1,
        "second": 1_000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
        "week": 604_800_000,
    }
    tokens = interval.strip().lower().replace("interval", "").split()
    if len(tokens) % 2 != 0 or not tokens:
        raise ValueError(f"unsupported interval string: {interval!r}")
    total = 0
    for num, unit in zip(tokens[::2], tokens[1::2]):
        key = unit.rstrip("s")
        if key not in units:
            raise ValueError(f"unsupported interval unit {unit!r} in {interval!r}")
        total += int(num) * units[key]
    return total


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events table as a replayed stream (same rows the batch twins see).

    Applies the identical nanos->micros timestamp normalization that
    schema.load_tables applies on the batch side.
    """
    src = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(src)
    if os.path.isfile(src):
        # the file streaming source requires a directory; stage a symlink
        # (testdata is read-only)
        stage = os.path.join(
            tempfile.gettempdir(), f"events-stream-{abs(hash(os.path.abspath(src)))}"
        )
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.abspath(src), link)
        src = stage
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    ev = reader.parquet(src)
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        # newer testdata stores ts as TIMESTAMP(MICROS) without UTC
        # adjustment, which Spark reads as TIMESTAMP_NTZ -- and
        # withWatermark() only accepts TIMESTAMP. The session TZ is pinned
        # UTC, so the cast is a pure type change, not a wall-clock shift.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def tumbling_counts(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts; twin: events_tumbling_hourly."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(ev: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Event-time session windows per user (F.session_window).

    The batch lag+cumsum twin (events_sessionization) uses the same gap;
    tests compare streaming vs batch session_window output directly.
    """
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def hll_tumbling_users(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming distinct-user estimate per tumbling hour via the HLL
    sketch (operators/sketch.py) -- two CHAINED stateful aggregations
    (register max per (window, bucket), then the register fold per
    window), which Spark >= 3.5 supports when both key on the same event
    -time window. Streaming state is <= 256 register rows per open
    window -- constant wrt traffic, which is the reason to sketch a
    stream instead of counting distinct (whose state grows with the key
    universe). Batch twin: the same sketch grouped by the hour bucket.
    """
    from ..operators.sketch import M, RHO_CAP, _hash60, hll_estimate

    h = _hash60(F.col("user_id"))
    rows = (
        ev.withWatermark("ts", watermark)
        .select(
            "ts",
            (h % M).alias("bucket"),
            F.shiftright(h, 8).alias("suffix"),
        )
        .withColumn(
            "rho",
            F.expr(
                f"case when suffix = 0 then {RHO_CAP} else"
                f" least(bit_count((suffix & -suffix) - 1) + 1, {RHO_CAP}) end"
            ),
        )
    )
    regs = rows.groupBy(F.window("ts", "1 hour").alias("w"), "bucket").agg(
        F.max("rho").alias("m_j")
    )
    est = hll_estimate(regs, ["w"])
    return est.select(
        F.unix_timestamp("w.start").alias("window_start"),
        "est_distinct",
        "buckets_set",
    )


def cms_tumbling_users(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming count-min sketch per tumbling hour: (window, depth,
    bucket) counter rows from ONE watermarked stateful aggregation.
    State is <= D*W = 4096 counters per open window -- constant wrt
    traffic -- and emitted counter tables merge with plain addition
    across windows/streams (the CMS property tests assert this). Batch
    twin: operators.sketch.cms_table grouped by the hour bucket."""
    from ..operators.sketch import CMS_D, _cms_bucket, _hash60

    h = _hash60(F.col("user_id")) % (1 << 28)
    rows = ev.withWatermark("ts", watermark).select(
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        _cms_bucket(i, h).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("e"),
    ).select("ts", "e.depth", "e.bucket")
    return (
        rows.groupBy(F.window("ts", "1 hour").alias("w"), "depth", "bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "depth",
            "bucket",
            "n",
        )
    )


def sample_rate_5m(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked streaming twin of plans.pipeline.consume_rate_5m:
    PromQL-style per-series rate/increase per 5-minute event-time window.

    first/last ride a struct min/max over the unique (timestamp,
    event_id) order, so the streaming state per open window is two
    structs + a count -- O(1) per (window, tenant, series) key, evicted
    at the watermark."""
    s = ev.select(
        "ts",
        # integer micros conversion, not the per-row date_format('SSS')
        # text pass (value-identical; see plans.pipeline._EPOCH_MS)
        F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("timestamp"),
        F.col("event_type").alias("name"),
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        "event_id",
        "value",
    )
    agg = (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "tenant_id", "name")
        .agg(
            F.count("*").alias("n"),
            F.min(F.struct("timestamp", "event_id", "value")).alias("f"),
            F.max(F.struct("timestamp", "event_id", "value")).alias("l"),
        )
    )
    increase = F.col("l.value") - F.col("f.value")
    span_s = (F.col("l.timestamp") - F.col("f.timestamp")) / 1000.0
    return agg.select(
        F.unix_timestamp("w.start").alias("window_start"),
        "tenant_id",
        "name",
        "n",
        F.col("f.value").alias("first_val"),
        F.col("l.value").alias("last_val"),
        increase.alias("increase"),
        F.when(span_s > 0, increase / span_s).alias("rate_per_s"),
    )


def ddsketch_tumbling_values(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming DDSketch-style value histogram per tumbling hour: one
    watermarked aggregation emitting (window_start, event_type, idx, c)
    log-bucket counter rows. Same fully-integer bucket function as the
    batch events_ddsketch_quantiles (bit-length via base-2 string
    conversion, 2-bit sub-buckets, gamma = 2^(1/4)); state is <= ~70
    counters per (window, event_type) regardless of traffic, and emitted
    counter tables merge with plain addition across windows/streams --
    the same mergeability contract as the HLL/CMS twins."""
    yc = F.round(F.col("value") * 100).cast("bigint")
    rows = (
        ev.withWatermark("ts", watermark)
        .select("ts", "event_type", yc.alias("yc"))
        .filter(F.col("yc") >= 1)
        .withColumn("b", (F.length(F.conv(F.col("yc"), 10, 2)) - 1).cast("int"))
        .withColumn(
            "idx",
            (
                F.col("b") * 4
                + F.expr("(yc * 4 div shiftleft(1L, b)) - 4").cast("int")
            ).cast("int"),
        )
    )
    agg = rows.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type", "idx"
    ).agg(F.count("*").alias("c"))
    return agg.select(
        F.unix_timestamp("w.start").alias("window_start"),
        "event_type",
        "idx",
        "c",
    )


def _latest_state_fold_kwargs() -> dict:
    """Fold spec for ``latest_state_stream``:
    one (ts, event_id, event_type, value) row per user -- the newest
    event seen. The batch sorts rows by (ts, event_id) already, so the
    batch-side candidate is simply the LAST sorted row (no per-row
    loop); the carried best wins ties exactly as the batch ordering
    (ts desc, event_id desc) does."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("last_seen_s", T.LongType(), False),
            T.StructField("last_event_type", T.StringType(), False),
            T.StructField("last_value", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            # microseconds, NOT seconds: the batch twin orders by full-
            # precision ts desc then event_id desc, so a seconds-truncated
            # key would let two same-second events resolve ties by
            # event_id where the batch resolves them by sub-second micros
            T.StructField("ts_us", T.LongType(), True),
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        from decimal import ROUND_HALF_UP, Decimal

        (user_id,) = key
        cand = (
            int(pdf["ts_us"].iat[-1]),
            int(pdf["event_id"].iat[-1]),
            str(pdf["event_type"].iat[-1]),
            float(pdf["value"].iat[-1]),
        )
        best = (
            cand
            if prior[0] is None or (cand[0], cand[1]) > (prior[0], prior[1])
            else tuple(prior)
        )
        # HALF_UP on the shortest decimal repr == Spark's F.round(col, 2)
        # (BigDecimal.valueOf(double)); Python's round() banker's-rounds
        # midpoints the other way
        rounded = float(
            Decimal(repr(best[3])).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
        )
        row = {
            "user_id": user_id,
            "last_seen_s": best[0] // 1_000_000,
            "last_event_type": best[2],
            "last_value": rounded,
        }
        return [row], best, best[0] // 1000

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
            "value",
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
        output_mode="update",
    )


def latest_state_stream(
    ev: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Streaming CDC latest-wins materialization: per-user current state
    maintained on the shared fold scaffold (the streaming twin of the
    batch events_latest_state compaction). State per key is ONE row --
    the (ts, event_id, event_type, value) of the newest event seen -- so
    total state is bounded by |users|, not traffic. Each micro-batch
    emits the keys it updated (an upsert changelog a MERGE sink would
    apply); ties replay the batch ordering (ts desc, event_id desc).

    ``idle_timeout_ms`` (round 9) bounds the store to recently-active
    users: a key idle past the watermark horizon is evicted. For
    latest-wins this eviction is LOSSLESS downstream -- the MERGE sink
    already holds the evicted row, a returning user's event is newer
    than everything evicted (older rows are beyond the watermark and
    dropped as late anyway), so the re-derived state never regresses
    the sink. Default None keeps every user's state resident."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_latest_state_fold_kwargs()
    )


def _scd2_fold_kwargs() -> dict:
    """Fold spec for ``scd2_stream``: one OPEN
    interval (seq, state, from_ms, last_ms, n) per user. Sequential FSM
    (a row either extends or closes the interval the previous row may
    have just opened), so the loop stays."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("interval_seq", T.LongType(), False),
            T.StructField("state", T.StringType(), False),
            T.StructField("valid_from_ms", T.LongType(), False),
            T.StructField("valid_to_ms", T.LongType(), True),
            T.StructField("last_event_ms", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seq", T.LongType(), True),
            T.StructField("etype", T.StringType(), True),
            T.StructField("from_ms", T.LongType(), True),
            T.StructField("last_ms", T.LongType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        (user_id,) = key
        open_iv = None if prior[0] is None else list(prior)
        out = []
        for ts_ms, event_id, etype in zip(
            pdf["ts_ms"], pdf["event_id"], pdf["event_type"]
        ):
            ts_ms, etype = int(ts_ms), str(etype)
            if open_iv is None:
                open_iv = [1, etype, ts_ms, ts_ms, 1]
            elif etype != open_iv[1]:
                out.append(  # close the open interval
                    {
                        "user_id": user_id,
                        "interval_seq": open_iv[0],
                        "state": open_iv[1],
                        "valid_from_ms": open_iv[2],
                        "valid_to_ms": ts_ms,
                        "last_event_ms": open_iv[3],
                        "n_events": open_iv[4],
                    }
                )
                open_iv = [open_iv[0] + 1, etype, ts_ms, ts_ms, 1]
            else:
                open_iv[3] = ts_ms
                open_iv[4] += 1
        out.append(  # current truth of the (still) open interval
            {
                "user_id": user_id,
                "interval_seq": open_iv[0],
                "state": open_iv[1],
                "valid_from_ms": open_iv[2],
                "valid_to_ms": None,
                "last_event_ms": open_iv[3],
                "n_events": open_iv[4],
            }
        )
        return out, tuple(open_iv), open_iv[3]

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),  # integer floor
            "event_id",
            "event_type",
        ],
        sort_cols=["ts_ms", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
        output_mode="update",
    )


def scd2_stream(ev: DataFrame) -> DataFrame:
    """Streaming twin of the batch events_scd2_intervals: per-user SCD2
    validity intervals maintained incrementally on the shared fold
    scaffold. State per key is ONE open interval
    (seq, state, from_ms, last_ms, n) -- when a row's event_type differs
    from the open state, the open interval CLOSES (emitted with valid_to
    = the new row's start) and a new one opens; otherwise the open
    interval extends. Update-mode upsert changelog: the latest row per
    (user_id, interval_seq) is that interval's current truth, exactly
    what a MERGE into the history table applies.

    Ordering contract matches ewma_stream: rows inside a micro-batch
    sort by (ts, event_id); across micro-batches the file-replay source
    delivers in order. State is O(1) per user regardless of history
    length -- closed intervals live in the sink table, not in state.
    No idle-TTL knob: evicting would silently drop the OPEN interval,
    which unlike the latest-wins row is not yet fully in the sink.
    """
    return _keyed_fold_stream(ev, idle_timeout_ms=None, **_scd2_fold_kwargs())


def dedup_within_watermark(ev: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup bounded by the watermark horizon.

    Key = (user_id, event_type, minute bucket): the streaming analog of
    events_dedup_per_minute, with state evicted once the watermark passes
    (no unbounded seen-set at 100 TB).
    """
    keyed = ev.withColumn(
        "minute_bucket", (F.unix_timestamp("ts").cast("bigint") / 60).cast("bigint") * 60
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute_bucket"]
    )


def interval_join_conversions_stream(
    ev: DataFrame, watermark: str = "1 hour", upper_s: int = 1800
) -> DataFrame:
    """Stream-stream interval join: purchases within ``upper_s`` seconds
    AFTER a signup by the same user (streaming twin of the batch
    events_range_join_conversions / operators.asof.range_join).

    This is the canonical Structured Streaming two-stream join: both
    sides carry a watermark and the join predicate bounds purchase_ts to
    [signup_ts, signup_ts + upper_s], so Spark can size each side's
    state store from the watermark + interval and evict rows once the
    horizon passes -- bounded state at any scale. Equi-key user_id keeps
    the join a co-partitioned state lookup (one shuffle per side).
    """
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr(f"INTERVAL {upper_s} SECONDS")
        ),
    )
    return joined.select(
        "signup_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("delay_s"),
    )


def _ewma_fold_kwargs() -> dict:
    """Fold spec for ``ewma_stream``: a ring of
    at most 15 centi-quantized values per user. The recurrence is
    genuinely sequential (each emitted value reads the ring the
    previous row just updated), so the fold keeps its per-row loop --
    the same class as CUSUM/alert/Misra-Gries, unlike the vectorized
    shift-folds."""
    from pyspark.sql import types as T

    weights = [(3**i) * (4 ** (15 - i)) for i in range(16)]

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("ts_s", T.LongType(), False),
            T.StructField("yc", T.LongType(), False),
            T.StructField("ewma_centi", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("hist", T.ArrayType(T.LongType()), True)]
    )

    def _fold(key, pdf, prior):
        import math

        (user_id,) = key
        hist = list(prior[0]) if prior[0] is not None else []  # oldest..newest
        out = []
        last_ts = 0
        for ts_us, event_id, yc in zip(pdf["ts_us"], pdf["event_id"], pdf["yc"]):
            yc = int(yc)
            lags = [yc] + hist[::-1]  # lag i = lags[i]
            num = sum(w * x for w, x in zip(weights, lags))
            den = sum(w for w, _ in zip(weights, lags))
            out.append(
                {
                    "event_id": int(event_id),
                    "user_id": user_id,
                    "ts_s": int(ts_us) // 1_000_000,
                    "yc": yc,
                    "ewma_centi": math.floor(num / den),
                }
            )
            hist.append(yc)
            if len(hist) > 15:
                hist = hist[-15:]
            last_ts = int(ts_us)
        return out, (hist,), last_ts // 1000

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("yc"),
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def ewma_stream(ev: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming twin of the batch events_ewma_smooth: per-user truncated
    16-term EWMA (alpha = 1/4, integer weights 3^i * 4^(15-i)) on the
    shared fold scaffold. State per key is a ring of at most 15
    centi-quantized values -- constant-size state per user regardless
    of traffic. Rows inside a micro-batch are sorted by (ts, event_id);
    across micro-batches the file-replay source delivers in order (the
    same monotone-arrival assumption the batch window's ORDER BY
    realizes exactly).

    ``idle_timeout_ms`` (round 9) evicts a user idle past the watermark
    horizon; on return the smoothing warms up from an empty ring --
    exactly the restart semantics a session-scoped smoother wants.
    Default None keeps exact batch parity."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_ewma_fold_kwargs()
    )


def enrich_with_static_dim(ev: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: the event stream joined against a
    static dimension (user -> tier). Spark re-plans the static side per
    micro-batch as a broadcast hash join -- no stream state at all, the
    canonical way to attach slowly-changing reference data at 100 TB
    (refresh = swap the underlying table; the next micro-batch sees it).
    """
    return ev.join(F.broadcast(dim), "user_id", "left").select(
        "event_id",
        "user_id",
        F.coalesce(F.col("tier"), F.lit("unknown")).alias("tier"),
        "event_type",
        "value",
    )


def _alert_fold_kwargs(threshold_centi: int, for_ms: int) -> dict:
    """Fold spec for ``alert_stream``: per
    (tenant, series) the count of closed FIRING runs plus the single
    open above-threshold run. Sequential FSM -- the loop stays."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("tenant_id", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("firing_seq", T.LongType(), False),
            T.StructField("pending_since_ms", T.LongType(), False),
            T.StructField("firing_at_ms", T.LongType(), False),
            T.StructField("resolved_at_ms", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("closed_firing", T.LongType(), True),
            T.StructField("pending_since", T.LongType(), True),  # -1 = no open run
            T.StructField("last_above", T.LongType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        tenant_id, name = key
        closed, pending, last, n = (
            (0, -1, -1, 0) if prior[0] is None else prior
        )
        out = []
        last_ts = 0

        def _row(resolved):
            return {
                "tenant_id": tenant_id,
                "name": name,
                "firing_seq": closed + 1,
                "pending_since_ms": pending,
                "firing_at_ms": pending + for_ms,
                "resolved_at_ms": resolved,
                "n_samples": n,
            }

        for ts_ms, above in zip(pdf["ts_ms"], pdf["above"]):
            ts_ms = int(ts_ms)
            last_ts = ts_ms
            if above:
                if pending < 0:
                    pending, last, n = ts_ms, ts_ms, 1
                else:
                    last, n = ts_ms, n + 1
            elif pending >= 0:
                if last - pending >= for_ms:  # qualified run closes: final row
                    out.append(_row(last))
                    closed += 1
                pending, last, n = -1, -1, 0
        if pending >= 0 and last - pending >= for_ms:
            # open run already firing: current truth, upserted per batch
            out.append(_row(last))
        return out, (closed, pending, last, n), last_ts

    return dict(
        key_cols=["tenant_id", "name"],
        select_cols=lambda: [
            (F.col("user_id") % 10).cast("string").alias("tenant_id"),
            F.col("event_type").alias("name"),
            F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
            "event_id",
            (
                F.round(F.col("value") * 100).cast("bigint") > threshold_centi
            ).alias("above"),
        ],
        sort_cols=["ts_ms", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
        output_mode="update",
    )


def alert_stream(ev: DataFrame, threshold_centi: int = 10000, for_ms: int = 600000) -> DataFrame:
    """Streaming twin of the batch consume_alert_firing: Prometheus
    ``value > threshold FOR duration`` alerting maintained incrementally
    on the shared fold scaffold (prometheus rules/alerting.go
    pending -> firing transition, evaluated per series as samples
    arrive instead of per nightly batch).

    State per (tenant, series) key is O(1): the count of already-closed
    FIRING runs (the firing_seq base) plus the single OPEN
    above-threshold run (pending_since, last_above, n_samples). A below
    sample closes the open run -- emitted as final iff it spanned the
    FOR duration; an open run that already spans FOR emits its current
    truth each micro-batch (update-mode upsert on (tenant_id, name,
    firing_seq)), which is the pending->firing edge a notifier keys on:
    the row's first appearance IS the transition.

    Ordering contract matches ewma_stream/scd2_stream: rows inside a
    micro-batch sort by (ts, event_id); across micro-batches the
    file-replay source delivers in time order. After the stream drains,
    the latest update per key equals the batch gaps-and-islands result
    exactly (test_streaming_alert_matches_batch, including a stop/
    restart from checkpoint mid-stream)."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=None, **_alert_fold_kwargs(threshold_centi, for_ms)
    )


def interval_join_conversions_outer_stream(
    ev: DataFrame, watermark: str = "1 hour", upper_s: int = 1800
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every signup emits -- with
    its conversion when a purchase lands inside the interval, or with
    NULLs once the watermark passes the interval's upper bound and no
    match can still arrive (the unmatched row is the "did not convert
    within 30 minutes" fact, emitted exactly when it becomes final).
    Same bounded state as the inner variant; the outer side adds only
    the deferred null emission at state eviction time -- Structured
    Streaming's outer-join correctness contract."""
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr(f"INTERVAL {upper_s} SECONDS")
        ),
        "leftOuter",
    )
    return joined.select(
        "signup_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("delay_s"),
    )


def kmv_tumbling_users(ev: DataFrame, k: int = 64, watermark: str = "1 hour") -> DataFrame:
    """Streaming KMV/theta sketch per tumbling hour: the k smallest
    distinct user hashes per (window, event_type) -- the windowed feed
    for set-expression queries (union AND intersection across types,
    events_theta_set_ops) that HLL registers cannot answer. State per
    open window is the distinct-hash set (bounded by window traffic);
    the k-truncation happens at emission, and two emitted sketches
    merge by sorting the union and re-truncating -- the KMV merge law
    (test_streaming proves merged stream sketches == the batch sketch
    of the union)."""
    from ..operators.dedup import _base_hash28

    h = _base_hash28(F.col("user_id").cast("string"))
    rows = ev.withWatermark("ts", watermark).select(
        "ts", "event_type", h.alias("h")
    )
    per = rows.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.collect_set("h").alias("hs"))
    return per.select(
        F.unix_timestamp("w.start").alias("window_start"),
        "event_type",
        F.slice(F.sort_array("hs"), 1, k).alias("mins"),
        F.least(F.size("hs"), F.lit(k)).cast("long").alias("n_mins"),
    )


def _misra_gries_fold_kwargs(capacity: int) -> dict:
    """Fold spec for ``misra_gries_stream``: the
    <= capacity (key, count) pairs plus the item total. Sequential by
    definition (the summary a row updates is the one the previous row
    left), so the loop stays."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType(), False),
            T.StructField("seq", T.LongType(), False),
            T.StructField("item", T.StringType(), False),
            T.StructField("est_count", T.LongType(), False),
            T.StructField("n_total", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ks", T.ArrayType(T.StringType()), True),
            T.StructField("cs", T.ArrayType(T.LongType()), True),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        (event_type,) = key
        ks, cs, n = (
            ([], [], 0)
            if prior[0] is None
            else (list(prior[0]), list(prior[1]), prior[2])
        )
        for item in pdf["item"]:
            n += 1
            if item in ks:
                cs[ks.index(item)] += 1
            elif len(ks) < capacity:
                ks.append(item)
                cs.append(1)
            else:
                cs = [c - 1 for c in cs]
                keep = [(k_, c) for k_, c in zip(ks, cs) if c > 0]
                ks, cs = [k_ for k_, _ in keep], [c for _, c in keep]
        out = [
            {
                "event_type": event_type,
                "seq": i + 1,
                "item": k_,
                "est_count": c,
                "n_total": n,
            }
            for i, (k_, c) in enumerate(zip(ks, cs))
        ]
        return out, (ks, cs, n), int(pdf["ts_ms"].iat[-1])

    return dict(
        key_cols=["event_type"],
        select_cols=lambda: [
            "event_type",
            F.expr("unix_micros(ts::timestamp) div 1000").alias("ts_ms"),
            "event_id",
            F.col("user_id").cast("string").alias("item"),
        ],
        sort_cols=["ts_ms", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
        output_mode="update",
    )


def misra_gries_stream(ev: DataFrame, capacity: int = 4) -> DataFrame:
    """Streaming twin of the batch events_misra_gries_topk: the SAME
    capacity-bounded MG summary maintained incrementally per event_type
    on the shared fold scaffold. Because the batch operator is
    DEFINED over arrival order, the drained stream's final summary
    equals the batch fold exactly (same order contract as
    ewma_stream/scd2_stream) -- the rare case where a sketch's
    stream/batch twins are bit-identical, not merely within bounds.
    State is the <= capacity (key, count) pairs; update-mode emits the
    current summary each micro-batch."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=None, **_misra_gries_fold_kwargs(capacity)
    )


def _retention_fold_kwargs() -> dict:
    """Fold spec for ``retention_stream``: per
    user, the first-seen week (the cohort) and the last week already
    emitted -- O(1) state. Under the per-key in-order delivery contract
    the twins document, a user's weeks arrive non-decreasing, so
    "distinct weeks" is exactly "weeks greater than the last emitted
    one" -- no seen-set, no growth with history length. Vectorized:
    np.unique of the batch's precomputed week column, one comparison.
    The idle-TTL timer arms from the batch's REAL max event timestamp
    (``ts_ms``), not the week floor -- arming from the floor would let
    a short horizon (< 1 week) evict a user mid-week and double-count
    their activity_week on return (round-9 advice)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("cohort_week", T.LongType(), False),
            T.StructField("activity_week", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cohort_week", T.LongType(), True),
            T.StructField("last_week", T.LongType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        cohort, last_week = prior
        weeks = np.unique(pdf["week"].to_numpy())  # sorted ascending
        if cohort is None:
            cohort = int(weeks[0])
        fresh = weeks if last_week is None else weeks[weeks > last_week]
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "cohort_week": cohort,
                "activity_week": fresh,
            }
        )
        new_last = int(weeks[-1]) if last_week is None else max(
            int(weeks[-1]), last_week
        )
        return out, (cohort, new_last), int(pdf["ts_ms"].max())

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            (
                (F.floor(F.unix_timestamp("ts") / 604800) * 604800).cast(
                    "bigint"
                )
            ).alias("week"),
            F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
            "event_id",
        ],
        sort_cols=["week", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def retention_stream(ev: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Online cohort-retention feed -- the streaming front end of
    events_batch.events_retention_cohorts: per user the only state is
    (first-seen week, last emitted week), and a row (user, cohort_week,
    activity_week) is emitted the first time a user is active in a
    week. Counting emitted rows per (cohort_week, activity_week)
    reproduces the batch retention matrix exactly; the counting stays
    out of this operator (chaining a second stateful aggregation after
    a state store is the one shape Structured Streaming restricts),
    the same operator/consumer split as transition_stream. The live-ops
    use: the retention dashboard updates per micro-batch, and the
    week-N-retained audience is the emitted-row set itself.

    ``idle_timeout_ms`` bounds the store for year-scale deployments;
    the trade is stronger here than for the shift folds and is why the
    default is None: an evicted user who returns RE-COHORTS at the
    return week (their pre-gap cohort is forgotten), the same pruning
    decision offline cohort systems make when history ages out."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_retention_fold_kwargs()
    )


def open_backlog_stream(
    deltas: DataFrame, lateness: str | None = None
) -> DataFrame:
    """Streaming twin of relational.orders_open_backlog's per-day
    rollup (round 9): ingests order lifecycle deltas -- one row per
    transition, ``ts`` event time, ``d`` = +1 the day an order opens /
    -1 the day after it fully ships -- and maintains the per-day
    (n_opened, n_closed, delta) counts as a plain watermark-capable
    streaming aggregation. The cumulative backlog curve is the
    consumer's serving aggregation (a running sum over the BOUNDED
    per-day rows -- ~2.4k for the TPC-H calendar), the same
    operator/consumer split transition_stream documents: chaining a
    second stateful aggregation after the first is the one shape
    Structured Streaming restricts, and the curve over day rows is
    cheap anywhere. The tests pin drained-rollup + cumsum equal to the
    batch entry's exact output.

    ``lateness`` set gives append-mode deployments bounded state: a day
    finalizes (emits once and leaves the store) when the watermark
    passes it. Default None supports complete/update drains with state
    bounded by the calendar span -- the honest bound either way, since
    the rollup key is the DAY, not the order."""
    src = deltas if lateness is None else deltas.withWatermark("ts", lateness)
    return (
        src.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_opened"),
            F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("n_closed"),
            F.sum("d").alias("delta"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "n_opened",
            "n_closed",
            "delta",
        )
    )


def slo_burn_stream(ev: DataFrame, watermark: str = "1 hour", budget_milli: int | None = None) -> DataFrame:
    """Streaming twin of events_slo_burn_rate (the Google SRE multiwindow
    multi-burn-rate alert) in ONE stateful aggregation: each event
    contributes to the SIX hourly long-window buckets it falls inside
    (explode k=0..5, bucket hour = event hour + k), with k==0 marking
    its short-window (own-hour) contribution. The per-bucket sums then
    read directly as (1h count/errors, rolling-6h count/errors) -- no
    stream-stream join of two aggregates, which Structured Streaming
    does not allow, and no second stateful stage.

    The watermark column must be the windowed one (the DERIVED bucket
    timestamp), but bucket_ts runs up to 5 hours AHEAD of event time
    (k=0..5) -- so the configured event-time lateness bound is restored
    by widening the declared delay by that 5-hour lead. Without the
    widening, one batch's k=5 buckets would advance the watermark past
    the NEXT batch's own-hour (k=0) buckets and silently drop them --
    every hour after the first micro-batch would lose its short-window
    counts (caught by the multi-batch replay test). A bucket for hour H
    therefore closes once event time passes H + 1h + ``watermark``,
    exactly the bound the caller asked for. Rows whose own-hour count
    is zero (buckets only reached by the long window) are filtered to
    match the batch twin's hourly-aggregate row set. State is bounded:
    6 buckets per event, (tenant x open hours) rows."""
    from ..plans.events_batch import _SLO_BUDGET_MILLI

    budget = budget_milli if budget_milli is not None else _SLO_BUDGET_MILLI
    delay_ms = _interval_to_ms(watermark) + 5 * 3_600_000
    base = ev.select(
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        "ts",
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )
    contrib = base.select(
        "tenant_id",
        "ts",
        "is_err",
        F.explode(F.expr("sequence(0, 5)")).alias("k"),
    ).withColumn(
        "bucket_ts",
        F.timestamp_seconds(
            (F.expr("unix_timestamp(ts) div 3600") + F.col("k")) * 3600
        ),
    )
    agg = (
        contrib.withWatermark("bucket_ts", f"{delay_ms} milliseconds")
        .groupBy(F.window("bucket_ts", "1 hour").alias("w"), "tenant_id")
        .agg(
            F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).alias("n_events"),
            F.sum(F.when(F.col("k") == 0, F.col("is_err")).otherwise(0)).alias(
                "n_errors"
            ),
            F.count("*").alias("n_events_6h"),
            F.sum("is_err").alias("n_errors_6h"),
        )
    )
    short_burn = F.expr(f"((1000 * n_errors) DIV n_events) * 1000 DIV {budget}")
    long_burn = F.expr(
        f"((1000 * n_errors_6h) DIV n_events_6h) * 1000 DIV {budget}"
    )
    return agg.filter(F.col("n_events") > 0).select(
        "tenant_id",
        F.expr("unix_timestamp(w.start) div 3600").alias("hr"),
        "n_events",
        "n_errors",
        short_burn.alias("short_burn_milli"),
        long_burn.alias("long_burn_milli"),
        ((short_burn > 2000) & (long_burn > 2000)).alias("alert"),
    )


def heatmap_stream(
    ev: DataFrame, lo_centi: int, hi_centi: int, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of consume_heatmap_buckets: the 2-D (hour x value
    band) histogram feed, windowed. A live dashboard configures its
    value axis up front, so the band bounds are PARAMETERS here where
    the batch twin derives them from the corpus min/max -- the
    stream==batch test feeds the batch-derived bounds in. One windowed
    hash aggregation over scan-side integer band arithmetic; bounded
    state (open hours x 10 bands)."""
    s = ev.select("ts", F.round(F.col("value") * 100).cast("bigint").alias("vc"))
    # clamp BOTH edges: the dashboard's configured bounds are reachable
    # from outside (the batch twin derives lo/hi from the corpus, so it
    # never sees an out-of-range value) -- without the greatest(.., 0) a
    # below-lo sample lands in a negative band no heatmap panel expects
    band = F.expr(
        f"greatest(least(((vc - {lo_centi}) * 10)"
        f" DIV greatest({hi_centi} - {lo_centi} + 1, 1), 9), 0)"
    )
    return (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), band.alias("band"))
        .agg(F.count("*").alias("n_samples"))
        .select(
            F.unix_timestamp("w.start").alias("hour_start"),
            F.col("band").cast("bigint").alias("band"),
            "n_samples",
        )
    )


def _cusum_fold_kwargs(k2_centi: int, h_centi: int) -> dict:
    """Fold spec for ``cusum_stream``: five
    integers of state per (user, event_type). Sequential recurrence
    (each sample reads the s+/s- the previous sample set), so the loop
    stays; the trained mu2 rides each row from the broadcast join."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("mu2_centi", T.LongType(), False),
            T.StructField("n_alarms", T.LongType(), False),
            T.StructField("max_cusum_centi", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("sp", T.LongType(), True),
            T.StructField("sm", T.LongType(), True),
            T.StructField("n_alarms", T.LongType(), True),
            T.StructField("max_s", T.LongType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        user_id, event_type = key
        sp, sm, n_alarms, max_s, n = (
            (0, 0, 0, 0, 0) if prior[0] is None else prior
        )
        mu2 = int(pdf["mu2_centi"].iloc[0])
        for xc in pdf["xc"]:
            x2 = 2 * int(xc)
            cand_p = max(0, sp + (x2 - mu2 - k2_centi))
            cand_m = max(0, sm + (mu2 - x2 - k2_centi))
            alarm = cand_p > h_centi or cand_m > h_centi
            sp = 0 if cand_p > h_centi else cand_p
            sm = 0 if cand_m > h_centi else cand_m
            n_alarms += 1 if alarm else 0
            max_s = max(max_s, cand_p, cand_m)
            n += 1
        out = [
            {
                "user_id": user_id,
                "event_type": event_type,
                "n_samples": n,
                "mu2_centi": mu2,
                "n_alarms": n_alarms,
                "max_cusum_centi": max_s,
            }
        ]
        return out, (sp, sm, n_alarms, max_s, n), int(pdf["ts_us"].iat[-1]) // 1000

    return dict(
        key_cols=["user_id", "event_type"],
        select_cols=lambda: [
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("xc"),
            F.col("mu2_centi").cast("long"),
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
        output_mode="update",
    )


def cusum_stream(
    ev: DataFrame,
    baseline: DataFrame,
    k2_centi: int = 100,
    h_centi: int = 4000,
) -> DataFrame:
    """Streaming twin of events_cusum_changepoints with a TRAINED
    baseline: production CUSUM fixes its reference mean from history
    before going online, so the per-series doubled mid-range
    (``mu2_centi``) arrives as a static table (stream-static broadcast
    join -- refresh by swapping the table) and detection runs
    sequentially with FIVE integers of state per (user, event_type):
    [s+, s-, n_alarms, max_s, n_samples] on the shared fold scaffold.
    The fold is bit-identical to
    the batch ``aggregate()`` expression (doubled values, slack
    ``k2_centi``, threshold ``h_centi``, alarm-and-reset, max over
    pre-reset candidates); rows fold in (ts, event_id) order inside
    each micro-batch, the same order the batch sort realizes. Update
    mode emits each key's running summary, so at drain the final row
    per key equals the batch fold over the same data and baseline."""
    joined = ev.join(F.broadcast(baseline), ["user_id", "event_type"])
    return _keyed_fold_stream(
        joined, idle_timeout_ms=None, **_cusum_fold_kwargs(k2_centi, h_centi)
    )


def seasonal_anomaly_stream(ev: DataFrame, baseline: DataFrame) -> DataFrame:
    """Streaming twin of events_seasonal_anomaly with a TRAINED
    baseline: the per-(event_type, hour-of-day) median/MAD cells are
    trained offline from history and arrive as a static table (the
    same deployment shape as cusum_stream's trained mean -- refresh by
    swapping the table); the stream then scores each event against its
    cell (broadcast join, |vc - median| > 3 * MAD) and keeps per-cell
    totals as a PLAIN streaming aggregation -- no custom state, state
    bounded by the 
    (event types x 24 hours) cell count. At drain the per-cell
    (n, n_anomalies) equal the batch entry computed with the same
    baseline."""
    scored = ev.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    ).join(F.broadcast(baseline), ["event_type", "hod"])
    return (
        scored.withColumn(
            "is_anom",
            F.abs(F.col("vc") - F.col("median_centi"))
            > F.col("mad_centi") * 3,
        )
        .groupBy("event_type", "hod")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_anom").cast("long")).alias("n_anomalies"),
        )
    )



def _keyed_fold_stream(
    ev: DataFrame,
    *,
    key_cols: list,
    select_cols: list,
    sort_cols: list,
    fold,
    out_schema,
    state_schema,
    idle_timeout_ms: int | None,
    output_mode: str = "append",
):
    """Shared plumbing for the per-key fold twins (transition, scrape
    gap, trigram, funnel -- and the update-mode CDC/EWMA twins, which
    differ only in ``output_mode``): sort-within-batch, state carry, and the
    optional idle-TTL contract live HERE so the operators stay in
    lockstep. ``fold(key, pdf, prior_state) -> (rows, new_state,
    last_ts_ms)`` is the only per-operator logic; ``rows`` may be a
    list of dicts or a pandas DataFrame (the vectorized folds build
    the frame directly -- no per-row Python in the hot path).

    TTL semantics (idle_timeout_ms set): the input watermarks ``ts``
    with lateness == the horizon (a 0s watermark would drop cross-key
    disorder -- keys are skewed in time, so one key's fresh event must
    not make another key's slightly-older rows late), the grouped
    relation carries the watermarked column (EventTimeTimeout requires
    it; the default path stays byte-identical without it), and a key
    idle past last_ts + horizon is evicted -- the store holds the
    recently-active key set instead of every key ever seen. The timer
    re-arms from each batch's max event time, which equals "newest
    event + horizon" under the per-key in-order delivery contract the
    twins document (KeyShared; the tests' ts-ordered replays); a
    contract-violating batch of only older rows would re-arm the timer
    correspondingly earlier."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = [f.name for f in out_schema.fields]
    n_state = len(state_schema.fields)

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if idle_timeout_ms is not None and state.hasTimedOut:
            # watermark passed last_ts + horizon with no new events:
            # drop the key so the store tracks only active keys
            state.remove()
            yield pd.DataFrame([], columns=out_cols)
            return
        prior = tuple(state.get) if state.exists else (None,) * n_state
        pdf = pd.concat(list(pdfs)).sort_values(sort_cols)
        if pdf.empty:  # never observed from the runtime; keep the fold total
            yield pd.DataFrame([], columns=out_cols)
            return
        out, new_state, last_ts_ms = fold(key, pdf, prior)
        state.update(tuple(new_state))
        if idle_timeout_ms is not None:
            state.setTimeoutTimestamp(int(last_ts_ms) + idle_timeout_ms)
        if isinstance(out, pd.DataFrame):
            yield out.loc[:, out_cols]
        else:
            yield pd.DataFrame(out, columns=out_cols)

    src_df = (
        ev
        if idle_timeout_ms is None
        else ev.withWatermark("ts", f"{idle_timeout_ms} milliseconds")
    )
    # select_cols may be a thunk: Column expressions need a live session,
    # and the fold specs must stay importable without one (the fold
    # micro-bench and property tests run the folds pure-pandas)
    cols = select_cols() if callable(select_cols) else select_cols
    keyed = src_df.select(
        *cols, *(["ts"] if idle_timeout_ms is not None else [])
    )
    return keyed.groupBy(*key_cols).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def _transition_fold_kwargs() -> dict:
    """Fold spec for ``transition_stream``: each
    user's LAST event type is the only state, and every arriving event
    with a predecessor emits one (prev_type, next_type) row."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("prev_type", T.StringType(), False),
            T.StructField("next_type", T.StringType(), False),
            T.StructField("ts_us", T.LongType(), False),
        ]
    )
    # only the previous event TYPE is ever read back; persisting the
    # (ts, event_id) pair too would be dead bytes in every key of the
    # very store the TTL knob exists to bound
    state_schema = T.StructType([T.StructField("last_type", T.StringType(), True)])

    def _fold(key, pdf, prior):
        # vectorized shift-fold on numpy views: prev[i] = type[i-1] with
        # the carried last event seeding row 0 -- per-batch cost is a
        # few array ops + one frame build, not a per-row Python loop (a
        # hot key seeing thousands of rows per micro-batch folds at
        # columnar speed; SCALE.md's round-9 entry has the measured ratio)
        import numpy as np
        import pandas as pd

        (user_id,) = key
        (last_type,) = prior
        et = pdf["event_type"].to_numpy()
        ts_us = pdf["ts_us"].to_numpy()
        if last_type is None:
            # no carried predecessor: row 0 emits nothing
            out = pd.DataFrame(
                {
                    "user_id": user_id,
                    "prev_type": et[:-1],
                    "next_type": et[1:],
                    "ts_us": ts_us[1:],
                }
            )
        else:
            prev = np.empty(len(et), dtype=object)
            prev[0] = last_type
            prev[1:] = et[:-1]
            out = pd.DataFrame(
                {
                    "user_id": user_id,
                    "prev_type": prev,
                    "next_type": et,
                    "ts_us": ts_us,
                }
            )
        return out, (et[-1],), int(ts_us[-1]) // 1000

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def transition_stream(ev: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Online per-user transition extraction -- the streaming front end
    of events_markov_transitions: each user's LAST event type is the
    only state kept (one value per user), and every arriving event
    emits one (prev_type, next_type) transition row.
    Rows inside a micro-batch sort by (ts, event_id); across batches
    the carried last-event state stitches the timeline, so the union
    of emitted transitions over any replay equals the batch lag()
    extraction exactly. Downstream counting/normalizing is the
    consumer's aggregation (kept out of this operator: chaining a
    second stateful aggregation after a state store is the one shape
    Structured Streaming restricts).

    ``idle_timeout_ms`` bounds the state at scale: when set, a user
    whose last event is older than the event-time watermark by more
    than the horizon is EVICTED (EventTimeTimeout), so the store holds
    only the recently-active key set instead of every user ever seen --
    the knob a year-long deployment needs, because 'all users ever'
    only grows while 'active within the horizon' is stationary. The
    documented trade: a user returning after the horizon starts a fresh
    timeline, so the one transition spanning the gap is not emitted
    (exactly the pair a session-scoped analysis excludes anyway).
    Default None keeps the exact batch-parity semantics."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_transition_fold_kwargs()
    )


def _scrape_gap_fold_kwargs() -> dict:
    """Fold spec for ``scrape_gap_stream``: per
    series (tenant, metric name) the only state is the last sample's
    timestamp; every arriving sample emits one interval row."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("tenant_id", T.StringType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("gap_ms", T.LongType(), False),
            T.StructField("ts_ms", T.LongType(), False),
        ]
    )
    # only the previous timestamp is read back (the gap arithmetic);
    # the event_id tiebreak orders rows WITHIN a batch and never needs
    # to persist
    state_schema = T.StructType([T.StructField("last_ts_ms", T.LongType(), True)])

    def _fold(key, pdf, prior):
        # vectorized shift-fold: gap[i] = ts[i] - ts[i-1] with the
        # carried last timestamp seeding row 0 -- pure int64 array ops,
        # no per-row Python (SCALE.md's round-9 entry has the ratio)
        import numpy as np
        import pandas as pd

        tenant_id, name = key
        (last_ts,) = prior
        ts = pdf["ts_ms"].to_numpy()
        if last_ts is None:
            out = pd.DataFrame(
                {
                    "tenant_id": tenant_id,
                    "name": name,
                    "gap_ms": ts[1:] - ts[:-1],
                    "ts_ms": ts[1:],
                }
            )
        else:
            prev = np.empty_like(ts)
            prev[0] = last_ts
            prev[1:] = ts[:-1]
            out = pd.DataFrame(
                {
                    "tenant_id": tenant_id,
                    "name": name,
                    "gap_ms": ts - prev,
                    "ts_ms": ts,
                }
            )
        new_last = int(ts[-1])
        return out, (new_last,), new_last

    return dict(
        key_cols=["tenant_id", "name"],
        select_cols=lambda: [
            (F.col("user_id") % 10).cast("string").alias("tenant_id"),
            F.col("event_type").alias("name"),
            # integer micros conversion (value-identical; see
            # plans.pipeline._EPOCH_MS)
            F.expr("unix_micros(cast(ts as timestamp)) div 1000").alias("ts_ms"),
            "event_id",
        ],
        sort_cols=["ts_ms", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def scrape_gap_stream(ev: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Online scrape-interval extraction -- the streaming front end of
    consume_scrape_gaps: per series (tenant, metric name) the only
    state is the last sample's timestamp, and every arriving sample
    emits one interval row (gap_ms since the previous sample). The
    drained union is exactly the batch lag() interval
    extraction, so the staleness report (median cadence, >2x-median
    late counts) derives from these rows by the same aggregation. The
    live-ops use: alert on a gap the moment the sample AFTER it
    arrives, instead of on the next batch report.

    ``idle_timeout_ms`` is the series-churn knob: metrics state is the
    one that actually explodes in a long-lived deployment (label churn
    mints new series forever; most never report again), so with the
    horizon set, a series silent past the event-time watermark by more
    than it is EVICTED -- the same lifecycle decision Prometheus itself
    makes when it marks a series stale. The trade: a series returning
    after the horizon starts fresh, so the one gap row spanning the
    eviction is not emitted (it is a new series incarnation, not a late
    scrape). Default None keeps exact batch parity."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_scrape_gap_fold_kwargs()
    )


def _funnel_fold_kwargs() -> dict:
    """Fold spec for ``funnel_stream``: three
    stage timestamps per user; a row is emitted the moment a user newly
    reaches a stage. The fold is a genuine FSM (each row's branch
    depends on the state the previous row may have just set), so it
    keeps the per-row loop -- the sequential recurrence the vectorized
    shift-folds don't have."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("stage", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("ts_us", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t1_us", T.LongType(), True),
            T.StructField("t2_us", T.LongType(), True),
            T.StructField("t3_us", T.LongType(), True),
        ]
    )
    stage_of = {"view": 1, "click": 2, "purchase": 3}

    def _fold(key, pdf, prior):
        (user_id,) = key
        t1, t2, t3 = prior
        out = []
        last_ts = 0
        for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
            ts_us = int(ts_us)
            last_ts = ts_us
            if etype == "view" and t1 is None:
                t1 = ts_us
            elif etype == "click" and t2 is None and t1 is not None and ts_us > t1:
                t2 = ts_us
            elif etype == "purchase" and t3 is None and t2 is not None and ts_us > t2:
                t3 = ts_us
            else:
                continue
            out.append(
                {
                    "user_id": user_id,
                    "stage": stage_of[etype],
                    "event_type": etype,
                    "ts_us": ts_us,
                }
            )
        return out, (t1, t2, t3), last_ts // 1000

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def funnel_stream(ev: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Online ordered-stage funnel -- the streaming front end of
    events_batch.events_funnel_conversion: per user the ONLY state is
    the three stage timestamps (first 'view', first 'click' strictly
    after it, first 'purchase' strictly after that), and a row is
    emitted the moment a user newly reaches a stage. Counting emitted
    rows per stage reproduces the batch entry's per-stage user counts
    exactly, because under per-key event-time-ordered delivery (the
    KeyShared contract the bus provides; the batch-twin tests replay
    ts-ordered files) the greedy fold IS the batch min()-chain: the
    first qualifying arrival per stage is the minimal qualifying
    timestamp, and strict '>' comparisons resolve ties identically.

    The live-ops use: conversion dashboards update per micro-batch
    instead of per nightly batch, and a 'reached checkout, no purchase'
    audience is the stage-2-minus-stage-3 set of the emitted rows at
    any moment. State is three longs per user -- bounded by |users|,
    the same bound the batch entry's per-stage aggregates shuffle.

    ``idle_timeout_ms`` (default None = exact batch parity) evicts a
    user idle past the watermark horizon. The funnel-specific trade is
    stronger than the shift-folds': an evicted user returning later
    restarts the funnel from stage 1, so a stage may RE-EMIT for that
    user -- at-most-once-per-stage then holds per incarnation, not per
    user. Right for session-scoped funnels; leave unset for the
    lifetime funnel the batch entry computes."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_funnel_fold_kwargs()
    )


def _path_trigram_fold_kwargs() -> dict:
    """Fold spec for ``path_trigram_stream``:
    each user's last TWO event types are the only state; every arriving
    event with two predecessors emits one 'p2>p1>current' path row."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("ts_us", T.LongType(), False),
        ]
    )
    # only the last two event types are read back; the (ts, event_id)
    # pair orders rows within a batch and never needs to persist
    state_schema = T.StructType(
        [
            T.StructField("p1_type", T.StringType(), True),
            T.StructField("p2_type", T.StringType(), True),
        ]
    )

    def _fold(key, pdf, prior):
        # vectorized double-shift on factorized codes: event types are
        # integer-coded once (pd.factorize), the two predecessor columns
        # are shifted CODE arrays seeded from the carried (p1, p2) pair,
        # and the 'p2>p1>cur' strings are built only for the DISTINCT
        # code triples present (a per-unique-path lookup table), then
        # gathered -- elementwise string concat over object arrays was
        # the fold's dominant cost (SCALE.md's round-9 entry measures it).
        # The state invariant p2-set => p1-set makes the emission
        # boundary a plain slice: rows before `start` lack a second
        # predecessor.
        import numpy as np
        import pandas as pd

        (user_id,) = key
        p1, p2 = prior
        ts_us = pdf["ts_us"].to_numpy()
        c0, cat_index = pd.factorize(pdf["event_type"])
        cats = list(cat_index)

        def _code(v):
            # carried types may be absent from this batch's categories
            try:
                return cats.index(v)
            except ValueError:
                cats.append(v)
                return len(cats) - 1

        n = len(c0)
        c1 = np.empty(n, np.int64)
        c1[0] = _code(p1) if p1 is not None else -1
        c1[1:] = c0[:-1]
        c2 = np.empty(n, np.int64)
        c2[0] = _code(p2) if p2 is not None else -1
        c2[1:] = c1[:-1]
        start = 0 if p2 is not None else (1 if p1 is not None else 2)
        k = len(cats)
        combo = (c2 * k + c1) * k + c0
        emit = combo[start:]
        if k**3 <= max(4 * n, 4096):
            # low type cardinality (the event-stream norm): a dense LUT
            # indexed by the combined code skips np.unique's sort --
            # strings are built only for the triples actually present
            lut = np.empty(k**3, dtype=object)
            present = np.zeros(k**3, dtype=bool)
            present[emit] = True
            for u in np.nonzero(present)[0]:
                lut[u] = f"{cats[u // (k * k)]}>{cats[(u // k) % k]}>{cats[u % k]}"
            paths = lut[emit]
        else:
            uniq, inv = np.unique(emit, return_inverse=True)
            lut = np.empty(len(uniq), dtype=object)
            for i, u in enumerate(uniq):
                lut[i] = f"{cats[u // (k * k)]}>{cats[(u // k) % k]}>{cats[u % k]}"
            paths = lut[inv]
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "path": paths,
                "ts_us": ts_us[start:],
            }
        )
        new_p1 = pdf["event_type"].iat[-1]
        new_p2 = pdf["event_type"].iat[-2] if n >= 2 else p1
        return out, (new_p1, new_p2), int(ts_us[-1]) // 1000

    return dict(
        key_cols=["user_id"],
        select_cols=lambda: [
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
        ],
        sort_cols=["ts_us", "event_id"],
        fold=_fold,
        out_schema=out_schema,
        state_schema=state_schema,
    )


def path_trigram_stream(
    ev: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Online 3-step journey extraction -- the streaming front end of
    events_batch.events_top_paths: each user's last TWO event types are
    the only state, and every arriving event with two predecessors
    emits one 'p2>p1>current' path row. The emitted multiset equals the batch
    lag(1)/lag(2) extraction exactly under per-key event-time-ordered
    delivery (within a micro-batch rows sort by (ts, event_id); across
    batches the carried pair stitches the timeline), so the top-20
    dashboard is the same count-and-rank over either side. Downstream
    counting stays out of this operator -- chaining a second stateful
    aggregation after a state store is the one shape Structured
    Streaming restricts.

    ``idle_timeout_ms`` is the same bounded-state knob as on
    transition_stream (journeys are session-scoped by nature): a user
    idle past the event-time watermark horizon is evicted, and on
    return the journey restarts -- the trigram bridging the gap is not
    emitted. Default None keeps exact batch parity."""
    return _keyed_fold_stream(
        ev, idle_timeout_ms=idle_timeout_ms, **_path_trigram_fold_kwargs()
    )

