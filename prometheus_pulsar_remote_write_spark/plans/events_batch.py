"""Event-stream operators in batch form (SURVEY.md §2.F F7).

The streaming pipelines (prometheus_pulsar_remote_write_spark.streaming)
run these same shapes with watermarks; the batch forms here give the
driver an ANSI-SQL oracle for each. Window starts leave the queries as
epoch BIGINTs (engine-portable; Spark session TZ is pinned UTC).

Scale notes: all of these are single hash-aggregations or window
functions keyed by (bucket, event_type) or user_id -- one shuffle each,
partial aggregation map-side where applicable. Sessionization is the
lag+cumsum formulation (one shuffle on user_id, no state explosion).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import exact_dedup
from ..operators.sketch import hll_distinct, hll_oracle_sql
from ..schema import load_tables


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir, ["events"])["events"]


def events_hll_user_estimate(spark, sf_dir):
    """Approximate distinct users per event_type via the cross-engine
    deterministic HLL sketch (operators/sketch.py), joined with the exact
    count so the relative error is visible in the result. At 100 TB the
    exact branch is the one you drop: the sketch shuffles <=256 register
    rows per group regardless of input size, and registers merge with a
    plain max so re-aggregation across days/tenants is free."""
    ev = _events(spark, sf_dir)
    est = hll_distinct(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "est_distinct", "buckets_set", "exact_distinct"
    )


HLL_USERS_SQL = f"""
WITH sketch AS ({hll_oracle_sql("events", "event_type", "user_id")}),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT event_type, est_distinct, buckets_set, exact_distinct
FROM sketch JOIN exact USING (event_type)
"""


def events_ddsketch_quantiles(spark, sf_dir):
    """Mergeable quantile sketch (DDSketch family, Masson et al. 2019)
    with a fully integer, cross-engine-deterministic bucket function:
    centi-quantized values map to log-buckets idx = 4*floor(log2(yc)) +
    sub, where the 2-bit sub-bucket comes from the top mantissa bits --
    gamma = 2^(1/4), so quantile estimates carry <= ~9% relative error.
    bit-length is computed via base-2 string conversion (conv/bin), so
    NO floating log anywhere: the sketch is bit-identical across
    engines and buckets merge by addition (the F8 mergeability
    contract, same as the HLL registers and CMS counters).

    Emits per event_type the sketch's p50/p95/p99 estimates next to the
    exact order statistics, so the error is visible in the result (the
    HLL entry's exact_distinct pattern). At 100 TB the exact branch is
    the one you drop: the sketch state is <= ~70 bucket counters per
    group regardless of input size."""
    ev = _events(spark, sf_dir)
    s = ev.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    ).filter(F.col("yc") >= 1)
    bucketed = s.withColumn(
        "b", (F.length(F.conv(F.col("yc"), 10, 2)) - 1).cast("int")
    ).withColumn(
        "idx",
        (
            F.col("b") * 4
            + F.expr("(yc * 4 div shiftleft(1L, b)) - 4").cast("int")
        ).cast("int"),
    )
    counts = bucketed.groupBy("event_type", "idx").agg(F.count("*").alias("c"))
    wc = Window.partitionBy("event_type").orderBy("idx")
    cum = counts.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("event_type"))
    )

    def est_idx(q):
        rank = F.floor((F.col("n") * q + 99) / 100)  # == ceil(q*n/100)
        return F.min(F.when(F.col("cum") >= rank, F.col("idx")))

    sketch = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        est_idx(50).alias("i50"),
        est_idx(95).alias("i95"),
        est_idx(99).alias("i99"),
    )

    def est_micro(icol):
        return F.expr(
            f"cast(shiftleft(1L, cast({icol} div 4 as int))"
            f" * (9 + 2 * ({icol} % 4)) * 1250 as bigint)"
        )

    we = Window.partitionBy("event_type").orderBy("yc")
    ranked = s.withColumn("rn", F.row_number().over(we)).withColumn(
        "cnt", F.count("*").over(Window.partitionBy("event_type"))
    )
    exact = ranked.groupBy("event_type").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("cnt") * q + 99) / 100),
                    F.col("yc"),
                )
            ).alias(f"exact_p{q}_centi")
            for q in (50, 95, 99)
        ]
    )
    return sketch.join(exact, "event_type").select(
        "event_type",
        "n",
        est_micro("i50").alias("p50_est_micro"),
        est_micro("i95").alias("p95_est_micro"),
        est_micro("i99").alias("p99_est_micro"),
        "exact_p50_centi",
        "exact_p95_centi",
        "exact_p99_centi",
    )


DDSKETCH_SQL = """
WITH s AS (
  SELECT event_type, event_id, round(value * 100)::BIGINT AS yc
  FROM events WHERE round(value * 100) >= 1
), bucketed AS (
  SELECT event_type, yc,
         (length(bin(yc)) - 1)::INT AS b,
         ((length(bin(yc)) - 1) * 4
          + (yc * 4 // (1::BIGINT << (length(bin(yc)) - 1))) - 4)::INT AS idx
  FROM s
), counts AS (
  SELECT event_type, idx, count(*)::BIGINT AS c
  FROM bucketed GROUP BY 1, 2
), cum AS (
  SELECT event_type, idx, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY idx
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM counts
), sketch AS (
  SELECT event_type, max(n)::BIGINT AS n,
         min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN idx END) AS i50,
         min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN idx END) AS i95,
         min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END) AS i99
  FROM cum GROUP BY event_type
), ranked AS (
  SELECT event_type, yc,
         row_number() OVER (PARTITION BY event_type ORDER BY yc) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM s
), exact AS (
  SELECT event_type,
         max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN yc END) AS exact_p50_centi,
         max(CASE WHEN rn = (cnt * 95 + 99) // 100 THEN yc END) AS exact_p95_centi,
         max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN yc END) AS exact_p99_centi
  FROM ranked GROUP BY event_type
)
SELECT s.event_type, s.n,
       ((1::BIGINT << (i50 // 4)) * (9 + 2 * (i50 % 4)) * 1250)::BIGINT AS p50_est_micro,
       ((1::BIGINT << (i95 // 4)) * (9 + 2 * (i95 % 4)) * 1250)::BIGINT AS p95_est_micro,
       ((1::BIGINT << (i99 // 4)) * (9 + 2 * (i99 % 4)) * 1250)::BIGINT AS p99_est_micro,
       exact_p50_centi, exact_p95_centi, exact_p99_centi
FROM sketch s JOIN exact USING (event_type)
"""


def events_cms_key_drift(spark, sf_dir):
    """Sketch-based DRIFT detection: build one count-min sketch per half
    of the time range (split at the global midpoint) keyed by user, then
    point-estimate the top-20 overall users against BOTH sketches and
    report each key's growth in floor-micro ratio ((est2+1)/(est1+1)) --
    'which keys are surging' answered from two constant-size counter
    tables instead of two full aggregations. This is what CMS
    mergeability is FOR: per-window sketches persist tiny, and any
    pair of windows compares after the fact without rescanning.

    All-integer (CMS counters, +1-smoothed ratio floored to micro), so
    the oracle hash-matches exactly. At 100 TB the exact candidate
    stream is the piece you replace with the sketch's own heavy-hitter
    candidates; the comparison machinery is unchanged.

    r15 restructure (the r14 verdict's sweep-union item; guide §2.4/§8
    "decide with small rows"): the old plan scanned events FOUR times
    (bounds, cms-first-half, cms-second-half, top-20) and probed the two
    sketches through 8 per-depth broadcast joins -- 40 exchanges. Now
    ONE (ukey, first_half) pre-aggregation is the proxy for everything
    downstream: both half-sketches derive from its per-user counts
    (sum of per-user counts per counter == count of events per counter,
    exactly -- and the md5 key hash runs once per USER instead of once
    per event), the top-20 is a re-aggregation of it, and both halves'
    point estimates come from one pivoted counter relation probed by a
    single posexplode + left join + min. Two event scans total (bounds
    + the pre-agg), ~48 ms-scale derived relations after that; values
    identical by integer arithmetic."""
    from ..operators.sketch import CMS_D, _cms_bucket, _hash60

    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).alias("mid_s")
    )
    keyed = ev.crossJoin(F.broadcast(bounds)).select(
        F.col("user_id").cast("string").alias("ukey"),
        (F.unix_timestamp("ts") < F.col("mid_s")).alias("first_half"),
    )
    # the small proxy: one exchange over events, <= 2 rows per user; the
    # eager localCheckpoint materializes it once for its three consumers
    base = (
        keyed.groupBy("ukey", "first_half")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    h = _hash60(F.col("ukey")) % (1 << 28)
    # both CMS tables in one pass, pivoted to (depth, bucket, n1, n2):
    # summing per-user counts reproduces cms_table's per-event count
    # exactly, and an absent half in a bucket is the same 0 the old
    # left-join + coalesce produced
    cms_piv = (
        base.select(
            "first_half",
            "cnt",
            F.posexplode(
                F.array(*[_cms_bucket(i, h) for i in range(CMS_D)])
            ).alias("depth", "bucket"),
        )
        .groupBy("depth", "bucket")
        .agg(
            F.sum(F.when(F.col("first_half"), F.col("cnt")).otherwise(0)).alias("n1"),
            F.sum(F.when(~F.col("first_half"), F.col("cnt")).otherwise(0)).alias("n2"),
        )
    )
    top = (
        base.groupBy("ukey")
        .agg(F.sum("cnt").alias("total_n"))
        .orderBy(F.desc("total_n"), "ukey")
        .limit(20)
    )
    probes = top.select(
        "ukey",
        "total_n",
        F.posexplode(
            F.array(*[_cms_bucket(i, h) for i in range(CMS_D)])
        ).alias("depth", "bucket"),
    )
    both = probes.join(F.broadcast(cms_piv), ["depth", "bucket"], "left").groupBy(
        "ukey", "total_n"
    ).agg(
        F.min(F.coalesce(F.col("n1"), F.lit(0))).alias("est_n_first"),
        F.min(F.coalesce(F.col("n2"), F.lit(0))).alias("est_n_second"),
    )
    growth = F.floor(
        (F.col("est_n_second") + 1).cast("double")
        * 1e6
        / (F.col("est_n_first") + 1).cast("double")
    ).cast("bigint")
    return both.select(
        "ukey",
        "total_n",
        "est_n_first",
        "est_n_second",
        growth.alias("growth_micro"),
        F.when(growth > 1_100_000, F.lit("emerging"))
        .when(growth < 900_000, F.lit("declining"))
        .otherwise(F.lit("stable"))
        .alias("trend"),
    )


def _cms_drift_sql() -> str:
    from ..operators.sketch import CMS_A, CMS_B, CMS_D, CMS_P, CMS_W

    hex_parse = (
        "list_reduce(list_prepend(0::BIGINT,"
        " list_transform(string_split_regex(substr(md5(ukey::VARCHAR),1,15), ''),"
        " c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),"
        f" (a, b) -> a * 16 + b) % {1 << 28}"
    )
    depth_rows = " UNION ALL ".join(
        f"SELECT first_half, {i} AS depth,"
        f" (((h * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P}) % {CMS_W}) AS bucket"
        f" FROM hashed"
        for i in range(CMS_D)
    )

    def probe_joins(table, alias):
        joins = "\n".join(
            f"LEFT JOIN {table} {alias}{i} ON {alias}{i}.depth = {i} AND {alias}{i}.bucket = "
            f"(((t.h * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P}) % {CMS_W})"
            for i in range(CMS_D)
        )
        least = ", ".join(f"coalesce({alias}{i}.n, 0)" for i in range(CMS_D))
        return joins, least

    j1, l1 = probe_joins("cms1", "c")
    j2, l2 = probe_joins("cms2", "d")
    return f"""
WITH mid AS (
  SELECT ((min(epoch_ms(ts) // 1000) + max(epoch_ms(ts) // 1000)) // 2)::BIGINT AS mid_s
  FROM events
), keyed AS (
  SELECT user_id::VARCHAR AS ukey,
         (epoch_ms(ts) // 1000 < mid.mid_s) AS first_half
  FROM events CROSS JOIN mid
), hashed AS (
  SELECT first_half, {hex_parse} AS h FROM keyed
), cells AS ({depth_rows}),
cms1 AS (
  SELECT depth, bucket, count(*)::BIGINT AS n FROM cells
  WHERE first_half GROUP BY 1, 2
),
cms2 AS (
  SELECT depth, bucket, count(*)::BIGINT AS n FROM cells
  WHERE NOT first_half GROUP BY 1, 2
),
top AS (
  SELECT ukey, count(*)::BIGINT AS total_n
  FROM keyed GROUP BY ukey ORDER BY total_n DESC, ukey LIMIT 20
),
probes AS (SELECT ukey, total_n, {hex_parse} AS h FROM top),
est AS (
  SELECT t.ukey, t.total_n,
         least({l1}) AS est_n_first,
         least({l2}) AS est_n_second
  FROM probes t
  {j1}
  {j2}
)
SELECT ukey, total_n, est_n_first, est_n_second,
       floor((est_n_second + 1) * 1e6 / (est_n_first + 1))::BIGINT AS growth_micro,
       CASE WHEN floor((est_n_second + 1) * 1e6 / (est_n_first + 1)) > 1100000
              THEN 'emerging'
            WHEN floor((est_n_second + 1) * 1e6 / (est_n_first + 1)) < 900000
              THEN 'declining'
            ELSE 'stable' END AS trend
FROM est
"""


EVENTS_CMS_DRIFT_SQL = _cms_drift_sql()


def events_scd2_intervals(spark, sf_dir):
    """SCD2 dimension-history build from the append-only event log (the
    gaps-and-islands pattern): per user, consecutive runs of the same
    event_type collapse into validity intervals (valid_from, valid_to,
    state, n_events), valid_to = next interval's start (NULL = current).
    This is the change-data-capture complement of events_latest_state:
    that one materializes the head, this one the full history a
    warehouse dimension table keeps.

    Scale shape: one shuffle on user_id shared by both window passes and
    the groupBy (same partitioning, Catalyst reuses the exchange); state
    per user is bounded by their run count, never the log length."""
    ev = _events(spark, sf_dir)
    # one integer conversion of the internal micros value; the previous
    # unix_timestamp*1000 + date_format('SSS') form paid a per-row text
    # FORMATTING pass for the millisecond component (value-identical:
    # pipeline._EPOCH_MS r14 A/B, n_diff=0 -- all corpus ts positive)
    ms = F.expr("unix_micros(cast(ts as timestamp)) div 1000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = (
        ev.select("user_id", "ts", "event_id", "event_type", ms.alias("ts_ms"))
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("interval_seq", F.sum("chg").over(w))
    )
    per = marked.groupBy("user_id", "interval_seq").agg(
        F.min("event_type").alias("state"),  # constant within the island
        F.min("ts_ms").alias("valid_from_ms"),
        F.max("ts_ms").alias("last_event_ms"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("interval_seq")
    return per.select(
        "user_id",
        "interval_seq",
        "state",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w2).alias("valid_to_ms"),
        "last_event_ms",
        "n_events",
    )


SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type, event_id, ts, epoch_ms(ts) AS ts_ms,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), grp AS (
  -- ORDER BY (ts, event_id), NOT ts_ms: the Spark window orders the
  -- running sum by the full-precision ts, and rows tied at millisecond
  -- resolution but distinct at finer precision must order identically
  -- on both engines or interval_seq diverges.
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS interval_seq
  FROM marked
), per AS (
  SELECT user_id, interval_seq, min(event_type) AS state,
         min(ts_ms) AS valid_from_ms, max(ts_ms) AS last_event_ms,
         count(*) AS n_events
  FROM grp GROUP BY user_id, interval_seq
)
SELECT user_id, interval_seq::BIGINT AS interval_seq, state, valid_from_ms,
       lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY interval_seq)
         AS valid_to_ms,
       last_event_ms, n_events
FROM per
"""


def events_latest_state(spark, sf_dir):
    """Changelog compaction / upsert view: materialize each user's current
    state (their latest event) from the append-only log -- the CDC
    "latest wins" pattern. One shuffle on user_id; at scale this is the
    same plan MERGE-on-read table formats run at compaction time."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("last_seen_s"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


LATEST_STATE_SQL = """
SELECT user_id, epoch_ms(ts) // 1000 AS last_seen_s,
       event_type AS last_event_type, round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def events_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user bucket, hour bucket):
    interleave 16 bits of each dimension so range scans on EITHER
    dimension touch few contiguous key ranges -- the write-time layout
    trick behind multi-dimensional data skipping (Delta/Iceberg
    OPTIMIZE ZORDER). Pure integer expression, no shuffle at all; the
    query aggregates per coarse z-range to show the clustering. A real
    writer would repartitionByRange(z) before writing files."""
    ev = _events(spark, sf_dir)
    ux = F.col("user_id") % 65536
    tx = (F.floor(F.unix_timestamp("ts") / 3600) % 65536).cast("bigint")
    z = F.expr(
        "aggregate(sequence(0, 15), 0L, (acc, i) -> "
        "acc + ((ux >> i) & 1) * shiftleft(1L, 2*i)"
        "    + ((tx >> i) & 1) * shiftleft(1L, 2*i + 1))"
    )
    return (
        ev.select(ux.alias("ux"), tx.alias("tx"))
        .select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 12).alias("z_range"))
        .agg(
            F.count("*").alias("n"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
    )


ZORDER_SQL = """
WITH dims AS (
  SELECT user_id % 65536 AS ux,
         (epoch_ms(ts) // 1000 // 3600) % 65536 AS tx
  FROM events
), keyed AS (
  SELECT list_reduce(list_prepend(0::BIGINT, range(0, 16)), (acc, i) ->
           acc + ((ux >> i) & 1) * (1::BIGINT << (2*i))
               + ((tx >> i) & 1) * (1::BIGINT << (2*i + 1))) AS z
  FROM dims
)
SELECT z >> 12 AS z_range, count(*) AS n, min(z) AS min_z, max(z) AS max_z
FROM keyed GROUP BY 1
"""


def events_anomaly_zscore(spark, sf_dir):
    """Per-user z-score anomaly report: each user's value distribution
    (mean/std over their own history) plus how many of their events sit
    outside mean +/- 2*std. The classic two-pass shape: one hash agg for
    the moments, then the tiny stats relation broadcasts back onto the
    stream for the outlier count -- the corpus is never shuffled twice.
    Mean and sum-of-squares fold in (ts, event_id) order on both engines
    and std uses one fixed expression tree, so even the float stats are
    bit-deterministic under the driver's value-hash."""
    ev = _events(spark, sf_dir)
    # Sort ONLY on (ts, event_id) -- a unique key (TESTDATA.md), and the
    # exact ORDER BY the oracle uses -- so the trailing value field can
    # never act as a Spark-only tiebreak; NULL values coalesce to 0.0 in
    # BOTH engines' folds (ADVICE r4 parity latents).
    ordered_vals = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value")),
            lambda a, b: F.when(a["ts"] < b["ts"], -1)
            .when(a["ts"] > b["ts"], 1)
            .when(a["event_id"] < b["event_id"], -1)
            .when(a["event_id"] > b["event_id"], 1)
            .otherwise(0),
        ),
        lambda x: F.coalesce(x["value"], F.lit(0.0)),
    )
    # bind the sorted value array ONCE through a single-element transform
    # lambda (the shingles_col idiom): s1/s2 as separate result
    # expressions each re-ran the collect+sort+project subtree, sorting
    # every user's history twice for identical folds
    sums = F.transform(
        F.array(ordered_vals),
        lambda vals: F.struct(
            F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v).alias("s1"),
            F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v * v).alias("s2"),
        ),
    )[0]
    stats = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), sums.alias("__ss"))
        .select("user_id", "n", F.col("__ss.s1").alias("s1"), F.col("__ss.s2").alias("s2"))
        .withColumn("mean", F.col("s1") / F.col("n"))
        .withColumn(
            "std",
            F.sqrt(
                (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n"))
                / (F.col("n") - 1)
            ),
        )
    )
    outliers = (
        ev.join(F.broadcast(stats.select("user_id", "mean", "std")), "user_id")
        .filter(F.abs(F.col("value") - F.col("mean")) > 2 * F.col("std"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        stats.join(F.broadcast(outliers), "user_id", "left")
        .select(
            "user_id",
            "n",
            # floor(x*1e6 + 0.5), NOT round(x, 6): the ordered-fold moments
            # are bit-identical doubles on both engines; round() itself is
            # the engine-dependent op (SCALE.md §9 lottery class)
            (F.floor(F.col("mean") * 1e6 + 0.5) / 1e6).alias("mean_val"),
            (F.floor(F.col("std") * 1e6 + 0.5) / 1e6).alias("std_val"),
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


ANOMALY_SQL = """
WITH stats AS (
  SELECT user_id, count(*) AS n,
         list_reduce(list_prepend(0.0, list(coalesce(value, 0.0) ORDER BY ts, event_id)),
                     (acc, v) -> acc + v) AS s1,
         list_reduce(list_prepend(0.0, list(coalesce(value * value, 0.0) ORDER BY ts, event_id)),
                     (acc, v) -> acc + v) AS s2
  FROM events GROUP BY user_id
), enriched AS (
  SELECT user_id, n, s1 / n AS mean, sqrt((s2 - (s1 * s1) / n) / (n - 1)) AS std
  FROM stats
), outliers AS (
  SELECT e.user_id, count(*) AS n_outliers
  FROM events e JOIN enriched s ON e.user_id = s.user_id
  WHERE abs(e.value - s.mean) > 2 * s.std
  GROUP BY e.user_id
)
SELECT s.user_id, s.n,
       floor(s.mean * 1e6 + 0.5) / 1e6 AS mean_val,
       floor(s.std * 1e6 + 0.5) / 1e6 AS std_val,
       coalesce(o.n_outliers, 0) AS n_outliers
FROM enriched s LEFT JOIN outliers o ON s.user_id = o.user_id
"""


def events_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    in every later week they were active -- the product-analytics query
    every event warehouse serves. Two bounded aggregations (per-user
    first week; distinct user-weeks) and a broadcast of the per-user
    cohort relation; the event stream shuffles once per aggregate and
    the output is |cohorts| x |weeks|, tiny at any scale."""
    ev = _events(spark, sf_dir)
    week = (F.floor(F.unix_timestamp("ts") / 604800) * 604800).cast("bigint")
    cohorts = ev.select("user_id", week.alias("week")).groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    activity = ev.select("user_id", week.alias("activity_week")).distinct()
    return (
        activity.join(F.broadcast(cohorts), "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count("*").alias("n_users"))
        .withColumn(
            "week_offset",
            ((F.col("activity_week") - F.col("cohort_week")) / 604800).cast("bigint"),
        )
    )


RETENTION_SQL = """
WITH weeks AS (
  SELECT user_id, (epoch_ms(ts) // 1000 // 604800) * 604800 AS week FROM events
), cohorts AS (
  SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, week AS activity_week FROM weeks
)
SELECT cohort_week, activity_week, count(*) AS n_users,
       (activity_week - cohort_week) // 604800 AS week_offset
FROM activity JOIN cohorts USING (user_id)
GROUP BY cohort_week, activity_week
"""


def events_markov_transitions(spark, sf_dir):
    """Per-user event-type transition matrix (first-order Markov counts):
    lag over each user's timeline, then one hash agg over (from, to)
    pairs -- the behavioral-model feature extraction every event
    pipeline runs. One shuffle on user_id for the window, one tiny agg;
    transition probabilities stay as exact integer counts plus a
    rounded ratio (numerator/denominator division is deterministic)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    totals = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("__tot", F.sum("n").over(totals))
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            "n",
            # exact e6 rational of two counts (round(avg) lottery-class
            # cure, SCALE.md §9)
            F.expr(
                "((2000000 * n + __tot) div (2 * __tot)) / 1000000.0D"
            ).alias("p"),
        )
    )


MARKOV_SQL = """
WITH pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM events
  ) WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ((2000000 * n::BIGINT + sum(n) OVER (PARTITION BY prev_type)::BIGINT)
        // (2 * sum(n) OVER (PARTITION BY prev_type)::BIGINT)) / 1000000.0 AS p
FROM pairs
"""


def events_tumbling_hourly(spark, sf_dir):
    ev = _events(spark, sf_dir)
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


TUMBLING_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) // 1000 AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def events_sliding_10m_5m(spark, sf_dir):
    ev = _events(spark, sf_dir)
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# window length / slide = 2, so each event falls in exactly the two
# 5-minute-aligned windows starting at trunc5(ts) and trunc5(ts)-300.
SLIDING_SQL = """
WITH buckets AS (
  SELECT (epoch_ms(ts) // 1000 // 300) * 300 - off.o AS window_start, event_type, value
  FROM events, (VALUES (0), (300)) AS off(o)
)
SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM buckets GROUP BY 1, 2
"""


def events_sessionization(spark, sf_dir, gap_s: int = 1800):
    """Session = maximal run of per-user events with < gap_s between them.

    lag + cumulative-sum-of-boundaries; the streaming twin uses
    session_window(ts, gap).
    """
    ev = _events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    new_session = F.when(
        (ep - F.lag(ep).over(by_user)) > gap_s, 1
    ).otherwise(0)
    with_session = ev.withColumn(
        "session_seq",
        F.sum(F.coalesce(new_session, F.lit(0))).over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # session_value sums doubles: a plain F.sum folds in engine-dependent
    # order, which is not bit-deterministic under the driver's strict
    # value-hash gate. Fold the values in (ts, event_id) order instead --
    # identical left-fold on both engines => identical bits (ADVICE r2).
    # event_id is unique per event (TESTDATA.md), so (ts, event_id) is a
    # total order and the struct's trailing value field is never compared;
    # NULL values coalesce to 0.0 in BOTH folds so a NULL can't poison one
    # engine's fold and not the other's (ADVICE r3). Memory bound: the
    # per-session value array is materialized per group -- bounded by the
    # longest single session, not by table size (a pathological never-idle
    # user is the one shape that would need chunked pre-aggregation).
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value")),
                # compare ONLY (ts, event_id) -- the oracle's ORDER BY --
                # so value can't act as a Spark-only third tiebreak
                lambda a, b: F.when(a["ts"] < b["ts"], -1)
                .when(a["ts"] > b["ts"], 1)
                .when(a["event_id"] < b["event_id"], -1)
                .when(a["event_id"] > b["event_id"], 1)
                .otherwise(0),
            ),
            lambda x: F.coalesce(x["value"], F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return with_session.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("session_start"),
        F.max(F.unix_timestamp("ts")).alias("session_end"),
        F.round(ordered_sum, 2).alias("session_value"),
    )


SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_ms(ts) // 1000
                   - lag(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  -- ::BIGINT: DuckDB's windowed sum(int) is HUGEINT, which pandas widens
  -- to float64 and the driver then hashes as 1.0 vs Spark's bigint 1.
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
            AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(epoch_ms(ts) // 1000) AS session_start,
       max(epoch_ms(ts) // 1000) AS session_end,
       round(list_reduce(list_prepend(0.0, list(coalesce(value, 0.0) ORDER BY ts, event_id)),
                         (acc, v) -> acc + v), 2) AS session_value
FROM numbered GROUP BY user_id, session_seq
"""


def events_dedup_per_minute(spark, sf_dir):
    """F1 exact dedup: first event per (user, type, minute), deterministic."""
    ev = _events(spark, sf_dir).withColumn(
        "minute_bucket", (F.unix_timestamp("ts") / 60).cast("bigint") * 60
    )
    return exact_dedup(
        ev, ["user_id", "event_type", "minute_bucket"], ["ts", "event_id"]
    ).select("user_id", "event_type", "minute_bucket", "event_id")


DEDUP_MINUTE_SQL = """
SELECT user_id, event_type, minute_bucket, event_id
FROM (
  SELECT user_id, event_type, (epoch_ms(ts) // 1000 // 60) * 60 AS minute_bucket,
         event_id,
         row_number() OVER (PARTITION BY user_id, event_type,
                                         (epoch_ms(ts) // 1000 // 60) * 60
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def events_type_value_buckets(spark, sf_dir):
    """Histogram-style bucketing (D3 duration-histogram analog):
    width_bucket of value into 10 buckets per event_type."""
    ev = _events(spark, sf_dir)
    bucket = F.least(F.floor(F.col("value") / 100.0).cast("int"), F.lit(9))
    return ev.groupBy("event_type", bucket.alias("value_bucket")).agg(
        F.count("*").alias("n")
    )


VALUE_BUCKETS_SQL = """
SELECT event_type, least(floor(value / 100.0)::INT, 9) AS value_bucket, count(*) AS n
FROM events GROUP BY 1, 2
"""


def events_asof_attribution(spark, sf_dir):
    """As-of join: each purchase event gets the latest view event by the
    same user at-or-before the purchase time (attribution semantics).
    Union-tag + per-user sort plan -- see operators/asof.py; the oracle is
    DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_time="ts",
        right_time="view_ts",
        right_cols=["view_event_id", "view_ts"],
        how="inner",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_s"),
        F.round("value", 2).alias("purchase_value"),
        "view_event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("view_ts")).alias("view_age_s"),
    )


ASOF_SQL = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_event_id, user_id, ts AS view_ts FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id,
       epoch_ms(p.ts) // 1000 AS purchase_s,
       round(p.value, 2) AS purchase_value,
       v.view_event_id,
       epoch_ms(p.ts) // 1000 - epoch_ms(v.view_ts) // 1000 AS view_age_s
FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.view_ts
"""


def events_range_join_conversions(spark, sf_dir):
    """Banded range join: purchases by the same user within 30 minutes
    AFTER a signup (conversion pairs). operators/asof.py range_join; the
    oracle is the plain inequality join (fine at oracle scale)."""
    from ..operators.asof import range_join

    ev = _events(spark, sf_dir)
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("signup_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    pairs = range_join(
        signups,
        purchases,
        on=["user_id"],
        left_time="signup_ts",
        right_time="purchase_ts",
        lower_s=0,
        upper_s=1800,
    )
    return pairs.select(
        "signup_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("delay_s"),
    )


RANGE_JOIN_SQL = """
WITH s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
           FROM events WHERE event_type = 'signup'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase')
SELECT signup_id, purchase_id, s.user_id,
       epoch_ms(purchase_ts) // 1000 - epoch_ms(signup_ts) // 1000 AS delay_s
FROM s JOIN p ON s.user_id = p.user_id
WHERE epoch_ms(purchase_ts) // 1000 - epoch_ms(signup_ts) // 1000 BETWEEN 0 AND 1800
"""


def events_multires_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: one pass produces minute,
    hour, and day aggregates via GROUPING SETS over aligned buckets (the
    continuous-aggregate pattern; partial aggregation is map-side, one
    shuffle for all three resolutions)."""
    ev = _events(spark, sf_dir)
    ep = F.unix_timestamp("ts")
    bucketed = ev.select(
        (F.floor(ep / 60) * 60).alias("minute_b"),
        (F.floor(ep / 3600) * 3600).alias("hour_b"),
        (F.floor(ep / 86400) * 86400).alias("day_b"),
        "event_type",
        "value",
    )
    return (
        bucketed.groupingSets(
            [["minute_b"], ["hour_b"], ["day_b"]],
            "minute_b",
            "hour_b",
            "day_b",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce("minute_b", F.lit(-1)).alias("minute_b"),
            F.coalesce("hour_b", F.lit(-1)).alias("hour_b"),
            F.coalesce("day_b", F.lit(-1)).alias("day_b"),
            "n",
            "total_value",
        )
    )


MULTIRES_SQL = """
WITH b AS (
  SELECT (epoch_ms(ts) // 1000 // 60) * 60 AS minute_b,
         (epoch_ms(ts) // 1000 // 3600) * 3600 AS hour_b,
         (epoch_ms(ts) // 1000 // 86400) * 86400 AS day_b,
         value
  FROM events
)
SELECT coalesce(minute_b, -1) AS minute_b, coalesce(hour_b, -1) AS hour_b,
       coalesce(day_b, -1) AS day_b,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM b GROUP BY GROUPING SETS ((minute_b), (hour_b), (day_b))
"""


def events_funnel_conversion(spark, sf_dir):
    """Ordered-stage funnel: per user, first 'view', first 'click' strictly
    after it, first 'purchase' strictly after that; reports per-stage user
    counts. Each stage is a user-cardinality aggregate (shuffles bounded
    by |users|, not |events|), and each later stage joins the previous
    stage's tiny per-user aggregate broadcast-side -- the pattern holds at
    100 TB because stage results only shrink."""
    ev = _events(spark, sf_dir)
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("n")).select(F.lit(1).cast("bigint").alias("stage"), F.lit("view").alias("event_type"), "n")
        .unionAll(s2.agg(F.count("*").alias("n")).select(F.lit(2).cast("bigint").alias("stage"), F.lit("click").alias("event_type"), "n"))
        .unionAll(s3.agg(F.count("*").alias("n")).select(F.lit(3).cast("bigint").alias("stage"), F.lit("purchase").alias("event_type"), "n"))
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT 1::BIGINT AS stage, 'view' AS event_type,     count(*) AS n FROM s1
UNION ALL
SELECT 2::BIGINT AS stage, 'click' AS event_type,    count(*) AS n FROM s2
UNION ALL
SELECT 3::BIGINT AS stage, 'purchase' AS event_type, count(*) AS n FROM s3
"""


def events_ewma_smooth(spark, sf_dir):
    """Truncated exponential smoothing per user: a 16-term EWMA
    (alpha = 1/4, weights 3^i * 4^(15-i)) over centi-quantized values in
    (ts, event_id) order. Truncating the tail makes the recurrence a
    bounded window function -- scalable (one shuffle keyed by user,
    16-row frame) where the exact infinite-tail EWMA is inherently
    sequential per key -- and keeps the arithmetic exact BIGINT (terms
    <= 1e3 * 4^15 ~ 1e12, far under 2^53), so both engines agree
    bit-for-bit: ewma_centi = floor(num/den) with den summed over only
    the lags that exist near the start of each series.

    The streaming twin is streaming/windows.py::ewma_stream
    (applyInPandasWithState, last-16 ring per user)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    yc = F.round(F.col("value") * 100).cast("bigint")
    d = ev.select("event_id", "user_id", "ts", yc.alias("yc"))
    num = None
    den = None
    for i in range(16):
        wt = (3**i) * (4 ** (15 - i))
        term = F.lag("yc", i).over(w) if i else F.col("yc")
        wt_l = F.lit(wt).cast("bigint")
        t_num = F.when(term.isNotNull(), term * wt_l).otherwise(F.lit(0).cast("bigint"))
        t_den = F.when(term.isNotNull(), wt_l).otherwise(F.lit(0).cast("bigint"))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return d.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "yc",
        F.floor(num.cast("double") / den.cast("double")).cast("bigint").alias(
            "ewma_centi"
        ),
    )


def _ewma_sql() -> str:
    terms_n = []
    terms_d = []
    for i in range(16):
        wt = (3**i) * (4 ** (15 - i))
        expr = (
            "yc" if i == 0
            else f"lag(yc, {i}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        )
        terms_n.append(
            f"coalesce({expr} * {wt}::BIGINT, 0)"
        )
        terms_d.append(
            f"CASE WHEN {expr} IS NOT NULL THEN {wt}::BIGINT ELSE 0 END"
        )
    return f"""
WITH d AS (
  SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS yc FROM events
)
SELECT event_id, user_id, epoch_ms(ts) // 1000 AS ts_s, yc,
       floor(({" + ".join(terms_n)})::DOUBLE
             / ({" + ".join(terms_d)})::DOUBLE)::BIGINT AS ewma_centi
FROM d
"""


EWMA_SQL = _ewma_sql()


def events_top_paths(spark, sf_dir):
    """Frequent 3-step user journeys: per-user event-type trigrams in
    (ts, event_id) order, counted corpus-wide, top 20 with a total
    tiebreak. The path-mining query session analytics actually runs; one
    user-keyed window shuffle builds the lags, then a bounded
    (|event_type|^3) count aggregate and a TakeOrdered top-k."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    path = F.concat_ws(">", F.col("p2"), F.col("p1"), F.col("event_type"))
    return (
        d.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


TOP_PATHS_SQL = """
WITH d AS (
  SELECT event_type,
         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
         lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
  FROM events
)
SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS n
FROM d WHERE p2 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 20
"""


def events_active_users(spark, sf_dir):
    """DAU / rolling 7-day WAU per day: the day grid (tiny) joins events
    in [d-6, d] and counts distinct users -- the standard rolling-active
    report, shaped so the only corpus-sized work is one (day, user)
    dedup; the banded grid join fans each event to <= 7 grid days.
    Exact distinct (not HLL) because |days| x |users| is small at any
    scale; swap in the HLL sketch per (grid_day) for web-scale users."""
    ev = _events(spark, sf_dir)
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    grid = du.select(F.col("day").alias("grid_day")).distinct()
    dau = du.groupBy(F.col("day").alias("grid_day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = (
        grid.join(
            du,
            (F.col("day") <= F.col("grid_day"))
            & (F.col("day") >= F.date_sub(F.col("grid_day"), 6)),
        )
        .groupBy("grid_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "grid_day")
        .select(
            F.col("grid_day").cast("string").alias("day"),
            "dau",
            "wau",
        )
    )


ACTIVE_USERS_SQL = """
WITH du AS (
  SELECT DISTINCT ts::DATE AS day, user_id FROM events
), grid AS (SELECT DISTINCT day AS grid_day FROM du),
dau AS (SELECT day AS grid_day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
wau AS (
  SELECT g.grid_day, count(DISTINCT d.user_id) AS wau
  FROM grid g JOIN du d
    ON d.day <= g.grid_day AND d.day >= g.grid_day - INTERVAL 6 DAY
  GROUP BY 1
)
SELECT dau.grid_day::VARCHAR AS day, dau.dau, wau.wau
FROM dau JOIN wau USING (grid_day)
"""


def events_error_rate(spark, sf_dir):
    """SRE error-ratio per user-tenant per hour: errors / total events,
    the alert-rule query every monitoring stack runs. Conditional count
    in ONE hash aggregation (no join of two filtered scans); the ratio
    is exact milli-integer."""
    ev = _events(spark, sf_dir)
    d = ev.select(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))))
        .cast("bigint")
        .alias("hour_start"),
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        F.col("event_type"),
    )
    return (
        d.groupBy("hour_start", "tenant_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select(
            "hour_start",
            "tenant_id",
            "n_events",
            "n_errors",
            F.floor(F.col("n_errors") * 1000 / F.col("n_events"))
            .cast("bigint")
            .alias("error_rate_milli"),
        )
    )


ERROR_RATE_SQL = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_start,
       (user_id % 10)::VARCHAR AS tenant_id,
       count(*) AS n_events,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors,
       floor(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000
             / count(*))::BIGINT AS error_rate_milli
FROM events GROUP BY 1, 2
"""


def events_time_to_convert(spark, sf_dir):
    """Funnel timing: for each user's FIRST signup, the delay to their
    first subsequent purchase, summarized as exact integer median /
    p90-by-rank per tenant. The 'how long does conversion take' product
    query; conversion pairing is one per-user sort (as-of shape), the
    order statistics are rank-picked BIGINT seconds (no interpolation,
    bit-identical cross-engine)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    firsts = (
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("f"))
        .select(
            "user_id",
            "event_type",
            F.col("f.ts").alias("ts"),
        )
    )
    s = firsts.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    p = firsts.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    d = (
        s.join(p, "user_id")
        .filter(F.col("purchase_ts") >= F.col("signup_ts"))
        .select(
            (F.col("user_id") % 10).cast("string").alias("tenant_id"),
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
            ).alias("delay_s"),
        )
    )
    w = Window.partitionBy("tenant_id").orderBy("delay_s", "user_id")
    n = Window.partitionBy("tenant_id")
    ranked = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count("*").over(n)
    )
    return (
        ranked.groupBy("tenant_id")
        .agg(
            F.max("cnt").alias("n_converted"),
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("cnt") + 1) / 2), F.col("delay_s")
                )
            ).alias("median_delay_s"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.greatest(
                        F.lit(1), F.floor(F.col("cnt") * 9 / 10)
                    ),
                    F.col("delay_s"),
                )
            ).alias("p90_delay_s"),
        )
    )


TIME_TO_CONVERT_SQL = """
WITH firsts AS (
  SELECT user_id, event_type, min(ts ORDER BY ts, event_id) AS ts
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY user_id, event_type
), s AS (SELECT user_id, ts AS signup_ts FROM firsts WHERE event_type = 'signup'),
p AS (SELECT user_id, ts AS purchase_ts FROM firsts WHERE event_type = 'purchase'),
d AS (
  SELECT (s.user_id % 10)::VARCHAR AS tenant_id, s.user_id,
         epoch_ms(purchase_ts) // 1000 - epoch_ms(signup_ts) // 1000 AS delay_s
  FROM s JOIN p USING (user_id)
  WHERE purchase_ts >= signup_ts
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY tenant_id ORDER BY delay_s, user_id) AS rn,
         count(*) OVER (PARTITION BY tenant_id) AS cnt
  FROM d
)
SELECT tenant_id, max(cnt)::BIGINT AS n_converted,
       max(CASE WHEN rn = (cnt + 1) // 2 THEN delay_s END)::BIGINT AS median_delay_s,
       max(CASE WHEN rn = greatest(1, cnt * 9 // 10) THEN delay_s END)::BIGINT AS p90_delay_s
FROM ranked GROUP BY tenant_id
"""



_THETA_K = 64
_THETA_H = 1 << 28


def events_theta_set_ops(spark, sf_dir):
    """KMV/theta-sketch SET-EXPRESSION cardinality: for every pair of
    event types, estimate the distinct-user count of the UNION and the
    INTERSECTION from k-minimum-value sketches (k=64), exact counts
    beside them. This is what HLL cannot do (HLL unions but never
    intersects); theta sketches are the production answer for audience
    overlap / segment-intersection queries (Apache DataSketches'
    core use case).

    Determinism: user hashes are 28-bit md5-prefix integers (the repo's
    engine-portable hash), a sketch is the k SMALLEST distinct hashes
    (order statistic -- no RNG), and the estimators are integer:
    union_est = (k-1)*H DIV kth_min when the union sketch saturates
    (exact below k), inter_est = matches*union_est DIV k (the theta
    intersection rule). Everything hash-matches bit-for-bit.

    Scale shape: the sketch build is one distinct + one per-type top-k
    (TakeOrdered semantics) -- per-type state is k values regardless of
    user count; the pair combine is a broadcast self-join of 5 tiny
    array rows. The exact branch (the one a 100 TB run drops) is the
    only corpus-scale aggregation."""
    ev = _events(spark, sf_dir)
    uh = (
        ev.select(
            "event_type",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    # materialized once: the 5-row sketch relation feeds both self-join
    # sides and the pair projection; the checkpoint stops the distinct +
    # window subplan re-running per consumer
    sk = (
        uh.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _THETA_K)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("h")).alias("mins"))
        .localCheckpoint(eager=True)
    )
    a = sk.select(F.col("event_type").alias("event_a"), F.col("mins").alias("ma"))
    b = sk.select(F.col("event_type").alias("event_b"), F.col("mins").alias("mb"))
    pairs = (
        F.broadcast(a)
        .crossJoin(F.broadcast(b))
        .filter(F.col("event_a") < F.col("event_b"))
        .withColumn(
            "union_k",
            F.slice(F.array_sort(F.array_union("ma", "mb")), 1, _THETA_K),
        )
        .withColumn("nu", F.size("union_k"))
        .withColumn(
            "union_est",
            F.when(
                F.col("nu") < _THETA_K, F.col("nu").cast("long")
            ).otherwise(
                F.expr(
                    f"({_THETA_K - 1}::BIGINT * {_THETA_H}) DIV element_at(union_k, {_THETA_K})"
                )
            ),
        )
        .withColumn(
            "c",
            F.size(F.array_intersect(F.array_intersect("union_k", "ma"), "mb")),
        )
        .withColumn(
            "inter_est",
            F.when(
                F.col("nu") < _THETA_K,
                F.size(F.array_intersect("ma", "mb")).cast("long"),
            ).otherwise(
                F.expr(f"(c * union_est) DIV {_THETA_K}")
            ),
        )
    )
    # exact branch: distinct (type, user) -> per-pair union/intersection
    ut = ev.select("event_type", "user_id").distinct()
    melt = (
        pairs.select("event_a", "event_b")
        .withColumn(
            "event_type",
            F.explode(F.array(F.col("event_a"), F.col("event_b"))),
        )
    )
    per_user = (
        F.broadcast(melt)
        .join(ut, "event_type")
        .groupBy("event_a", "event_b", "user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
    )
    exact = per_user.groupBy("event_a", "event_b").agg(
        F.count("*").alias("exact_union"),
        F.sum(F.when(F.col("nt") == 2, 1).otherwise(0)).alias("exact_inter"),
    )
    return (
        pairs.join(F.broadcast(exact), ["event_a", "event_b"])
        .select(
            "event_a",
            "event_b",
            "union_est",
            F.col("exact_union").cast("bigint").alias("exact_union"),
            "inter_est",
            F.col("exact_inter").cast("bigint").alias("exact_inter"),
            F.expr("(inter_est * 1000) DIV union_est").alias("jaccard_milli"),
        )
    )


THETA_SET_SQL = f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(string_split_regex(substr(md5(user_id::VARCHAR), 1, 7), ''),
             c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)),
           (a, b) -> a * 16 + b) AS h
  FROM events
), sk AS (
  SELECT event_type, list(h ORDER BY h) AS mins
  FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM uh
  ) WHERE r <= {_THETA_K}
  GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS event_a, b.event_type AS event_b,
         a.mins AS ma, b.mins AS mb,
         list_sort(list_distinct(list_concat(a.mins, b.mins)))[1:{_THETA_K}] AS union_k
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), est AS (
  SELECT event_a, event_b, ma, mb, union_k, len(union_k) AS nu,
         CASE WHEN len(union_k) < {_THETA_K} THEN len(union_k)::BIGINT
              ELSE ({_THETA_K - 1}::BIGINT * {_THETA_H}) // union_k[{_THETA_K}]
         END AS union_est,
         len(list_intersect(list_intersect(union_k, ma), mb)) AS c
  FROM pairs
), approx AS (
  SELECT event_a, event_b, nu, union_est, c,
         CASE WHEN nu < {_THETA_K} THEN len(list_intersect(ma, mb))::BIGINT
              ELSE (c * union_est) // {_THETA_K}
         END AS inter_est
  FROM est
), ut AS (SELECT DISTINCT event_type, user_id FROM events),
per_user AS (
  SELECT p.event_a, p.event_b, u.user_id,
         count(DISTINCT u.event_type) AS nt
  FROM (SELECT event_a, event_b FROM pairs) p
  JOIN ut u ON u.event_type IN (p.event_a, p.event_b)
  GROUP BY 1, 2, 3
), exact AS (
  SELECT event_a, event_b, count(*)::BIGINT AS exact_union,
         sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END)::BIGINT AS exact_inter
  FROM per_user GROUP BY 1, 2
)
SELECT a.event_a, a.event_b, a.union_est, e.exact_union, a.inter_est,
       e.exact_inter, (a.inter_est * 1000) // a.union_est AS jaccard_milli
FROM approx a JOIN exact e USING (event_a, event_b)
"""



_MG_CAPACITY = 4

_MG_FOLD_SPARK = """
aggregate(
  items,
  cast(array() as array<struct<k:string,c:bigint>>),
  (acc, x) -> CASE
    WHEN exists(acc, a -> a.k = x)
      THEN transform(acc, a -> if(a.k = x, named_struct('k', a.k, 'c', a.c + 1L), a))
    WHEN size(acc) < %d
      THEN array_append(acc, named_struct('k', x, 'c', 1L))
    ELSE filter(transform(acc, a -> named_struct('k', a.k, 'c', a.c - 1L)), a -> a.c > 0)
  END
)
""" % _MG_CAPACITY


def events_misra_gries_topk(spark, sf_dir):
    """Misra-Gries heavy hitters as a SEQUENTIAL streaming fold, replayed
    bit-for-bit in SQL: per event_type, a capacity-4 MG summary over the
    user stream in (ts, event_id) arrival order -- the O(capacity)-state
    frequent-items algorithm (every key with frequency > n/(capacity+1)
    is guaranteed present; test_sketch pins the undercount bound
    exact - est <= n_decrements). Exact per-item counts ride along so
    the summary's error is part of the recorded result.

    Scale shape: the fold is per-GROUP sequential (the semantics of
    arrival-order MG); groups are event types, so parallelism is across
    groups, and the collected item list per group is the bounded range
    the operator is defined over. The distributed formulation (one MG
    summary per partition, merged) drops the arrival-order determinism
    -- that variant is what you'd run corpus-wide at 100 TB, with the
    same per-summary code."""
    ev = _events(spark, sf_dir)
    per = (
        ev.select(
            "event_type",
            "ts",
            "event_id",
            F.col("user_id").cast("string").alias("item"),
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, item))),"
                " s -> s.item)"
            ).alias("items")
        )
        .select(
            "event_type",
            F.size("items").alias("n_total"),
            F.expr(_MG_FOLD_SPARK).alias("mg"),
        )
    )
    entry = per.select(
        "event_type",
        "n_total",
        F.posexplode("mg").alias("seq", "e"),
    ).select(
        "event_type",
        "n_total",
        (F.col("seq") + 1).cast("bigint").alias("seq"),
        F.col("e.k").alias("item"),
        F.col("e.c").alias("est_count"),
    )
    exact = ev.groupBy(
        "event_type", F.col("user_id").cast("string").alias("item")
    ).agg(F.count("*").alias("exact_count"))
    return entry.join(exact, ["event_type", "item"]).select(
        "event_type", "seq", "item", "est_count", "exact_count", "n_total"
    )


MISRA_GRIES_SQL = f"""
WITH per AS (
  SELECT event_type, len(items) AS n_total,
    list_reduce(
      list_prepend(
        []::STRUCT(k VARCHAR, c BIGINT)[],
        list_transform(items, t -> [{{'k': t, 'c': 0::BIGINT}}])
      ),
      (acc, e) -> CASE
        WHEN list_contains(list_transform(acc, a -> a.k), e[1].k)
          THEN list_transform(acc, a -> CASE WHEN a.k = e[1].k
               THEN {{'k': a.k, 'c': a.c + 1}} ELSE a END)
        WHEN len(acc) < {_MG_CAPACITY}
          THEN list_append(acc, {{'k': e[1].k, 'c': 1::BIGINT}})
        ELSE list_filter(list_transform(acc, a -> {{'k': a.k, 'c': a.c - 1}}),
                         a -> a.c > 0)
      END
    ) AS mg
  FROM (
    SELECT event_type,
           list(user_id::VARCHAR ORDER BY ts, event_id) AS items
    FROM events GROUP BY event_type
  )
), entry AS (
  SELECT event_type, n_total, i AS seq,
         mg[i].k AS item, mg[i].c AS est_count
  FROM per, unnest(range(1, len(mg) + 1)) AS r(i)
), exact AS (
  SELECT event_type, user_id::VARCHAR AS item, count(*) AS exact_count
  FROM events GROUP BY 1, 2
)
SELECT e.event_type, e.seq, e.item, e.est_count, x.exact_count, e.n_total
FROM entry e JOIN exact x USING (event_type, item)
"""



def events_join_size_estimate(spark, sf_dir):
    """JOIN-SIZE ESTIMATION from count-min sketches (the AMS/CM
    inner-product bound: |A JOIN B| <= sum_b A_d[b]*B_d[b] for every
    depth d, so min over depths is the estimate): predicts
    |signups JOIN purchases ON user_id| from two constant-size sketches
    without touching the join -- what a cost-based optimizer or
    admission controller does before running a 100 TB join. The exact
    size (sum over users of nA*nB) rides along, so the recorded result
    shows the estimator's overshoot.

    All-integer: the sketches, the per-depth inner products, and the
    min are BIGINT arithmetic -- hash-exact across engines. Sketch
    state: 2 x CMS_D x CMS_W counters regardless of input size; the
    inner product joins sketch rows on (depth, bucket) -- 4096-row
    relations, broadcast."""
    from ..operators.sketch import cms_table

    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "signup").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    ta = cms_table(a, "user_id")
    tb = cms_table(b, "user_id")
    per_depth = (
        ta.select("depth", "bucket", F.col("n").alias("na"))
        .join(
            F.broadcast(tb.select("depth", "bucket", F.col("n").alias("nb"))),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("inner_product"))
    )
    est = per_depth.agg(F.min("inner_product").alias("est_join_size"))
    exact = (
        a.groupBy("user_id")
        .agg(F.count("*").alias("na"))
        .join(
            b.groupBy("user_id").agg(F.count("*").alias("nb")), "user_id"
        )
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias("exact_join_size"))
    )
    return (
        F.broadcast(est)
        .crossJoin(F.broadcast(exact))
        .select(
            "est_join_size",
            "exact_join_size",
            # nullif: an empty overlap must yield NULL on BOTH engines
            # (DuckDB // 0 errors where Spark DIV 0 returns null)
            F.expr("(1000 * est_join_size) DIV nullif(exact_join_size, 0)").alias(
                "overshoot_milli"
            ),
        )
    )


JOIN_SIZE_SQL = f"""
WITH a_sketch AS ({{a_cms}}),
b_sketch AS ({{b_cms}}),
per_depth AS (
  SELECT a.depth, sum(a.n * b.n) AS inner_product
  FROM a_sketch a JOIN b_sketch b USING (depth, bucket)
  GROUP BY a.depth
),
est AS (SELECT min(inner_product)::BIGINT AS est_join_size FROM per_depth),
exact AS (
  SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_join_size
  FROM (SELECT user_id, count(*) AS na FROM events WHERE event_type = 'signup' GROUP BY 1) a
  JOIN (SELECT user_id, count(*) AS nb FROM events WHERE event_type = 'purchase' GROUP BY 1) b
  USING (user_id)
)
SELECT est_join_size, exact_join_size,
       (1000 * est_join_size) // nullif(exact_join_size, 0) AS overshoot_milli
FROM est CROSS JOIN exact
"""


from ..operators.sketch import cms_table  # noqa: E402 (oracle builder)
from ..operators.sketch import cms_oracle_sql as _cms_sql  # noqa: E402
JOIN_SIZE_SQL = JOIN_SIZE_SQL.format(
    a_cms=_cms_sql("SELECT user_id FROM events WHERE event_type = 'signup'", "user_id"),
    b_cms=_cms_sql("SELECT user_id FROM events WHERE event_type = 'purchase'", "user_id"),
)


def events_seasonal_anomaly(spark, sf_dir):
    """SEASONAL anomaly detection (STL-lite): the baseline for each
    (event_type, hour-of-day) cell is its exact lower-median; residual
    spread is the exact MAD; values beyond 3 MADs of their cell's
    median are anomalies. This catches the "3am traffic at 3pm levels"
    case a global z-score (events_anomaly_zscore) averages away --
    seasonality-aware robust outliers, all integer order statistics
    (no interpolation, bit-identical cross-engine).

    Scale shape: one shuffle on the (type, hour) cell key shared by
    both median passes (collect per cell is bounded by cell size, the
    operator's defined range); flagging is a broadcast-back of the 120
    cell baselines."""
    ev = _events(spark, sf_dir)
    cells = ev.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    per = cells.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("vc")).alias("vs"),
    )
    med = F.element_at(F.col("vs"), ((F.col("n") - 1) / 2 + 1).cast("int"))
    with_med = per.withColumn("median_centi", med).withColumn(
        "devs",
        F.sort_array(
            F.transform("vs", lambda v: F.abs(v - F.col("median_centi")))
        ),
    )
    mad = F.element_at(F.col("devs"), ((F.col("n") - 1) / 2 + 1).cast("int"))
    return (
        with_med.withColumn("mad_centi", mad)
        .select(
            "event_type",
            "hod",
            "n",
            "median_centi",
            "mad_centi",
            F.size(
                F.filter(
                    "vs",
                    lambda v: F.abs(v - F.col("median_centi"))
                    > F.col("mad_centi") * 3,
                )
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


SEASONAL_ANOMALY_SQL = """
WITH cells AS (
  SELECT event_type, hour(ts) AS hod, round(value * 100)::BIGINT AS vc
  FROM events
), per AS (
  SELECT event_type, hod, count(*) AS n, list_sort(list(vc)) AS vs
  FROM cells GROUP BY 1, 2
), with_med AS (
  SELECT *, vs[((n - 1) // 2 + 1)::INT] AS median_centi,
         list_sort(list_transform(vs, v -> abs(v - vs[((n - 1) // 2 + 1)::INT]))) AS devs
  FROM per
)
SELECT event_type, hod, n, median_centi,
       devs[((n - 1) // 2 + 1)::INT] AS mad_centi,
       len(list_filter(vs, v -> abs(v - median_centi)
           > devs[((n - 1) // 2 + 1)::INT] * 3))::BIGINT AS n_anomalies
FROM with_med
"""



def events_holt_winters_seasonal(spark, sf_dir):
    """SEASONAL (triple) Holt-Winters forecasting per event type over the
    HOURLY mean series: additive level/trend/seasonal recursion with a
    24-slot hour-of-day season (alpha=0.3, beta=0.1, gamma=0.2), plus the
    next four hourly forecasts -- the capacity-planning rung above the
    per-series double smoothing (consume_holt_winters). State is a
    27-double vector [t, level, trend, s0..s23] folded SEQUENTIALLY
    over the hour-ordered series; the identical left fold runs as
    Spark's aggregate() and DuckDB's list_reduce, so level, trend, the
    full seasonal vector, and the forecasts hash-match bit-for-bit.

    Scale shape: the hourly pre-aggregation is the only corpus-scale
    edge (one hash agg); the fold then runs per event type over the
    bounded hourly series. Integer-exact hourly means (centi-sum over
    100*count) keep the fold inputs identical cross-engine."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.expr("unix_millis(ts::timestamp)") / F.lit(3600000)).cast("long").alias("hr"),
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            / (F.lit(100.0) * F.count("*"))
        ).alias("x")
    )
    per = hourly.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hr, x))), s -> s.x)"
        ).alias("hvals")
    )
    folded = per.filter(F.size("hvals") >= 2).select(
        "event_type",
        F.size("hvals").cast("bigint").alias("n_hours"),
        F.expr("aggregate(slice(hvals, 2, size(hvals) - 1), concat(array(1.0D, hvals[0], 0.0D), array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D)), (acc, x) -> concat(array(acc[0] + 1.0D, (0.3 * (x - element_at(acc, cast(acc[0] % 24 as int) + 4)) + (1.0 - 0.3) * (acc[1] + acc[2])), (0.1 * ((0.3 * (x - element_at(acc, cast(acc[0] % 24 as int) + 4)) + (1.0 - 0.3) * (acc[1] + acc[2])) - acc[1]) + (1.0 - 0.1) * acc[2])), transform(slice(acc, 4, 24), (v, i) -> if(i = cast(acc[0] % 24 as int), (0.2 * (x - (0.3 * (x - element_at(acc, cast(acc[0] % 24 as int) + 4)) + (1.0 - 0.3) * (acc[1] + acc[2]))) + (1.0 - 0.2) * element_at(acc, cast(acc[0] % 24 as int) + 4)), v))))").alias("hw"),
    )
    return folded.select(
        "event_type",
        "n_hours",
        F.expr("floor(1e6 * hw[1])").cast("long").alias("level_micro"),
        F.expr("floor(1e6 * hw[2])").cast("long").alias("trend_micro"),
        F.expr("floor(1e6 * (hw[1] + 1.0D * hw[2] + element_at(hw, cast((hw[0] + 1 - 1) % 24 as int) + 4)))").cast("long").alias("fc1_micro"),
            F.expr("floor(1e6 * (hw[1] + 2.0D * hw[2] + element_at(hw, cast((hw[0] + 2 - 1) % 24 as int) + 4)))").cast("long").alias("fc2_micro"),
            F.expr("floor(1e6 * (hw[1] + 3.0D * hw[2] + element_at(hw, cast((hw[0] + 3 - 1) % 24 as int) + 4)))").cast("long").alias("fc3_micro"),
            F.expr("floor(1e6 * (hw[1] + 4.0D * hw[2] + element_at(hw, cast((hw[0] + 4 - 1) % 24 as int) + 4)))").cast("long").alias("fc4_micro"),
    )


HOLT_WINTERS_SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
         sum(round(value * 100)::BIGINT) / (100.0 * count(*)) AS x
  FROM events GROUP BY 1, 2
), per AS (
  SELECT event_type, list(x ORDER BY hr) AS hvals
  FROM hourly GROUP BY 1
), folded AS (
  SELECT event_type, len(hvals)::BIGINT AS n_hours,
         list_reduce(list_prepend(list_concat([1.0, hvals[1], 0.0], [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]), list_transform(hvals[2:], q -> [q])), (acc, e) -> list_concat([acc[1] + 1.0, (0.3 * (e[1] - acc[(acc[1] % 24)::INT + 4]) + (1.0 - 0.3) * (acc[2] + acc[3])), (0.1 * ((0.3 * (e[1] - acc[(acc[1] % 24)::INT + 4]) + (1.0 - 0.3) * (acc[2] + acc[3])) - acc[2]) + (1.0 - 0.1) * acc[3])], list_transform(acc[4:27], (v, i) -> CASE WHEN i - 1 = (acc[1] % 24)::INT THEN (0.2 * (e[1] - (0.3 * (e[1] - acc[(acc[1] % 24)::INT + 4]) + (1.0 - 0.3) * (acc[2] + acc[3]))) + (1.0 - 0.2) * acc[(acc[1] % 24)::INT + 4]) ELSE v END))) AS hw
  FROM per WHERE len(hvals) >= 2
)
SELECT event_type, n_hours,
       floor(1e6 * hw[2])::BIGINT AS level_micro,
       floor(1e6 * hw[3])::BIGINT AS trend_micro,
       floor(1e6 * (hw[2] + 1.0 * hw[3] + hw[((hw[1] + 1 - 1) % 24)::INT + 4]))::BIGINT AS fc1_micro,
       floor(1e6 * (hw[2] + 2.0 * hw[3] + hw[((hw[1] + 2 - 1) % 24)::INT + 4]))::BIGINT AS fc2_micro,
       floor(1e6 * (hw[2] + 3.0 * hw[3] + hw[((hw[1] + 3 - 1) % 24)::INT + 4]))::BIGINT AS fc3_micro,
       floor(1e6 * (hw[2] + 4.0 * hw[3] + hw[((hw[1] + 4 - 1) % 24)::INT + 4]))::BIGINT AS fc4_micro
FROM folded
"""



def events_cusum_changepoints(spark, sf_dir):
    """CUSUM change-point detection per (user, event_type) series: the
    classic tabular cumulative-sum control chart. Against the series'
    own integer mean-proxy (the mid-range (min+max)/2 in centi --
    order-free and exact, where a float mean would need an ordered
    fold), accumulate s+ = max(0, s+ + (x - mu - k)) and
    s- = max(0, s- + (mu - x - k)); every time either side crosses the
    threshold h, an alarm fires and the accumulator resets. Completes
    the anomaly family: z-score (global), hour-of-day MAD (seasonal),
    CMS drift (distributional) -- CUSUM is the SEQUENTIAL small-shift
    detector control engineering actually uses.

    The fold is the same bit-exact aggregate()/list_reduce pair as the
    Holt-Winters/MG folds: state [s+, s-, n_alarms, max_s] in integer
    centi, rows in (ts, event_id) order. One shuffle on the series
    key."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_samples"),
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id,"
            " cast(round(value * 100) as bigint)))), s -> s.col3)"
        ).alias("vs"),
        # mu2 = min+max = 2x the mid-range: keeping the DOUBLED value
        # avoids integer division entirely (floor-vs-trunc semantics
        # diverge across engines on negative odd sums); the fold then
        # compares 2*x against mu2 with doubled slack/threshold: 100 is
        # twice the half-unit slack of 50 centi, and 4000 twice the
        # 20-unit decision threshold
        (
            F.min(F.round(F.col("value") * 100).cast("bigint"))
            + F.max(F.round(F.col("value") * 100).cast("bigint"))
        ).alias("mu2_centi"),
    )
    fold = (
        "aggregate(vs, array(0L, 0L, 0L, 0L), (acc, x) -> array("
        "  if(greatest(0L, acc[0] + (2 * x - mu2_centi - 100)) > 4000, 0L,"
        "     greatest(0L, acc[0] + (2 * x - mu2_centi - 100))),"
        "  if(greatest(0L, acc[1] + (mu2_centi - 2 * x - 100)) > 4000, 0L,"
        "     greatest(0L, acc[1] + (mu2_centi - 2 * x - 100))),"
        "  acc[2] + if(greatest(0L, acc[0] + (2 * x - mu2_centi - 100)) > 4000"
        "          or greatest(0L, acc[1] + (mu2_centi - 2 * x - 100)) > 4000, 1L, 0L),"
        "  greatest(acc[3], greatest(0L, acc[0] + (2 * x - mu2_centi - 100)),"
        "           greatest(0L, acc[1] + (mu2_centi - 2 * x - 100)))"
        "))"
    )
    return (
        per.filter(F.col("n_samples") >= 5)
        .select(
            "user_id",
            "event_type",
            "n_samples",
            "mu2_centi",
            F.expr(fold).alias("st"),
        )
        .select(
            "user_id",
            "event_type",
            "n_samples",
            "mu2_centi",
            F.col("st")[2].alias("n_alarms"),
            F.col("st")[3].alias("max_cusum_centi"),
        )
        .filter(F.col("n_alarms") > 0)
    )


def _cusum_sql() -> str:
    sp = "greatest(0, acc[1] + (2 * e[1] - mu2_centi - 100))"
    sm = "greatest(0, acc[2] + (mu2_centi - 2 * e[1] - 100))"
    fold = (
        f"list_reduce(list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT],"
        f" list_transform(vs, q -> [q])),"
        f" (acc, e) -> ["
        f"   CASE WHEN {sp} > 4000 THEN 0 ELSE {sp} END,"
        f"   CASE WHEN {sm} > 4000 THEN 0 ELSE {sm} END,"
        f"   acc[3] + CASE WHEN {sp} > 4000 OR {sm} > 4000 THEN 1 ELSE 0 END,"
        f"   greatest(acc[4], {sp}, {sm})"
        f" ])"
    )
    return f"""
WITH per AS (
  SELECT user_id, event_type, count(*) AS n_samples,
         list(round(value * 100)::BIGINT ORDER BY ts, event_id) AS vs,
         (min(round(value * 100)::BIGINT) + max(round(value * 100)::BIGINT))::BIGINT AS mu2_centi
  FROM events GROUP BY 1, 2
), folded AS (
  SELECT user_id, event_type, n_samples, mu2_centi, {fold} AS st
  FROM per WHERE n_samples >= 5
)
SELECT user_id, event_type, n_samples, mu2_centi,
       st[3] AS n_alarms, st[4] AS max_cusum_centi
FROM folded WHERE st[3] > 0
"""


CUSUM_SQL = _cusum_sql()



_SLO_BUDGET_MILLI = 250  # SLO: <= 25% of events may be errors (fixture-sized)


def events_slo_burn_rate(spark, sf_dir):
    """Multi-window SLO BURN-RATE alerting (the Google SRE workbook
    multiwindow/multi-burn-rate recipe): per tenant and hour, the error
    ratio of the SHORT window (1h) and the LONG window (6h, rolling)
    both expressed as burn rates (ratio / SLO budget, milli); the alert
    fires only when BOTH exceed the threshold (burn > 2x budget) --
    long window for significance, short window for recency, exactly why
    production SLO alerts use two windows instead of one.

    Integer-exact: ratios stay (1000 * errors) DIV events; the rolling
    6h window is a RANGE frame over integer hour buckets. One shuffle
    on tenant shared by the hourly agg and the frame."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    hourly = (
        ev.select(
            (F.col("user_id") % 10).cast("string").alias("tenant_id"),
            (F.expr("unix_millis(ts::timestamp)") / F.lit(3600000))
            .cast("long")
            .alias("hr"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("tenant_id", "hr")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("is_err").alias("n_errors"),
        )
    )
    w6 = (
        Window.partitionBy("tenant_id")
        .orderBy("hr")
        .rangeBetween(-5, 0)
    )
    enriched = hourly.select(
        "tenant_id",
        "hr",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w6).alias("n_events_6h"),
        F.sum("n_errors").over(w6).alias("n_errors_6h"),
    )
    short_burn = F.expr(
        f"((1000 * n_errors) DIV n_events) * 1000 DIV {_SLO_BUDGET_MILLI}"
    )
    long_burn = F.expr(
        f"((1000 * n_errors_6h) DIV n_events_6h) * 1000 DIV {_SLO_BUDGET_MILLI}"
    )
    return enriched.select(
        "tenant_id",
        "hr",
        "n_events",
        "n_errors",
        short_burn.alias("short_burn_milli"),
        long_burn.alias("long_burn_milli"),
        ((short_burn > 2000) & (long_burn > 2000)).alias("alert"),
    )


SLO_BURN_SQL = f"""
WITH hourly AS (
  SELECT (user_id % 10)::VARCHAR AS tenant_id,
         epoch_ms(ts) // 3600000 AS hr,
         count(*) AS n_events,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors
  FROM events GROUP BY 1, 2
), enriched AS (
  SELECT tenant_id, hr, n_events, n_errors,
         sum(n_events) OVER w6 AS n_events_6h,
         sum(n_errors) OVER w6 AS n_errors_6h
  FROM hourly
  WINDOW w6 AS (PARTITION BY tenant_id ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT tenant_id, hr, n_events, n_errors,
       (((1000 * n_errors) // n_events) * 1000 // {_SLO_BUDGET_MILLI})::BIGINT AS short_burn_milli,
       (((1000 * n_errors_6h) // n_events_6h) * 1000 // {_SLO_BUDGET_MILLI})::BIGINT AS long_burn_milli,
       (((1000 * n_errors) // n_events) * 1000 // {_SLO_BUDGET_MILLI} > 2000
        AND ((1000 * n_errors_6h) // n_events_6h) * 1000 // {_SLO_BUDGET_MILLI} > 2000) AS alert
FROM enriched
"""



_K_ANON = 5


def events_k_anonymity(spark, sf_dir):
    """K-ANONYMITY audit over the quasi-identifier (tenant, event_type,
    hour-of-day): the privacy QC a data-release pipeline runs before
    publishing "anonymized" event data -- any combination shared by
    fewer than k individuals re-identifies them. Reports, per
    quasi-identifier group-size: how many groups and how many USERS sit
    at that size, plus the at-risk flag (size < k=5); the row with
    group_size=1 is the singling-out count regulators ask about first.

    Scale shape: two chained hash aggregations (group sizes, then the
    size histogram) -- both map-side combinable; no joins."""
    ev = _events(spark, sf_dir)
    groups = ev.groupBy(
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        "event_type",
        F.hour("ts").alias("hod"),
    ).agg(F.countDistinct("user_id").alias("group_size"))
    return (
        groups.groupBy("group_size")
        .agg(F.count("*").alias("n_groups"))
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_users_exposed"),
            (F.col("group_size") < _K_ANON).alias("at_risk"),
        )
    )


K_ANONYMITY_SQL = f"""
WITH groups AS (
  SELECT (user_id % 10)::VARCHAR AS tenant_id, event_type, hour(ts) AS hod,
         count(DISTINCT user_id) AS group_size
  FROM events GROUP BY 1, 2, 3
)
SELECT group_size, count(*) AS n_groups,
       (group_size * count(*))::BIGINT AS n_users_exposed,
       group_size < {_K_ANON} AS at_risk
FROM groups GROUP BY group_size
"""



def events_benford_audit(spark, sf_dir):
    """BENFORD'S-LAW forensic audit per event type: the first significant
    digit distribution of the value column against Benford's expected
    frequencies (floor(1000*log10(1+1/d)) milli, precomputed constants)
    -- the classic fabricated-numbers detector auditors run; a uniform
    or spiked digit histogram flags synthetic or capped data. Reports
    per (event_type, digit): observed count, observed milli share,
    expected milli share, and the absolute deviation.

    Scale shape: the first digit is a scan-side string expression; one
    hash agg + a 9-row broadcast of the expected table."""
    ev = _events(spark, sf_dir)
    # nullif: a value rounding to exactly 0 strips to the empty string,
    # and under Spark 4's default ANSI mode ''::INT RAISES instead of
    # yielding NULL -- a latent crash on any corpus with a sub-0.005
    # value, caught by the round-11 sf0.1 strict gate (the oracle twin
    # had the identical bug in DuckDB)
    digit = F.nullif(
        F.substring(
            F.regexp_replace(
                F.abs(F.round(F.col("value") * 100).cast("bigint")).cast("string"),
                "^0+", "",
            ),
            1,
            1,
        ),
        F.lit(""),
    ).cast("int")
    d = ev.select("event_type", digit.alias("digit")).filter(
        F.col("digit").isNotNull() & (F.col("digit") > 0)
    )
    counts = d.groupBy("event_type", "digit").agg(F.count("*").alias("n"))
    totals = counts.groupBy("event_type").agg(F.sum("n").alias("n_total"))
    expected = spark.createDataFrame(
        [(1, 301), (2, 176), (3, 124), (4, 96), (5, 79), (6, 66), (7, 57), (8, 51), (9, 45)], ["digit", "expected_milli"]
    )
    return (
        counts.join(F.broadcast(totals), "event_type")
        .join(F.broadcast(expected), "digit")
        .select(
            "event_type",
            F.col("digit").cast("bigint").alias("digit"),
            "n",
            F.expr("(1000 * n) DIV n_total").alias("observed_milli"),
            F.col("expected_milli").cast("bigint"),
            F.abs(
                F.expr("(1000 * n) DIV n_total") - F.col("expected_milli")
            ).alias("deviation_milli"),
        )
    )


BENFORD_SQL = """
WITH d AS (
  -- NULLIF: a value rounding to exactly 0 strips to the empty string,
  -- which Spark's non-ANSI cast maps to NULL (then filtered) but a bare
  -- DuckDB ''::INT raises -- caught by the round-11 sf0.1 strict gate
  -- (the sf0.01 corpora carry no sub-0.005 value)
  SELECT event_type,
         NULLIF(substr(regexp_replace(abs(round(value * 100)::BIGINT)::VARCHAR, '^0+', ''), 1, 1), '')::INT AS digit
  FROM events
), filtered AS (SELECT * FROM d WHERE digit IS NOT NULL AND digit > 0),
counts AS (
  SELECT event_type, digit, count(*) AS n FROM filtered GROUP BY 1, 2
), totals AS (
  SELECT event_type, sum(n)::BIGINT AS n_total FROM counts GROUP BY 1
), expected(digit, expected_milli) AS (VALUES (1, 301), (2, 176), (3, 124), (4, 96), (5, 79), (6, 66), (7, 57), (8, 51), (9, 45))
SELECT c.event_type, c.digit::BIGINT AS digit, c.n,
       ((1000 * c.n) // t.n_total)::BIGINT AS observed_milli,
       e.expected_milli::BIGINT AS expected_milli,
       abs((1000 * c.n) // t.n_total - e.expected_milli)::BIGINT AS deviation_milli
FROM counts c JOIN totals t USING (event_type) JOIN expected e USING (digit)
"""



def events_gini_inequality(spark, sf_dir):
    """GINI COEFFICIENT of the per-user activity distribution, per event
    type -- the load-concentration number capacity planning reads ("do
    5% of users generate 80% of writes?"), computed with the exact
    rank formula over ascending counts: G_milli = 1000 * (2*S_ranked -
    (n+1)*S) DIV (n*S), where S_ranked = sum(i * x_i) over the
    ascending deterministic order. All BIGINT; pairs with the Pareto
    decile curve on the revenue side.

    Scale shape: per-(type, user) count agg, one rank window per type,
    then a 5-row rollup."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    per = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy(F.asc("x"), F.asc("user_id"))
    ranked = per.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("x").alias("s"),
            F.sum(F.col("i").cast("bigint") * F.col("x")).alias("s_ranked"),
        )
        .select(
            "event_type",
            "n_users",
            F.col("s").cast("bigint").alias("total_events"),
            F.expr(
                "(1000 * (2 * s_ranked - (n_users + 1) * s)) DIV (n_users * s)"
            ).alias("gini_milli"),
        )
    )


GINI_SQL = """
WITH per AS (
  SELECT event_type, user_id, count(*) AS x
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY x ASC, user_id ASC) AS i
  FROM per
)
SELECT event_type, count(*) AS n_users, sum(x)::BIGINT AS total_events,
       ((1000 * (2 * sum(i * x) - (count(*) + 1) * sum(x)))
        // (count(*) * sum(x)))::BIGINT AS gini_milli
FROM ranked GROUP BY event_type
"""



def events_bot_regularity(spark, sf_dir):
    """BOT/AUTOMATION detection by inter-event regularity: humans emit
    bursty gaps, schedulers emit metronomic ones, so a LOW squared
    coefficient of variation of a user's inter-event times is the
    classic abuse-detection signal. cv2_milli = 1000 * (n*S2 - S*S)
    DIV (n * S * S) -- variance over squared mean from exact BIGINT
    gap sums, no float path at all. Users with >= 10 events and
    cv2_milli < 100 (std under ~32% of the mean) are flagged robotic.

    Scale shape: one shuffle on user_id shared by the lag window and
    the aggregation; state per user is its gap list bound."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = (
        ev.select(
            "user_id",
            F.expr("unix_millis(ts::timestamp) div 1000").alias("ts_ms"),
            "event_id",
        )
        .withColumn("prev", F.lag("ts_ms").over(w))
        .filter(F.col("prev").isNotNull())
        .select("user_id", (F.col("ts_ms") - F.col("prev")).alias("g"))
    )
    per = gaps.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("s2"),
    )
    return (
        per.filter((F.col("n") >= 10) & (F.col("s") > 0))
        .select(
            "user_id",
            "n",
            F.expr("s DIV n").alias("mean_gap_s"),
            F.expr("(1000 * (n * s2 - s * s)) DIV (n * s * s)").alias(
                "cv2_milli"
            ),
        )
        .withColumn("robotic", F.col("cv2_milli") < 100)
    )


BOT_REGULARITY_SQL = """
WITH gaps AS (
  SELECT user_id, epoch_ms(ts) // 1000 - lag(epoch_ms(ts) // 1000) OVER w AS g
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), per AS (
  SELECT user_id, count(*) AS n, sum(g)::BIGINT AS s,
         sum(g * g)::BIGINT AS s2
  FROM gaps WHERE g IS NOT NULL GROUP BY 1
)
SELECT user_id, n, (s // n)::BIGINT AS mean_gap_s,
       ((1000 * (n * s2 - s * s)) // (n * s * s))::BIGINT AS cv2_milli,
       ((1000 * (n * s2 - s * s)) // (n * s * s)) < 100 AS robotic
FROM per WHERE n >= 10 AND s > 0
"""



def events_survival_curve(spark, sf_dir):
    """Kaplan-Meier-style SURVIVAL/churn curve: per day-since-first-seen,
    how many users are still "at risk" (observed that long) and how
    many were active at that age -- the retention decay curve product
    analytics reads next to cohort retention (which slices by calendar
    week; this slices by USER AGE). Censoring is handled the KM way:
    a user only counts in the denominator for ages within their
    observation window. Survival share in milli; exact integers.

    Scale shape: per-user first/last aggregation, one explode over the
    bounded age range per user, one age rollup."""
    ev = _events(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.expr("unix_millis(ts::timestamp) div 86400000").alias("day"),
    ).distinct()
    per = days.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    active = days.join(per, "user_id").select(
        "user_id", (F.col("day") - F.col("first_day")).alias("age")
    )
    at_risk = per.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.col("last_day") - F.col("first_day"))
        ).alias("age"),
    )
    a = active.groupBy("age").agg(F.countDistinct("user_id").alias("n_active"))
    r = at_risk.groupBy("age").agg(F.count("*").alias("n_at_risk"))
    return (
        r.join(a, "age", "left")
        .select(
            F.col("age").cast("bigint").alias("age_days"),
            "n_at_risk",
            F.coalesce("n_active", F.lit(0)).cast("bigint").alias("n_active"),
            F.expr(
                "(1000 * coalesce(n_active, 0)) DIV n_at_risk"
            ).alias("active_share_milli"),
        )
    )


SURVIVAL_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
), per AS (
  SELECT user_id, min(day) AS first_day, max(day) AS last_day
  FROM days GROUP BY 1
), active AS (
  SELECT d.user_id, d.day - p.first_day AS age
  FROM days d JOIN per p USING (user_id)
), at_risk AS (
  SELECT user_id, unnest(range(0, last_day - first_day + 1)) AS age FROM per
), a AS (SELECT age, count(DISTINCT user_id) AS n_active FROM active GROUP BY 1),
r AS (SELECT age, count(*) AS n_at_risk FROM at_risk GROUP BY 1)
SELECT r.age::BIGINT AS age_days, r.n_at_risk,
       coalesce(a.n_active, 0)::BIGINT AS n_active,
       ((1000 * coalesce(a.n_active, 0)) // r.n_at_risk)::BIGINT AS active_share_milli
FROM r LEFT JOIN a USING (age)
"""



def events_dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU STICKINESS per event type: average daily active users
    over the observed span against the span's total distinct actives
    (the 30-day-window MAU analog on this fixture), in milli -- THE
    product-engagement ratio ("what share of the monthly audience
    shows up on a typical day"). Exact integers: sum of daily
    distincts DIV day count, then milli ratio over the span distinct.

    Scale shape: two distinct aggregations (per-day and per-span; at
    100 TB both swap to the HLL sketch with the same output shape) and
    a 5-row combine."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.expr("unix_millis(ts::timestamp) div 86400000").alias("day"),
        "user_id",
    )
    daily = base.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    span = base.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("mau"),
        F.countDistinct("day").alias("n_days"),
    )
    avg_dau = daily.groupBy("event_type").agg(F.sum("dau").alias("dau_sum"))
    return (
        avg_dau.join(F.broadcast(span), "event_type")
        .select(
            "event_type",
            F.expr("dau_sum DIV n_days").alias("avg_dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.expr("(1000 * (dau_sum DIV n_days)) DIV mau").alias(
                "stickiness_milli"
            ),
        )
    )


DAU_MAU_SQL = """
WITH base AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day, user_id FROM events
), daily AS (
  SELECT event_type, day, count(DISTINCT user_id) AS dau
  FROM base GROUP BY 1, 2
), span AS (
  SELECT event_type, count(DISTINCT user_id) AS mau,
         count(DISTINCT day) AS n_days
  FROM base GROUP BY 1
), s AS (SELECT event_type, sum(dau)::BIGINT AS dau_sum FROM daily GROUP BY 1)
SELECT s.event_type, (s.dau_sum // sp.n_days)::BIGINT AS avg_dau,
       sp.mau::BIGINT AS mau, sp.n_days::BIGINT AS n_days,
       ((1000 * (s.dau_sum // sp.n_days)) // sp.mau)::BIGINT AS stickiness_milli
FROM s JOIN span sp USING (event_type)
"""



def events_transition_entropy(spark, sf_dir):
    """BEHAVIORAL DIVERSITY score: Shannon entropy of each user's
    event-type TRANSITION distribution (the randomness of their Markov
    row, micro-quantized with the repo's cnt*floor(ln(n/cnt)*1e6)
    idiom) -- low entropy = habitual/scripted paths, high = exploratory
    behavior; the per-user scalar the Markov matrix
    (events_markov_transitions) summarizes to. Users with >= 10
    transitions; top-level report is the per-user score.

    Scale shape: one lag window + two hash aggs on the user key."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select("user_id", F.concat_ws(">", "prev", "event_type").alias("tr"))
    )
    counts = trans.groupBy("user_id", "tr").agg(F.count("*").alias("cnt"))
    per = counts.groupBy("user_id").agg(
        F.sum("cnt").alias("n_trans"),
        F.sum(
            F.col("cnt")
            * F.floor(F.log(F.col("cnt").cast("double")) * 1e6).cast("bigint")
        ).alias("sum_clogc"),
        F.countDistinct("tr").alias("n_kinds"),
    )
    return (
        per.filter(F.col("n_trans") >= 10)
        .select(
            "user_id",
            "n_trans",
            F.col("n_kinds").cast("bigint").alias("n_kinds"),
            # H = ln(n) - (1/n) * sum c*ln(c), in micro-nats
            (
                F.floor(F.log(F.col("n_trans").cast("double")) * 1e6).cast("bigint")
                - F.expr("sum_clogc DIV n_trans")
            ).alias("entropy_micro"),
        )
    )


TRANSITION_ENTROPY_SQL = """
WITH trans AS (
  SELECT user_id,
         lag(event_type) OVER w || '>' || event_type AS tr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), counts AS (
  SELECT user_id, tr, count(*) AS cnt
  FROM trans WHERE tr IS NOT NULL GROUP BY 1, 2
), per AS (
  SELECT user_id, sum(cnt)::BIGINT AS n_trans,
         sum(cnt * floor(ln(cnt::DOUBLE) * 1e6)::BIGINT)::BIGINT AS sum_clogc,
         count(DISTINCT tr) AS n_kinds
  FROM counts GROUP BY 1
)
SELECT user_id, n_trans, n_kinds::BIGINT AS n_kinds,
       (floor(ln(n_trans::DOUBLE) * 1e6)::BIGINT - sum_clogc // n_trans)::BIGINT AS entropy_micro
FROM per WHERE n_trans >= 10
"""



def events_touch_attribution(spark, sf_dir):
    """FIRST-TOUCH vs LAST-TOUCH attribution: for every purchase, which
    event type gets the credit under each model -- the user's earliest
    event ever (first touch) and their latest non-purchase event before
    the purchase (last touch, the as-of match) -- tallied per credited
    type with both models side by side. The divergence between the two
    columns IS the marketing-attribution debate, quantified.

    Scale shape: an argmin per user (first touch, one agg) broadcast
    to purchases, plus the as-of backward match (union-tag single
    shuffle) for last touch; final rollup is |event types| rows."""
    from ..operators.asof import asof_join

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.expr("unix_millis(ts::timestamp)").alias("ts_ms"),
        "event_id",
        "event_type",
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ms").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    first = base.groupBy("user_id").agg(
        F.min(F.struct("ts_ms", "event_id", "event_type"))["event_type"].alias(
            "first_touch"
        )
    )
    others = base.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts_ms",
        F.col("event_type").alias("lt_type"),
    )
    dd = others.groupBy("user_id", "ts_ms").agg(
        F.max("lt_type").alias("lt_type")
    )
    last = asof_join(
        purchases, dd,
        on=["user_id"], left_time="p_ts", right_time="ts_ms",
        right_cols=["lt_type"], how="left",
    )
    credited = last.join(F.broadcast(first), "user_id").select(
        F.coalesce("lt_type", F.lit("none")).alias("last_touch"),
        "first_touch",
    )
    lt = credited.groupBy(F.col("last_touch").alias("credited_type")).agg(
        F.count("*").alias("last_touch_credits")
    )
    ft = credited.groupBy(F.col("first_touch").alias("credited_type")).agg(
        F.count("*").alias("first_touch_credits")
    )
    return (
        lt.join(ft, "credited_type", "full")
        .select(
            "credited_type",
            F.coalesce("last_touch_credits", F.lit(0)).cast("bigint").alias(
                "last_touch_credits"
            ),
            F.coalesce("first_touch_credits", F.lit(0)).cast("bigint").alias(
                "first_touch_credits"
            ),
        )
    )


TOUCH_ATTRIBUTION_SQL = """
WITH base AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type FROM events
), purchases AS (
  SELECT user_id, ts_ms AS p_ts, event_id AS p_id
  FROM base WHERE event_type = 'purchase'
), first AS (
  SELECT user_id, event_type AS first_touch FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_ms, event_id) AS rn
    FROM base
  ) WHERE rn = 1
), dd AS (
  SELECT user_id, ts_ms, max(event_type) AS lt_type
  FROM base WHERE event_type <> 'purchase' GROUP BY 1, 2
), last AS (
  SELECT p.user_id, p.p_ts, p.p_id,
         (SELECT d.lt_type FROM dd d
          WHERE d.user_id = p.user_id AND d.ts_ms <= p.p_ts
          ORDER BY d.ts_ms DESC LIMIT 1) AS lt_type
  FROM purchases p
), credited AS (
  SELECT coalesce(l.lt_type, 'none') AS last_touch, f.first_touch
  FROM last l JOIN first f USING (user_id)
), lt AS (
  SELECT last_touch AS credited_type, count(*) AS last_touch_credits
  FROM credited GROUP BY 1
), ft AS (
  SELECT first_touch AS credited_type, count(*) AS first_touch_credits
  FROM credited GROUP BY 1
)
SELECT coalesce(lt.credited_type, ft.credited_type) AS credited_type,
       coalesce(lt.last_touch_credits, 0)::BIGINT AS last_touch_credits,
       coalesce(ft.first_touch_credits, 0)::BIGINT AS first_touch_credits
FROM lt FULL JOIN ft USING (credited_type)
"""


QUERIES = {
    "events_touch_attribution": events_touch_attribution,
    "events_transition_entropy": events_transition_entropy,
    "events_dau_mau_stickiness": events_dau_mau_stickiness,
    "events_survival_curve": events_survival_curve,
    "events_bot_regularity": events_bot_regularity,
    "events_gini_inequality": events_gini_inequality,
    "events_benford_audit": events_benford_audit,
    "events_k_anonymity": events_k_anonymity,
    "events_slo_burn_rate": events_slo_burn_rate,
    "events_cusum_changepoints": events_cusum_changepoints,
    "events_holt_winters_seasonal": events_holt_winters_seasonal,
    "events_seasonal_anomaly": events_seasonal_anomaly,
    "events_join_size_estimate": events_join_size_estimate,
    "events_misra_gries_topk": events_misra_gries_topk,
    "events_theta_set_ops": events_theta_set_ops,
    "events_ddsketch_quantiles": events_ddsketch_quantiles,
    "events_cms_key_drift": events_cms_key_drift,
    "events_scd2_intervals": events_scd2_intervals,
    "events_ewma_smooth": events_ewma_smooth,
    "events_time_to_convert": events_time_to_convert,
    "events_error_rate": events_error_rate,
    "events_active_users": events_active_users,
    "events_top_paths": events_top_paths,
    # new-in-round-4 entries lead so they land inside the driver's
    # 50-query correctness window (rounds 2-3 recorded the rest)
    "events_hll_user_estimate": events_hll_user_estimate,
    "events_latest_state": events_latest_state,
    "events_zorder_key": events_zorder_key,
    "events_sessionization": events_sessionization,
    "events_multires_rollup": events_multires_rollup,
    "events_anomaly_zscore": events_anomaly_zscore,
    "events_retention_cohorts": events_retention_cohorts,
    "events_markov_transitions": events_markov_transitions,
    "events_tumbling_hourly": events_tumbling_hourly,
    "events_funnel_conversion": events_funnel_conversion,
    "events_sliding_10m_5m": events_sliding_10m_5m,
    "events_dedup_per_minute": events_dedup_per_minute,
    "events_type_value_buckets": events_type_value_buckets,
    "events_asof_attribution": events_asof_attribution,
    "events_range_join_conversions": events_range_join_conversions,
}

ORACLES = {
    "events_touch_attribution": TOUCH_ATTRIBUTION_SQL,
    "events_transition_entropy": TRANSITION_ENTROPY_SQL,
    "events_dau_mau_stickiness": DAU_MAU_SQL,
    "events_survival_curve": SURVIVAL_SQL,
    "events_bot_regularity": BOT_REGULARITY_SQL,
    "events_gini_inequality": GINI_SQL,
    "events_benford_audit": BENFORD_SQL,
    "events_k_anonymity": K_ANONYMITY_SQL,
    "events_slo_burn_rate": SLO_BURN_SQL,
    "events_cusum_changepoints": CUSUM_SQL,
    "events_holt_winters_seasonal": HOLT_WINTERS_SEASONAL_SQL,
    "events_seasonal_anomaly": SEASONAL_ANOMALY_SQL,
    "events_join_size_estimate": JOIN_SIZE_SQL,
    "events_misra_gries_topk": MISRA_GRIES_SQL,
    "events_theta_set_ops": THETA_SET_SQL,
    "events_ddsketch_quantiles": DDSKETCH_SQL,
    "events_cms_key_drift": EVENTS_CMS_DRIFT_SQL,
    "events_scd2_intervals": SCD2_SQL,
    "events_ewma_smooth": EWMA_SQL,
    "events_top_paths": TOP_PATHS_SQL,
    "events_active_users": ACTIVE_USERS_SQL,
    "events_error_rate": ERROR_RATE_SQL,
    "events_time_to_convert": TIME_TO_CONVERT_SQL,
    "events_hll_user_estimate": HLL_USERS_SQL,
    "events_latest_state": LATEST_STATE_SQL,
    "events_zorder_key": ZORDER_SQL,
    "events_anomaly_zscore": ANOMALY_SQL,
    "events_retention_cohorts": RETENTION_SQL,
    "events_markov_transitions": MARKOV_SQL,
    "events_tumbling_hourly": TUMBLING_SQL,
    "events_funnel_conversion": FUNNEL_SQL,
    "events_sliding_10m_5m": SLIDING_SQL,
    "events_sessionization": SESSION_SQL,
    "events_dedup_per_minute": DEDUP_MINUTE_SQL,
    "events_type_value_buckets": VALUE_BUCKETS_SQL,
    "events_asof_attribution": ASOF_SQL,
    "events_range_join_conversions": RANGE_JOIN_SQL,
    "events_multires_rollup": MULTIRES_SQL,
}
