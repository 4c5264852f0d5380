"""The reference's produce/consume dataflow as oracle-checkable batch queries.

`events` stands in for the sample stream (FIXTURES.md §4): ts -> timestamp
(epoch ms), value -> value, {__name__: event_type, k: props.k,
user: user_id} -> labels, user_id % 10 -> tenant_id.

Coverage map (SURVEY.md §2):
  produce_flatten        B1 flatten (via nest->flatten round-trip so the
                         multiset identity is the oracle check)
  produce_serialize_json C1 serialization, expression tier
  produce_partition_key  B7+B8 (exact FNV-1; DuckDB oracle folds the hash
                         with list_reduce over HUGEINT modular arithmetic)
  consume_sorted_labels  B3 label sort
  consume_batching       D1 size-trigger batching shape (count trigger,
                         deterministic batch ids per tenant)
  consume_rate_5m        PromQL-style per-series 5m rate/increase (gauge
                         semantics; streaming twin windows.sample_rate_5m)
  consume_label_cardinality  per-(tenant, label) distinct-value report (the
                         series-cardinality-explosion ops query)
  consume_histogram_quantile PromQL histogram_quantile estimation from
                         le-bucket counts (one hash agg, no sort)
  consume_instant_vector PromQL instant-vector evaluation on a 10m grid
                         with the 5m staleness lookback (as-of join)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.fnv import fnv1_64_key_col
from ..functions.serializers import (
    deserialize,
    serialize_avro_json_expr,
    serialize_col,
    serialize_json_compat_expr,
    serialize_json_expr,
)
from ..operators.flatten import flatten_write_requests, nest_samples, sorted_label_entries
from ..operators.skew import salted_agg
from ..schema import load_tables

#: epoch-ms from the event timestamp. unix_micros is one integer
#: conversion of the internal micros value; the previous formulation
#: (unix_timestamp(ts)*1000 + cast(date_format(ts,'SSS') as long)) paid
#: a per-row text FORMATTING pass for the millisecond component --
#: proven value-identical on every SF (r14 A/B: n_diff=0; truncating and
#: flooring div agree because every corpus timestamp is positive).
_EPOCH_MS = "unix_micros(cast(ts as timestamp)) div 1000"


#: shared event->sample projection (the A1+B4 edge in batch form)
def samples_from_events(spark, sf_dir):
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    # NOTE: no repartition here even though the single-row-group testdata
    # scan cannot split -- the sample projection/serialization is cheap
    # codegen'd expression work, and a 1M-row shuffle costs more than the
    # lost parallelism (measured: +0.8s on produce_serialize_json at
    # sf0.1). CPU-heavy Python stages (docs hashing) DO repartition.
    return ev.select(
        F.expr(_EPOCH_MS).alias("timestamp"),
        F.col("value"),
        F.create_map(
            F.lit("__name__"), F.col("event_type"),
            F.lit("k"), F.get_json_object("props", "$.k"),
            F.lit("user"), F.col("user_id").cast("string"),
        ).alias("labels"),
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        F.col("event_id"),
    )


def samples_from_events_flat(spark, sf_dir):
    """``samples_from_events`` with the label map UNROLLED into scalar
    columns (name/k/user_str). For the ~two dozen PromQL-layer queries
    that touch only ``labels['__name__']``: Catalyst cannot prune inside
    a ``create_map`` literal (CollapseProject declines to merge past the
    twice-referenced timestamp alias, so SimplifyExtractValueOps never
    sees GetMapValue(CreateMap)), which made every such query pay a
    per-row get_json_object parse + map allocation it immediately threw
    away. As scalar projections the unused labels prune for free
    (guide §2.3); measured on consume_rate_5m at sf0.1: 0.63s -> 0.29s
    with bit-identical output. Queries that consume the map itself
    (serializers, partition key, label ops) keep ``samples_from_events``.
    """
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return ev.select(
        F.expr(_EPOCH_MS).alias("timestamp"),
        F.col("value"),
        F.col("event_type").alias("name"),
        F.get_json_object("props", "$.k").alias("k"),
        F.col("user_id").cast("string").alias("user_str"),
        (F.col("user_id") % 10).cast("string").alias("tenant_id"),
        F.col("event_id"),
    )


_SAMPLES_SQL = """
  SELECT epoch_ms(ts) AS timestamp, value,
         event_type, json_extract_string(props, '$.k') AS k,
         user_id::VARCHAR AS user_str,
         (user_id % 10)::VARCHAR AS tenant_id,
         event_id
  FROM events
"""


def produce_flatten(spark, sf_dir):
    """Nest samples into per-tenant WriteRequests (B2), flatten back (B1).

    The round-trip is the multiset identity, so the oracle is the direct
    projection -- this checks explode/map_from_entries/collect_list
    semantics end to end.
    """
    samples = samples_from_events_flat(spark, sf_dir)
    # nest per BOUNDED chunk, like the reference's per-flush batches
    # (write.go:67-69: <= BatchSize samples per WriteRequest) -- nesting a
    # whole tenant would collect_list 10% of the table into one row and cap
    # parallelism at the tenant count
    chunked = samples.withColumn("chunk", (F.col("event_id") % 256).cast("int")).drop(
        "event_id"
    )
    # the label set is static here, so the sorted entry array is built
    # straight from the scalar columns (identical structs to
    # sorted_label_entries over the map, incl. null values keeping their
    # entry; r15 -- skips the per-row map build + sort)
    entries = F.array(
        F.struct(F.lit("__name__").alias("name"), F.col("name").alias("value")),
        F.struct(F.lit("k").alias("name"), F.col("k").alias("value")),
        F.struct(F.lit("user").alias("name"), F.col("user_str").alias("value")),
    )
    nested = nest_samples(chunked, ["tenant_id", "chunk"], label_entries_col=entries)
    flat = flatten_write_requests(nested, ["tenant_id"])
    return flat.select(
        "timestamp",
        "value",
        F.col("labels")["__name__"].alias("name"),
        F.col("labels")["k"].alias("k"),
        "tenant_id",
    )


PRODUCE_FLATTEN_SQL = f"""
SELECT timestamp, value, event_type AS name, k, tenant_id
FROM ({_SAMPLES_SQL})
"""


def _flat_label_entries():
    """The sample model's static label set in byte order -- lets the
    C1-C3 serializers render labels straight from the flat scalar
    projection (labels_json_entries_expr: no per-row create_map/
    map_entries/array_sort chain, byte-identical payloads; r15 wire A/B
    1.08->0.65s). A function, not a constant: F.col needs an active
    SparkContext."""
    return (
        ("__name__", F.col("name")),
        ("k", F.col("k")),
        ("user", F.col("user_str")),
    )


def produce_serialize_json(spark, sf_dir):
    """C1 wire payloads (expression tier) keyed by tenant."""
    samples = samples_from_events_flat(spark, sf_dir)
    return samples.select(
        "event_id",
        "tenant_id",
        serialize_json_expr(
            F.col("timestamp"),
            F.col("value"),
            F.col("tenant_id"),
            label_entries=_flat_label_entries(),
        ).alias("payload"),
    )


# label keys sort as __name__ < k < user (byte order); tenant_id is never
# empty here so the tenant clause is always present.
PRODUCE_SERIALIZE_SQL = f"""
SELECT event_id, tenant_id,
       '{{"value":[' ||
       regexp_replace(regexp_replace(
           CAST(CAST(timestamp AS DECIMAL(20,0)) / 1000 AS DECIMAL(24,3))::VARCHAR,
           '(\\.\\d*?)0+$', '\\1'), '\\.$', '') ||
       ',"' ||
       regexp_replace(regexp_replace(
           CAST(value AS DECIMAL(38,6))::VARCHAR,
           '(\\.\\d*?)0+$', '\\1'), '\\.$', '') ||
       '"],"metric":{{' ||
       '"__name__":"' || event_type || '","k":"' || k || '","user":"' || user_str || '"' ||
       '}},"tenant_id":"' || tenant_id || '"}}' AS payload
FROM ({_SAMPLES_SQL})
"""


#: RFC3339Nano fragment shared by the C2/C3 oracles: '.' + trimmed ms, or ''
_RFC_SQL = """strftime(make_timestamp((timestamp // 1000) * 1000000), '%Y-%m-%dT%H:%M:%S')
       || (CASE WHEN timestamp % 1000 = 0 THEN ''
                ELSE '.' || regexp_replace(lpad((timestamp % 1000)::VARCHAR, 3, '0'), '0+$', '')
           END) || 'Z'"""

_VALUE_SQL = """regexp_replace(regexp_replace(
           CAST(value AS DECIMAL(38,6))::VARCHAR,
           '(\\.\\d*?)0+$', '\\1'), '\\.$', '')"""

# NB: single braces -- this constant is substituted INTO f-strings (brace
# escaping applies to the template's own text, not substituted values)
_LABELS_SQL = """'{"__name__":"' || event_type || '","k":"' || k || '","user":"' || user_str || '"}'"""


def produce_serialize_compat(spark, sf_dir):
    """C2 json-compat wire payloads (expression tier)."""
    samples = samples_from_events_flat(spark, sf_dir)
    return samples.select(
        "event_id",
        serialize_json_compat_expr(
            F.col("timestamp"),
            F.col("value"),
            F.col("tenant_id"),
            label_entries=_flat_label_entries(),
        ).alias("payload"),
    )


PRODUCE_COMPAT_SQL = f"""
SELECT event_id,
       '{{"labels":' || {_LABELS_SQL} ||
       ',"name":"' || event_type ||
       '","tenant_id":"' || tenant_id ||
       '","timestamp":"' || {_RFC_SQL} ||
       '","value":"' || {_VALUE_SQL} || '"}}' AS payload
FROM ({_SAMPLES_SQL})
"""


def produce_serialize_avro(spark, sf_dir):
    """C3 avro-json-compat wire payloads (expression tier; default schema
    field order, tenant_id always present)."""
    samples = samples_from_events_flat(spark, sf_dir)
    return samples.select(
        "event_id",
        serialize_avro_json_expr(
            F.col("timestamp"),
            F.col("value"),
            F.col("tenant_id"),
            label_entries=_flat_label_entries(),
        ).alias("payload"),
    )


PRODUCE_AVRO_SQL = f"""
SELECT event_id,
       '{{"timestamp":"' || {_RFC_SQL} ||
       '","value":"' || {_VALUE_SQL} ||
       '","name":"' || event_type ||
       '","labels":' || {_LABELS_SQL} ||
       ',"tenant_id":"' || tenant_id || '"}}' AS payload
FROM ({_SAMPLES_SQL})
"""


def consume_salted_tenant_totals(spark, sf_dir):
    """Per-tenant totals via the two-phase salted aggregation (the skewed-
    tenant scale path; result identical to a direct groupBy)."""
    samples = samples_from_events(spark, sf_dir)
    out = salted_agg(
        samples,
        ["tenant_id"],
        {
            "n_samples": ("count", "event_id"),
            "total_value": ("sum", "value"),
            "min_ts": ("min", "timestamp"),
            "max_ts": ("max", "timestamp"),
        },
        salt_on="event_id",
        n_salts=16,
    )
    return out.withColumn("total_value", F.round("total_value", 2))


CONSUME_SALTED_SQL = f"""
SELECT tenant_id, count(event_id) AS n_samples, round(sum(value), 2) AS total_value,
       min(timestamp) AS min_ts, max(timestamp) AS max_ts
FROM ({_SAMPLES_SQL}) GROUP BY tenant_id
"""


def consume_deserialize_roundtrip(spark, sf_dir):
    """C2 marshal -> C4 compat unmarshal as an inverse pair (the UDF
    byte-parity tier; reference pkg/pulsar/serializers.go:35-61).

    The oracle is the identity projection, so any drift in RFC3339Nano
    formatting, Go float round-tripping, or the B6 __name__ backfill
    flips the value hash."""
    samples = samples_from_events(spark, sf_dir)
    wire = samples.select(
        serialize_col(
            "json-compat",
            F.col("timestamp"), F.col("value"), F.col("labels"), F.col("tenant_id"),
        ).alias("payload")
    )
    back = deserialize(wire, "json-compat")
    return back.filter(F.col("timestamp").isNotNull()).select(
        "timestamp",
        "value",
        F.col("labels")["__name__"].alias("name"),
        F.col("labels")["k"].alias("k"),
        F.col("labels")["user"].alias("user_str"),
        "tenant_id",
    )


CONSUME_DESERIALIZE_SQL = f"""
SELECT timestamp, value, event_type AS name, k, user_str, tenant_id
FROM ({_SAMPLES_SQL})
"""


def produce_partition_key(spark, sf_dir):
    """B7+B8: exact FNV-1 64 partition key (reference
    pkg/pulsar/serializers.go:91-114), byte-parity checked two ways:
    pytest golden tests against the pure-Python implementation, and a
    full DuckDB oracle that folds FNV-1 with ``list_reduce`` over
    HUGEINT modular arithmetic (the testdata key material is ASCII, so
    byte == codepoint).

    r15: the sample model's label set is static, so the canonical
    sorted (k, v) byte string is built as one codegen'd concat from the
    flat scalar projection (exactly the oracle's keystr) and hashed by
    the VECTORIZED FNV tier (fnv1_64_key_col) -- no per-row map build,
    no per-row per-byte Python loop. Byte-identical keys (A/B n_diff=0
    on every row; parity pytest-pinned). The map-input tier
    (partition_key_col) remains the wire-edge path for dynamic label
    sets (streaming/produce.py)."""
    samples = samples_from_events_flat(spark, sf_dir)
    keystr = F.concat(
        F.lit("__name__"), F.col("name"), F.lit("k"), F.col("k"),
        F.lit("user"), F.col("user_str"), F.col("tenant_id"),
    )
    return samples.select("event_id", fnv1_64_key_col(keystr).alias("key"))


# FNV-1 64 (multiply then xor) folded over the sorted-label byte string:
# h := ((h * prime) mod 2^64) xor byte. HUGEINT (int128) holds the
# 64-bit x 40-bit product; the key material is ASCII (verified), so
# ord(char) == the UTF-8 byte. Label order '__name__' < 'k' < 'user' is
# the bytewise sort the reference uses.
PRODUCE_PARTITION_KEY_SQL = f"""
SELECT event_id,
       'hex ' || lower(lpad(to_hex(list_reduce(
         list_prepend(14695981039346656037::HUGEINT,
           list_transform(range(1, length(keystr) + 1),
                          i -> ord(substr(keystr, i, 1))::HUGEINT)),
         (acc, b) -> xor((acc * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT, b)
       )::UBIGINT), 16, '0')) AS key
FROM (
  SELECT event_id,
         '__name__' || event_type || 'k' || k || 'user' || user_str
         || tenant_id AS keystr
  FROM ({_SAMPLES_SQL})
)
"""


def produce_label_map_ops(spark, sf_dir):
    """Map-function surface over the labels column (the reference's only
    dynamic type, SURVEY §1.2): map_keys/map_values/map_filter/
    map_contains_key/element_at/size -- the building blocks of B6 backfill
    and B7 replica projection. The oracle recomputes each derivation from
    the raw event columns, so it checks Spark's map semantics against
    ground truth rather than another map implementation."""
    samples = samples_from_events(spark, sf_dir)
    non_user = F.map_filter(F.col("labels"), lambda k, v: k != F.lit("user"))
    return samples.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys("labels")), ",").alias("label_keys"),
        F.size("labels").cast("bigint").alias("n_labels"),
        F.element_at("labels", "__name__").alias("name"),
        F.map_contains_key("labels", "user").alias("has_user"),
        F.array_join(F.array_sort(F.map_values(non_user)), ",").alias("non_user_values"),
        F.size(non_user).cast("bigint").alias("n_non_user"),
    )


PRODUCE_LABEL_MAP_SQL = f"""
SELECT event_id,
       '__name__,k,user' AS label_keys,
       3::BIGINT AS n_labels,
       event_type AS name,
       true AS has_user,
       array_to_string(list_sort([event_type, k]), ',') AS non_user_values,
       2::BIGINT AS n_non_user
FROM ({_SAMPLES_SQL})
"""


def consume_sorted_labels(spark, sf_dir):
    """B3: labels map -> name-sorted (name,value) entries, rendered as a
    canonical string so the oracle can rebuild it."""
    samples = samples_from_events(spark, sf_dir)
    return samples.select(
        "event_id",
        F.array_join(
            F.transform(
                sorted_label_entries(F.col("labels")),
                lambda e: F.concat_ws("=", e["name"], e["value"]),
            ),
            ",",
        ).alias("sorted_labels"),
    )


CONSUME_SORTED_SQL = f"""
SELECT event_id,
       '__name__=' || event_type || ',k=' || k || ',user=' || user_str AS sorted_labels
FROM ({_SAMPLES_SQL})
"""


def consume_batching(spark, sf_dir, batch_size: int = 100):
    """D1 size-trigger shape: deterministic batch ids per tenant (arrival
    order = event time, tiebreak event_id), batch stats per flush."""
    samples = samples_from_events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("tenant_id").orderBy("timestamp", "event_id")
    batched = samples.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / batch_size).cast("bigint")
    )
    return batched.groupBy("tenant_id", "batch_id").agg(
        F.count("*").alias("n_samples"),
        F.min("timestamp").alias("first_ts"),
        F.max("timestamp").alias("last_ts"),
        F.round(F.sum("value"), 2).alias("batch_value"),
    )


CONSUME_BATCHING_SQL = f"""
WITH numbered AS (
  SELECT *, (row_number() OVER (PARTITION BY tenant_id ORDER BY timestamp, event_id) - 1) // 100
            AS batch_id
  FROM ({_SAMPLES_SQL})
)
SELECT tenant_id, batch_id, count(*) AS n_samples,
       min(timestamp) AS first_ts, max(timestamp) AS last_ts,
       round(sum(value), 2) AS batch_value
FROM numbered GROUP BY tenant_id, batch_id
"""


def consume_label_cardinality(spark, sf_dir):
    """Label-cardinality report: per (tenant, label name), how many
    distinct values and what share of samples carry the label -- THE ops
    query against series-cardinality explosions (the blast radius the
    reference's per-tenant key isolation exists to contain). One explode
    of the label map, one aggregation; countDistinct rewrites to a
    partial-agg expand under the hood, so it scales like any hash agg."""
    samples = samples_from_events(spark, sf_dir)
    lbl = samples.select(
        "tenant_id", "event_id", F.explode("labels").alias("label_name", "label_value")
    )
    return lbl.groupBy("tenant_id", "label_name").agg(
        F.countDistinct("label_value").alias("n_values"),
        F.count("*").alias("n_samples"),
    )


CONSUME_CARDINALITY_SQL = f"""
WITH lbl AS (
  SELECT tenant_id, event_id, u.name AS label_name, u.value AS label_value
  FROM ({_SAMPLES_SQL}),
       UNNEST([
         struct_pack(name := '__name__', value := event_type),
         struct_pack(name := 'k',        value := k),
         struct_pack(name := 'user',     value := user_str)
       ]) AS t(u)
)
SELECT tenant_id, label_name,
       count(DISTINCT label_value) AS n_values,
       count(*) AS n_samples
FROM lbl GROUP BY tenant_id, label_name
"""


def consume_instant_vector(spark, sf_dir):
    """PromQL's evaluation model itself: an instant vector on a regular
    10-minute grid -- for every (grid time, series), the newest sample at
    or before that instant, subject to the 5-minute staleness lookback
    (no sample in the window => the series is absent at that instant,
    exactly Prometheus's staleness rule).

    Spark shape: grid x series (both tiny) as-of joined against the
    sample stream via operators.asof.asof_join -- union-tag + ONE shuffle
    on the series key, cost independent of lookback width; the staleness
    bound is a post-filter on the matched timestamp. Samples sharing a
    timestamp are pre-deduped to the max event_id so the match is
    deterministic."""
    from ..operators.asof import asof_join

    samples = samples_from_events_flat(spark, sf_dir).select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    bounds = samples.agg(
        F.expr("(min(timestamp) div 600000) * 600000").alias("lo"),
        F.max("timestamp").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(600000))).alias("eval_ts")
    )
    series = samples.select("tenant_id", "name").distinct()
    # grid is one row per 10-min eval step over the data's time span --
    # bounded and tiny regardless of corpus size, so pin the broadcast
    # (nested-loop hygiene: never let the planner shuffle for this).
    pts = F.broadcast(grid).crossJoin(series)
    dd = (
        samples.groupBy("tenant_id", "name", "timestamp")
        .agg(F.max(F.struct("event_id", "value")).alias("m"))
        .select("tenant_id", "name", "timestamp", F.col("m.value").alias("value"))
    )
    joined = asof_join(
        pts,
        dd,
        on=["tenant_id", "name"],
        left_time="eval_ts",
        right_time="timestamp",
        right_cols=["timestamp", "value"],
        how="left",
    )
    return joined.filter(
        F.col("timestamp").isNotNull()
        & (F.col("eval_ts") - F.col("timestamp") < 300000)
    ).select(
        "eval_ts",
        "tenant_id",
        "name",
        F.col("timestamp").alias("sample_ts"),
        "value",
    )


CONSUME_INSTANT_SQL = f"""
WITH s AS (SELECT tenant_id, event_type AS name, timestamp, event_id, value
           FROM ({_SAMPLES_SQL})),
b AS (SELECT (min(timestamp) // 600000) * 600000 AS lo, max(timestamp) AS hi FROM s),
grid AS (SELECT unnest(generate_series(lo, hi, 600000)) AS eval_ts FROM b),
series AS (SELECT DISTINCT tenant_id, name FROM s),
cand AS (
  SELECT g.eval_ts, se.tenant_id, se.name, s.timestamp AS sample_ts, s.value,
         row_number() OVER (PARTITION BY g.eval_ts, se.tenant_id, se.name
                            ORDER BY s.timestamp DESC, s.event_id DESC) AS rn
  FROM grid g
  CROSS JOIN series se
  JOIN s ON s.tenant_id = se.tenant_id AND s.name = se.name
        AND s.timestamp <= g.eval_ts AND g.eval_ts - s.timestamp < 300000
)
SELECT eval_ts, tenant_id, name, sample_ts, value FROM cand WHERE rn = 1
"""


#: histogram bucket upper bounds (le-style, +Inf implicit)
_HIST_BOUNDS = [5.0, 10.0, 20.0, 50.0, 100.0]


def consume_histogram_quantile(spark, sf_dir):
    """PromQL histogram_quantile() shape: cumulative le-bucket counts per
    (tenant, series) in one aggregation, then p50/p90 by linear
    interpolation inside the target bucket -- exactly Prometheus's
    estimation rule, including the highest-finite-bound clamp when the
    quantile lands in the +Inf bucket. Bucket counts are integers and the
    interpolation uses only fixed bounds + counts, so the result is
    bit-deterministic. At scale this is ONE partial+final hash agg over
    the sample stream; no sort, no percentile state."""
    samples = samples_from_events_flat(spark, sf_dir)
    les = [
        F.sum(F.when(F.col("value") <= b, 1).otherwise(0)).alias(f"le{i}")
        for i, b in enumerate(_HIST_BOUNDS)
    ]
    agg = samples.groupBy(
        "tenant_id", "name"
    ).agg(*les, F.count("*").alias("total"))
    cums = F.array(*[F.col(f"le{i}").cast("double") for i in range(len(_HIST_BOUNDS))])
    barr = F.array(*[F.lit(b) for b in _HIST_BOUNDS])

    def quantile(phi: float):
        target = F.lit(phi) * F.col("total")
        idx = F.size(F.filter(cums, lambda c: c < target))
        safe = F.greatest(idx, F.lit(1))  # guard: branches evaluate eagerly
        lo = F.when(idx == 0, F.lit(0.0)).otherwise(F.element_at(barr, safe))
        cprev = F.when(idx == 0, F.lit(0.0)).otherwise(F.element_at(cums, safe))
        hi = F.element_at(barr, F.least(idx + 1, F.lit(len(_HIST_BOUNDS))))
        cnt = F.element_at(cums, F.least(idx + 1, F.lit(len(_HIST_BOUNDS)))) - cprev
        interp = lo + (hi - lo) * (target - cprev) / cnt
        return F.when(idx >= len(_HIST_BOUNDS), F.lit(_HIST_BOUNDS[-1])).otherwise(
            interp
        )

    return agg.select(
        "tenant_id",
        "name",
        "total",
        quantile(0.5).alias("p50_est"),
        quantile(0.9).alias("p90_est"),
    )


def _hist_q_sql(phi: str, n: int) -> str:
    i = f"i_{phi.replace('.', '_')}"
    lo = f"(CASE WHEN {i} = 0 THEN 0.0 ELSE barr[{i}] END)"
    cprev = f"(CASE WHEN {i} = 0 THEN 0.0 ELSE cums[{i}] END)"
    hi = f"barr[least({i} + 1, {n})]"
    cnt = f"(cums[least({i} + 1, {n})] - {cprev})"
    return (
        f"CASE WHEN {i} >= {n} THEN {_HIST_BOUNDS[-1]} "
        f"ELSE {lo} + ({hi} - {lo}) * ({phi}::DOUBLE * total - {cprev}) / {cnt} END"
    )


CONSUME_HISTQ_SQL = f"""
WITH agg AS (
  SELECT tenant_id, event_type AS name,
         {", ".join(f"sum(CASE WHEN value <= {b} THEN 1 ELSE 0 END)::DOUBLE AS le{i}" for i, b in enumerate(_HIST_BOUNDS))},
         count(*) AS total
  FROM ({_SAMPLES_SQL}) GROUP BY 1, 2
),
c AS (
  SELECT *, [{", ".join(f"le{i}" for i in range(len(_HIST_BOUNDS)))}] AS cums,
         [{", ".join(str(b) for b in _HIST_BOUNDS)}] AS barr
  FROM agg
),
q AS (
  SELECT *, len(list_filter(cums, x -> x < 0.5::DOUBLE * total)) AS i_0_5,
            len(list_filter(cums, x -> x < 0.9::DOUBLE * total)) AS i_0_9
  FROM c
)
SELECT tenant_id, name, total,
       {_hist_q_sql("0.5", len(_HIST_BOUNDS))} AS p50_est,
       {_hist_q_sql("0.9", len(_HIST_BOUNDS))} AS p90_est
FROM q
"""


def consume_rate_5m(spark, sf_dir):
    """PromQL-flavored rate()/increase() per (tenant, series) per 5-minute
    window over the sample stream -- the query a Prometheus user actually
    asks of this data. first/last are extracted via struct min/max on the
    unique (timestamp, event_id) order, so ONE hash aggregation produces
    everything: no window-function shuffle, no self-join. rate uses only
    first/last/subtract/divide -- bit-deterministic, no order-dependent
    float summation. (Plain last-first increase; no PromQL window-edge
    extrapolation or counter-reset logic -- values here are gauges.)"""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 300000) * 300").alias("window_start"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    agg = s.groupBy("window_start", "tenant_id", "name").agg(
        F.count("*").alias("n"),
        F.min(F.struct("timestamp", "event_id", "value")).alias("f"),
        F.max(F.struct("timestamp", "event_id", "value")).alias("l"),
    )
    increase = F.col("l.value") - F.col("f.value")
    span_s = (F.col("l.timestamp") - F.col("f.timestamp")) / 1000.0
    return agg.select(
        "window_start",
        "tenant_id",
        "name",
        "n",
        F.col("f.value").alias("first_val"),
        F.col("l.value").alias("last_val"),
        increase.alias("increase"),
        F.when(span_s > 0, increase / span_s).alias("rate_per_s"),
    )


CONSUME_RATE_SQL = f"""
WITH s AS (
  SELECT (timestamp // 300000) * 300 AS window_start, tenant_id,
         event_type AS name, timestamp, event_id, value
  FROM ({_SAMPLES_SQL})
),
sel AS (
  SELECT *,
         row_number() OVER (PARTITION BY window_start, tenant_id, name
                            ORDER BY timestamp, event_id) AS rn_a,
         row_number() OVER (PARTITION BY window_start, tenant_id, name
                            ORDER BY timestamp DESC, event_id DESC) AS rn_d
  FROM s
)
SELECT window_start, tenant_id, name, count(*) AS n,
       max(CASE WHEN rn_a = 1 THEN value END) AS first_val,
       max(CASE WHEN rn_d = 1 THEN value END) AS last_val,
       max(CASE WHEN rn_d = 1 THEN value END)
         - max(CASE WHEN rn_a = 1 THEN value END) AS increase,
       CASE WHEN max(timestamp) > min(timestamp)
            THEN (max(CASE WHEN rn_d = 1 THEN value END)
                  - max(CASE WHEN rn_a = 1 THEN value END))
                 / ((max(timestamp) - min(timestamp)) / 1000.0)
       END AS rate_per_s
FROM sel GROUP BY 1, 2, 3
"""


def consume_topk_series(spark, sf_dir, k: int = 3):
    """PromQL topk(): the k series with the largest increase per 5-minute
    window. Builds on the single-agg rate query -- the ranking window
    runs over the per-series AGGREGATE (|windows| x |series| rows), never
    over raw samples, so the top-k cost is independent of sample volume.
    increase = last-first (no float summation) keeps it bit-deterministic.
    """
    from pyspark.sql import Window

    r = consume_rate_5m(spark, sf_dir).select(
        "window_start", "tenant_id", "name", "increase"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("increase"), "tenant_id", "name"
    )
    return (
        r.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "tenant_id", "name", "increase", "rank")
    )


CONSUME_TOPK_SQL = f"""
WITH rate AS ({CONSUME_RATE_SQL})
SELECT window_start, tenant_id, name, increase, rank
FROM (
  SELECT window_start, tenant_id, name, increase,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY increase DESC, tenant_id, name) AS rank
  FROM rate
) WHERE rank <= 3
"""


def consume_avg_over_time(spark, sf_dir):
    """PromQL avg_over_time()/min/max per (series, 5m window): one hash
    aggregation over the sample stream. The mean folds values in
    (timestamp, event_id) order on both engines (bit-determinism under
    the value-hash gate); min/max are order-free. Group state is the
    per-(window, series) sample list -- bounded by scrape cadence x
    window width, the PromQL range-vector size by definition."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 300000) * 300").alias("window_start"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("timestamp", "event_id", "value"))),
            lambda x: x["value"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return s.groupBy("window_start", "tenant_id", "name").agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_val"),
        F.max("value").alias("max_val"),
        # floor(x*1e6 + 0.5), NOT round(x, 6): the ordered-fold mean is a
        # bit-identical double on both engines, but round() itself is the
        # engine-dependent op (SCALE.md §9 lottery class)
        (
            F.floor(ordered_sum / F.count("*") * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("avg_val"),
    )


CONSUME_AVG_SQL = f"""
WITH s AS (
  SELECT (timestamp // 300000) * 300 AS window_start, tenant_id,
         event_type AS name, timestamp, event_id, value
  FROM ({_SAMPLES_SQL})
)
SELECT window_start, tenant_id, name, count(*) AS n,
       min(value) AS min_val, max(value) AS max_val,
       floor(list_reduce(list_prepend(0.0, list(value ORDER BY timestamp, event_id)),
                         (acc, v) -> acc + v) / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS avg_val
FROM s GROUP BY 1, 2, 3
"""


def consume_quantile_over_time(spark, sf_dir):
    """PromQL quantile_over_time(): exact p50/p95 per (series, 15m
    window) by PromQL's own definition -- linear interpolation between
    the two order statistics around rank q*(n-1) of the sorted range
    vector. The sorted-array selection is exact (no sketch, no
    percentile state machine), bit-identical across engines, and the
    per-group array is the range vector itself -- bounded by scrape
    cadence x window width, never by stream length."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 900000) * 900").alias("window_start"),
        "tenant_id",
        "name",
        "value",
    )
    agg = s.groupBy("window_start", "tenant_id", "name").agg(
        F.count("*").alias("n"),
        F.array_sort(F.collect_list("value")).alias("arr"),
    )

    def q_col(q: float):
        rank = F.lit(q) * (F.col("n") - 1).cast("double")
        lo = F.floor(rank).cast("int")
        w = rank - F.floor(rank)
        lo_v = F.element_at("arr", lo + 1)
        hi_v = F.element_at("arr", F.least(lo + 2, F.col("n").cast("int")))
        # floor(x*1e6 + 0.5), NOT round(x, 6): the interpolated double is
        # bit-identical on both engines; round() is the engine-dependent
        # op (SCALE.md §9 lottery class)
        return F.floor((lo_v * (F.lit(1.0) - w) + hi_v * w) * 1e6 + 0.5) / 1e6

    return agg.select(
        "window_start",
        "tenant_id",
        "name",
        "n",
        q_col(0.5).alias("p50"),
        q_col(0.95).alias("p95"),
    )


CONSUME_QUANTILE_SQL = f"""
WITH s AS (
  SELECT (timestamp // 900000) * 900 AS window_start, tenant_id,
         event_type AS name, value
  FROM ({_SAMPLES_SQL})
),
agg AS (
  SELECT window_start, tenant_id, name, count(*) AS n,
         list_sort(list(value)) AS arr
  FROM s GROUP BY 1, 2, 3
)
SELECT window_start, tenant_id, name, n,
       floor((arr[(floor(0.5 * (n - 1)) + 1)::INT] * (1.0 - (0.5 * (n - 1) - floor(0.5 * (n - 1))))
              + arr[least((floor(0.5 * (n - 1)) + 2)::INT, n::INT)] * (0.5 * (n - 1) - floor(0.5 * (n - 1))))
             * 1e6 + 0.5) / 1e6 AS p50,
       floor((arr[(floor(0.95 * (n - 1)) + 1)::INT] * (1.0 - (0.95 * (n - 1) - floor(0.95 * (n - 1))))
              + arr[least((floor(0.95 * (n - 1)) + 2)::INT, n::INT)] * (0.95 * (n - 1) - floor(0.95 * (n - 1))))
             * 1e6 + 0.5) / 1e6 AS p95
FROM agg
"""


def consume_changes_resets(spark, sf_dir):
    """PromQL changes() and resets() per (tenant, series) per 10-minute
    window: adjacent-sample comparisons in (timestamp, event_id) order.
    Pure comparisons -- no float arithmetic -- so the result is
    bit-deterministic; one window-function shuffle keyed by the series,
    which is the minimum any adjacent-pair semantics needs."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 600000) * 600").alias("window_start"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    w = Window.partitionBy("window_start", "tenant_id", "name").orderBy(
        "timestamp", "event_id"
    )
    d = s.withColumn("prev", F.lag("value").over(w))
    return d.groupBy("window_start", "tenant_id", "name").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("prev").isNotNull() & (F.col("value") != F.col("prev")), 1)
            .otherwise(0)
        ).alias("changes"),
        F.sum(
            F.when(F.col("prev").isNotNull() & (F.col("value") < F.col("prev")), 1)
            .otherwise(0)
        ).alias("resets"),
    )


CONSUME_CHANGES_SQL = f"""
WITH s AS (
  SELECT (timestamp // 600000) * 600 AS window_start, tenant_id,
         event_type AS name, timestamp, event_id, value
  FROM ({_SAMPLES_SQL})
), d AS (
  SELECT *, lag(value) OVER (PARTITION BY window_start, tenant_id, name
                             ORDER BY timestamp, event_id) AS prev
  FROM s
)
SELECT window_start, tenant_id, name, count(*) AS n,
       sum(CASE WHEN prev IS NOT NULL AND value <> prev THEN 1 ELSE 0 END)::BIGINT AS changes,
       sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)::BIGINT AS resets
FROM d GROUP BY 1, 2, 3
"""


def consume_alert_firing(spark, sf_dir):
    """Prometheus ALERTING semantics over the sample stream: a rule
    ``value > 100 FOR 10m`` fires when a series stays above the
    threshold continuously for the FOR duration (prometheus
    rules/alerting.go pending->firing transition). Expressed as
    gaps-and-islands: maximal runs of above-threshold samples per
    (tenant, series); runs spanning >= 10 minutes become firing
    intervals with pending_since (run start), firing_at (start + FOR)
    and resolved_at (run end). All-integer milliseconds and centi
    values -- bit-identical across engines.

    Scale shape: one shuffle on the series key shared by the lag window,
    the island sum, and the run aggregation; state per series is its
    run count. The alert evaluation a 1000-tenant deployment runs
    nightly over the lake lands on exactly this plan."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        (F.round(F.col("value") * 100).cast("bigint") > 10000).alias("above"),
    )
    w = Window.partitionBy("tenant_id", "name").orderBy("timestamp", "event_id")
    marked = (
        s.withColumn("prev_above", F.lag("above").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_above").isNull()
                | (F.col("prev_above") != F.col("above")),
                1,
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("chg").over(w))
    )
    runs = (
        marked.filter(F.col("above"))
        .groupBy("tenant_id", "name", "run_id")
        .agg(
            F.min("timestamp").alias("pending_since_ms"),
            F.max("timestamp").alias("resolved_at_ms"),
            F.count("*").alias("n_samples"),
        )
        .filter(
            F.col("resolved_at_ms") - F.col("pending_since_ms") >= 600000
        )
    )
    w2 = Window.partitionBy("tenant_id", "name").orderBy("pending_since_ms")
    return runs.select(
        "tenant_id",
        "name",
        F.row_number().over(w2).cast("bigint").alias("firing_seq"),
        "pending_since_ms",
        (F.col("pending_since_ms") + 600000).alias("firing_at_ms"),
        "resolved_at_ms",
        "n_samples",
    )


CONSUME_ALERT_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id,
         (round(value * 100) > 10000) AS above
  FROM ({_SAMPLES_SQL})
), marked AS (
  SELECT *,
         CASE WHEN lag(above) OVER w IS NULL
                   OR lag(above) OVER w <> above THEN 1 ELSE 0 END AS chg
  FROM s
  WINDOW w AS (PARTITION BY tenant_id, name ORDER BY timestamp, event_id)
), grp AS (
  SELECT *, sum(chg) OVER (PARTITION BY tenant_id, name
                           ORDER BY timestamp, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), runs AS (
  SELECT tenant_id, name, run_id,
         min(timestamp) AS pending_since_ms,
         max(timestamp) AS resolved_at_ms,
         count(*)::BIGINT AS n_samples
  FROM grp WHERE above GROUP BY 1, 2, 3
  HAVING max(timestamp) - min(timestamp) >= 600000
)
SELECT tenant_id, name,
       row_number() OVER (PARTITION BY tenant_id, name
                          ORDER BY pending_since_ms)::BIGINT AS firing_seq,
       pending_since_ms,
       (pending_since_ms + 600000)::BIGINT AS firing_at_ms,
       resolved_at_ms, n_samples
FROM runs
"""


def consume_series_similarity(spark, sf_dir):
    """Time-series SHAPE similarity search over the metrics series (the
    distributed series-similarity problem of EDBT'19 / REPOSE ICDE'21,
    expressed Spark-first): resample each (tenant, name) series to its
    daily mean profile, z-normalize, and return the top-3 most similar
    OTHER series per query series (tenant '0') by euclidean distance
    over the normalized shapes -- 'which metrics move like this one',
    the ops query behind correlated-alert grouping.

    Determinism: daily means come from exact centi-integer sums; the
    mean/variance/distance reductions are ordered folds over the
    day-sorted profile (same sequential order both engines), distances
    rounded to 6 with lexicographic (tenant, name) tiebreak.

    Scale shape: profile construction is one (series, day) aggregation
    + one series-level regroup -- state per series is D daily points,
    not raw samples. The query side (one tenant's series) broadcasts;
    at 100 TB the corpus side stays partitioned and each executor
    scores its series locally (the REPOSE layout)."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        F.expr("timestamp div 86400000").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    n_days = s.select(F.count_distinct("day").alias("nd"))
    daily = s.groupBy("tenant_id", "name", "day").agg(
        F.count("*").alias("n_d"), F.sum("yc").alias("s_d")
    )
    prof = (
        daily.groupBy("tenant_id", "name")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", "s_d", "n_d"))
            ).alias("pts")
        )
        .crossJoin(F.broadcast(n_days))
        .filter(F.size("pts") == F.col("nd"))  # complete daily coverage
    )
    vals = F.transform(F.col("pts"), lambda p: p["s_d"] / (100.0 * p["n_d"]))
    mu = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / F.col("nd")
    var = F.aggregate(
        vals, F.lit(0.0), lambda a, x: a + (x - mu) * (x - mu)
    ) / F.col("nd")
    z = prof.select(
        "tenant_id",
        "name",
        F.transform(vals, lambda x: (x - mu) / F.sqrt(var)).alias("z"),
    ).filter(var > 0)
    q = z.filter(F.col("tenant_id") == "0").select(
        F.col("tenant_id").alias("q_tenant"),
        F.col("name").alias("q_name"),
        F.col("z").alias("qz"),
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(F.col("qz"), F.col("z"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = (
        z.join(F.broadcast(q))
        .filter(
            (F.col("tenant_id") != F.col("q_tenant"))
            | (F.col("name") != F.col("q_name"))
        )
        .select("q_tenant", "q_name", "tenant_id", "name", dist.alias("dist_r"))
    )
    w = Window.partitionBy("q_tenant", "q_name").orderBy(
        F.asc("dist_r"), F.asc("tenant_id"), F.asc("name")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "q_tenant",
            "q_name",
            F.col("tenant_id").alias("match_tenant"),
            F.col("name").alias("match_name"),
            "rank",
            "dist_r",
        )
    )


CONSUME_SERIES_SIM_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp // 86400000 AS day,
         round(value * 100)::BIGINT AS yc
  FROM ({_SAMPLES_SQL})
), nd AS (SELECT count(DISTINCT day) AS nd FROM s),
daily AS (
  SELECT tenant_id, name, day, count(*)::BIGINT AS n_d, sum(yc)::BIGINT AS s_d
  FROM s GROUP BY 1, 2, 3
), prof AS (
  SELECT tenant_id, name,
         list_transform(
           list_sort(list(struct_pack(day := day, s_d := s_d, n_d := n_d))),
           p -> p.s_d / (100.0 * p.n_d)) AS vals
  FROM daily CROSS JOIN nd
  GROUP BY tenant_id, name, nd.nd
  HAVING count(*) = nd
), zed AS (
  SELECT tenant_id, name,
         list_transform(vals, x -> (x - mu) / sqrt(var)) AS z
  FROM (
    SELECT tenant_id, name, vals,
           list_reduce(list_prepend(0.0, vals), (a, x) -> a + x) / len(vals) AS mu,
           list_reduce(list_prepend(0.0,
             list_transform(vals, x -> (x - list_reduce(list_prepend(0.0, vals),
                 (a, y) -> a + y) / len(vals))
               * (x - list_reduce(list_prepend(0.0, vals),
                 (a, y) -> a + y) / len(vals)))), (a, x) -> a + x) / len(vals) AS var
    FROM prof
  ) WHERE var > 0
), scored AS (
  SELECT q.tenant_id AS q_tenant, q.name AS q_name,
         c.tenant_id, c.name,
         round(list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(q.z) + 1),
                   i -> (q.z[i] - c.z[i]) * (q.z[i] - c.z[i]))),
               (a, x) -> a + x), 6) AS dist_r
  FROM zed q JOIN zed c
    ON q.tenant_id = '0' AND (c.tenant_id <> q.tenant_id OR c.name <> q.name)
)
SELECT q_tenant, q_name, tenant_id AS match_tenant, name AS match_name,
       rank, dist_r
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_tenant, q_name
              ORDER BY dist_r ASC, tenant_id ASC, name ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def consume_rate_extrapolated(spark, sf_dir):
    """PromQL's REAL rate()/increase() boundary extrapolation
    (promql/functions.go extrapolatedRate): the plain last-first delta is
    scaled by how far the window edges can be credibly extrapolated --
    extend toward each edge by the gap to it if that gap is under 1.1x
    the average sample spacing, else by half the average spacing. This is
    the part of rate() `consume_rate_5m` deliberately omits; here it is
    implemented exactly (gauge values, so no counter-reset correction --
    that lives in consume_changes_resets).

    Determinism: first/last/n come from the same single struct-min/max
    hash aggregation as consume_rate_5m; the extrapolation is one fixed
    double expression tree over exact integer millisecond durations,
    floored to micro-units at the end."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 300000) * 300000").alias("range_start_ms"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    agg = (
        s.groupBy("range_start_ms", "tenant_id", "name")
        .agg(
            F.count("*").alias("n"),
            F.min(F.struct("timestamp", "event_id", "value")).alias("f"),
            F.max(F.struct("timestamp", "event_id", "value")).alias("l"),
        )
        .filter(F.col("n") >= 2)
        .filter(F.col("l.timestamp") > F.col("f.timestamp"))  # zero-span guard
    )
    sampled_ms = (F.col("l.timestamp") - F.col("f.timestamp")).cast("double")
    avg_ms = sampled_ms / (F.col("n") - 1).cast("double")
    to_start_ms = (F.col("f.timestamp") - F.col("range_start_ms")).cast("double")
    to_end_ms = (
        F.col("range_start_ms") + 300000 - F.col("l.timestamp")
    ).cast("double")
    threshold = avg_ms * 1.1
    extend_start = F.when(to_start_ms < threshold, to_start_ms).otherwise(
        avg_ms / 2.0
    )
    extend_end = F.when(to_end_ms < threshold, to_end_ms).otherwise(avg_ms / 2.0)
    factor = (sampled_ms + extend_start + extend_end) / sampled_ms
    increase = (F.col("l.value") - F.col("f.value")) * factor
    return agg.select(
        F.expr("range_start_ms div 1000").alias("window_start"),
        "tenant_id",
        "name",
        "n",
        F.floor(increase * 1e6).cast("bigint").alias("increase_micro"),
        F.floor(increase / 300.0 * 1e6).cast("bigint").alias("rate_micro"),
    )


CONSUME_RATE_EXTRAP_SQL = f"""
WITH s AS (
  SELECT (timestamp // 300000) * 300000 AS range_start_ms, tenant_id,
         event_type AS name, timestamp, event_id, value
  FROM ({_SAMPLES_SQL})
), sel AS (
  SELECT *,
         row_number() OVER (PARTITION BY range_start_ms, tenant_id, name
                            ORDER BY timestamp, event_id) AS rn_a,
         row_number() OVER (PARTITION BY range_start_ms, tenant_id, name
                            ORDER BY timestamp DESC, event_id DESC) AS rn_d
  FROM s
), agg AS (
  SELECT range_start_ms, tenant_id, name, count(*) AS n,
         min(timestamp) AS ft, max(timestamp) AS lt,
         max(CASE WHEN rn_a = 1 THEN value END) AS fv,
         max(CASE WHEN rn_d = 1 THEN value END) AS lv
  FROM sel GROUP BY 1, 2, 3 HAVING count(*) >= 2 AND max(timestamp) > min(timestamp)
), x AS (
  SELECT *,
         (lt - ft)::DOUBLE AS sampled_ms,
         (lt - ft)::DOUBLE / (n - 1)::DOUBLE AS avg_ms,
         (ft - range_start_ms)::DOUBLE AS to_start_ms,
         (range_start_ms + 300000 - lt)::DOUBLE AS to_end_ms
  FROM agg
), y AS (
  SELECT *,
         (sampled_ms
          + (CASE WHEN to_start_ms < avg_ms * 1.1 THEN to_start_ms
                  ELSE avg_ms / 2.0 END)
          + (CASE WHEN to_end_ms < avg_ms * 1.1 THEN to_end_ms
                  ELSE avg_ms / 2.0 END)) / sampled_ms AS factor
  FROM x
)
SELECT range_start_ms // 1000 AS window_start, tenant_id, name, n,
       floor((lv - fv) * factor * 1e6)::BIGINT AS increase_micro,
       floor((lv - fv) * factor / 300.0 * 1e6)::BIGINT AS rate_micro
FROM y
"""


def consume_rate_counter(spark, sf_dir):
    """The COMPLETE PromQL counter rate(): counter-reset correction
    (promql/functions.go: every drop between adjacent samples adds the
    post-drop value back, i.e. corrected increase = sum over adjacent
    pairs of (d if d >= 0 else v_next)) composed with the boundary
    extrapolation of consume_rate_extrapolated. Together with that entry
    and consume_changes_resets this completes the rate family: plain
    gauge delta, extrapolated gauge, and true counter semantics.

    Plan shape: ONE shuffle on the group key shared by the lag window
    and the aggregation; values centi-quantized so the reset-corrected
    sum is an exact BIGINT, extrapolation is the same fixed double tree,
    floored to micro."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 300000) * 300000").alias("range_start_ms"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    w = Window.partitionBy("range_start_ms", "tenant_id", "name").orderBy(
        "timestamp", "event_id"
    )
    with_lag = s.withColumn("prev_yc", F.lag("yc").over(w))
    d = F.col("yc") - F.col("prev_yc")
    step = F.when(F.col("prev_yc").isNull(), F.lit(0)).otherwise(
        F.when(d >= 0, d).otherwise(F.col("yc"))
    )
    agg = (
        with_lag.groupBy("range_start_ms", "tenant_id", "name")
        .agg(
            F.count("*").alias("n"),
            F.min("timestamp").alias("ft"),
            F.max("timestamp").alias("lt"),
            F.sum(step).cast("bigint").alias("inc_centi"),
            F.sum(F.when(d < 0, 1).otherwise(0)).cast("bigint").alias("resets"),
        )
        .filter((F.col("n") >= 2) & (F.col("lt") > F.col("ft")))
    )
    sampled_ms = (F.col("lt") - F.col("ft")).cast("double")
    avg_ms = sampled_ms / (F.col("n") - 1).cast("double")
    to_start_ms = (F.col("ft") - F.col("range_start_ms")).cast("double")
    to_end_ms = (F.col("range_start_ms") + 300000 - F.col("lt")).cast("double")
    threshold = avg_ms * 1.1
    factor = (
        sampled_ms
        + F.when(to_start_ms < threshold, to_start_ms).otherwise(avg_ms / 2.0)
        + F.when(to_end_ms < threshold, to_end_ms).otherwise(avg_ms / 2.0)
    ) / sampled_ms
    inc = F.col("inc_centi").cast("double") / 100.0 * factor
    return agg.select(
        F.expr("range_start_ms div 1000").alias("window_start"),
        "tenant_id",
        "name",
        "n",
        "resets",
        "inc_centi",
        F.floor(inc * 1e6).cast("bigint").alias("increase_micro"),
        F.floor(inc / 300.0 * 1e6).cast("bigint").alias("rate_micro"),
    )


CONSUME_RATE_COUNTER_SQL = f"""
WITH s AS (
  SELECT (timestamp // 300000) * 300000 AS range_start_ms, tenant_id,
         event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS yc
  FROM ({_SAMPLES_SQL})
), lagged AS (
  SELECT *, lag(yc) OVER (PARTITION BY range_start_ms, tenant_id, name
                          ORDER BY timestamp, event_id) AS prev_yc
  FROM s
), agg AS (
  SELECT range_start_ms, tenant_id, name, count(*) AS n,
         min(timestamp) AS ft, max(timestamp) AS lt,
         sum(CASE WHEN prev_yc IS NULL THEN 0
                  WHEN yc - prev_yc >= 0 THEN yc - prev_yc
                  ELSE yc END)::BIGINT AS inc_centi,
         sum(CASE WHEN yc - prev_yc < 0 THEN 1 ELSE 0 END)::BIGINT AS resets
  FROM lagged GROUP BY 1, 2, 3
  HAVING count(*) >= 2 AND max(timestamp) > min(timestamp)
), x AS (
  SELECT *,
         (lt - ft)::DOUBLE AS sampled_ms,
         (lt - ft)::DOUBLE / (n - 1)::DOUBLE AS avg_ms,
         (ft - range_start_ms)::DOUBLE AS to_start_ms,
         (range_start_ms + 300000 - lt)::DOUBLE AS to_end_ms
  FROM agg
), y AS (
  SELECT *,
         (sampled_ms
          + (CASE WHEN to_start_ms < avg_ms * 1.1 THEN to_start_ms
                  ELSE avg_ms / 2.0 END)
          + (CASE WHEN to_end_ms < avg_ms * 1.1 THEN to_end_ms
                  ELSE avg_ms / 2.0 END)) / sampled_ms AS factor
  FROM x
)
SELECT range_start_ms // 1000 AS window_start, tenant_id, name, n, resets,
       inc_centi,
       floor(inc_centi::DOUBLE / 100.0 * factor * 1e6)::BIGINT AS increase_micro,
       floor(inc_centi::DOUBLE / 100.0 * factor / 300.0 * 1e6)::BIGINT AS rate_micro
FROM y
"""


def consume_irate_idelta(spark, sf_dir):
    """PromQL irate() / idelta(): instant rate and instant delta from the
    LAST TWO samples per (tenant, series) per 15-minute window -- the
    function Prometheus users reach for on fast-moving counters where
    rate()'s whole-window average lags. irate applies the counter-reset
    rule (last < prev => delta is the raw last value); idelta is the
    plain gauge difference. Values in exact centi-units, rate floored to
    micro-units, so both engines agree bit-for-bit.

    Scale shape: one shuffle on the group key shared by the rank window
    and the pivot aggregation (Catalyst reuses the exchange); only the
    top-2 rows per group survive the rank filter, so the aggregation
    input is two rows per series-window regardless of scrape rate."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 900000) * 900").alias("window_start"),
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    w = Window.partitionBy("window_start", "tenant_id", "name").orderBy(
        F.desc("timestamp"), F.desc("event_id")
    )
    top2 = s.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    piv = (
        top2.groupBy("window_start", "tenant_id", "name")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.struct("timestamp", "yc"))).alias("a"),
            F.max(F.when(F.col("rn") == 2, F.struct("timestamp", "yc"))).alias("b"),
            F.count("*").alias("n_top"),
        )
        .filter(F.col("n_top") == 2)
    )
    dt = F.col("a.timestamp") - F.col("b.timestamp")
    dy = F.col("a.yc") - F.col("b.yc")
    counter_dy = F.when(F.col("a.yc") < F.col("b.yc"), F.col("a.yc")).otherwise(dy)
    return piv.select(
        "window_start",
        "tenant_id",
        "name",
        F.col("b.timestamp").alias("prev_ts_ms"),
        F.col("a.timestamp").alias("last_ts_ms"),
        dy.cast("bigint").alias("idelta_centi"),
        F.when(
            dt > 0,
            F.floor(counter_dy.cast("double") * 1e7 / dt.cast("double")),
        )
        .cast("bigint")
        .alias("irate_micro"),
    )


CONSUME_IRATE_SQL = f"""
WITH s AS (
  SELECT (timestamp // 900000) * 900 AS window_start, tenant_id,
         event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS yc
  FROM ({_SAMPLES_SQL})
), r AS (
  SELECT *, row_number() OVER (PARTITION BY window_start, tenant_id, name
                               ORDER BY timestamp DESC, event_id DESC) AS rn
  FROM s
), p AS (
  SELECT window_start, tenant_id, name,
         max(CASE WHEN rn = 1 THEN timestamp END) AS last_ts_ms,
         max(CASE WHEN rn = 1 THEN yc END) AS ya,
         max(CASE WHEN rn = 2 THEN timestamp END) AS prev_ts_ms,
         max(CASE WHEN rn = 2 THEN yc END) AS yb,
         count(*) AS nt
  FROM r WHERE rn <= 2 GROUP BY 1, 2, 3
)
SELECT window_start, tenant_id, name, prev_ts_ms, last_ts_ms,
       (ya - yb)::BIGINT AS idelta_centi,
       (CASE WHEN last_ts_ms > prev_ts_ms THEN
          floor((CASE WHEN ya < yb THEN ya ELSE ya - yb END) * 1e7
                / (last_ts_ms - prev_ts_ms)) END)::BIGINT AS irate_micro
FROM p WHERE nt = 2
"""


def consume_deriv_predict(spark, sf_dir):
    """PromQL deriv() and predict_linear(): least-squares slope of value
    over time per (tenant, series) per 10-minute window, and the value
    extrapolated 600 s past the window start+600 (x0 = 1200 s).

    Determinism: values are quantized to exact centi-units
    (round(value*100) -- testdata carries 2 decimals) and x to in-window
    seconds, so all five regression sums are exact BIGINTs; the final
    slope/intercept divisions use one fixed double expression tree that
    both engines evaluate identically (IEEE, same operand order), then
    floor to micro-units. Single hash aggregation, no self-join; bigint
    bounds hold to ~1e7 samples per series-window (documented)."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 600000) * 600").alias("window_start"),
        "tenant_id",
        "name",
        (F.expr("timestamp div 1000") - F.expr("(timestamp div 600000) * 600"))
        .cast("bigint")
        .alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    agg = s.groupBy("window_start", "tenant_id", "name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("yc")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")  # centi-units per second
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    pred = intercept + slope * F.lit(1200.0)
    return agg.select(
        "window_start",
        "tenant_id",
        "name",
        "n",
        F.when(den > 0, F.floor(slope * 1e4).cast("bigint")).alias("deriv_micro"),
        F.when(den > 0, F.floor(pred * 10.0).cast("bigint")).alias("predict_milli"),
    )


CONSUME_DERIV_SQL = f"""
WITH s AS (
  SELECT (timestamp // 600000) * 600 AS window_start, tenant_id,
         event_type AS name,
         (timestamp // 1000 - (timestamp // 600000) * 600)::BIGINT AS x,
         round(value * 100)::BIGINT AS yc
  FROM ({_SAMPLES_SQL})
), agg AS (
  SELECT window_start, tenant_id, name, count(*) AS n,
         sum(x)::BIGINT AS sx, sum(yc)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * yc)::BIGINT AS sxy
  FROM s GROUP BY 1, 2, 3
)
SELECT window_start, tenant_id, name, n,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) * 1e4)::BIGINT
       END AS deriv_micro,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE)
                 * sx::DOUBLE) / n::DOUBLE
                + ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) * 1200.0)
               * 10.0)::BIGINT
       END AS predict_milli
FROM agg
"""


def consume_label_replace_join(spark, sf_dir):
    """PromQL label_replace() + label_join() over the sample label map:
    derive label ``initial`` from a capture group on __name__, join
    (__name__, user) into a ``series`` label with ':', and re-emit the
    updated sorted label set (map_concat update + the B3 sort). Pure
    map/string codegen -- zero shuffle, scan-side at any scale."""
    samples = samples_from_events(spark, sf_dir)
    name = F.col("labels").getItem("__name__")
    updated = F.map_concat(
        F.col("labels"),
        F.create_map(
            F.lit("initial"), F.regexp_extract(name, "^(.).*", 1),
            F.lit("series"),
            F.concat_ws(":", name, F.col("labels").getItem("user")),
        ),
    )
    return samples.select(
        "event_id",
        "tenant_id",
        name.alias("name"),
        F.regexp_extract(name, "^(.).*", 1).alias("initial"),
        F.concat_ws(":", name, F.col("labels").getItem("user")).alias("series"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.map_entries(updated)),
                lambda e: F.concat_ws("=", e.getField("key"), e.getField("value")),
            ),
        ).alias("sorted_labels"),
    )


CONSUME_LABEL_REPLACE_SQL = f"""
SELECT event_id, tenant_id, event_type AS name,
       substr(event_type, 1, 1) AS initial,
       event_type || ':' || user_str AS series,
       '__name__=' || event_type
         || ',initial=' || substr(event_type, 1, 1)
         || ',k=' || k
         || ',series=' || event_type || ':' || user_str
         || ',user=' || user_str AS sorted_labels
FROM ({_SAMPLES_SQL})
"""


def consume_absent_series(spark, sf_dir):
    """PromQL absent() analog: for every hourly grid window, which
    known (tenant, name) series produced NO samples. The expected-series
    dimension (distinct tenant x name, tiny) cross-joins the window grid
    and anti-joins observed series -- the expected set and grid broadcast,
    so the only corpus-sized work is the observed-series dedup."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 3600000) * 3600").alias("window_start"),
        "tenant_id",
        "name",
    )
    observed = s.distinct()
    series = s.select("tenant_id", "name").distinct()
    grid = s.select("window_start").distinct()
    expected = grid.crossJoin(F.broadcast(series))
    return expected.join(
        observed, ["window_start", "tenant_id", "name"], "left_anti"
    )


CONSUME_ABSENT_SQL = f"""
WITH s AS (
  SELECT (timestamp // 3600000) * 3600 AS window_start, tenant_id,
         event_type AS name
  FROM ({_SAMPLES_SQL})
), observed AS (SELECT DISTINCT window_start, tenant_id, name FROM s),
series AS (SELECT DISTINCT tenant_id, name FROM s),
grid AS (SELECT DISTINCT window_start FROM s)
SELECT g.window_start, se.tenant_id, se.name
FROM grid g CROSS JOIN series se
LEFT JOIN observed o
  ON o.window_start = g.window_start AND o.tenant_id = se.tenant_id
 AND o.name = se.name
WHERE o.window_start IS NULL
"""


def consume_vector_matching(spark, sf_dir):
    """PromQL binary operation with vector matching -- the
    ``series / on(tenant) group_left sum by (tenant)`` shape: each
    (window, tenant, name) series' increase divided by its tenant's
    total increase in the same window (many-to-one matching). Built on
    the single-agg rate aggregate, so the join runs over |windows| x
    |series| rows, never raw samples; the per-tenant side is a rollup of
    the SAME aggregate (no second scan)."""
    r = consume_rate_5m(spark, sf_dir).select(
        "window_start",
        "tenant_id",
        "name",
        # exact integer micro-units: values carry 2 decimals, so increase
        # is grid-exact and the tenant rollup is an order-independent
        # BIGINT sum (no float fold to diverge across engines)
        F.round(F.col("increase") * 1e6).cast("bigint").alias("inc_micro"),
    )
    tenant_total = r.groupBy("window_start", "tenant_id").agg(
        F.sum("inc_micro").alias("tenant_micro")
    )
    return (
        r.join(tenant_total, ["window_start", "tenant_id"])
        .select(
            "window_start",
            "tenant_id",
            "name",
            "inc_micro",
            "tenant_micro",
            F.when(
                F.col("tenant_micro") != 0,
                # floor(x*1e6 + 0.5), NOT round(x, 6): the ratio double is
                # bit-identical on both engines; round() is the engine-
                # dependent op (SCALE.md §9 lottery class). floor also
                # never emits -0.0, retiring the old +0.0 workaround.
                F.floor(
                    F.col("inc_micro").cast("double")
                    / F.col("tenant_micro").cast("double")
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0),
            ).alias("share"),
        )
    )


CONSUME_VECTOR_MATCH_SQL = f"""
WITH rate AS ({CONSUME_RATE_SQL}),
r AS (
  SELECT window_start, tenant_id, name,
         round(increase * 1e6)::BIGINT AS inc_micro
  FROM rate
), tt AS (
  SELECT window_start, tenant_id, sum(inc_micro)::BIGINT AS tenant_micro
  FROM r GROUP BY 1, 2
)
SELECT r.window_start, r.tenant_id, r.name, r.inc_micro, tt.tenant_micro,
       CASE WHEN tt.tenant_micro <> 0
            THEN floor(r.inc_micro::DOUBLE / tt.tenant_micro::DOUBLE
                       * 1000000.0 + 0.5) / 1000000.0
       END AS share
FROM r JOIN tt USING (window_start, tenant_id)
"""


def consume_offset_compare(spark, sf_dir):
    """PromQL offset modifier: each series' 5m increase compared to the
    same series one hour earlier (``increase - increase offset 1h``).
    A lag over the per-series aggregate keyed by window index -- only
    exact windows 12 steps back match, like PromQL's fixed offset; the
    lag window runs over the aggregate, not raw samples."""
    from pyspark.sql import Window

    r = consume_rate_5m(spark, sf_dir).select(
        "window_start", "tenant_id", "name", F.round("increase", 6).alias("inc")
    )
    w = Window.partitionBy("tenant_id", "name").orderBy("window_start")
    prev = F.lag("inc", 12).over(w)
    prev_ws = F.lag("window_start", 12).over(w)
    aligned = F.when(prev_ws == F.col("window_start") - 3600, prev)
    return r.select(
        "window_start",
        "tenant_id",
        "name",
        "inc",
        aligned.alias("inc_1h_ago"),
        F.when(
            aligned.isNotNull(), F.round(F.col("inc") - aligned, 6)
        ).alias("delta_1h"),
    )


CONSUME_OFFSET_SQL = f"""
WITH rate AS ({CONSUME_RATE_SQL}),
r AS (
  SELECT window_start, tenant_id, name, round(increase, 6) AS inc FROM rate
), lagged AS (
  SELECT *,
         lag(inc, 12) OVER (PARTITION BY tenant_id, name ORDER BY window_start) AS p,
         lag(window_start, 12) OVER (PARTITION BY tenant_id, name
                                     ORDER BY window_start) AS pws
  FROM r
)
SELECT window_start, tenant_id, name, inc,
       CASE WHEN pws = window_start - 3600 THEN p END AS inc_1h_ago,
       CASE WHEN pws = window_start - 3600 THEN round(inc - p, 6) END AS delta_1h
FROM lagged
"""


def consume_subquery_max_rate(spark, sf_dir):
    """PromQL subquery: ``max_over_time(increase(series[5m])[1h:5m])`` --
    the inner 5m-increase series re-aggregated to its hourly maximum,
    with the achieving 5m window carried along (struct max keeps the
    argmax without a second pass). Integer micro-units end-to-end, and
    the outer agg runs over the inner AGGREGATE (|windows| x |series|),
    never raw samples."""
    r = consume_rate_5m(spark, sf_dir).select(
        (F.floor(F.col("window_start") / 3600) * 3600)
        .cast("bigint")
        .alias("hour_start"),
        "window_start",
        "tenant_id",
        "name",
        F.round(F.col("increase") * 1e6).cast("bigint").alias("inc_micro"),
    )
    # order-preserving base-16 composite of (inc_micro, 5m-slot-in-hour):
    # engine-portable argmax without struct aggregates; decoded by
    # subtraction (not division -- negative int division rules differ)
    slot = ((F.col("window_start") - F.col("hour_start")) / 300).cast("bigint")
    r = r.withColumn("composite", F.col("inc_micro") * 16 + slot)
    return (
        r.groupBy("hour_start", "tenant_id", "name")
        .agg(
            F.count("*").alias("n_windows"),
            F.max("inc_micro").alias("max_inc_micro"),
            F.max("composite").alias("mc"),
        )
        .select(
            "hour_start",
            "tenant_id",
            "name",
            "n_windows",
            "max_inc_micro",
            (
                F.col("hour_start")
                + (F.col("mc") - F.col("max_inc_micro") * 16) * 300
            ).alias("argmax_window"),
        )
    )


CONSUME_SUBQUERY_SQL = f"""
WITH rate AS ({CONSUME_RATE_SQL}),
r AS (
  SELECT (window_start // 3600) * 3600 AS hour_start, window_start,
         tenant_id, name, round(increase * 1e6)::BIGINT AS inc_micro
  FROM rate
), c AS (
  SELECT *, inc_micro * 16 + (window_start - hour_start) // 300 AS composite
  FROM r
)
SELECT hour_start, tenant_id, name, count(*) AS n_windows,
       max(inc_micro)::BIGINT AS max_inc_micro,
       (hour_start + (max(composite) - max(inc_micro) * 16) * 300)::BIGINT AS argmax_window
FROM c GROUP BY 1, 2, 3
"""


def consume_staleness_report(spark, sf_dir):
    """Per-series staleness dashboard: seconds since each (tenant, name)
    series' last sample, measured against the corpus max timestamp --
    the 'which series went quiet' ops query behind PromQL staleness
    handling. One hash agg for per-series max + one single-row global
    max broadcast back; integer seconds end to end."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        F.expr("timestamp div 1000").alias("ts_s"),
    )
    per = s.groupBy("tenant_id", "name").agg(
        F.count("*").alias("n_samples"), F.max("ts_s").alias("last_seen_s")
    )
    glob = s.agg(F.max("ts_s").alias("now_s"))
    return per.crossJoin(F.broadcast(glob)).select(
        "tenant_id",
        "name",
        "n_samples",
        "last_seen_s",
        (F.col("now_s") - F.col("last_seen_s")).alias("staleness_s"),
    )


CONSUME_STALENESS_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp // 1000 AS ts_s
  FROM ({_SAMPLES_SQL})
), per AS (
  SELECT tenant_id, name, count(*) AS n_samples, max(ts_s) AS last_seen_s
  FROM s GROUP BY 1, 2
), g AS (SELECT max(ts_s) AS now_s FROM s)
SELECT tenant_id, name, n_samples, last_seen_s,
       (g.now_s - last_seen_s)::BIGINT AS staleness_s
FROM per CROSS JOIN g
"""



def consume_holt_winters(spark, sf_dir):
    """PromQL holt_winters() / double_exponential_smoothing(): per-series
    double exponential smoothing over the full range vector with
    sf=0.3 (level) and tf=0.1 (trend) -- the Prometheus recursion
    verbatim (promql/functions.go funcDoubleExponentialSmoothing:
    s1=v0, b=v1-v0, then s' = sf*x + (1-sf)*(s+b),
    b' = tf*(s'-s) + (1-tf)*b; the answer is the final level).

    Bit-determinism: the smoothing is a SEQUENTIAL left fold in
    (timestamp, event_id) order with an [level, trend] double-pair
    accumulator -- F.aggregate here, list_reduce over 2-lists in the
    oracle -- so both engines execute the identical IEEE op sequence
    and the rounded result hash-matches (same trick as the ordered mean
    fold in consume_avg_over_time). Series with < 2 samples are skipped,
    as in Prometheus.

    Scale shape: ONE hash aggregation on the series key; group state is
    the range-vector sample list, bounded by scrape cadence x range
    width by definition. No window, no Python."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        "value",
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("timestamp", "event_id", "value"))),
        lambda x: x["value"],
    )
    sf_, tf_ = F.lit(0.3), F.lit(0.1)
    smoothed = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.array(F.element_at(vals, 1), F.element_at(vals, 2) - F.element_at(vals, 1)),
        lambda acc, x: F.array(
            sf_ * x + (F.lit(1.0) - sf_) * (acc[0] + acc[1]),
            tf_ * ((sf_ * x + (F.lit(1.0) - sf_) * (acc[0] + acc[1])) - acc[0])
            + (F.lit(1.0) - tf_) * acc[1],
        ),
    )
    return (
        s.groupBy("tenant_id", "name")
        .agg(F.count("*").alias("n_samples"), smoothed.alias("__sb"))
        .filter(F.col("n_samples") >= 2)
        .select(
            "tenant_id",
            "name",
            "n_samples",
            # floor(x*1e6 + 0.5), NOT round(x, 6): the fold doubles are
            # bit-identical on both engines; round() is the engine-
            # dependent op (SCALE.md §9 lottery class)
            (F.floor(F.col("__sb")[0] * 1e6 + 0.5) / 1e6).alias("smoothed"),
            (F.floor(F.col("__sb")[1] * 1e6 + 0.5) / 1e6).alias("trend"),
        )
    )


CONSUME_HOLT_WINTERS_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id, value
  FROM ({_SAMPLES_SQL})
), folded AS (
  SELECT tenant_id, name, count(*) AS n_samples,
         list_reduce(
           list_prepend(
             [list(value ORDER BY timestamp, event_id)[1],
              list(value ORDER BY timestamp, event_id)[2]
                - list(value ORDER BY timestamp, event_id)[1]],
             list_transform(list(value ORDER BY timestamp, event_id)[2:],
                            x -> [x, 0.0])),
           (acc, e) -> [
             0.3 * e[1] + 0.7 * (acc[1] + acc[2]),
             0.1 * ((0.3 * e[1] + 0.7 * (acc[1] + acc[2])) - acc[1])
               + 0.9 * acc[2]
           ]) AS sb
  FROM s GROUP BY tenant_id, name
  HAVING count(*) >= 2
)
SELECT tenant_id, name, n_samples,
       floor(sb[1] * 1e6 + 0.5) / 1e6 AS smoothed,
       floor(sb[2] * 1e6 + 0.5) / 1e6 AS trend
FROM folded
"""



def consume_count_values(spark, sf_dir):
    """PromQL count_values(): the cardinality of each distinct sample
    VALUE per metric name -- the label-from-value pivot used to audit
    enum-style gauges (how many series currently report 0/1/2...).
    Values quantize to centi (the repo's wire convention) so the
    grouping key is integer-exact; top-20 most frequent values per
    metric keeps the result bounded like PromQL's topk wrapper would.

    Scale shape: one hash aggregation on (name, value_centi) with
    map-side combine, then a TakeOrdered per-name rank -- the same
    bounded-output contract as consume_topk_series."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "name",
        F.round(F.col("value") * 100).cast("bigint").alias("value_centi"),
    )
    counts = s.groupBy("name", "value_centi").agg(F.count("*").alias("n_samples"))
    from pyspark.sql import Window

    w = Window.partitionBy("name").orderBy(
        F.desc("n_samples"), F.asc("value_centi")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("name", F.col("rank").cast("bigint").alias("rank"), "value_centi", "n_samples")
    )


CONSUME_COUNT_VALUES_SQL = f"""
WITH s AS (
  SELECT event_type AS name, round(value * 100)::BIGINT AS value_centi
  FROM ({_SAMPLES_SQL})
), counts AS (
  SELECT name, value_centi, count(*) AS n_samples
  FROM s GROUP BY 1, 2
)
SELECT name, rank, value_centi, n_samples
FROM (
  SELECT *, row_number() OVER (PARTITION BY name
             ORDER BY n_samples DESC, value_centi ASC) AS rank
  FROM counts
) WHERE rank <= 20
"""



def consume_scrape_gaps(spark, sf_dir):
    """Scrape-gap detection: per series, the inter-sample intervals, the
    per-series MEDIAN interval (exact lower-median order statistic --
    integer, no interpolation), and how many intervals exceed 2x that
    median with the largest one -- the "target is flapping" ops report a
    Prometheus operator reads off the staleness dashboard. Series with
    < 3 samples are skipped (no meaningful cadence).

    Scale shape: one shuffle on the series key shared by the lag window
    and the aggregation; per-series state is its interval list (the
    range-vector bound)."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
    )
    w = Window.partitionBy("tenant_id", "name").orderBy("timestamp", "event_id")
    iv = (
        s.withColumn("prev_ts", F.lag("timestamp").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "tenant_id",
            "name",
            (F.col("timestamp") - F.col("prev_ts")).alias("gap_ms"),
        )
    )
    per = iv.groupBy("tenant_id", "name").agg(
        F.count("*").alias("n_intervals"),
        F.sort_array(F.collect_list("gap_ms")).alias("gaps"),
    )
    med = F.element_at(
        F.col("gaps"), ((F.col("n_intervals") - 1) / 2 + 1).cast("int")
    )
    return (
        per.filter(F.col("n_intervals") >= 2)
        .withColumn("median_interval_ms", med)
        .select(
            "tenant_id",
            "name",
            "n_intervals",
            "median_interval_ms",
            F.size(
                F.filter(
                    "gaps",
                    lambda g: g > F.col("median_interval_ms") * 2,
                )
            )
            .cast("bigint")
            .alias("n_gaps"),
            F.element_at("gaps", -1).alias("max_gap_ms"),
        )
    )


CONSUME_SCRAPE_GAPS_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id
  FROM ({_SAMPLES_SQL})
), iv AS (
  SELECT tenant_id, name,
         timestamp - lag(timestamp) OVER w AS gap_ms
  FROM s
  WINDOW w AS (PARTITION BY tenant_id, name ORDER BY timestamp, event_id)
), per AS (
  SELECT tenant_id, name, count(*) AS n_intervals,
         list_sort(list(gap_ms)) AS gaps
  FROM iv WHERE gap_ms IS NOT NULL
  GROUP BY 1, 2
)
SELECT tenant_id, name, n_intervals,
       gaps[((n_intervals - 1) // 2 + 1)::INT] AS median_interval_ms,
       len(list_filter(gaps, g -> g > gaps[((n_intervals - 1) // 2 + 1)::INT] * 2))::BIGINT AS n_gaps,
       gaps[-1] AS max_gap_ms
FROM per WHERE n_intervals >= 2
"""



def consume_time_weighted_avg(spark, sf_dir):
    """TIME-WEIGHTED average per series (TimescaleDB's time_weight /
    OpenTSDB downsample-avg semantics): each sample's value is weighted
    by how long it was current (LOCF: the interval to the next sample),
    so an irregularly-scraped gauge averages by TIME, not by sample
    count -- the difference between avg_over_time and what a billing
    meter owes. Integer-exact: the weighted sum is BIGINT
    centi-value * ms, the duration sum is BIGINT ms, and twap_micro is
    one integer division of the two (numerator and denominator are also
    emitted so downstream re-aggregation can combine series exactly).

    Scale shape: one shuffle on the series key shared by the lead
    window and the aggregation -- same plan family as consume_rate_5m."""
    from pyspark.sql import Window

    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    w = Window.partitionBy("tenant_id", "name").orderBy("timestamp", "event_id")
    iv = (
        s.withColumn("next_ts", F.lead("timestamp").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "tenant_id",
            "name",
            "vc",
            (F.col("next_ts") - F.col("timestamp")).alias("dt_ms"),
        )
    )
    return (
        iv.groupBy("tenant_id", "name")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum(F.col("vc") * F.col("dt_ms")).alias("weighted_sum_centi_ms"),
            F.sum("dt_ms").alias("duration_ms"),
        )
        .select(
            "tenant_id",
            "name",
            "n_intervals",
            "weighted_sum_centi_ms",
            "duration_ms",
            F.expr("(10000 * weighted_sum_centi_ms) DIV duration_ms").alias(
                "twap_micro"
            ),
        )
    )


CONSUME_TWAP_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS vc
  FROM ({_SAMPLES_SQL})
), iv AS (
  SELECT tenant_id, name, vc,
         lead(timestamp) OVER w - timestamp AS dt_ms
  FROM s
  WINDOW w AS (PARTITION BY tenant_id, name ORDER BY timestamp, event_id)
)
SELECT tenant_id, name, count(*) AS n_intervals,
       sum(vc * dt_ms)::BIGINT AS weighted_sum_centi_ms,
       sum(dt_ms)::BIGINT AS duration_ms,
       (10000 * sum(vc * dt_ms)::BIGINT) // sum(dt_ms)::BIGINT AS twap_micro
FROM iv WHERE dt_ms IS NOT NULL
GROUP BY 1, 2
"""


def consume_interpolated_vector(spark, sf_dir):
    """Gap-filled instant vector with LINEAR INTERPOLATION (TimescaleDB
    ``interpolate`` / Grafana's connected-points semantics): every
    10-minute grid point gets the value linearly interpolated between
    the nearest sample before and after it -- where
    consume_instant_vector's LOCF holds the last value flat, this
    reconstructs the trend line. Grid points outside a series' sample
    span stay absent (no extrapolation), matching the SQL-standard
    gapfill contract.

    Integer-exact: interp_micro = (100 * (vb*(ta2-t) + va2*(t-ta)))
    DIV (ta2-ta) over centi values and ms timestamps -- one BIGINT
    division; exact-hit grid points divide by the degenerate 1-interval
    (guarded). Scale shape: the as-of pattern twice (backward + forward
    match) = two series-key shuffles over the union-tagged stream, cost
    independent of gap width."""
    from ..operators.asof import asof_join

    samples = samples_from_events_flat(spark, sf_dir).select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    dd = (
        samples.groupBy("tenant_id", "name", "timestamp")
        .agg(F.max(F.struct("event_id", "vc")).alias("m"))
        .select("tenant_id", "name", "timestamp", F.col("m.vc").alias("vc"))
    )
    bounds = samples.agg(
        F.expr("(min(timestamp) div 600000) * 600000").alias("lo"),
        F.max("timestamp").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(600000))).alias("eval_ts")
    )
    series = samples.select("tenant_id", "name").distinct()
    pts = F.broadcast(grid).crossJoin(series)
    back = asof_join(
        pts, dd,
        on=["tenant_id", "name"], left_time="eval_ts", right_time="timestamp",
        right_cols=["timestamp", "vc"], how="left",
    ).select(
        "tenant_id", "name", "eval_ts",
        F.col("timestamp").alias("ta"), F.col("vc").alias("va"),
    )
    fwd = asof_join(
        pts.withColumn("neg_ts", -F.col("eval_ts")),
        dd.withColumn("neg_sample_ts", -F.col("timestamp")),
        on=["tenant_id", "name"], left_time="neg_ts", right_time="neg_sample_ts",
        right_cols=["timestamp", "vc"], how="left",
    ).select(
        "tenant_id", "name", "eval_ts",
        F.col("timestamp").alias("tb"), F.col("vc").alias("vb"),
    )
    return (
        back.join(fwd, ["tenant_id", "name", "eval_ts"])
        .filter(F.col("ta").isNotNull() & F.col("tb").isNotNull())
        .select(
            "tenant_id", "name", "eval_ts",
            F.when(
                F.col("tb") == F.col("ta"), F.col("va") * 10000
            )
            .otherwise(
                F.expr(
                    "(10000 * (va * (tb - eval_ts) + vb * (eval_ts - ta)))"
                    " DIV (tb - ta)"
                )
            )
            .cast("bigint")
            .alias("interp_micro"),
        )
    )


CONSUME_INTERP_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS vc
  FROM ({_SAMPLES_SQL})
), dd AS (
  SELECT tenant_id, name, timestamp,
         max_by(vc, event_id) AS vc
  FROM s GROUP BY 1, 2, 3
), bounds AS (
  SELECT (min(timestamp) // 600000) * 600000 AS lo, max(timestamp) AS hi FROM s
), grid AS (
  SELECT unnest(range(lo, hi + 1, 600000)) AS eval_ts FROM bounds
), series AS (SELECT DISTINCT tenant_id, name FROM s),
pts AS (SELECT * FROM grid CROSS JOIN series),
back AS (
  SELECT p.tenant_id, p.name, p.eval_ts,
         max(d.timestamp) AS ta
  FROM pts p JOIN dd d
    ON d.tenant_id = p.tenant_id AND d.name = p.name AND d.timestamp <= p.eval_ts
  GROUP BY 1, 2, 3
), fwd AS (
  SELECT p.tenant_id, p.name, p.eval_ts,
         min(d.timestamp) AS tb
  FROM pts p JOIN dd d
    ON d.tenant_id = p.tenant_id AND d.name = p.name AND d.timestamp >= p.eval_ts
  GROUP BY 1, 2, 3
)
SELECT b.tenant_id, b.name, b.eval_ts,
       CASE WHEN f.tb = b.ta THEN da.vc * 10000
            ELSE (10000 * (da.vc * (f.tb - b.eval_ts) + db.vc * (b.eval_ts - b.ta)))
                 // (f.tb - b.ta)
       END::BIGINT AS interp_micro
FROM back b
JOIN fwd f ON f.tenant_id = b.tenant_id AND f.name = b.name AND f.eval_ts = b.eval_ts
JOIN dd da ON da.tenant_id = b.tenant_id AND da.name = b.name AND da.timestamp = b.ta
JOIN dd db ON db.tenant_id = b.tenant_id AND db.name = b.name AND db.timestamp = f.tb
"""




# --- LTTB downsampling (dual-engine expression generator) --------------------

_LTTB_K = 12  # output points per series: first + 10 selected + last


def _lttb_bucket_exprs(spark_dialect: bool) -> tuple:
    """(bks, nsums) expressions over per-series columns ``pts``/``n``:
    the per-bucket point slices and each bucket's NEXT-neighbor sums
    [S_t, S_v, count] (the last middle bucket's neighbor is the final
    point). Materialized as their own columns so the selection fold
    only nests two lambda levels -- DuckDB's vectorized evaluation of
    deeper correlated-lambda trees was observed returning wrong values
    on multi-row inputs, and two flat columns are cheaper anyway."""
    M = _LTTB_K - 2
    div = "div" if spark_dialect else "//"

    def start1(i):
        return f"(2 + (({i} * (n - 2)) {div} {M}))"

    if spark_dialect:
        bks = (
            f"transform(sequence(0, {M - 1}), bi -> slice(pts, {start1('bi')}, "
            f"{start1('(bi + 1)')} - {start1('bi')}))"
        )
        bsum = (
            "aggregate({b}, array(0L, 0L, 0L), (sa, sp) -> "
            "array(element_at(sa, 1) + element_at(sp, 1), "
            "element_at(sa, 2) + element_at(sp, 2), element_at(sa, 3) + 1L))"
        )
        nsums = (
            f"transform(sequence(0, {M - 1}), ni -> if(ni < {M - 1}, "
            + bsum.format(b="element_at(bks, ni + 2)")
            + ", array(element_at(element_at(pts, n), 1), "
            "element_at(element_at(pts, n), 2), 1L)))"
        )
    else:
        bks = (
            f"list_transform(range(0, {M}), bi -> "
            f"pts[{start1('bi')}:{start1('(bi + 1)')} - 1])"
        )
        bsum = (
            "list_reduce(list_prepend([0, 0, 0]::BIGINT[], {b}), (sa, sp) -> "
            "[sa[1] + sp[1], sa[2] + sp[2], sa[3] + 1])"
        )
        nsums = (
            f"list_transform(range(0, {M}), ni -> CASE WHEN ni < {M - 1} THEN "
            + bsum.format(b="bks[ni + 2]")
            + " ELSE [pts[n][1], pts[n][2], 1] END)"
        )
    return bks, nsums


def _lttb_select_expr(spark_dialect: bool) -> str:
    """LTTB selection fold over the precomputed ``bks``/``nsums``
    columns (see _lttb_bucket_exprs): evaluates to the flat selected
    list [t1, v1, ...]. Identical integer arithmetic in both dialects;
    triangle areas carry the next bucket's count as a common
    denominator so everything stays BIGINT, and the strictly-greater
    comparison makes ties resolve to the earliest point in both
    engines."""
    M = _LTTB_K - 2

    def E(a, i):
        return f"element_at({a}, {i})" if spark_dialect else f"({a})[{i}]"

    bk = E("bks", "__OI__ + 1")
    ns = E("nsums", "__OI__ + 1")
    nn, st, sv = E(f"({ns})", 3), E(f"({ns})", 1), E(f"({ns})", 2)
    pv_t, pv_v = E("acc", 1), E("acc", 2)
    area = (
        f"abs(({pv_t} * {nn} - {st}) * ({{pv}} - {pv_v}) "
        f"- ({pv_t} - {{pt}}) * ({sv} - {pv_v} * {nn}))"
    )
    a_p = area.format(pt=E("p", 1), pv=E("p", 2))
    if spark_dialect:
        best = (
            f"aggregate({bk}, array(-1L, 0L, 0L), (b, p) -> "
            f"if({a_p} > element_at(b, 1), "
            f"array({a_p}, element_at(p, 1), element_at(p, 2)), b))"
        )
        fold = (
            f"aggregate(sequence(0, {M - 1}), "
            "array(element_at(element_at(pts, 1), 1), "
            "element_at(element_at(pts, 1), 2)), "
            f"(acc, oi) -> concat("
            f"array(element_at({best}, 2), element_at({best}, 3)), "
            f"slice(acc, 3, size(acc) - 2), "
            f"array(element_at({best}, 2), element_at({best}, 3))))"
        ).replace("__OI__", "oi")
        mid = f"slice({fold}, 3, 2 * {M})"
        full = (
            "concat(array(element_at(element_at(pts, 1), 1), "
            f"element_at(element_at(pts, 1), 2)), {mid}, "
            "array(element_at(element_at(pts, n), 1), "
            "element_at(element_at(pts, n), 2)))"
        )
        passthrough = (
            "aggregate(pts, cast(array() as array<bigint>), (fa, fp) -> concat(fa, fp))"
        )
        return f"if(n <= {_LTTB_K}, {passthrough}, {full})"
    best = (
        f"list_reduce(list_prepend([-1, 0, 0]::BIGINT[], {bk}), (b, p) -> "
        f"CASE WHEN {a_p} > b[1] THEN [{a_p}, p[1], p[2]] ELSE b END)"
    ).replace("__OI__", "e[1]")
    fold = (
        "list_reduce(list_prepend([pts[1][1], pts[1][2]], "
        f"list_transform(range(0, {M}), q -> [q])), "
        f"(acc, e) -> list_concat(list_concat("
        f"[({best})[2], ({best})[3]], acc[3:]), "
        f"[({best})[2], ({best})[3]]))"
    )
    mid = f"({fold})[3:{2 + 2 * M}]"
    full = (
        f"list_concat(list_concat([pts[1][1], pts[1][2]], {mid}), "
        "[pts[n][1], pts[n][2]])"
    )
    passthrough = (
        "list_reduce(list_prepend([]::BIGINT[], pts), (fa, fp) -> list_concat(fa, fp))"
    )
    return f"CASE WHEN n <= {_LTTB_K} THEN {passthrough} ELSE {full} END"


def consume_lttb_downsample(spark, sf_dir):
    """LTTB (Largest-Triangle-Three-Buckets, Steinarsson 2013)
    downsampling per series -- the visual downsampler Grafana and
    Timescale ship: keep first and last points; split the rest into
    equal-count buckets; from each bucket keep the point forming the
    largest triangle with the PREVIOUSLY KEPT point and the next
    bucket's centroid. Preserves the spikes a mean-downsample erases
    and bounds every dashboard query to K points per series.

    Engine shape: a sequential bucket fold (the algorithm's definition)
    over pre-sorted per-series arrays, with the bucket slices and
    next-bucket sums materialized as columns first and ONE shared
    expression generator emitting both dialects -- integer area
    cross-products with the next-bucket count as common denominator, so
    the selected points hash-match bit-for-bit. One shuffle on the
    series key; per-series state is its range vector."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    bks_e, nsums_e = _lttb_bucket_exprs(True)
    per = (
        s.groupBy("tenant_id", "name")
        .agg(
            F.min("timestamp").alias("t0"),
            F.expr(
                "transform(array_sort(collect_list(struct(timestamp, event_id, vc))),"
                " x -> array(x.timestamp, x.vc))"
            ).alias("pts_abs"),
        )
        .select(
            "tenant_id",
            "name",
            "t0",
            F.expr(
                "transform(pts_abs, p -> array(element_at(p, 1) - t0,"
                " element_at(p, 2)))"
            ).alias("pts"),
        )
        .withColumn("n", F.size("pts"))
        .filter(F.col("n") >= 3)
        .withColumn("bks", F.expr(bks_e))
        .withColumn("nsums", F.expr(nsums_e))
    )
    sel = per.select(
        "tenant_id",
        "name",
        "t0",
        F.expr(_lttb_select_expr(True)).alias("flat"),
    )
    return sel.select(
        "tenant_id",
        "name",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(flat) DIV 2), j -> "
                "array(element_at(flat, cast(2 * j - 1 as int)),"
                " element_at(flat, cast(2 * j as int))))"
            )
        ).alias("seq", "pt"),
        "t0",
    ).select(
        "tenant_id",
        "name",
        (F.col("seq") + 1).cast("bigint").alias("seq"),
        (F.col("pt")[0] + F.col("t0")).alias("t_ms"),
        F.col("pt")[1].alias("v_centi"),
    )


def _lttb_sql() -> str:
    """DuckDB replay, PURELY RELATIONAL: the bucket loop unrolls into one
    CTE per bucket, each an area-argmax via row_number over the
    bucket's exploded points joined to the previous step's selection --
    no list lambdas at all. (DuckDB's fused vectorized evaluation of
    list_reduce lambdas referencing correlated per-row columns was
    observed mixing rows' values on multi-row inputs, so the oracle
    avoids the construct entirely; the relational form is also
    independently auditable per step.) Bucket bounds replicate the
    Spark expression's integer arithmetic exactly."""
    M = _LTTB_K - 2
    sql = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS vc
  FROM ({_SAMPLES_SQL})
), pts AS (
  SELECT tenant_id, name,
         row_number() OVER (PARTITION BY tenant_id, name
                            ORDER BY timestamp, event_id) AS idx,
         timestamp - min(timestamp) OVER (PARTITION BY tenant_id, name) AS tr,
         min(timestamp) OVER (PARTITION BY tenant_id, name) AS t0,
         vc,
         count(*) OVER (PARTITION BY tenant_id, name) AS n
  FROM s
), big AS (SELECT * FROM pts WHERE n > {_LTTB_K}),
buckets AS (
  SELECT tenant_id, name, n, i,
         2 + ((i * (n - 2)) // {M}) AS lo,
         2 + (((i + 1) * (n - 2)) // {M}) - 1 AS hi
  FROM (SELECT DISTINCT tenant_id, name, n FROM big),
       unnest(range(0, {M})) AS r(i)
), nsums AS (
  SELECT b.tenant_id, b.name, b.i - 1 AS i,
         sum(p.tr)::BIGINT AS st, sum(p.vc)::BIGINT AS sv, count(*)::BIGINT AS nn
  FROM buckets b JOIN big p
    ON p.tenant_id = b.tenant_id AND p.name = b.name
   AND p.idx BETWEEN b.lo AND b.hi
  WHERE b.i >= 1
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT tenant_id, name, {M - 1} AS i, tr, vc, 1
  FROM big WHERE idx = n
), prev0 AS (
  SELECT tenant_id, name, tr AS pv_t, vc AS pv_v FROM big WHERE idx = 1
)"""
    for i in range(1, M + 1):
        b = i - 1  # 0-based bucket
        sql += f""", step{i} AS (
  SELECT tenant_id, name, tr AS pv_t, vc AS pv_v FROM (
    SELECT p.tenant_id, p.name, p.tr, p.vc,
           row_number() OVER (PARTITION BY p.tenant_id, p.name ORDER BY
             abs((q.pv_t * ns.nn - ns.st) * (p.vc - q.pv_v)
                 - (q.pv_t - p.tr) * (ns.sv - q.pv_v * ns.nn)) DESC,
             p.idx ASC) AS rn
    FROM big p
    JOIN buckets b ON b.tenant_id = p.tenant_id AND b.name = p.name
                  AND b.i = {b} AND p.idx BETWEEN b.lo AND b.hi
    JOIN {"prev0" if i == 1 else f"step{i - 1}"} q
      ON q.tenant_id = p.tenant_id AND q.name = p.name
    JOIN nsums ns ON ns.tenant_id = p.tenant_id AND ns.name = p.name
                 AND ns.i = {b}
  ) WHERE rn = 1
)"""
    selected = "\n  UNION ALL\n".join(
        f"  SELECT tenant_id, name, {i + 1} AS seq, pv_t AS tr, pv_v AS vc FROM step{i}"
        for i in range(1, M + 1)
    )
    sql += f""", chain AS (
  SELECT tenant_id, name, 1 AS seq, tr, vc FROM big WHERE idx = 1
  UNION ALL
{selected}
  UNION ALL
  SELECT tenant_id, name, {_LTTB_K} AS seq, tr, vc FROM big WHERE idx = n
), small AS (
  SELECT tenant_id, name, idx AS seq, tr, vc
  FROM pts WHERE n <= {_LTTB_K} AND n >= 3
), unioned AS (
  SELECT * FROM chain UNION ALL SELECT * FROM small
)
SELECT u.tenant_id, u.name, u.seq::BIGINT AS seq,
       u.tr + p0.t0 AS t_ms, u.vc AS v_centi
FROM unioned u
JOIN (SELECT DISTINCT tenant_id, name, t0 FROM pts) p0
  ON p0.tenant_id = u.tenant_id AND p0.name = u.name
"""
    return sql


CONSUME_LTTB_SQL = _lttb_sql()



_M4_BUCKETS = 16


def consume_m4_downsample(spark, sf_dir):
    """M4 downsampling (Jugel et al., VLDB 2014): per series and
    time-bucket, keep exactly the FIRST, LAST, MIN and MAX points --
    the four extremes that make a line rendering at pixel width
    error-free, and the downsampler the original M4 paper proved
    optimal for that purpose (LTTB's perceptual cousin;
    consume_lttb_downsample covers the other school). Points are
    deduplicated when roles coincide; role tie-breaks are by
    (timestamp, event_id) so both engines pick identical points.

    Scale shape: one shuffle on (series, bucket) with min/max/first/
    last as ONE struct-packed aggregation -- no window, no sort; at
    100 TB this is a map-side-combinable agg, which is why M4 is the
    scalable default in time-series databases."""
    samples = samples_from_events_flat(spark, sf_dir)
    s = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    bounds = s.groupBy("tenant_id", "name").agg(
        F.min("timestamp").alias("lo"), F.max("timestamp").alias("hi")
    )
    w = (
        s.join(F.broadcast(bounds), ["tenant_id", "name"])
        .withColumn(
            "bucket",
            F.expr(
                f"least(cast(((timestamp - lo) * {_M4_BUCKETS})"
                f" DIV greatest(hi - lo + 1, 1) as int), {_M4_BUCKETS - 1})"
            ),
        )
    )
    agg = w.groupBy("tenant_id", "name", "bucket").agg(
        F.min(F.struct("timestamp", "event_id", "vc")).alias("first_pt"),
        F.max(F.struct("timestamp", "event_id", "vc")).alias("last_pt"),
        F.min(F.struct("vc", "timestamp", "event_id")).alias("min_pt"),
        F.max(F.struct("vc", "timestamp", "event_id")).alias("max_pt"),
    )
    pts = agg.select(
        "tenant_id",
        "name",
        "bucket",
        F.explode(
            F.array(
                F.struct(
                    F.col("first_pt.timestamp").alias("t_ms"),
                    F.col("first_pt.vc").alias("v_centi"),
                ),
                F.struct(
                    F.col("last_pt.timestamp").alias("t_ms"),
                    F.col("last_pt.vc").alias("v_centi"),
                ),
                F.struct(
                    F.col("min_pt.timestamp").alias("t_ms"),
                    F.col("min_pt.vc").alias("v_centi"),
                ),
                F.struct(
                    F.col("max_pt.timestamp").alias("t_ms"),
                    F.col("max_pt.vc").alias("v_centi"),
                ),
            )
        ).alias("p"),
    ).select(
        "tenant_id",
        "name",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("p.t_ms").alias("t_ms"),
        F.col("p.v_centi").alias("v_centi"),
    )
    return pts.distinct()


CONSUME_M4_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id,
         round(value * 100)::BIGINT AS vc
  FROM ({_SAMPLES_SQL})
), bounds AS (
  SELECT tenant_id, name, min(timestamp) AS lo, max(timestamp) AS hi
  FROM s GROUP BY 1, 2
), w AS (
  SELECT s.*, least((((s.timestamp - b.lo) * {_M4_BUCKETS})
           // greatest(b.hi - b.lo + 1, 1))::INT, {_M4_BUCKETS - 1}) AS bucket
  FROM s JOIN bounds b USING (tenant_id, name)
), agg AS (
  SELECT tenant_id, name, bucket,
         min(ROW(timestamp, event_id, vc)) AS first_pt,
         max(ROW(timestamp, event_id, vc)) AS last_pt,
         min(ROW(vc, timestamp, event_id)) AS min_pt,
         max(ROW(vc, timestamp, event_id)) AS max_pt
  FROM w GROUP BY 1, 2, 3
)
SELECT DISTINCT tenant_id, name, bucket::BIGINT AS bucket, t_ms, v_centi
FROM (
  SELECT tenant_id, name, bucket, first_pt[1] AS t_ms, first_pt[3] AS v_centi FROM agg
  UNION ALL
  SELECT tenant_id, name, bucket, last_pt[1], last_pt[3] FROM agg
  UNION ALL
  SELECT tenant_id, name, bucket, min_pt[2], min_pt[1] FROM agg
  UNION ALL
  SELECT tenant_id, name, bucket, max_pt[2], max_pt[1] FROM agg
)
"""



def consume_m4_fidelity(spark, sf_dir):
    """DOWNSAMPLING FIDELITY report: reconstruct every original sample by
    linear interpolation between its surrounding M4-selected points and
    report, per series, the max and mean absolute deviation (centi) --
    the error bound that justifies shipping 64 points instead of
    thousands to a dashboard. M4 guarantees first/last/min/max per
    bucket, so every original sits inside the selected envelope; the
    deviations quantify what the line rendering can still miss between
    buckets.

    Integer-exact: interpolation is one BIGINT division per point (the
    consume_interpolated_vector arithmetic) over the deduped selected
    set (per timestamp keep max value -- same rule both engines).
    Scale shape: the M4 subplan + two as-of matches on the series key +
    one rollup."""
    sel = (
        consume_m4_downsample(spark, sf_dir)
        .groupBy("tenant_id", "name", "t_ms")
        .agg(F.max("v_centi").alias("v_centi"))
    )
    samples = samples_from_events_flat(spark, sf_dir)
    orig = samples.select(
        "tenant_id",
        "name",
        "timestamp",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    ).groupBy("tenant_id", "name", "timestamp").agg(F.max("vc").alias("vc"))
    from ..operators.asof import asof_join

    back = asof_join(
        orig, sel.withColumnRenamed("t_ms", "sel_ts"),
        on=["tenant_id", "name"], left_time="timestamp", right_time="sel_ts",
        right_cols=["sel_ts", "v_centi"], how="left",
    ).select(
        "tenant_id", "name", "timestamp", "vc",
        F.col("sel_ts").alias("ta"), F.col("v_centi").alias("va"),
    )
    fwd = asof_join(
        orig.withColumn("neg_t", -F.col("timestamp")),
        sel.withColumn("neg_sel", -F.col("t_ms")).withColumnRenamed("t_ms", "sel_ts"),
        on=["tenant_id", "name"], left_time="neg_t", right_time="neg_sel",
        right_cols=["sel_ts", "v_centi"], how="left",
    ).select(
        "tenant_id", "name", "timestamp",
        F.col("sel_ts").alias("tb"), F.col("v_centi").alias("vb"),
    )
    dev = (
        back.join(fwd, ["tenant_id", "name", "timestamp"])
        .filter(F.col("ta").isNotNull() & F.col("tb").isNotNull())
        .withColumn(
            "interp",
            F.when(F.col("tb") == F.col("ta"), F.col("va")).otherwise(
                F.expr(
                    "(va * (tb - timestamp) + vb * (timestamp - ta)) DIV (tb - ta)"
                )
            ),
        )
        .withColumn("adev", F.abs(F.col("vc") - F.col("interp")))
    )
    return dev.groupBy("tenant_id", "name").agg(
        F.count("*").alias("n_points"),
        F.max("adev").alias("max_dev_centi"),
        F.expr("sum(adev) DIV count(*)").alias("mean_dev_centi"),
    )


CONSUME_M4_FIDELITY_SQL = f"""
WITH m4 AS ({CONSUME_M4_SQL}),
sel AS (
  SELECT tenant_id, name, t_ms, max(v_centi) AS v_centi
  FROM m4 GROUP BY 1, 2, 3
), orig AS (
  SELECT tenant_id, event_type AS name, timestamp,
         max(round(value * 100)::BIGINT) AS vc
  FROM ({_SAMPLES_SQL})
  GROUP BY 1, 2, 3
), back AS (
  SELECT o.tenant_id, o.name, o.timestamp, max(s.t_ms) AS ta
  FROM orig o JOIN sel s
    ON s.tenant_id = o.tenant_id AND s.name = o.name AND s.t_ms <= o.timestamp
  GROUP BY 1, 2, 3
), fwd AS (
  SELECT o.tenant_id, o.name, o.timestamp, min(s.t_ms) AS tb
  FROM orig o JOIN sel s
    ON s.tenant_id = o.tenant_id AND s.name = o.name AND s.t_ms >= o.timestamp
  GROUP BY 1, 2, 3
), dev AS (
  SELECT o.tenant_id, o.name, o.timestamp, o.vc,
         CASE WHEN f.tb = b.ta THEN sa.v_centi
              ELSE (sa.v_centi * (f.tb - o.timestamp) + sb.v_centi * (o.timestamp - b.ta))
                   // (f.tb - b.ta)
         END AS interp
  FROM orig o
  JOIN back b ON b.tenant_id = o.tenant_id AND b.name = o.name AND b.timestamp = o.timestamp
  JOIN fwd f ON f.tenant_id = o.tenant_id AND f.name = o.name AND f.timestamp = o.timestamp
  JOIN sel sa ON sa.tenant_id = o.tenant_id AND sa.name = o.name AND sa.t_ms = b.ta
  JOIN sel sb ON sb.tenant_id = o.tenant_id AND sb.name = o.name AND sb.t_ms = f.tb
)
SELECT tenant_id, name, count(*) AS n_points,
       max(abs(vc - interp))::BIGINT AS max_dev_centi,
       (sum(abs(vc - interp)) // count(*))::BIGINT AS mean_dev_centi
FROM dev GROUP BY 1, 2
"""



def consume_sli_availability(spark, sf_dir):
    """AVAILABILITY SLI per series: the fraction of 10-minute evaluation
    points at which the series had a sample within the 5-minute
    staleness window -- "was the target up at each probe?" turned into
    the nines number an SLO dashboard reports. Reuses the
    instant-vector grid + as-of machinery; a probe point counts as
    available iff the last sample before it is fresh. Availability in
    milli (999 = three nines at this grid resolution).

    Scale shape: the broadcast grid x series as-of join
    (consume_instant_vector's audited plan) + one rollup per series."""
    from ..operators.asof import asof_join

    samples = samples_from_events_flat(spark, sf_dir).select(
        "tenant_id",
        "name",
        "timestamp",
        "event_id",
    )
    bounds = samples.agg(
        F.expr("(min(timestamp) div 600000) * 600000").alias("lo"),
        F.max("timestamp").alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(600000))).alias("eval_ts")
    )
    series = samples.select("tenant_id", "name").distinct()
    pts = F.broadcast(grid).crossJoin(series)
    dd = samples.groupBy("tenant_id", "name", "timestamp").agg(
        F.max("event_id").alias("event_id")
    )
    matched = asof_join(
        pts, dd,
        on=["tenant_id", "name"], left_time="eval_ts", right_time="timestamp",
        right_cols=["timestamp"], how="left",
    )
    return (
        matched.withColumn(
            "available",
            (
                F.col("timestamp").isNotNull()
                & (F.col("eval_ts") - F.col("timestamp") < 300000)
            ).cast("long"),
        )
        .groupBy("tenant_id", "name")
        .agg(
            F.count("*").alias("n_probes"),
            F.sum("available").alias("n_available"),
        )
        .select(
            "tenant_id",
            "name",
            "n_probes",
            F.col("n_available").cast("bigint").alias("n_available"),
            F.expr("(1000 * n_available) DIV n_probes").alias(
                "availability_milli"
            ),
        )
    )


CONSUME_SLI_SQL = f"""
WITH s AS (
  SELECT tenant_id, event_type AS name, timestamp, event_id
  FROM ({_SAMPLES_SQL})
), bounds AS (
  SELECT (min(timestamp) // 600000) * 600000 AS lo, max(timestamp) AS hi FROM s
), grid AS (
  SELECT unnest(range(lo, hi + 1, 600000)) AS eval_ts FROM bounds
), series AS (SELECT DISTINCT tenant_id, name FROM s),
pts AS (SELECT * FROM grid CROSS JOIN series),
matched AS (
  SELECT p.tenant_id, p.name, p.eval_ts, max(d.timestamp) AS last_ts
  FROM pts p LEFT JOIN (SELECT DISTINCT tenant_id, name, timestamp FROM s) d
    ON d.tenant_id = p.tenant_id AND d.name = p.name AND d.timestamp <= p.eval_ts
  GROUP BY 1, 2, 3
)
SELECT tenant_id, name, count(*) AS n_probes,
       sum(CASE WHEN last_ts IS NOT NULL AND eval_ts - last_ts < 300000
                THEN 1 ELSE 0 END)::BIGINT AS n_available,
       ((1000 * sum(CASE WHEN last_ts IS NOT NULL AND eval_ts - last_ts < 300000
                         THEN 1 ELSE 0 END)) // count(*))::BIGINT AS availability_milli
FROM matched GROUP BY 1, 2
"""



def consume_heatmap_buckets(spark, sf_dir):
    """HEATMAP feed: the 2-D (time-bucket x value-band) sample histogram
    a Grafana heatmap panel renders -- hourly time buckets crossed with
    ten equal value bands over the corpus value range. Bounded output
    regardless of input (hours x 10 bands); one hash aggregation after
    scan-side bucket arithmetic, the shape that lets a dashboard
    request any zoom level without touching raw samples again.

    Integer-exact: band = least((v_centi - lo) * 10 DIV range, 9)."""
    samples = samples_from_events(spark, sf_dir)
    s = samples.select(
        F.expr("(timestamp div 3600000) * 3600").alias("hour_start"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    bounds = s.agg(
        F.min("vc").alias("lo"), F.max("vc").alias("hi")
    )
    banded = s.crossJoin(F.broadcast(bounds)).select(
        "hour_start",
        F.expr(
            "least(((vc - lo) * 10) DIV greatest(hi - lo + 1, 1), 9)"
        ).alias("band"),
    )
    return banded.groupBy("hour_start", "band").agg(
        F.count("*").alias("n_samples")
    ).select(
        "hour_start",
        F.col("band").cast("bigint").alias("band"),
        "n_samples",
    )


CONSUME_HEATMAP_SQL = f"""
WITH s AS (
  SELECT (timestamp // 3600000) * 3600 AS hour_start,
         round(value * 100)::BIGINT AS vc
  FROM ({_SAMPLES_SQL})
), bounds AS (SELECT min(vc) AS lo, max(vc) AS hi FROM s)
SELECT hour_start,
       least(((vc - lo) * 10) // greatest(hi - lo + 1, 1), 9)::BIGINT AS band,
       count(*) AS n_samples
FROM s CROSS JOIN bounds
GROUP BY 1, 2
"""


QUERIES = {
    "consume_heatmap_buckets": consume_heatmap_buckets,
    "consume_sli_availability": consume_sli_availability,
    "consume_m4_fidelity": consume_m4_fidelity,
    "consume_m4_downsample": consume_m4_downsample,
    "consume_lttb_downsample": consume_lttb_downsample,
    "consume_time_weighted_avg": consume_time_weighted_avg,
    "consume_interpolated_vector": consume_interpolated_vector,
    "consume_scrape_gaps": consume_scrape_gaps,
    "consume_count_values": consume_count_values,
    "consume_holt_winters": consume_holt_winters,
    "consume_staleness_report": consume_staleness_report,
    "consume_irate_idelta": consume_irate_idelta,
    "consume_rate_extrapolated": consume_rate_extrapolated,
    "consume_rate_counter": consume_rate_counter,
    "consume_series_similarity": consume_series_similarity,
    "consume_alert_firing": consume_alert_firing,
    "consume_subquery_max_rate": consume_subquery_max_rate,
    "consume_vector_matching": consume_vector_matching,
    "consume_offset_compare": consume_offset_compare,
    "consume_label_replace_join": consume_label_replace_join,
    "consume_absent_series": consume_absent_series,
    "consume_changes_resets": consume_changes_resets,
    "consume_deriv_predict": consume_deriv_predict,
    "consume_topk_series": consume_topk_series,
    "consume_avg_over_time": consume_avg_over_time,
    "consume_quantile_over_time": consume_quantile_over_time,
    "produce_flatten": produce_flatten,
    "produce_serialize_json": produce_serialize_json,
    "produce_serialize_compat": produce_serialize_compat,
    "produce_serialize_avro": produce_serialize_avro,
    "produce_partition_key": produce_partition_key,
    "produce_label_map_ops": produce_label_map_ops,
    "consume_sorted_labels": consume_sorted_labels,
    "consume_batching": consume_batching,
    "consume_salted_tenant_totals": consume_salted_tenant_totals,
    "consume_deserialize_roundtrip": consume_deserialize_roundtrip,
    "consume_rate_5m": consume_rate_5m,
    "consume_label_cardinality": consume_label_cardinality,
    "consume_histogram_quantile": consume_histogram_quantile,
    "consume_instant_vector": consume_instant_vector,
}

ORACLES = {
    "consume_heatmap_buckets": CONSUME_HEATMAP_SQL,
    "consume_sli_availability": CONSUME_SLI_SQL,
    "consume_m4_fidelity": CONSUME_M4_FIDELITY_SQL,
    "consume_m4_downsample": CONSUME_M4_SQL,
    "consume_lttb_downsample": CONSUME_LTTB_SQL,
    "consume_time_weighted_avg": CONSUME_TWAP_SQL,
    "consume_interpolated_vector": CONSUME_INTERP_SQL,
    "consume_scrape_gaps": CONSUME_SCRAPE_GAPS_SQL,
    "consume_count_values": CONSUME_COUNT_VALUES_SQL,
    "consume_holt_winters": CONSUME_HOLT_WINTERS_SQL,
    "consume_staleness_report": CONSUME_STALENESS_SQL,
    "consume_irate_idelta": CONSUME_IRATE_SQL,
    "consume_rate_extrapolated": CONSUME_RATE_EXTRAP_SQL,
    "consume_rate_counter": CONSUME_RATE_COUNTER_SQL,
    "consume_series_similarity": CONSUME_SERIES_SIM_SQL,
    "consume_alert_firing": CONSUME_ALERT_SQL,
    "consume_subquery_max_rate": CONSUME_SUBQUERY_SQL,
    "consume_vector_matching": CONSUME_VECTOR_MATCH_SQL,
    "consume_offset_compare": CONSUME_OFFSET_SQL,
    "consume_label_replace_join": CONSUME_LABEL_REPLACE_SQL,
    "consume_absent_series": CONSUME_ABSENT_SQL,
    "consume_changes_resets": CONSUME_CHANGES_SQL,
    "consume_deriv_predict": CONSUME_DERIV_SQL,
    "consume_topk_series": CONSUME_TOPK_SQL,
    "consume_avg_over_time": CONSUME_AVG_SQL,
    "consume_quantile_over_time": CONSUME_QUANTILE_SQL,
    "produce_flatten": PRODUCE_FLATTEN_SQL,
    "produce_serialize_json": PRODUCE_SERIALIZE_SQL,
    "produce_serialize_compat": PRODUCE_COMPAT_SQL,
    "produce_serialize_avro": PRODUCE_AVRO_SQL,
    "produce_partition_key": PRODUCE_PARTITION_KEY_SQL,
    "produce_label_map_ops": PRODUCE_LABEL_MAP_SQL,
    "consume_sorted_labels": CONSUME_SORTED_SQL,
    "consume_batching": CONSUME_BATCHING_SQL,
    "consume_salted_tenant_totals": CONSUME_SALTED_SQL,
    "consume_deserialize_roundtrip": CONSUME_DESERIALIZE_SQL,
    "consume_rate_5m": CONSUME_RATE_SQL,
    "consume_label_cardinality": CONSUME_CARDINALITY_SQL,
    "consume_histogram_quantile": CONSUME_HISTQ_SQL,
    "consume_instant_vector": CONSUME_INSTANT_SQL,
}
