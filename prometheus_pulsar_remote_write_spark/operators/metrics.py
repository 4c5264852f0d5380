"""A6 observability (reference pkg/metrics/metrics.go:20-59).

The reference exports five per-tenant Prometheus metric families:
received/sent/failed sample counters, a retry counter, and a send-duration
histogram. The Spark-native mapping:

  - per-batch dataflow counts ride the query itself via ``observe()``
    (no extra action, no second scan): ``Observation`` for batch jobs,
    named observations for streams, folded into counters by a
    ``MetricsListener`` as each progress event arrives (no event is kept);
  - per-tenant delivery counters are a DeliveryMetrics, the consume
    sink's ``RemoteWriteSink.metrics`` (D2/D6 bookkeeping), read as
    snapshots or a Prometheus exposition;
  - send-duration histogram: fixed buckets per tenant, accumulated in the
    sink (driver-side, one value per HTTP POST -- bounded cardinality);
  - every ``/metrics`` family, the listener's ingest counters included, is
    written by one renderer (``render_exposition``) with one label-value
    escaper.

Nothing here touches the data path: observe() metrics are computed by the
executors as a side output of the existing plan. Spark is imported only
inside the functions that build Columns, so the stdlib HTTP listener can
render its counters with this module without loading Spark.
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, Observation

_log = logging.getLogger(__name__)

#: send-duration histogram bucket upper bounds, seconds (prometheus-style)
DURATION_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)


def sample_metrics_exprs() -> list:
    """The observed-metric expressions attached to a sample DataFrame."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n_samples"),
        # observe() rejects DISTINCT aggregates; approx is the idiom
        F.approx_count_distinct("tenant_id").alias("n_tenants"),
        F.sum("value").alias("sum_value"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    ]


def observe_samples(df: DataFrame, name: str = "samples") -> tuple[DataFrame, Observation | None]:
    """Attach sample-flow metrics to a plan.

    Batch: returns (df, Observation) -- read ``observation.get`` after an
    action. Streaming: returns (df, None) -- metrics arrive per micro-batch
    in ``QueryProgressEvent.observedMetrics[name]`` (see MetricsListener).
    """
    from pyspark.sql import Observation

    if df.isStreaming:
        return df.observe(name, *sample_metrics_exprs()), None
    obs = Observation(name)
    return df.observe(obs, *sample_metrics_exprs()), obs


def bucket_size_exprs(size_col, cap: int | None = None) -> list:
    """Observed-metric expressions for an LSH bucket-occupancy histogram.

    The saturation-regime detector from SCALE.md §10: when MEDIAN bucket
    occupancy grows with n (not just the max -- one dup mass legitimately
    grows the max), the signature space is saturating for this corpus and
    the right response is more bits/bands, not a tighter cap. sum_sq_size
    is the exact all-pairs candidate count proxy (sum of B*(B-1)/2 over
    buckets == (sum_sq - n_rows)/2), the quantity whose growth rate IS
    the wall-clock exponent of the pair stage.

    ``size_col`` is a Column with one row per bucket (e.g. F.size("ids")
    over the grouped bucket relation). observe() computes these as a side
    output of the existing plan -- no second scan, no extra shuffle.

    Every aggregate is coalesced to 0, so a corpus with NO >=2 bucket
    (nothing collides) yields an all-zero histogram instead of NULLs --
    arithmetic consumers (the saturation gate's median-vs-target
    comparison, ratio checks) must not TypeError on the empty edge
    (r13 advice).
    """
    from pyspark.sql import functions as F

    exprs = [
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.max(size_col), F.lit(0)).alias("max_bucket"),
        # observe() rejects exact percentile's internal state; approx is
        # the idiom (exact at this cardinality for the median anyway)
        F.coalesce(F.percentile_approx(size_col, 0.5), F.lit(0)).alias(
            "median_bucket"
        ),
        F.coalesce(F.percentile_approx(size_col, 0.99), F.lit(0)).alias(
            "p99_bucket"
        ),
        F.coalesce(F.sum(size_col), F.lit(0)).alias("sum_size"),
        F.coalesce(
            F.sum(size_col.cast("long") * size_col.cast("long")), F.lit(0)
        ).alias("sum_sq_size"),
    ]
    if cap is not None:
        exprs.append(
            F.coalesce(
                F.sum(F.when(size_col > F.lit(int(cap)), 1).otherwise(0)),
                F.lit(0),
            ).alias("over_cap_buckets")
        )
    return exprs


def lsh_bucket_histogram(banded: DataFrame, *key_cols: str, cap: int | None = None) -> dict:
    """On-demand bucket-occupancy histogram over a banded LSH relation
    ((id, band, bucket) rows): one groupBy + one tiny aggregate.

    The inline path (lsh_candidate_pairs' ``bucket_obs``) rides the
    production query for free; this accessor exists for paths whose plan
    never materializes a grouped bucket relation (the embedding scorer
    goes straight into applyInPandas) and for operators' health checks.
    """
    from pyspark.sql import functions as F

    keys = list(key_cols) or ["band_id", "bucket"]
    sizes = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        # >= 2 members only, matching the inline observe(): singleton
        # buckets produce no pairs and would drown the median at 1
        .filter(F.col("__n") >= 2)
    )
    row = sizes.agg(*bucket_size_exprs(F.col("__n"), cap=cap)).collect()[0]
    return row.asDict()


def warn_if_saturated(
    hist: dict,
    *,
    target_median_bucket: int = 64,
    factor: int = 4,
    logger: logging.Logger | None = None,
) -> dict | None:
    """SCALE.md §11's operating rule as a production gate (r14): regime
    (a) -- SIGNATURE SATURATION, median bucket occupancy far above the
    sizing target, the quadratic pair stage -- logs one loud structured
    warning naming the resize suggest_signature_bits would pick. Regime
    (b) -- a DUP MASS, max grows while the median stays flat -- stays
    silent: that is the star cap's territory and capping is the correct
    response (the sf1-sf10 text ladder measured exactly this split).

    Takes the dict lsh_bucket_histogram /
    similarity.embedding_lsh_bucket_histogram return. When the histogram
    carries the sign-LSH keys (n_vectors / bands / bits_per_band) the
    payload names the exact width suggest_signature_bits would pick;
    a MinHash histogram (no such keys -- and no bits knob to name) gets
    the generic regime-(a) remedy in its own terms (widen
    bands/rows_per_band). Returns the warning payload, or None when the
    histogram is in regime.
    """
    median = hist.get("median_bucket") or 0
    if median <= factor * target_median_bucket:
        return None
    payload = {
        "event": "lsh_signature_saturated",
        "median_bucket": int(median),
        "p99_bucket": hist.get("p99_bucket"),
        "max_bucket": hist.get("max_bucket"),
        "n_buckets": hist.get("n_buckets"),
    }
    # The concrete resize suggestion exists only for the sign-LSH path,
    # whose histogram carries n_vectors/bands/bits_per_band (the sizing
    # rule is a function of those). A MinHash histogram (text path,
    # dedup.lsh_candidate_pairs bucket_obs) has neither the keys nor a
    # bits knob -- naming one would send an on-call at the WRONG lever
    # -- so it gets the generic regime-(a) remedy in its own terms.
    if hist.get("n_vectors") is not None:
        from .similarity import suggest_signature_bits

        bands = int(hist.get("bands") or 4)
        n = int(hist["n_vectors"])
        payload.update(
            n_vectors=n,
            bands=bands,
            bits_per_band=hist.get("bits_per_band"),
            suggested_bits_per_band=int(
                suggest_signature_bits(
                    n, bands=bands, target_median_bucket=target_median_bucket
                )
            ),
            remedy=(
                "signature space is saturating for this corpus (median "
                "bucket occupancy grows with n): widen to the suggested "
                "bits_per_band or pass bits_per_band=None to auto-size; a "
                "tighter star cap would DESTROY recall here "
                "(SCALE.md §9/§11)"
            ),
        )
    else:
        payload["remedy"] = (
            "signature space is saturating for this corpus (median bucket "
            "occupancy grows with n): widen bands/rows_per_band on the "
            "MinHash signature; a tighter star cap would DESTROY recall "
            "here (SCALE.md §9/§11)"
        )
    (logger or _log).warning("LSH_SATURATION %s", json.dumps(payload, default=str))
    return payload


class MetricsListener:
    """StreamingQueryListener folding each progress event into counters.

    Every event adds its input rows, observed ``n_samples`` and one batch;
    the dedup stage's dropped-late and evicted counts add up and its state
    rows are kept as the latest gauge. No event is stored, so the listener
    holds the same few integers however long its queries run. Register
    with ``spark.streams.addListener(listener.as_listener())``. Spark's
    listener bus delivers events one at a time, so one thread writes the
    counters; a concurrent ``totals()`` reads each one whole.
    """

    def __init__(self) -> None:
        self.batches = 0
        self._totals = {
            "num_input_rows": 0,
            "n_samples": 0,
            "dedup_dropped_late": 0,
            "dedup_evicted": 0,
            "dedup_state_rows": 0,
        }

    def _on_progress(self, event) -> None:
        p = event.progress
        t = self._totals
        self.batches += 1
        t["num_input_rows"] += p.numInputRows or 0
        for row in (p.observedMetrics or {}).values():
            t["n_samples"] += row.asDict().get("n_samples") or 0
        dedup = [op for op in p.stateOperators or [] if "dedupe" in (op.operatorName or "")]
        if dedup:
            # the dedup_within stage's loss/size counters (consume.py):
            # dropped_late is the ONLY trace a watermark-late sample
            # leaves -- it is neither POSTed nor DLQ'd, so it must be
            # scrapeable (round-10 advice)
            op = dedup[-1]
            t["dedup_dropped_late"] += op.numRowsDroppedByWatermark or 0
            t["dedup_evicted"] += op.numRowsRemoved or 0
            t["dedup_state_rows"] = op.numRowsTotal or 0

    def as_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                outer._on_progress(event)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        return _L()

    def totals(self) -> dict:
        return dict(self._totals)

    def exposition(self) -> str:
        """Prometheus text exposition of the stream-side totals (the
        produce-path halves of the reference's received counter ride the
        query's observed metrics rather than sink callbacks)."""
        t = self.totals()
        families = [
            ("stream_input_rows_total", "Total rows ingested by the streaming query.",
             "counter", t["num_input_rows"]),
            ("stream_observed_samples_total", "Total samples observed by the plan's metrics.",
             "counter", t["n_samples"]),
            ("stream_batches_total", "Micro-batches processed.", "counter", self.batches),
            ("stream_dedup_dropped_late_total",
             "Samples dropped for trailing the global watermark beyond the dedup"
             " horizon (neither POSTed nor DLQ'd; alert on sustained growth if any"
             " tenant backfills).",
             "counter", t["dedup_dropped_late"]),
            ("stream_dedup_evicted_total", "Dedup state rows evicted by watermark advance.",
             "counter", t["dedup_evicted"]),
            ("stream_dedup_state_rows", "Live dedup state rows (bounded by rate x horizon).",
             "gauge", t["dedup_state_rows"]),
        ]
        return render_exposition(
            [(name, help_text, mtype, [("", (), v)]) for name, help_text, mtype, v in families]
        )


@dataclass
class DeliveryMetrics:
    """Per-tenant delivery counters + send-duration histograms (the
    sink-side half of the reference's metric families). The global
    rollups in ``snapshot()`` are summed from the per-tenant data."""

    received: dict = field(default_factory=dict)
    sent: dict = field(default_factory=dict)
    failed: dict = field(default_factory=dict)
    retries_by_tenant: dict = field(default_factory=dict)
    #: per-tenant histograms (the reference keys SentBatchDuration by
    #: (remote, tenant)): {"buckets": per-bucket counts, "sum", "count"}
    tenant_duration: dict = field(default_factory=dict)

    def count_received(self, tenant_id: str, n: int = 1) -> None:
        self.received[tenant_id] = self.received.get(tenant_id, 0) + n

    def count_sent(self, tenant_id: str, n: int = 1) -> None:
        self.sent[tenant_id] = self.sent.get(tenant_id, 0) + n

    def count_failed(self, tenant_id: str, n: int = 1) -> None:
        self.failed[tenant_id] = self.failed.get(tenant_id, 0) + n

    def count_retry(self, tenant_id: str = "") -> None:
        self.retries_by_tenant[tenant_id] = (
            self.retries_by_tenant.get(tenant_id, 0) + 1
        )

    def observe_duration(self, seconds: float, tenant_id: str = "") -> None:
        h = self.tenant_duration.setdefault(
            tenant_id,
            {"buckets": [0] * (len(DURATION_BUCKETS) + 1), "sum": 0.0, "count": 0},
        )
        h["sum"] += seconds
        h["count"] += 1
        bucket = next(
            (i for i, bound in enumerate(DURATION_BUCKETS) if seconds <= bound),
            len(DURATION_BUCKETS),
        )
        h["buckets"][bucket] += 1

    def exposition(self, remote: str = "remote") -> str:
        """Prometheus text exposition (format 0.0.4) of the reference's
        five metric families (pkg/metrics/metrics.go:20-59):
        received_samples_total{tenant}, sent_samples_total{remote,tenant},
        failed_samples_total{remote,tenant},
        retryable_failed_writes{remote,tenant},
        sent_batch_duration_seconds{remote,tenant} -- names, HELP strings
        and label keys byte-compatible with the reference's registry, so a
        Prometheus scraping this endpoint sees the same series."""

        def per_tenant(counts: dict) -> list:
            return [
                ("", (("remote", remote), ("tenant", t)), counts[t]) for t in sorted(counts)
            ]

        histograms = []
        for t in sorted(self.tenant_duration):
            h = self.tenant_duration[t]
            histograms += histogram_samples(
                (("remote", remote), ("tenant", t)), h["buckets"], h["sum"], h["count"]
            )
        return render_exposition(
            [
                ("received_samples_total", "Total number of received samples.", "counter",
                 [("", (("tenant", t),), self.received[t]) for t in sorted(self.received)]),
                ("sent_samples_total",
                 "Total number of processed samples sent to remote storage.",
                 "counter", per_tenant(self.sent)),
                ("failed_samples_total",
                 "Total number of processed samples which failed on send to remote storage.",
                 "counter", per_tenant(self.failed)),
                ("retryable_failed_writes",
                 "Number of retryable failures when sending to remote storage",
                 "counter", per_tenant(self.retries_by_tenant)),
                ("sent_batch_duration_seconds",
                 "Duration of sample batch send calls to the remote storage.",
                 "histogram", histograms),
            ]
        )

    def snapshot(self) -> dict:
        hists = list(self.tenant_duration.values())
        return {
            "received": dict(self.received),
            "sent": dict(self.sent),
            "failed": dict(self.failed),
            "retries": sum(self.retries_by_tenant.values()),
            "send_duration": {
                "buckets": [
                    sum(h["buckets"][i] for h in hists)
                    for i in range(len(DURATION_BUCKETS) + 1)
                ],
                "sum": sum(h["sum"] for h in hists),
                "count": sum(h["count"] for h in hists),
            },
        }


# --- the text exposition format -----------------------------------------------


def escape_label_value(value: str) -> str:
    """A label value as the text format quotes it: ``\\``, ``"`` and
    newline escaped."""
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def histogram_samples(labels: tuple, buckets: list, total: float, count: int) -> list:
    """One histogram series' samples for :func:`render_exposition`: a
    cumulative ``_bucket`` per ``DURATION_BUCKETS`` bound and ``+Inf``,
    then ``_sum`` and ``_count``. ``buckets`` holds per-bucket counts."""
    out, cum = [], 0
    for i, n in enumerate(buckets):
        cum += n
        # Go's prometheus client renders integer-valued bounds without a
        # trailing ".0" (le="1", le="5"); Python repr would emit le="1.0"
        # and change the series identity. %g matches Go for every bound in
        # DURATION_BUCKETS.
        le = "%g" % DURATION_BUCKETS[i] if i < len(DURATION_BUCKETS) else "+Inf"
        out.append(("_bucket", (*labels, ("le", le)), cum))
    return out + [("_sum", labels, total), ("_count", labels, count)]


def render_exposition(families: list) -> str:
    """Prometheus text exposition (format 0.0.4) of ``families``, each a
    ``(name, help, type, samples)`` tuple. A sample is ``(suffix, labels,
    value)``: the sample name is ``name + suffix`` and ``labels`` is a
    sequence of ``(key, value)`` pairs written in order."""
    out = []
    for name, help_text, mtype, samples in families:
        out.append(f"# HELP {name} {help_text}")
        out.append(f"# TYPE {name} {mtype}")
        for suffix, labels, value in samples:
            pairs = ",".join(f'{k}="{escape_label_value(v)}"' for k, v in labels)
            series = f"{name}{suffix}{{{pairs}}}" if labels else f"{name}{suffix}"
            out.append(f"{series} {value}")
    return "\n".join(out) + "\n"


# --- promlint-style exposition checks ----------------------------------------

_METRIC_NAME_RE = re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")
_LABEL_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")
_LABEL_PAIR_RE = re.compile(r'([a-zA-Z_][a-zA-Z0-9_]*)="((?:[^"\\]|\\.)*)"')
_SAMPLE_RE = re.compile(r"^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\{(.*)\})?\s+(\S+)$")


def parse_exposition(text: str) -> dict:
    """Parse text exposition into {family: {"type": ..., "help": ...,
    "samples": [(name, {label: value}, value_str)]}}. Strict enough for
    the lint below; not a full openmetrics parser."""
    families: dict = {}
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.startswith("# HELP "):
            _, _, rest = line.partition("# HELP ")
            name, _, help_text = rest.partition(" ")
            families.setdefault(name, {"samples": []})["help"] = help_text
        elif line.startswith("# TYPE "):
            _, _, rest = line.partition("# TYPE ")
            name, _, mtype = rest.partition(" ")
            families.setdefault(name, {"samples": []})["type"] = mtype
        elif line.startswith("#"):
            continue
        else:
            m = _SAMPLE_RE.match(line)
            if not m:
                raise ValueError(f"unparsable sample line: {line!r}")
            name, labels_raw, value = m.groups()
            labels = {}
            if labels_raw:
                for part in _LABEL_PAIR_RE.findall(labels_raw):
                    labels[part[0]] = part[1]
            base = name
            for suffix in ("_bucket", "_sum", "_count"):
                if name.endswith(suffix) and name[: -len(suffix)] in families:
                    base = name[: -len(suffix)]
                    break
            families.setdefault(base, {"samples": []})["samples"].append(
                (name, labels, value)
            )
    return families


def lint_exposition(text: str, names: list | None = None) -> list:
    """promlint-style checks (the reference gates its integration test on
    testutil.GatherAndLint, consume_integration_test.go:235-253): metric
    and label name charset, counters suffixed ``_total``, histograms
    carrying a base unit (``_seconds``) plus +Inf bucket / _sum / _count,
    every family typed and helped. Returns a list of problem strings
    (empty = lint-clean). ``names`` restricts the check the way
    GatherAndLint's variadic names do."""
    problems = []
    families = parse_exposition(text)
    for name, fam in families.items():
        if names is not None and name not in names:
            continue
        mtype = fam.get("type")
        if not _METRIC_NAME_RE.match(name):
            problems.append(f"{name}: invalid metric name")
        if mtype is None:
            problems.append(f"{name}: no TYPE declared")
            continue
        if not fam.get("help"):
            problems.append(f"{name}: no HELP string")
        if mtype == "counter" and not name.endswith("_total"):
            problems.append(f"{name}: counter metrics should have \"_total\" suffix")
        if mtype == "histogram" and not any(
            name.endswith(u) for u in ("_seconds", "_bytes", "_ratio", "_total")
        ):
            problems.append(f"{name}: histogram should have a base-unit suffix")
        for sample_name, labels, _ in fam["samples"]:
            for label in labels:
                if not _LABEL_NAME_RE.match(label):
                    problems.append(f"{name}: invalid label name {label!r}")
                if label.startswith("__"):
                    problems.append(f"{name}: reserved label {label!r}")
        if mtype == "histogram" and fam["samples"]:
            by_series: dict = {}
            for sample_name, labels, _ in fam["samples"]:
                key = tuple(
                    sorted((k, v) for k, v in labels.items() if k != "le")
                )
                by_series.setdefault(key, set()).add(
                    (sample_name, labels.get("le"))
                )
            for key, parts in by_series.items():
                names_seen = {n for n, _ in parts}
                if f"{name}_sum" not in names_seen:
                    problems.append(f"{name}: series {key} missing _sum")
                if f"{name}_count" not in names_seen:
                    problems.append(f"{name}: series {key} missing _count")
                if (f"{name}_bucket", "+Inf") not in parts:
                    problems.append(f"{name}: series {key} missing +Inf bucket")
    return problems
