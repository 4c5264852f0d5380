"""Physical-plan shape assertions: the 100 TB story, checked in CI.

Catalyst must pick the plans the engine is designed around -- broadcast
joins for dimension tables, pushed-down filters and pruned columns at the
parquet scan, TakeOrderedAndProject for top-k, partial+final hash
aggregation. A regression here is a silent 100x at scale even when results
stay correct (SURVEY.md §4).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.plans import relational
from prometheus_pulsar_remote_write_spark.schema import load_tables
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_dimension_joins_broadcast(spark):
    """q3/q5/q10: every dimension join must be a broadcast hash join --
    no shuffle of the fact side against small dims."""
    for q in (relational.q3_shipping_priority, relational.q5_local_supplier_volume,
              relational.q10_returned_items):
        plan = _plan(q(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, f"{q.__name__} lost its broadcast join"


def test_semi_anti_join_strategies(spark):
    semi = _plan(relational.semi_join_high_quantity(spark, SF_SMOKE))
    assert "LeftSemi" in semi
    anti = _plan(relational.anti_join_customers_no_orders(spark, SF_SMOKE))
    assert "LeftAnti" in anti


def test_filter_pushdown_reaches_parquet(spark):
    """q1's shipdate filter must reach the scan as a pushed filter, and the
    scan must prune to the query's columns (no full-width read)."""
    plan = _formatted(relational.q1_pricing_summary(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # ReadSchema must NOT include unused wide columns like l_comment
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_comment" not in read_schema[0]
    assert "l_quantity" in read_schema[0]


def test_topk_is_take_ordered(spark):
    """orderBy+limit compiles to TakeOrderedAndProject, not a global sort."""
    plan = _plan(relational.top_parts_by_retailprice(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort stage


def test_aggregation_is_partial_then_final(spark):
    """q1 must plan a two-phase hash aggregation (map-side partial combine)."""
    plan = _plan(relational.q1_pricing_summary(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


@pytest.mark.slow
def test_no_cartesian_products_in_catalog(spark):
    """No catalog query may degenerate into a cartesian product."""
    from prometheus_pulsar_remote_write_spark.plans import catalog

    for name, fn in catalog.QUERIES.items():
        if name in ("emb_cosine_topk", "emb_ivf_topk"):
            # query x corpus scoring is an intentional broadcast nested loop
            continue
        plan = _plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_produce_edge_is_one_python_exec(spark, tmp_path):
    """The produce edge decodes, keys and serializes each body in one
    mapInPandas: one Python exec, so one Python worker per task."""
    from prometheus_pulsar_remote_write_spark.sources import prompb
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        produce_transform,
    )

    body = tmp_path / "tenant-a" / "r.bin"
    body.parent.mkdir()
    body.write_bytes(
        prompb.encode_body(
            [
                {
                    "labels": [{"name": "__name__", "value": "up"}],
                    "samples": [{"value": 1.0, "timestamp": 1000}],
                }
            ]
        )
    )
    messages = produce_transform(
        spark.read.format("binaryFile").load(str(tmp_path / "*" / "*.bin"))
    )
    assert messages.count() == 1
    plan = _plan(messages)
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_consume_delivery_is_one_grouped_pass(spark, tmp_path):
    """The frame run_consume_pipeline hands its sink is delivered in one
    Spark action: one exchange on the payload's tenant into one grouped
    pandas pass that parses, batches, encodes and POSTs. No upstream
    Python exec (MapInPandas, BatchEvalPython), no window, no
    collect_list re-nest and no cached relation."""
    import re

    from prometheus_pulsar_remote_write_spark.functions.serializers import (
        marshal_json,
    )
    from prometheus_pulsar_remote_write_spark.streaming.consume import (
        RemoteWriteSink,
        run_consume_pipeline,
    )

    lines = [
        {"payload": marshal_json(1000 + i, 1.0, {"__name__": "up"}, t), "tenant_id": t}
        for i in range(5)
        for t in ("a", "b")
    ] + [{"payload": "not json", "tenant_id": "a"}]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "m.json").write_text("\n".join(json.dumps(x) for x in lines))

    store = spark._jsparkSession.sharedState().statusStore()
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()
    real = RemoteWriteSink(
        url="http://sink", dlq_dir=str(tmp_path / "dlq"), post_fn=lambda u, b, h: 200
    )
    plans = []

    def sink(*args):
        listener_bus.waitUntilEmpty()
        before = store.executionsList().size()
        real(*args)
        listener_bus.waitUntilEmpty()
        executions = store.executionsList()
        plans.extend(
            executions.apply(i).physicalPlanDescription()
            for i in range(before, executions.size())
        )

    q = run_consume_pipeline(spark, str(in_dir), sink, str(tmp_path / "poison"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert real.sent == {"a": 5, "b": 5}
    # the micro-batch plan up to the sink: foreachBatch hands the sink a
    # scan over it, so its Python execs do not show in the action's plan
    upstream = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    for absent in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert absent not in upstream, upstream
    assert len(plans) == 1  # one action
    (described,) = plans
    # the adaptive plan tree as run ("Final", or "Current" until the
    # final-plan event lands), without its initial plan or node details
    final = re.split(r"== (?:Final|Current) Plan ==", described)[1]
    final = final.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: [^\n]*\nArguments: "
        r"hashpartitioning\(tenant_id#",
        described,
    ), described
    assert final.count("FlatMapGroupsInPandas") == 1, final
    for absent in ("MapInPandas", "BatchEvalPython", "Window", "Aggregate", "InMemory"):
        assert absent not in final, final


def test_new_tpch_shapes_plan_strategies(spark):
    """Round-2 TPC-H shapes pick the intended physical strategies."""
    # q16: NOT-IN exclusion must be a broadcast anti join, and the distinct
    # aggregation must be multi-phase (partial distinct map-side)
    plan16 = _plan(relational.q16_supplier_count_by_part(spark, SF_SMOKE))
    assert "LeftAnti" in plan16 and "Broadcast" in plan16
    assert plan16.count("HashAggregate") >= 2
    # q21: the lineitem self-join is fact-to-fact -- sort-merge (or a
    # broadcast chosen by AQE at this tiny SF), but never a nested loop
    plan21 = _plan(relational.q21_waiting_suppliers(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan21
    assert "LeftSemi" in plan21 and "LeftAnti" in plan21
    # q2: min-per-part subquery joined back with every dim broadcast
    plan2 = _plan(relational.q2_min_cost_supplier(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan2
    # q12: two-phase conditional aggregation after an equi join
    plan12 = _plan(relational.q12_late_shipment_priority(spark, SF_SMOKE))
    assert plan12.count("HashAggregate") >= 2


def test_offset_window_single_shuffle(spark):
    """window_lead_lag_ntile: all window functions share ONE partition key,
    so the plan must contain exactly one exchange (plus AQE reads)."""
    plan = _plan(relational.window_lead_lag_ntile(spark, SF_SMOKE))
    import re

    exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert exchanges == 1, f"expected 1 shuffle, saw {exchanges}"


def test_whole_stage_codegen_on_hot_path(spark):
    """The q1 aggregation pipeline stays inside whole-stage codegen.

    AQE defers physical finalization, so the codegen wrappers only show in
    the explain output with adaptive planning off; runtime behavior is the
    same (AQE re-plans stage boundaries, not operator codegen)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _formatted(relational.q1_pricing_summary(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "[codegen id : 1]" in plan
    # filter, project and partial agg fused into the SAME codegen stage
    for op in ("Filter", "Project", "HashAggregate"):
        assert f"{op} [codegen id : 1]" in plan, f"{op} fell out of stage-1 codegen"


def test_curation_pipeline_broadcasts_drop_set(spark):
    """The near-dup drop set is tiny: its anti join must broadcast, and the
    quality filter must evaluate without a shuffle before the dedup window."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        docs_curation_pipeline,
    )

    plan = _plan(docs_curation_pipeline(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_kmeans_broadcasts_centroids(spark):
    """Every k-means iteration joins the corpus against k centroids --
    that side must broadcast (the loop never shuffles the corpus)."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        emb_kmeans_assign,
    )

    plan = _plan(emb_kmeans_assign(spark, SF_SMOKE))
    # both assignment passes: corpus x centroids with BuildRight broadcast
    assert plan.count("BroadcastNestedLoopJoin BuildRight") >= 2
    # the only shuffles are the per-vector windows and the k-sized groupBy;
    # the corpus must never be exchanged for a centroid join
    assert "ShuffledHashJoin" not in plan


def test_tfidf_prunes_documents_scan(spark):
    """TF-IDF reads only doc_id + text from documents -- the scan must not
    drag the full row width through the explode."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        docs_tfidf_topterms,
    )

    plan = _formatted(docs_tfidf_topterms(spark, SF_SMOKE))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema
    assert all("source" not in l and "n_chars" not in l for l in read_schema)


def test_hll_sketch_plan_is_two_hash_aggs(spark):
    """The HLL sketch must compile to partial+final hash aggregation with
    NO window functions and no Python stages -- registers are the only
    thing shuffled, and all hashing stays in codegen."""
    from prometheus_pulsar_remote_write_spark.operators.sketch import hll_distinct
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = load_tables(spark, SF_SMOKE, ["events"])["events"]
    plan = _plan(hll_distinct(ev, ["event_type"], "user_id"))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_zorder_key_is_shuffle_free(spark):
    """The Morton key is a pure expression: no exchange before the final
    range rollup's own aggregation shuffle."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_zorder_key,
    )

    plan = _plan(events_zorder_key(spark, SF_SMOKE))
    # exactly the aggregation's partial->final exchange, nothing else
    assert plan.count("Exchange") <= 1
    assert "Python" not in plan


def test_mixture_sample_filter_is_scan_side(spark):
    """The mixture predicate is a deterministic hash filter evaluated
    before any exchange -- only the per-source rollup shuffles."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        docs_mixture_sample,
    )

    plan = _plan(docs_mixture_sample(spark, SF_SMOKE))
    assert plan.count("Exchange") <= 1


def test_anomaly_broadcasts_stats_back(spark):
    """The z-score report must broadcast the per-user stats relation back
    onto the event stream for the outlier pass -- never shuffle events a
    second time for the join."""
    from prometheus_pulsar_remote_write_spark.plans.events_batch import (
        events_anomaly_zscore,
    )

    plan = _plan(events_anomaly_zscore(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_filter_no_false_negatives_and_broadcast(spark):
    """Every inserted key must pass its own bloom (no false negatives,
    by construction), and the probe plan joins the bloom via broadcast."""
    from prometheus_pulsar_remote_write_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    keys = spark.range(0, 500).withColumnRenamed("id", "k")
    bloom = build_bloom(keys, "k")
    probe = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = bloom_might_contain(probe, "k", bloom)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    rows = {r["k"]: r["bloom_pass"] for r in out.collect()}
    assert all(rows[i] for i in range(500)), "false negative detected"
    # with m=65536 and 500 keys the filter is sparse: most non-keys fail
    assert sum(1 for i in range(500, 2000) if rows[i]) < 50


def test_round5_zero_shuffle_claims(spark):
    """The SCALE.md zero-shuffle claims, pinned: integer JL projection and
    label_replace/label_join compile to exchange-free plans."""
    from prometheus_pulsar_remote_write_spark.plans.docs_vectors import (
        emb_rp_projection,
    )
    from prometheus_pulsar_remote_write_spark.plans.pipeline import (
        consume_label_replace_join,
    )

    sf = SF_SMOKE
    for fn in (emb_rp_projection, consume_label_replace_join):
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{fn.__name__} grew a shuffle:\n{plan[:500]}"


def test_wire_serializers_compile_shuffle_and_python_free(spark):
    """The SCALE.md claim 'serializers are pure codegen — zero shuffle,
    zero Python' pinned: all three C1/C2/C3 wire payload queries compile
    without Exchange and without any Python/Arrow eval stage."""
    from prometheus_pulsar_remote_write_spark.plans import pipeline as P

    for fn in (
        P.produce_serialize_json,
        P.produce_serialize_compat,
        P.produce_serialize_avro,
    ):
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{fn.__name__} grew a shuffle"
        for marker in ("PythonUDF", "MapInPandas", "ArrowEval", "BatchEvalPython"):
            assert marker not in plan, f"{fn.__name__} fell off the codegen tier"


def test_aqe_splits_skewed_join(spark):
    """Scale evidence for the skew story: with AQE skew-join enabled and
    thresholds sized to the fixture, a join against a pathologically
    hot key (99% of rows on one key) executes with skew-split partitions
    -- the runtime re-plan a 1000-executor job relies on when salting
    wasn't applied up front. Asserted from the POST-EXECUTION adaptive
    plan (isSkew only materializes at runtime)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force a shuffle join: broadcast would hide the skew handling
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(0, 2_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        # global agg downstream (not keyed on k): a keyed agg would need
        # hash-partitioning on k and AQE declines to split skew when the
        # split would force an extra shuffle
        joined = left.join(right, "k").agg(F.sum(F.length("pad")).alias("s"))
        # collect() executes through the Dataset's own QueryExecution, so
        # the AdaptiveSparkPlan below reflects the runtime re-plan
        # (a noop write would run a separate execution)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed partition:\n{plan[:2000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_rank_family_has_no_single_partition_window(spark):
    """The former global-ntile family (RFM quintiles, Pareto running
    sum, perplexity quartiles, vocab-growth cumsum) must never plan an
    unpartitioned window: every Window node must carry a partition spec
    and no stage may collapse to Exchange SinglePartition (the
    "Moving all data to a single partition" scale-killer). The
    distributed two-phase ranking (operators/ranking.py) replaces it
    with a range exchange + partitioned window + broadcast offsets."""
    import re

    from prometheus_pulsar_remote_write_spark.plans import docs_vectors

    cases = {
        "customer_rfm_segments": relational.customer_rfm_segments,
        "customer_pareto_curve": relational.customer_pareto_curve,
        "docs_perplexity_sample": docs_vectors.docs_perplexity_sample,
        "docs_vocab_growth": docs_vectors.docs_vocab_growth,
    }
    for name, fn in cases.items():
        plan = _plan(fn(spark, SF_SMOKE))
        assert "SinglePartition" not in plan, (
            f"{name}: plan funnels through a single partition:\n{plan[:2000]}"
        )
        # every Window operator must have a partitionBy spec: an
        # unpartitioned window prints as `Window [ ... ], [ordercols]`
        # (two bracket groups) vs `Window [...], [partcols], [ordercols]`
        for line in plan.splitlines():
            stripped = line.strip(" :+-*")
            if stripped.startswith("Window ") or stripped.startswith("RunningWindowFunction"):
                groups = re.findall(r"\[", stripped)
                assert len(groups) >= 3, (
                    f"{name}: unpartitioned window in plan line: {stripped[:200]}"
                )
