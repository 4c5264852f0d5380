"""Lake-layout assertions: partition pruning and shuffle-free bucketed joins.

These are the two physical properties the 100 TB design leans on
(SCALE.md §5); both are checked against actual plans, not just claimed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.operators.lake import (
    read_samples_lake,
    with_lake_columns,
    write_bucketed_table,
    write_samples_lake,
)
from prometheus_pulsar_remote_write_spark.plans.pipeline import samples_from_events
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lake_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "samples")
    write_samples_lake(samples_from_events(spark, SF_SMOKE), path)
    return path


def test_lake_roundtrip_preserves_samples(spark, lake_path):
    src = samples_from_events(spark, SF_SMOKE)
    back = read_samples_lake(spark, lake_path)
    assert back.count() == src.count()
    # lake columns present; tenant_id survives as a partition column
    assert {"day", "series_key", "tenant_id"} <= set(back.columns)
    src_sum = src.agg(F.sum("value")).collect()[0][0]
    back_sum = back.agg(F.sum("value")).collect()[0][0]
    assert abs(src_sum - back_sum) < 1e-6


def test_tenant_day_predicates_prune_partitions(spark, lake_path):
    q = read_samples_lake(spark, lake_path).filter(
        (F.col("tenant_id") == "3") & (F.col("day") == "2024-01-01")
    )
    plan = _plan(q)
    assert "PartitionFilters" in plan
    # the predicate must be IN the partition filters (directory skip),
    # not a post-scan Filter over the data columns
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "tenant_id" in pf and "day" in pf
    assert "DataFilters: []" in plan  # nothing left to evaluate post-scan
    # and the pruned read returns exactly the source rows for that slice
    src = with_lake_columns(samples_from_events(spark, SF_SMOKE)).filter(
        (F.col("tenant_id") == "3") & (F.col("day") == "2024-01-01")
    )
    assert q.count() == src.count() > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on series_key with equal bucket counts must
    join with zero Exchange operators -- the co-located join the FNV/
    colocation key exists for."""
    samples = with_lake_columns(samples_from_events(spark, SF_SMOKE))
    facts = samples.select("series_key", "timestamp", "value")
    meta = (
        samples.groupBy("series_key")
        .agg(F.min("timestamp").alias("first_seen"))
    )
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("lake_facts", "lake_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed_table(facts, "lake_facts", "series_key", 8, sort_col="timestamp")
    write_bucketed_table(meta, "lake_meta", "series_key", 8)
    # at test scale AQE would broadcast the tiny side (also shuffle-free,
    # but not the property under test); disable it so the plan Spark picks
    # is the one a 100 TB-sized pair of tables would get
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        joined = spark.table("lake_facts").join(spark.table("lake_meta"), "series_key")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # sanity: the join actually produces every fact row
        assert joined.count() == facts.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_lake_sink_exactly_once(spark, tmp_path):
    """Wire bodies -> decode -> flatten -> lake, as a stream. The parquet
    file sink's transaction log must make the landing exactly-once: a
    second run over the same checkpoint adds nothing."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        stream_samples_to_lake,
    )
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        flat_sample_stream,
        read_request_stream,
    )
    from tests.test_streaming import _write_body

    drop = tmp_path / "drop"
    n = _write_body(
        str(drop / "tenant-a" / "req1.bin"),
        [
            ({"__name__": "up", "job": "api"}, [(1.0, 1000), (0.0, 2000)]),
            ({"__name__": "cpu", "core": "0"}, [(0.5, 1500)]),
        ],
    )
    n += _write_body(
        str(drop / "tenant-b" / "req2.bin"),
        [({"__name__": "mem", "host": "h1"}, [(42.0, 3000)])],
    )
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = stream_samples_to_lake(
            flat_sample_stream(read_request_stream(spark, str(drop))), lake, ckpt
        )
        q.awaitTermination(120)

    run_once()
    back = spark.read.parquet(lake)
    assert back.count() == n == 4
    assert {r.tenant_id for r in back.select("tenant_id").distinct().collect()} == {
        "tenant-a",
        "tenant-b",
    }
    # ms timestamps 1000..3000 are all 1970-01-01: one day partition/tenant
    assert {str(r.day) for r in back.select("day").distinct().collect()} == {
        "1970-01-01"
    }
    # replay over the same checkpoint: nothing new lands
    run_once()
    assert spark.read.parquet(lake).count() == n


def test_streaming_lake_sink_keeps_nan_samples(spark, tmp_path):
    """Prometheus marks a stale series with a NaN sample; it lands in the
    lake as NaN, not as a null or a failed task. (A Parquet round trip
    may canonicalize the NaN payload bits, so only isnan is asserted.)"""
    import math
    import struct

    from prometheus_pulsar_remote_write_spark.operators.lake import (
        stream_samples_to_lake,
    )
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        flat_sample_stream,
        read_request_stream,
    )
    from tests.test_streaming import _write_body

    drop = tmp_path / "drop"
    stale = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]
    _write_body(
        str(drop / "tenant-a" / "req1.bin"),
        [({"__name__": "up", "job": "api"}, [(1.0, 1000), (stale, 2000)])],
    )
    lake = str(tmp_path / "lake")
    q = stream_samples_to_lake(
        flat_sample_stream(read_request_stream(spark, str(drop))),
        lake,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {r.timestamp: r.value for r in spark.read.parquet(lake).collect()}
    assert got.keys() == {1000, 2000}
    assert got[1000] == 1.0
    assert math.isnan(got[2000])


def test_compaction_sorts_and_preserves_rows(spark, tmp_path):
    """Compacting a streamed (tenant, day) partition must keep every row
    and leave files internally sorted by (series_key, timestamp)."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        compact_lake_partition,
        stream_samples_to_lake,
    )
    from prometheus_pulsar_remote_write_spark.streaming.produce import (
        flat_sample_stream,
        read_request_stream,
    )
    from tests.test_streaming import _write_body

    drop = tmp_path / "drop"
    n = 0
    for i in range(3):  # several requests -> several small files
        n += _write_body(
            str(drop / "tenant-a" / f"req{i}.bin"),
            [
                ({"__name__": "up", "job": f"j{i}"}, [(1.0, 1000 + i), (2.0, 5000 + i)]),
                ({"__name__": "cpu", "core": str(i)}, [(0.5, 3000 + i)]),
            ],
        )
    lake = str(tmp_path / "lake")
    q = stream_samples_to_lake(
        flat_sample_stream(read_request_stream(spark, str(drop), max_files_per_trigger=1)),
        lake,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    part = f"{lake}/tenant_id=tenant-a/day=1970-01-01"
    import glob

    before = spark.read.parquet(part).collect()
    assert len(glob.glob(f"{part}/*.parquet")) > 1  # streamed as small files

    compact_lake_partition(spark, lake, "tenant-a", "1970-01-01", n_files=1)

    files = glob.glob(f"{part}/*.parquet")
    assert len(files) == 1
    after = spark.read.parquet(part)
    assert after.count() == len(before) == n
    # file-internal order: reading the single file back preserves row order
    rows = spark.read.parquet(files[0]).collect()
    keys = [(r.series_key, r.timestamp) for r in rows]
    assert keys == sorted(keys)
    # the whole lake still reads consistently after the metadata-log drop
    assert spark.read.parquet(lake).count() == n


def test_zorder_layout_skips_files_on_both_dims(spark, tmp_path):
    """write_zordered must give every file a tight (user, hour) bounding
    box: a narrow predicate on EITHER dimension overlaps a strict subset
    of files (parquet min-max stats then skip the rest). The baseline
    time-ordered layout spans all users in every file, so the user-range
    predicate can never skip there."""
    import glob

    import pyarrow.parquet as pq

    from prometheus_pulsar_remote_write_spark.operators.lake import write_zordered
    from prometheus_pulsar_remote_write_spark.schema import load_tables

    ev = load_tables(spark, SF_SMOKE, ["events"])["events"].select(
        "event_id",
        "user_id",
        (F.unix_timestamp("ts") / 3600).cast("bigint").alias("hour_b"),
    )
    # 16 files, not 8: with 8 the narrow-user-range hit count sits
    # EXACTLY at the len//2 bound on the driver corpus and flips to
    # len//2+1 on statistically identical fixture instances (file
    # boundaries are z-range quantiles, so a file straddling a quadrant
    # boundary is instance luck). Finer files keep the claim -- most
    # files skippable on either dim -- while testing it off the knife
    # edge.
    n_files = 16
    zdir, tdir = str(tmp_path / "zorder"), str(tmp_path / "timeorder")
    write_zordered(ev, zdir, "user_id", "hour_b", n_files=n_files)
    (
        ev.repartitionByRange(n_files, "hour_b")
        .sortWithinPartitions("hour_b")
        .write.mode("overwrite")
        .parquet(tdir)
    )

    def bounding_boxes(d):
        boxes = []
        for f in glob.glob(f"{d}/*.parquet"):
            t = pq.read_table(f, columns=["user_id", "hour_b"])
            u, h = t.column("user_id").to_pylist(), t.column("hour_b").to_pylist()
            if u:
                boxes.append((min(u), max(u), min(h), max(h)))
        return boxes

    zb, tb = bounding_boxes(zdir), bounding_boxes(tdir)
    assert len(zb) >= n_files // 2 and len(tb) >= n_files // 2

    lo, hi = 0, 3  # narrow user range
    z_hit = sum(1 for (ulo, uhi, _, _) in zb if not (uhi < lo or ulo > hi))
    t_hit = sum(1 for (ulo, uhi, _, _) in tb if not (uhi < lo or ulo > hi))
    assert t_hit == len(tb)  # time layout: every file spans all users
    assert z_hit <= len(zb) // 2  # z layout: most files skippable

    # rows survive the relayout intact
    assert spark.read.parquet(zdir).count() == ev.count()


@pytest.mark.slow
def test_continuous_aggregate_mv_converges_to_batch(spark, tmp_path):
    """Incremental MV maintenance: streaming the 5m-rate aggregate through
    foreachBatch dynamic-partition merges yields a parquet MV equal to
    the batch rate query -- and replaying the stream from scratch over
    the same MV path converges to the identical state (idempotent
    upsert)."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        stream_continuous_aggregate,
    )
    from prometheus_pulsar_remote_write_spark.plans.pipeline import consume_rate_5m
    from prometheus_pulsar_remote_write_spark.streaming import windows

    mv = str(tmp_path / "mv")

    def run(ckpt):
        ev = windows.read_events_stream(spark, SF_SMOKE)
        q = stream_continuous_aggregate(
            windows.sample_rate_5m(ev),
            mv,
            ckpt,
            key_cols=["window_start"],
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))

    def snapshot():
        return {
            (r["window_start"], r["tenant_id"], r["name"]): (
                r["n"], r["first_val"], r["last_val"], r["increase"], r["rate_per_s"]
            )
            for r in spark.read.parquet(mv).collect()
        }

    first = snapshot()
    batch = {
        (r["window_start"], r["tenant_id"], r["name"]): (
            r["n"], r["first_val"], r["last_val"], r["increase"], r["rate_per_s"]
        )
        for r in consume_rate_5m(spark, SF_SMOKE).collect()
    }
    assert first == batch and first

    # full replay with a fresh checkpoint = the poison case for an MV
    # merge; dynamic partition overwrite must be idempotent
    run(str(tmp_path / "ckpt2"))
    assert snapshot() == batch


def test_promql_rate_over_lake_prunes_to_tenant(spark, tmp_path):
    """The PromQL layer runs directly over the landed lake: a per-tenant
    5m rate evaluated on the (tenant_id, day)-partitioned lake prunes to
    that tenant's directories at scan level and matches the same
    computation on the unpartitioned sample stream."""
    samples = samples_from_events(spark, SF_SMOKE)
    path = str(tmp_path / "lake")
    write_samples_lake(samples, path)

    lake = spark.read.parquet(path).filter(F.col("tenant_id") == "3")
    plan = lake._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(tenant_id" in plan

    def rate(df):
        s = df.select(
            F.expr("(timestamp div 300000) * 300").alias("window_start"),
            F.col("labels").getItem("__name__").alias("name"),
            "timestamp",
            "value",
        )
        return {
            (r["window_start"], r["name"]): (r["n"], r["first_val"], r["last_val"])
            for r in s.groupBy("window_start", "name")
            .agg(
                F.count("*").alias("n"),
                F.min(F.struct("timestamp", "value")).alias("f"),
                F.max(F.struct("timestamp", "value")).alias("l"),
            )
            .select(
                "window_start",
                "name",
                "n",
                F.col("f.value").alias("first_val"),
                F.col("l.value").alias("last_val"),
            )
            .collect()
        }

    got = rate(lake)
    want = rate(samples.filter(F.col("tenant_id") == "3"))
    assert got == want and got


def test_continuous_aggregate_merges_across_batches(spark, tmp_path):
    """The MV upsert is keyed on the FULL group key, not the partition
    column: two groups sharing a partition value (grp) but arriving in
    different micro-batches must BOTH survive in the MV. A blind
    dynamic-partition overwrite would let batch 2's (g1, b) erase batch
    1's (g1, a)."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        stream_continuous_aggregate,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "a", 2.0)], "grp string, k string, v double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    # second file lands after the first; maxFilesPerTrigger=1 forces the
    # two files into separate micro-batches
    spark.createDataFrame(
        [("g1", "b", 5.0), ("g2", "a", 7.0)], "grp string, k string, v double"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("grp string, k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("grp", "k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    mv = str(tmp_path / "mv")
    q = stream_continuous_aggregate(
        stream, mv, str(tmp_path / "ckpt"), key_cols=["grp", "k"]
    )
    q.awaitTermination(120)

    got = {
        (r["grp"], r["k"]): (r["n"], r["s"])
        for r in spark.read.parquet(mv).collect()
    }
    assert got == {("g1", "a"): (2, 3.0), ("g1", "b"): (1, 5.0), ("g2", "a"): (1, 7.0)}


def test_compaction_plan_invariants_and_execution(spark, tmp_path):
    """The FFD compaction plan covers every file exactly once, never
    builds a multi-file group over the byte target, is deterministic,
    and the partitions it flags compact down to the planned group count
    with rows preserved."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        compact_lake_partition,
        compaction_plan,
    )

    path = str(tmp_path / "lake")
    samples = samples_from_events(spark, SF_SMOKE)
    # many small files per partition: repartition before the partitioned write
    (
        with_lake_columns(samples)
        .repartition(8)
        .write.partitionBy("tenant_id", "day")
        .mode("overwrite")
        .parquet(path)
    )

    import os

    target = 256 * 1024
    plan = compaction_plan(path, target_bytes=target, min_files=2)
    assert plan and plan == compaction_plan(path, target_bytes=target, min_files=2)

    by_part = {}
    for p in plan:
        by_part.setdefault((p["tenant_id"], p["day"]), []).append(p)
    for (tenant, day), groups in by_part.items():
        part_dir = os.path.join(path, f"tenant_id={tenant}", f"day={day}")
        on_disk = sorted(
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        planned = sorted(f for g in groups for f in g["files"])
        assert planned == on_disk  # full cover, no dup
        for g in groups:
            assert g["n_files"] == 1 or g["group_bytes"] <= target

    # execute on one flagged partition: file count drops to the planned
    # group count, rows survive
    (tenant, day), groups = max(
        by_part.items(), key=lambda kv: sum(g["n_files"] for g in kv[1])
    )
    part_dir = os.path.join(path, f"tenant_id={tenant}", f"day={day}")
    before_rows = spark.read.parquet(part_dir).count()
    compact_lake_partition(spark, path, tenant, str(day), n_files=len(groups))
    files_after = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files_after) == len(groups)
    assert spark.read.parquet(part_dir).count() == before_rows


def test_equality_deletes_merge_on_read_and_compaction(spark, tmp_path):
    """Row-level deletes, Iceberg-style: (1) writing equality-delete
    files leaves data files untouched but the merged read hides the
    rows; (2) apply_deletes rewrites ONLY the partitions containing
    deleted keys (untouched partitions keep their exact files) and
    clears the delete log; (3) a second apply is a no-op (idempotent)."""
    import glob
    import os

    from prometheus_pulsar_remote_write_spark.operators.lake import (
        apply_deletes,
        read_with_deletes,
        write_equality_deletes,
        write_samples_lake,
    )

    samples = samples_from_events(spark, SF_SMOKE)
    lake = str(tmp_path / "lake")
    dels = str(tmp_path / "deletes")
    write_samples_lake(samples, lake)
    total = spark.read.parquet(lake).count()

    # delete every sample of ONE series in ONE tenant
    victim = (
        spark.read.parquet(lake)
        .select("tenant_id", "series_key")
        .distinct()
        .orderBy("tenant_id", "series_key")
        .limit(1)
        .collect()[0]
    )
    keys = spark.createDataFrame(
        [(victim["tenant_id"], victim["series_key"])],
        ["tenant_id", "series_key"],
    )
    n_victim = (
        spark.read.parquet(lake)
        .where(
            (F.col("tenant_id") == victim["tenant_id"])
            & (F.col("series_key") == victim["series_key"])
        )
        .count()
    )
    assert n_victim > 0

    files_before = {
        f for f in glob.glob(f"{lake}/**/*.parquet", recursive=True)
    }
    write_equality_deletes(keys, dels, ["tenant_id", "series_key"])
    # merge-on-read hides the rows; data files untouched
    live = read_with_deletes(spark, lake, dels, ["tenant_id", "series_key"])
    assert live.count() == total - n_victim
    assert files_before == {
        f for f in glob.glob(f"{lake}/**/*.parquet", recursive=True)
    }

    untouched_before = {
        f: os.path.getmtime(f)
        for f in files_before
        if f"tenant_id={victim['tenant_id']}/" not in f.replace(os.sep, "/")
    }
    assert untouched_before, "fixture needs more than one tenant"
    touched = apply_deletes(spark, lake, dels, ["tenant_id", "series_key"])
    # touched tuples carry the ON-DISK partition strings (inference is
    # pinned off inside apply_deletes), so compare as strings
    assert touched and all(str(t[0]) == str(victim["tenant_id"]) for t in touched)
    # physical rows gone, delete log cleared, untouched partitions' files intact
    assert spark.read.parquet(lake).count() == total - n_victim
    assert not os.path.exists(dels)
    for f, mt in untouched_before.items():
        assert os.path.getmtime(f) == mt, f"untouched partition rewritten: {f}"
    # idempotent: applying an empty log is a no-op
    assert apply_deletes(spark, lake, dels, ["tenant_id", "series_key"]) == []


def test_apply_deletes_removes_fully_deleted_partitions(spark, tmp_path):
    """Erasure must hold when a delete empties entire partitions: dynamic
    partition overwrite only replaces partitions present in the written
    output, so a fully-deleted partition's files survive unless the
    compactor drops the directory explicitly. Delete EVERY row of one
    tenant (all its (tenant_id, day) partitions emptied) and assert the
    rows stay gone after apply_deletes -- the regression was that they
    all came back while the delete log vanished."""
    import os

    from prometheus_pulsar_remote_write_spark.operators.lake import (
        apply_deletes,
        read_with_deletes,
        write_equality_deletes,
        write_samples_lake,
    )

    samples = samples_from_events(spark, SF_SMOKE)
    lake = str(tmp_path / "lake")
    dels = str(tmp_path / "deletes")
    write_samples_lake(samples, lake)
    total = spark.read.parquet(lake).count()

    victim_tenant = (
        spark.read.parquet(lake)
        .select("tenant_id")
        .distinct()
        .orderBy("tenant_id")
        .limit(1)
        .collect()[0][0]
    )
    keys = (
        spark.read.parquet(lake)
        .where(F.col("tenant_id") == victim_tenant)
        .select("tenant_id", "series_key")
        .distinct()
    )
    n_victim = (
        spark.read.parquet(lake)
        .where(F.col("tenant_id") == victim_tenant)
        .count()
    )
    assert 0 < n_victim < total

    write_equality_deletes(keys, dels, ["tenant_id", "series_key"])
    touched = apply_deletes(spark, lake, dels, ["tenant_id", "series_key"])
    assert touched and all(str(t[0]) == str(victim_tenant) for t in touched)

    after = spark.read.parquet(lake)
    assert after.count() == total - n_victim
    assert (
        after.where(F.col("tenant_id") == victim_tenant).count() == 0
    ), "fully-deleted partitions resurrected after apply_deletes"
    # the emptied partition directories are physically gone
    assert not os.path.exists(f"{lake}/tenant_id={victim_tenant}")
    # log cleared via the Hadoop FS path
    assert not os.path.exists(dels)
    # merged read agrees (no log left, so it is the plain read)
    assert (
        read_with_deletes(spark, lake, dels, ["tenant_id", "series_key"]).count()
        == total - n_victim
    )


def test_apply_deletes_with_numeric_looking_string_partitions(spark, tmp_path):
    """Erasure must hold when a STRING partition value looks numeric:
    with partition type inference on, tenant_id='007' reads back as int
    7, the rewrite would emit a NEW 'tenant_id=7' directory and the
    emptied-directory probe would miss 'tenant_id=007' -- resurrecting
    erased rows while the delete log vanishes. apply_deletes pins
    inference off so partition values round-trip as the on-disk
    strings."""
    import os

    from prometheus_pulsar_remote_write_spark.operators.lake import (
        apply_deletes,
        write_equality_deletes,
    )

    lake = str(tmp_path / "lake")
    dels = str(tmp_path / "deletes")
    rows = [
        ("007", 1, 10.0),
        ("007", 2, 20.0),
        ("042", 3, 30.0),
        ("042", 4, 40.0),
    ]
    df = spark.createDataFrame(rows, "tenant_id string, k long, v double")
    df.write.partitionBy("tenant_id").parquet(lake)
    assert os.path.exists(f"{lake}/tenant_id=007")

    # erase ALL of tenant '007' (fully-emptied partition) and one row of
    # '042' (partition rewrite path) in the same compaction
    write_equality_deletes(
        spark.createDataFrame([("007", 1), ("007", 2), ("042", 3)],
                              "tenant_id string, k long"),
        dels,
        ["tenant_id", "k"],
    )
    touched = apply_deletes(
        spark, lake, dels, ["tenant_id", "k"], part_cols=["tenant_id"]
    )
    assert sorted(touched) == [("007",), ("042",)]

    assert not os.path.exists(f"{lake}/tenant_id=007"), "emptied dir survives"
    assert not os.path.exists(f"{lake}/tenant_id=7"), "rewrite minted a renamed dir"
    assert os.path.exists(f"{lake}/tenant_id=042"), "surviving dir renamed/lost"
    after = spark.read.parquet(lake)
    # a plain inference-on read coerces '042' -> 42; the DIRECTORY names
    # above are the source of truth this test pins
    assert [(str(r["tenant_id"]), r["k"]) for r in after.collect()] == [("42", 4)]
    # inference conf restored for the rest of the session
    assert (
        spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
        == "true"
    )


def test_read_parquet_no_inference_keeps_partition_strings(spark, tmp_path):
    """The shared read helper behind apply_deletes and the MV upsert
    must return partition values as the exact on-disk strings ('007'
    stays '007') at ANY partition nesting depth, without touching the
    session's inference conf (a conf toggle races concurrent readers
    sharing the session -- the helper pins a user schema instead)."""
    from prometheus_pulsar_remote_write_spark.operators.lake import (
        _read_parquet_no_inference,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("007", "2024-01-01", 1), ("42", "2024-01-02", 2)],
        "tenant_id string, day string, k long",
    ).write.partitionBy("tenant_id", "day").parquet(p)

    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prior = spark.conf.get(infer_key)
    df = _read_parquet_no_inference(spark, p)
    assert spark.conf.get(infer_key) == prior  # never mutated
    assert dict(df.dtypes)["tenant_id"] == "string"
    assert dict(df.dtypes)["day"] == "string"  # nested level pinned too
    assert sorted(
        (r["tenant_id"], r["day"]) for r in df.select("tenant_id", "day").collect()
    ) == [("007", "2024-01-01"), ("42", "2024-01-02")]
    # data columns keep their file types
    assert dict(df.dtypes)["k"] == "bigint"
    # a plain read still infers (int tenant, date day) -- the helper is
    # per-read, not a session-wide behavior change
    assert dict(spark.read.parquet(p).dtypes)["tenant_id"] in ("int", "bigint")
