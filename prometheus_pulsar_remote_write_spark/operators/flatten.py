"""Flatten / re-nest between the prompb.WriteRequest shape and flat samples.

Reference semantics:
  - flatten (B1): each (timeseries x sample) pair becomes one row; the
    labels name/value array becomes a map (pkg/app/produce.go:187-204).
  - re-nest (B2): ONE TimeSeries per sample -- no series merge -- with the
    labels map rendered as an array of (name, value) structs sorted
    byte-wise by name (pkg/remote/write.go:251-284).

All pure Column expressions: explode/map_from_entries/array_sort stay inside
whole-stage codegen, so flatten of a 100 TB ingest stream is a narrow
(per-partition, shuffle-free) pipeline stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def flatten_write_requests(df: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """WriteRequest rows -> one row per (series, sample): B1.

    Input needs a ``timeseries`` column shaped like WRITE_REQUEST_SCHEMA.
    ``extra_cols`` (e.g. tenant_id) are carried through unchanged.
    Narrow transformation: no shuffle, rows only expand within a partition.
    """
    extra = extra_cols or []
    return (
        df.select(*extra, F.explode("timeseries").alias("ts"))
        .select(
            *extra,
            F.map_from_entries("ts.labels").alias("labels"),
            F.explode("ts.samples").alias("s"),
        )
        .select(
            F.col("s.timestamp").alias("timestamp"),
            F.col("s.value").alias("value"),
            "labels",
            *extra,
        )
    )


def sorted_label_entries(labels: Column) -> Column:
    """Labels map -> array<struct<name,value>> sorted byte-wise by name: B3.

    array_sort on an array of structs orders by the first field (name),
    matching Go's sort.Strings over label names.
    """
    return F.transform(
        F.array_sort(F.map_entries(labels)),
        lambda e: F.struct(e["key"].alias("name"), e["value"].alias("value")),
    )


def nest_samples(
    df: DataFrame,
    group_cols: list[str] | None = None,
    label_entries_col: Column | None = None,
) -> DataFrame:
    """Flat samples -> WriteRequest rows: B2 + B3.

    Faithful to the reference: one TimeSeries per sample (samplesToProto
    does NOT merge samples of the same series), labels sorted by name.
    ``group_cols`` controls how many samples land in one WriteRequest --
    the streaming consume path groups by (tenant_id, batch); the default
    mirrors the reference's per-flush batch = all rows in the group.

    ``label_entries_col`` (r15): a caller whose label SET is static can
    pass the sorted array<struct<name,value>> built straight from its
    scalar columns, skipping the per-row create_map -> map_entries ->
    array_sort -> transform chain (a null value keeps its entry in both
    forms -- create_map keeps null-valued keys -- so the structs are
    identical for any data).

    The collect_list is the only wide step and is bounded by the batch size
    (<= BatchSize=100 rows per group in the consume path), so state never
    exceeds a few KB per key at any scale.
    """
    group_cols = group_cols or ["tenant_id"]
    entry = F.struct(
        (
            label_entries_col
            if label_entries_col is not None
            else sorted_label_entries(F.col("labels"))
        ).alias("labels"),
        F.array(
            F.struct(F.col("value").alias("value"), F.col("timestamp").alias("timestamp"))
        ).alias("samples"),
    )
    return (
        df.select(*group_cols, entry.alias("ts_entry"))
        .groupBy(*group_cols)
        .agg(F.collect_list("ts_entry").alias("timeseries"))
    )

