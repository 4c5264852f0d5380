"""A1: the remote-write ingest edge as a DataFrame operator.

Ingest (A1, reference pkg/app/produce.go:124-153): a body is
snappy(proto(WriteRequest)). ``decode_remote_write`` turns a DataFrame of
raw bodies (binary column, e.g. from a binaryFile batch/stream source or
an HTTP collector drop-dir) into WRITE_REQUEST-shaped rows. Decode
failures yield a null timeseries (the reference answers 400 and drops the
request) -- split good/bad downstream.

The produce pipeline and the lake sink decode inside their own one-pass
mapInPandas (``streaming.produce``); this operator keeps the decoded
WriteRequest shape for callers that want it. It is an Arrow-batched
mapInPandas stage: narrow, no shuffle, scales with input partitions. Per
row it calls ``prompb.decode_body``, the one spelling of the body format:
protobuf in Python, snappy in pyarrow.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schema import TIMESERIES_SCHEMA
from . import prompb


def _decoded_schema(keep_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(
        list(keep_fields)
        + [
            T.StructField("timeseries", T.ArrayType(TIMESERIES_SCHEMA), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )


def decode_remote_write(
    df: DataFrame, body_col: str = "content", keep_cols: list[str] | None = None
) -> DataFrame:
    """snappy(proto) bodies -> WriteRequest rows (+ decode_error for poison)."""
    keep_cols = keep_cols or []
    out_schema = _decoded_schema([f for f in df.schema.fields if f.name in keep_cols])
    names = [f.name for f in out_schema.fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, body in enumerate(pdf[body_col]):
                base = {c: pdf[c].iloc[i] for c in keep_cols}
                try:
                    req = prompb.decode_body(bytes(body))
                    base.update(timeseries=req["timeseries"], decode_error=None)
                except Exception as exc:  # 400-path: keep the poison visible
                    base.update(timeseries=None, decode_error=str(exc))
                rows.append(base)
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(_decode, out_schema)
