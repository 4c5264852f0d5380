"""D1: per-tenant batching.

Reference semantics (pkg/remote/write.go:27-43, 59-77, 115-180): buffer
samples per tenant; flush a tenant's buffer when it reaches BatchSize
(default 100) OR when its oldest sample is older than BatchMaxDelay
(default 5 s).

The consume pipeline batches per micro-batch inside its per-tenant
delivery pass (``consume.post_batches_distributed``): it cuts each
tenant's sorted samples into ``DEFAULT_BATCH_SIZE`` chunks and ships the
under-size remainder with them, so no state carries between triggers and
the trigger interval bounds how long a sample waits (the consume module
docstring gives the cadence and why the 5 s deadline is not kept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BATCH_SIZE = 100  # reference write.go:67-69


def microbatch_batches(batch_df: DataFrame, batch_size: int = DEFAULT_BATCH_SIZE) -> DataFrame:
    """Per-micro-batch batch ids as a window column: deterministic per
    tenant within one micro-batch, in the order the consume pass cuts its
    batches. Only the wire benchmark's traced prefix probe
    (``perfbench/sut.py``) calls it; it is deleted once that probe times
    the consume pass itself (ROADMAP.md)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tenant_id").orderBy("timestamp", "labels_json")
    return batch_df.withColumn(
        "batch_seq", ((F.row_number().over(w) - 1) / batch_size).cast("bigint")
    )
