"""Structured Streaming pipelines: the reference's produce/consume loops."""

import os
import uuid

#: the processing-time trigger of a continuous query: produce polls its drop
#: dir this often, and consume triggers at least this often
TRIGGER_INTERVAL_MS = 1000


def start_query(
    writer,
    work_dir: str,
    checkpoint_dir: str | None,
    trigger_once: bool,
    trigger_interval_ms: int = TRIGGER_INTERVAL_MS,
):
    """Start a pipeline's append-mode query: drain what is there once
    (``availableNow``), or trigger every ``trigger_interval_ms``. The
    checkpoint defaults to a fresh ``<work_dir>/_checkpoint-<uuid8>``."""
    checkpoint_dir = checkpoint_dir or os.path.join(
        work_dir, f"_checkpoint-{uuid.uuid4().hex[:8]}"
    )
    writer = writer.option("checkpointLocation", checkpoint_dir).outputMode("append")
    if trigger_once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_interval_ms} milliseconds").start()
