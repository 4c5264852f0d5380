"""Structured Streaming pipelines: the reference's produce/consume loops,
and the file and client primitives both edges share."""

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


def replace_file(path: str, data: bytes) -> None:
    """Write ``path`` whole or not at all: the bytes go to a dot-named
    temp file beside it (hidden from Spark's file listing, and short
    whatever ``path``'s name), which is then renamed over ``path``. No
    fsync: a crash may lose the file, never leave half of it."""
    folder = os.path.dirname(path)
    os.makedirs(folder, exist_ok=True)
    tmp = os.path.join(folder, f".{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


#: the clients a Python worker keeps across tasks and micro-batches
_WORKER_CACHE: dict = {}


def worker_cached(key, factory):
    """The object this Python worker keeps under ``key``, built by
    ``factory()`` on first use (A5 connection reuse: the reference keeps
    ONE shared producer and HTTP client per process, CHANGELOG.md:20-21;
    in Spark that is one per executor Python worker)."""
    obj = _WORKER_CACHE.get(key)
    if obj is None:
        obj = _WORKER_CACHE[key] = factory()
    return obj
