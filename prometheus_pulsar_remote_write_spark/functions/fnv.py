"""Partition-key hashing.

The reference computes the Pulsar message key as FNV-1 64-bit (Go
``hash/fnv.New64()`` -- multiply-then-xor, NOT the 1a variant) over the
sorted (k, v) byte concatenation of the non-replica labels followed by the
tenant id, rendered ``"hex %016x"`` (reference pkg/pulsar/serializers.go:91-114).

``fnv1_64`` is the one scalar FNV-1 fold. Around it:
  - ``sample_partition_key``: the reference's message key, ``fnv1_64``
    over the canonical bytes, where byte-equality with the reference
    matters. The produce edge calls it once per series;
    ``partition_key_col`` wraps it in an Arrow-batched pandas UDF for
    DataFrames of flat samples.
  - ``fnv1_64_key_col``: the same fold vectorized in numpy over a column
    of pre-built canonical strings, for the catalog's static label sets.
  - ``colocation_key_col``: Spark-native ``xxhash64`` -- JVM-side,
    codegen'd, zero Python cost. Partitioning only needs *consistency*
    (equal label sets -> equal key), not byte-parity with Go, so this is
    the hot path used for repartitioning inside the engine at scale.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..schema import DEFAULT_REPLICA_LABELS

FNV1_64_OFFSET = 0xCBF29CE484222325
FNV1_64_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF


def fnv1_64(data: bytes) -> int:
    """FNV-1 64-bit (multiply then xor), as Go hash/fnv.New64."""
    h, prime, mask = FNV1_64_OFFSET, FNV1_64_PRIME, _MASK64
    for b in data:
        h = ((h * prime) & mask) ^ b
    return h


def sample_partition_key(
    labels: dict | None, tenant_id: str, replica_labels: Iterable[str] = ()
) -> str:
    """The reference's partitionKey: ``fnv1_64`` over the name-sorted
    (name, value) bytes of the non-replica labels, then the tenant."""
    replica = set(replica_labels)
    parts = []
    if labels:
        for k in sorted(k for k in labels if k not in replica):
            parts += (k, labels[k])
    parts.append(tenant_id or "")
    return f"hex {fnv1_64(''.join(parts).encode('utf-8')):016x}"


def partition_key_col(
    labels: Column, tenant_id: Column, replica_labels: list[str] | None = None
) -> Column:
    """Exact Go-parity partition key column (pandas UDF, Arrow-batched)."""
    replica = tuple(replica_labels if replica_labels is not None else DEFAULT_REPLICA_LABELS)

    @pandas_udf(T.StringType())
    def _key(labels_s: pd.Series, tenant_s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                sample_partition_key(lbls, ten if ten is not None else "", replica)
                for lbls, ten in zip(labels_s, tenant_s)
            ]
        )

    return _key(labels, tenant_id)


def fnv1_64_key_col(keystr: Column) -> Column:
    """Exact Go-parity partition key from a pre-built canonical byte
    string: ``'hex %016x' % fnv1_64(keystr.encode())``, NULL in -> NULL
    out.

    The r15 fast tier for callers whose label set is STATIC: the sorted
    (k, v) concatenation that ``sample_partition_key`` derives from the
    map per row in Python is instead built as one codegen'd ``concat``
    column, and the FNV-1 fold runs VECTORIZED across the batch -- one
    numpy pass per byte position over a padded (rows x max_len) uint8
    matrix (uint64 multiply wraps mod 2^64 exactly like the masked
    Python fold), instead of a per-row per-byte Python loop. Byte-parity
    with :func:`fnv1_64` is pytest-pinned; measured 1.13s -> 0.48s on
    the 100k-row produce_partition_key at sf0.1."""

    @pandas_udf(T.StringType())
    def _key(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        np.seterr(over="ignore")  # uint64 wraparound IS the fold
        prime = np.uint64(FNV1_64_PRIME)
        for s in batches:
            enc = [v.encode("utf-8") if v is not None else None for v in s]
            live = [b for b in enc if b is not None]
            out_live = []
            if live:
                lens = np.array([len(b) for b in live], dtype=np.int64)
                L = int(lens.max())
                if L == 0:
                    out_live = [f"hex {FNV1_64_OFFSET:016x}"] * len(live)
                else:
                    mat = np.frombuffer(
                        np.array(
                            [b.ljust(L, b"\x00") for b in live], dtype=f"S{L}"
                        ).tobytes(),
                        dtype=np.uint8,
                    ).reshape(len(live), L)
                    h = np.full(len(live), FNV1_64_OFFSET, dtype=np.uint64)
                    for p in range(L):
                        nh = (h * prime) ^ mat[:, p].astype(np.uint64)
                        h = np.where(lens > p, nh, h)
                    out_live = [f"hex {int(x):016x}" for x in h]
            it = iter(out_live)
            yield pd.Series([None if b is None else next(it) for b in enc])

    return _key(keystr)


def colocation_key_col(
    labels: Column, tenant_id: Column, replica_labels: list[str] | None = None
) -> Column:
    """JVM-side consistent hash with the same *semantics* (same inputs in the
    same sorted order -> same key; replica labels excluded; tenant included).

    Use this for in-engine repartitioning/bucketing; it keeps the whole
    expression inside whole-stage codegen.
    """
    replica = replica_labels if replica_labels is not None else DEFAULT_REPLICA_LABELS
    replica_arr = F.array(*[F.lit(r) for r in replica]) if replica else F.array()
    filtered = F.map_filter(labels, lambda k, _: ~F.array_contains(replica_arr, k))
    canonical = F.concat_ws(
        "\x00",
        F.array_join(
            F.transform(
                F.array_sort(F.map_entries(filtered)),
                lambda e: F.concat_ws("\x01", e["key"], e["value"]),
            ),
            "\x02",
        ),
        F.coalesce(tenant_id, F.lit("")),
    )
    return F.xxhash64(canonical)
