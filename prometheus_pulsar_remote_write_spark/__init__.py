"""PySpark-native analytics engine with the query and data-processing
capabilities of grafana/prometheus-pulsar-remote-write.

The reference (a Go Prometheus remote_write <-> Pulsar adapter) defines WHAT
we compute: the sample data model, flatten/nest transforms, three wire
serializations, label-hash partitioning, per-tenant dual-trigger batching,
and at-least-once delivery semantics. This package re-expresses all of it
Spark-first (DataFrame/SQL + Structured Streaming), and extends it with the
large-scale training-data operators (dedup, similarity search, multimodal
columns, text analysis) that a 100 TB pipeline needs.

Layout:
    schema        -- canonical Spark schemas (write_request)
    session       -- SparkSession builder tuned for the engine
    functions/    -- scalar-function surface (Go-parity formatting,
                     FNV-1 64 hashing, serializers C1-C4)
    operators/    -- row transforms (flatten/nest) and the
                     extension operators (dedup/similarity/text/multimodal)
    sources/      -- wire-edge codecs (snappy, prompb) and decode operators
    streaming/    -- the produce/consume Structured Streaming pipelines
    plans/        -- the query catalog exposed through __spark_entry__.py
"""

__version__ = "0.1.0"
