"""Structured Streaming pipelines: the reference's produce/consume loops."""

#: the processing-time trigger of a continuous query: produce polls its drop
#: dir this often, and consume triggers at least this often
TRIGGER_INTERVAL_MS = 1000
