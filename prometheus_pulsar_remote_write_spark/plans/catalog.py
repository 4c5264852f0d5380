"""Aggregated query catalog: every operator surface from SURVEY.md §2
with its DuckDB oracle (where ANSI-SQL-expressible).

Sections:
  relational -- §2.F F6 joins/aggs/windows/setops/scalars over TPC-H-ish
  events     -- §2.F F7 batch equivalents of the streaming windows
  pipeline   -- §2.B/C/D produce & consume path semantics as batch queries
  docs       -- §2.F F1/F2/F4/F5 dedup, text analysis, multimodal
  vectors    -- §2.F F3 similarity search
"""

from __future__ import annotations

from . import docs_vectors, events_batch, pipeline, relational

QUERIES: dict = {}
ORACLES: dict = {}

# Dict order decides which entries the driver's correctness gate records
# (first 50 per round). Rounds 1-4 left every recorded entry hash-green
# except the two list-cell canonicalizer failures (reshaped this round);
# round 5 leads with the 4 evidence-gap queries plus every new round-5
# operator, followed by the produce/consume pipeline family (r4-green).
# Everything outside the window is unchanged since its green record and
# stays locally strict-verified via scripts/check_oracle.py (all 132
# entries PASS at sf0.01 this round).
for module in (pipeline, docs_vectors, events_batch, relational):
    QUERIES.update(module.QUERIES)
    ORACLES.update(module.ORACLES)

#: The driver records the first 50 dict entries per round, so dict order
#: IS the evidence-rotation policy. From round 7 on it is data-driven:
#: entries whose code/oracle changed this round lead (the explicit
#: ``_CHANGED`` list, updated per round), followed by every other entry
#: ordered by STALEST latest-green driver record (computed from the
#: committed CORRECTNESS_r*.json files at import time). This guarantees
#: the oldest evidence is always the next to be re-recorded without
#: hand-maintaining a 50-name list. Everything outside the window stays
#: locally strict-verified via scripts/check_oracle.py and the
#: full-catalog pytest oracle run.
_CHANGED: list = [
    # round 15 re-planned these entries (plans/r15 holds most of their
    # before/after plans), and each one's newest green record in
    # CORRECTNESS_r*.json is older than that (rounds 10-14), so no record
    # covers the plan that runs now. They lead the window: the produce
    # serializers and partition key, the count-min key-drift and IVF
    # nprobe sweeps, the consume deserialize round trip and the image
    # near-dup pass.
    "produce_serialize_json",
    "produce_serialize_compat",
    "produce_serialize_avro",
    "produce_partition_key",
    "events_cms_key_drift",
    "emb_nprobe_sweep",
    "consume_deserialize_roundtrip",
    "multimodal_dhash_neardup",
]


def _latest_green_rounds() -> dict:
    """Latest round each entry has a green driver record, parsed from the
    repo-root CORRECTNESS_r*.json files (absent/unparseable files are
    simply skipped -- a fresh clone degrades to alphabetical order)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                recs = json.load(fh)
        except Exception:
            continue
        for name, rec in recs.items():
            if isinstance(rec, dict) and rec.get("err") is None and rec.get("rows_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


_LATEST = _latest_green_rounds()
# The head is capped at the driver's 50-record window: when a round adds
# more changed/new entries than fit, the overflow needs no special
# handling -- a never-recorded entry has _LATEST 0 and therefore sorts
# FIRST in the stalest tail, so it leads the next round's window
# automatically.
_PRIORITY = _CHANGED[:50] + sorted(
    (k for k in QUERIES if k not in _CHANGED[:50]),
    key=lambda k: (_LATEST.get(k, 0), k),
)

QUERIES = {
    **{k: QUERIES[k] for k in _PRIORITY if k in QUERIES},
    **{k: v for k, v in QUERIES.items() if k not in _PRIORITY},
}


def flagship(spark, sf_dir):
    """Produce-pipeline flagship: the reference's whole produce semantics
    (A1 event ingest -> B4 tenant -> B1 sample projection -> C1 JSON wire
    payloads) as one DataFrame query."""
    return pipeline.produce_serialize_json(spark, sf_dir)
