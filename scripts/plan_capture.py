#!/usr/bin/env python
"""Dump .explain("formatted") for catalog queries to plans/<tag>/ files.

Usage:
    python scripts/plan_capture.py r14 before q1_pricing_summary ...
    python scripts/plan_capture.py r14 after --headline

``--headline`` captures bench.py's HEADLINE queries.

Writes plans/<round>/<name>_<tag>.txt (the judge checks plan claims in
OPTIMIZATION_r*.md against these files). SF_DIR picks the corpus the
plan is built against (default the bench's sf0.1, so PushedFilters /
statistics match what the bench executes).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from prometheus_pulsar_remote_write_spark.plans import catalog
from prometheus_pulsar_remote_write_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    rnd, tag, *names = sys.argv[1:]
    if names == ["--headline"]:
        names = HEADLINE
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plan-capture-{tag}")
    for name in names:
        df = catalog.QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"  {name} -> {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
