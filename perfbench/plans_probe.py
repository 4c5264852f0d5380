"""Probe of the catalog plans: ``bench.py``'s 22 HEADLINE queries on a
small generated table set, each run once untimed, with its rows checked,
and once timed to the noop sink. The untimed runs share the cores; the
timed runs go one at a time.

The tables come from ``scripts/make_testdata.py`` (seed 42) at ``SF``, so
every checkout builds the same ones. Each query's output is checked by row
count plus an order-insensitive digest against ``catalog_expected.json``.
Re-record that file after a deliberate change of a query's output; the
recording first checks every query against its DuckDB oracle with
``scripts/check_oracle.compare`` and refuses to write on a mismatch:

    python3 perfbench/plans_probe.py --record
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import bench  # noqa: E402

SF = 0.01
EXPECTED = os.path.join(HERE, "catalog_expected.json")
_GROUP = "perfbench-plans:"


def make_tables(out_dir: str) -> str:
    """Generate the probe's tables under ``out_dir``; returns their dir."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from make_testdata import generate
    finally:
        sys.path.pop(0)
    sf_dir = os.path.join(out_dir, f"sf{SF:g}")
    generate(sf_dir, SF, seed=42)
    return sf_dir


def _norm(v):
    """A cell as a stable value: floats to 9 significant digits, so the
    order a sum was taken in does not change the digest."""
    if isinstance(v, float):
        return "nan" if v != v else format(v + 0.0, ".9g")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((_norm(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(rows) -> list:
    """[row count, order-insensitive hex digest] of collected rows."""
    total = 0
    for r in rows:
        h = hashlib.blake2b(repr(_norm(tuple(r))).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return [len(rows), f"{total:016x}"]


def module_of(name: str) -> str:
    from prometheus_pulsar_remote_write_spark.plans import catalog

    return catalog.QUERIES[name].__module__.rsplit(".", 1)[1]


def run(spark, sf_dir: str, threads: int) -> dict:
    """Every HEADLINE query once untimed, its rows digested, on
    ``threads`` threads at once; then each once timed to the noop sink,
    one at a time, in a job group of its own. Returns per-query seconds
    and digests, per-query errors, and per-module sums of the timed runs'
    stages from the status store."""
    from prometheus_pulsar_remote_write_spark.plans import catalog

    def _check(name):
        return digest(catalog.QUERIES[name](spark, sf_dir).collect())

    with ThreadPoolExecutor(threads) as pool:
        checks = {name: pool.submit(_check, name) for name in bench.HEADLINE}
    sc = spark.sparkContext
    seconds, digests, errors = {}, {}, {}
    for name in bench.HEADLINE:
        try:
            digests[name] = checks[name].result()
            sc.setJobGroup(_GROUP + name, name)
            t0 = time.perf_counter()
            bench.run_query(catalog.QUERIES[name](spark, sf_dir))
            seconds[name] = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 -- reported as a failed query
            errors[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return {
        "seconds": seconds,
        "digests": digests,
        "errors": errors,
        "modules": _module_sums(spark),
    }


def _module_sums(spark) -> dict:
    """shuffle_mb and executor_cpu_s per plan module, over the stages of
    the timed runs' jobs."""
    bench._drain_listener_bus(spark)
    store = spark._jsc.sc().statusStore()
    stage_module = {}
    jobs = store.jobsList(None).iterator()
    while jobs.hasNext():
        job = jobs.next()
        group = job.jobGroup()
        if group.isDefined() and group.get().startswith(_GROUP):
            module = module_of(group.get()[len(_GROUP) :])
            ids = job.stageIds().iterator()
            while ids.hasNext():
                stage_module[ids.next()] = module
    out: dict = {}
    stages = bench._stage_list(spark).iterator()
    while stages.hasNext():
        s = stages.next()
        module = stage_module.get(s.stageId())
        if module is not None:
            m = out.setdefault(module, {"shuffle_mb": 0.0, "executor_cpu_s": 0.0})
            m["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
    return out


def record() -> int:
    """Check every HEADLINE query against its DuckDB oracle on the probe's
    tables, then write the row counts and digests to ``EXPECTED``."""
    import tempfile

    import duckdb

    from prometheus_pulsar_remote_write_spark.plans import catalog
    from prometheus_pulsar_remote_write_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import check_oracle

    scratch = os.path.join(REPO, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        sf_dir = make_tables(tmp)
        spark = get_spark(
            app_name="perfbench-record",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        con = duckdb.connect()
        for t in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        expected, bad = {}, []
        for name in bench.HEADLINE:
            rel = con.execute(catalog.ORACLES[name])
            cols = [d[0] for d in rel.description]
            df = catalog.QUERIES[name](spark, sf_dir)
            err = check_oracle.compare(name, df, rel.fetchall(), cols)
            if err:
                bad.append(f"{name}: {err}")
            expected[name] = digest(catalog.QUERIES[name](spark, sf_dir).collect())
            print(f"  {name:34s} {'FAIL' if err else 'ok'} rows={expected[name][0]}", file=sys.stderr)
        spark.stop()
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(EXPECTED, "w") as fh:
        json.dump({"sf": SF, "queries": expected}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit(__doc__)
    sys.exit(record())
