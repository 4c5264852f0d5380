from __future__ import annotations

import logging
import os
import sys

import pytest

from prometheus_pulsar_remote_write_spark.session import get_spark

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _resolve_testdata_root() -> str:
    """The suite reads the driver-generated parquet at /root/testdata
    when it exists (the graded environment); anywhere else (CI, fresh
    clone -- SPARK_GRAFT_TESTDATA overrides the default) it generates a
    seeded schema-identical fixture set once into <repo>/.testdata via
    scripts/make_testdata.py, so `pytest tests/` is self-contained."""
    # SPARK_GRAFT_GENERATE=1 forces the generated-fixture path (the CI
    # configuration) even where the driver parquet exists -- the
    # explicit switch, since a typo'd SPARK_GRAFT_TESTDATA must raise
    # rather than silently fall back to a different corpus
    if os.environ.get("SPARK_GRAFT_GENERATE", "") in ("", "0"):
        override = os.environ.get("SPARK_GRAFT_TESTDATA")
        root = override or "/root/testdata"
        if os.path.isdir(os.path.join(root, "sf0.001")):
            return root
        if override:
            raise RuntimeError(
                f"SPARK_GRAFT_TESTDATA={override!r} has no sf0.001/ subdir; "
                "unset it (or set SPARK_GRAFT_GENERATE=1) to generate "
                "fixtures into <repo>/.testdata"
            )
    root = os.path.join(_REPO_ROOT, ".testdata")
    sys.path.insert(0, os.path.join(_REPO_ROOT, "scripts"))
    try:
        from make_testdata import generate
    finally:
        sys.path.pop(0)
    for sf in (0.001, 0.01):
        sf_dir = os.path.join(root, f"sf{sf:g}")
        if os.path.isdir(sf_dir):
            continue
        # generate into a private temp dir, then atomically rename: a
        # concurrent pytest-xdist worker either wins the rename or sees
        # the winner's complete directory -- never half-written parquet
        tmp_dir = f"{sf_dir}.tmp-{os.getpid()}"
        generate(tmp_dir, sf, seed=42)
        try:
            os.rename(tmp_dir, sf_dir)
        except OSError:
            if not os.path.isdir(sf_dir):  # rename failed for a real reason
                raise
            import shutil

            shutil.rmtree(tmp_dir, ignore_errors=True)
    return root


_TESTDATA_ROOT = _resolve_testdata_root()
SF_SMOKE = os.path.join(_TESTDATA_ROOT, "sf0.001")
SF_CORRECTNESS = os.path.join(_TESTDATA_ROOT, "sf0.01")


@pytest.fixture(autouse=True)
def _restore_package_logger():
    """``app.apply_logging`` gives the package logger its own handler and
    turns ``propagate`` off, which would hide later tests' records from
    pytest's log capture: put the logger back as each test found it."""
    logger = logging.getLogger("prometheus_pulsar_remote_write_spark")
    handlers, level, propagate = list(logger.handlers), logger.level, logger.propagate
    yield
    logger.handlers[:] = handlers
    logger.setLevel(level)  # setLevel, not .level: it clears the level cache
    logger.propagate = propagate


@pytest.fixture(scope="session")
def spark():
    # local[4]: on local[32] tiny unit-test rows would fan out to 32
    # partitions, and a pandas-UDF stage pays a fixed Python cost per task
    # (its partition), not per row; the reused workers fork only once.
    # Scale behavior is exercised by bench.py on local[32] at sf0.1.
    spark = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield spark
    spark.stop()
