"""The Python worker daemon's zip-importer shim (``worker_daemon``): a
pure-Python check of its cache rule, and a check inside a real Spark
worker that a task no longer re-reads the worker's zip archives."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from prometheus_pulsar_remote_write_spark import worker_daemon


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _count_reads(monkeypatch) -> list:
    """Record every archive ``zipimport._read_directory`` parses."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_shim_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"shim_probe_a": "VALUE = 'a'\n"})
    for name in ("shim_probe_a", "shim_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    # monkeypatch puts the stdlib method back when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()
    assert importlib.import_module("shim_probe_a").VALUE == "a"
    importlib.invalidate_caches()  # the first call after install reads each archive once

    reads = _count_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # rewritten in place: same inode, a new size and mtime
    _write_zip(archive, {"shim_probe_a": "VALUE = 'a'\n", "shim_probe_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("shim_probe_b").VALUE == "b"


def test_shim_leaves_the_stdlib_method_from_python_3_13(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    worker_daemon.install(version=(3, 13, 0))
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_spark_workers_skip_rereading_unchanged_archives(spark):
    """At the parent commit this read 14-16 directories: one per zip
    importer a worker holds over pyspark.zip and py4j's zip."""
    assert spark.conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def reads_per_invalidate(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    rows = spark.range(4, numPartitions=4).mapInPandas(reads_per_invalidate, "reads long")
    assert [r.reads for r in rows.collect()] == [0, 0, 0, 0]
