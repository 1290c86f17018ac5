"""`zipimport_cache`: `importlib.invalidate_caches()` re-reads a zip
archive on sys.path only when the archive changed, and a reused PySpark
worker runs with the wrapper in place from its second task on."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from kafka_stream_aggregator_spark import zipimport_cache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 reads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_archive_is_reread_only_when_it_changed(tmp_path, monkeypatch):
    assert zipimport_cache.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zcache_mod_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zcache_mod_a").X == 1
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1
        importlib.invalidate_caches()
        assert len(reads) == 1

        _write_zip(archive, {"zcache_mod_a": "X = 1\n", "zcache_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("zcache_mod_b").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        for m in ("zcache_mod_a", "zcache_mod_b"):
            sys.modules.pop(m, None)


def test_reused_worker_runs_with_the_wrapper_after_its_first_task(spark):
    def probe(rows):
        import os
        import zipimport

        installed = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        import kafka_stream_aggregator_spark  # noqa: F401  as a UDF calling package code does

        for _ in rows:  # a worker whose input is left unread is not reused
            pass
        yield os.getpid(), installed

    sc = spark.sparkContext
    seen: dict[int, list[bool]] = {}
    # Idle workers are handed out in turn, and earlier tests may have
    # left several: run single-task jobs until one worker comes back.
    for _ in range(64):
        for pid, installed in sc.parallelize([0], 1).mapPartitions(probe).collect():
            seen.setdefault(pid, []).append(installed)
        if any(len(flags) > 1 for flags in seen.values()):
            break
    reused = [flags for flags in seen.values() if len(flags) > 1]
    assert reused, f"no Python worker ran two tasks: {seen}"
    assert all(all(flags[1:]) for flags in reused), seen
