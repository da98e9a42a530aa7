"""``quicker_spark.zipcache``: ``importlib.invalidate_caches()`` re-reads
a zip archive's directory only when the archive changed. Counted in
``zipimport._read_directory`` calls, never timed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from contextlib import contextmanager

import pytest

import quicker_spark  # noqa: F401  (installs the fix)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ zipimport invalidates lazily; the fix is not installed")


@contextmanager
def _counted_reads():
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    try:
        yield calls
    finally:
        zipimport._read_directory = read


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"qs_zip_a": "X = 1\n"})
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("qs_zip_a").X == 1
        # an archive first opened after the install is read once more,
        # to record its stamp; unchanged, it is never read again
        with _counted_reads() as calls:
            importlib.invalidate_caches()
        assert calls == [archive]
        with _counted_reads() as calls:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        assert calls == []

        # a rewritten archive is re-read, and its new module imports
        _write_zip(archive, {"qs_zip_a": "X = 1\n", "qs_zip_b": "Y = 2\n"})
        with _counted_reads() as calls:
            importlib.invalidate_caches()
        assert calls == [archive]
        assert importlib.import_module("qs_zip_b").Y == 2
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(archive, None)
        for name in ("qs_zip_a", "qs_zip_b"):
            sys.modules.pop(name, None)


def test_spark_workers_skip_zip_rereads(spark):
    # nested, so cloudpickle ships it by value to the workers
    def probe(_):
        """Run in a Python worker: zip directory reads during one
        ``importlib.invalidate_caches()``, after importing the package."""
        import importlib
        import sys
        import zipimport

        import quicker_spark  # noqa: F401

        calls = []
        read = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        n_zip = sum(isinstance(i, zipimport.zipimporter)
                    for i in sys.path_importer_cache.values())
        return len(calls), n_zip

    got = spark.sparkContext.parallelize(range(4), 4).map(probe).collect()
    # the workers do hold zip importers (pyspark.zip at least), and none
    # of them re-reads its archive
    assert all(n_zip > 0 for _, n_zip in got), got
    assert [reads for reads, _ in got] == [0, 0, 0, 0], got
