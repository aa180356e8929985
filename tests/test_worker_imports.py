"""The per-task fixed costs of reused Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task in a reused worker; before CPython 3.13 every zipimporter then
re-parses its whole archive. ``io._install_zip_stat_check`` (run when
the package is imported) keeps an unchanged archive's listing. After
every task PySpark runs a full ``gc.collect()``;
``io._freeze_worker_heap`` (also run on import) freezes the worker's
import-time heap so that collection skips it. These tests count
``zipimport._read_directory`` calls and tracked objects, never time
them.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ballista_extensions_spark import io


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("bx_zipcheck_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("bx_zipcheck_a").VALUE == "a"
        assert getattr(zipimport.zipimporter.invalidate_caches, "_bx_stat_checked", False)
        reads: list[str] = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path) or real(path))
        importlib.invalidate_caches()  # first call on this importer stamps it
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        # A rewritten archive (new size and mtime) is still seen.
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("bx_zipcheck_a.py", "VALUE = 'a'\n")
            zf.writestr("bx_zipcheck_b.py", "VALUE = 'b'\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("bx_zipcheck_b").VALUE == "b"
    finally:
        sys.modules.pop("bx_zipcheck_a", None)
        sys.modules.pop("bx_zipcheck_b", None)
        sys.path_importer_cache.pop(archive, None)


def test_installer_is_idempotent_and_skips_313(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    io._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is current
    if sys.version_info >= (3, 13):
        assert not hasattr(current, "_bx_stat_checked")
        return
    original = current.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    io._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is original


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily")
def test_reused_worker_skips_archive_reread(spark, documents):
    """In a reused worker, from the task after the one that imported
    the package, an explicit ``invalidate_caches()`` reads no archive
    (PySpark's own call at task start has stamped every importer)."""
    import pandas as pd

    def probe(batches):
        import importlib
        import os
        import zipimport

        import ballista_extensions_spark  # noqa: F401 — installs the check

        for _ in batches:
            pass
        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        marked = getattr(zipimport.zipimporter.invalidate_caches, "_bx_stat_checked", False)
        yield pd.DataFrame({"pid": [os.getpid()], "marked": [marked], "reads": [len(calls)]})

    row = _from_reused_worker(documents, probe, "pid long, marked boolean, reads long")
    assert row.marked and row.reads == 0, row


def test_reused_worker_heap_is_frozen(spark, documents):
    """A worker that imported the package has frozen its import-time
    heap, so PySpark's per-task ``gc.collect()`` walks only what was
    allocated since; the driver, which imported the package at the top
    of this file, is never frozen."""
    import gc

    import pandas as pd

    def probe(batches):
        import gc
        import os

        import ballista_extensions_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
                            "unfrozen": [len(gc.get_objects())]})

    row = _from_reused_worker(documents, probe, "pid long, frozen long, unfrozen long")
    assert row.frozen > 0, row
    assert row.unfrozen < row.frozen / 10, row
    assert gc.get_freeze_count() == 0


def _from_reused_worker(documents, probe, schema):
    """The row ``probe`` returns from a Python worker an earlier action
    of this call already used (a one-partition ``mapInPandas``)."""
    df = documents.select("doc_id").coalesce(1).mapInPandas(probe, schema=schema)
    # The worker factory hands idle workers out first-in first-out, so
    # a worker this test already used comes back within a few actions.
    seen: set[int] = set()
    for _ in range(12):
        (row,) = df.collect()
        if row.pid in seen:
            return row
        seen.add(row.pid)
    pytest.fail(f"no Python worker was reused across {len(seen)} actions")
