"""Stat-checked ``zipimporter.invalidate_caches`` (installed by importing
``coin_for_rich_spark``): an unchanged archive is not re-read on
``importlib.invalidate_caches()``, which PySpark's worker calls at the start
of every Python task; a rewritten archive is re-read and a deleted one does
not raise."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import coin_for_rich_spark  # noqa: F401 — installs the stat check


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_not_reread_rewritten_reread_deleted_quiet(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"cfr_zi_m1": "V = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "cfr_zi_m1", raising=False)
    monkeypatch.delitem(sys.modules, "cfr_zi_m2", raising=False)
    assert importlib.import_module("cfr_zi_m1").V == 1
    importlib.invalidate_caches()  # a new importer reads once on first sight

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert [r for r in reads if r == archive] == []

    time.sleep(0.01)  # a distinct mtime even on coarse clocks
    _write_zip(archive, {"cfr_zi_m1": "V = 1\n", "cfr_zi_m2": "W = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1
    assert importlib.import_module("cfr_zi_m2").W == 2

    os.remove(archive)
    importlib.invalidate_caches()
    sys.path_importer_cache.pop(archive, None)


def test_python_task_skips_unchanged_archives(spark):
    """Inside a real Python worker: after the package is imported and one
    invalidation has seen every cached importer, a second
    ``importlib.invalidate_caches()`` reads no archive."""

    def probe(batches):
        import importlib as il
        import os as _os
        import sys as _sys
        import tempfile
        import zipfile as zf
        import zipimport as zi

        import pyarrow as pa

        import coin_for_rich_spark  # noqa: F401

        for _ in batches:
            pass
        d = tempfile.mkdtemp(prefix="cfr_zi_")
        archive = _os.path.join(d, "probe.zip")
        with zf.ZipFile(archive, "w") as z:
            z.writestr("cfr_zi_probe.py", "P = 1\n")
        _sys.path.insert(0, archive)
        try:
            _sys.modules.pop("cfr_zi_probe", None)
            il.import_module("cfr_zi_probe")
            il.invalidate_caches()
            reads = []
            original = zi._read_directory

            def counting(path):
                reads.append(path)
                return original(path)

            zi._read_directory = counting
            try:
                il.invalidate_caches()
            finally:
                zi._read_directory = original
        finally:
            _sys.path.remove(archive)
            _sys.path_importer_cache.pop(archive, None)
            _sys.modules.pop("cfr_zi_probe", None)
            _os.remove(archive)
            _os.rmdir(d)
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    got = spark.range(2, numPartitions=2).mapInArrow(probe, "reads long").collect()
    assert [r.reads for r in got] == [0, 0]
