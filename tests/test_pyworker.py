"""Stat-checked zipimport invalidation (``ragflow_spark.job.pyworker``):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
which pyspark calls at the start of every Python task."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from ragflow_spark.job import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily from Python 3.12 on")


@pytest.fixture
def count_reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls into the returned list."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, count_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pyworker_mod_a", "pyworker_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import pyworker_mod_a
    assert pyworker_mod_a.X == 1

    pyworker.install()
    pyworker.install()  # idempotent
    importlib.invalidate_caches()  # may re-read each archive once
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads == []

    # a rewritten archive is read again, and its new module imports
    _write_zip(archive, {"pyworker_mod_a": "X = 1\n",
                         "pyworker_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert archive in count_reads
    import pyworker_mod_b
    assert pyworker_mod_b.Y == 2


def test_missing_archive_takes_the_original_path(tmp_path, monkeypatch,
                                                 count_reads):
    archive = tmp_path / "gone.zip"
    _write_zip(str(archive), {"pyworker_mod_c": "Z = 3\n"})
    importer = zipimport.zipimporter(str(archive))
    pyworker.install()
    importer.invalidate_caches()
    assert importer._files
    archive.unlink()
    importer.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_python_tasks_skip_the_reread(spark):
    """In a worker, the second of two back-to-back invalidates reads no
    zip directory (without the fix it reads one per zipimporter, 16)."""
    from ragflow_spark.job.extract import map_documents

    def probe(_id):
        import importlib
        import sys
        import zipimport

        importlib.invalidate_caches()
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(v, zipimport.zipimporter)
                        for v in sys.path_importer_cache.values())
        return [(importers, len(calls))]

    rows = map_documents(spark.range(4).repartition(4), probe,
                         "importers int, reads int").collect()
    assert rows
    for r in rows:
        assert r.importers >= 1 and r.reads == 0, rows
