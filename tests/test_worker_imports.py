"""The zip-importer guard (pdf_extractor2_spark/worker_imports.py).

``importlib.invalidate_caches()`` must skip re-reading an unchanged zip
on ``sys.path`` and still pick up a changed one, and every Python worker
task that imports the package must run with the guard.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import pdf_extractor2_spark  # noqa: F401  (installs the guard)
from pdf_extractor2_spark.worker_imports import install_zip_cache_guard


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zg_first`` at the front of ``sys.path``,
    imported once so that ``sys.path_importer_cache`` holds its importer."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zg_first")
    yield archive
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    importlib.invalidate_caches()  # records the archive's stat key
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 0


def test_changed_zip_is_reread(zip_on_path):
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zg_first": "VALUE = 1\n", "zg_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_second").VALUE == 2


def test_removed_zip_empties_the_importer(zip_on_path, tmp_path):
    importlib.invalidate_caches()
    (tmp_path / "guarded.zip").unlink()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_install_twice_leaves_one_wrapper():
    install_zip_cache_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.skips_unchanged_archives
    assert not hasattr(guarded.__wrapped__, "skips_unchanged_archives")


def test_every_worker_task_runs_guarded(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        import pdf_extractor2_spark  # noqa: F401

        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "skips_unchanged_archives", False)
        yield pd.DataFrame({"guarded": [guarded]})

    rows = spark.range(0, 64, numPartitions=4).mapInPandas(
        report, "guarded boolean").collect()
    assert len(rows) == 4
    assert all(r.guarded for r in rows)
