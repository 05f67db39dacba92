"""The once-per-worker hook (`_pyworker`): a zip archive's directory is
re-read only when the archive changed, the worker heap is frozen, and
the driver process is left alone."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from siddhi_execution_unique_spark import _pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def on_worker(monkeypatch):
    """Run `install()` as a worker would, and undo it afterwards."""
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(_pyworker, "_installed", False)
    monkeypatch.setattr(_pyworker, "_read_stamps", {})
    # records the unpatched method, restored at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    freezes = []
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    return freezes


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zipimport re-reads lazily from 3.12")
def test_unchanged_archive_is_not_reread(on_worker, monkeypatch, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_zmod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("pyworker_zmod_a", "pyworker_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    assert importlib.import_module("pyworker_zmod_a").VALUE == 1

    reads = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    # control: the stock method re-reads an unchanged archive
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches
    importlib.invalidate_caches()  # first call reads and stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module("pyworker_zmod_a").VALUE == 1

    # a rewritten archive (new size) is re-read and its new module imports
    _write_zip(archive, {"pyworker_zmod_a": "VALUE = 1\n", "pyworker_zmod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("pyworker_zmod_b").VALUE == 2


def test_install_twice_wraps_once(on_worker):
    _pyworker.install()
    first = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is first
    if sys.version_info < (3, 12):
        assert first is _pyworker._invalidate_caches
    assert on_worker == [1]


def test_worker_installs_and_driver_stays_unpatched(spark):
    # a closure, so it ships by value: the worker imports only the package
    def report(batches):
        import gc
        import zipimport

        import pandas as pd

        from siddhi_execution_unique_spark import _pyworker

        for _ in batches:
            yield pd.DataFrame({
                "wrapped": [zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches],
                "frozen": [gc.get_freeze_count()],
            })

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(report, "wrapped boolean, frozen long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["wrapped"] == (sys.version_info < (3, 12)) for r in rows)
    assert all(r["frozen"] > 0 for r in rows)
    assert not _pyworker._installed
    assert zipimport.zipimporter.invalidate_caches is _pyworker._reread
