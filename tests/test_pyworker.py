"""The per-worker zip re-read guard (functions/pyworker.py): an archive
rewritten in place is still re-read, an unchanged one is not, and on
CPython 3.12+ nothing is patched."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from kafka_processor_cosmos_tx_dispatch_spark.functions import pyworker


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed for one test; the original method comes back
    afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    if not pyworker.skip_unchanged_zip_rereads():
        pytest.skip("CPython 3.12+ invalidates zip caches lazily")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"pw_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("pw_first", "pw_second"):
        sys.modules.pop(name, None)


def test_rewritten_archive_is_reread(guarded, archive):
    assert importlib.import_module("pw_first").X == 1
    importlib.invalidate_caches()  # records the archive's stamp
    _write_zip(archive, {"pw_first": "X = 1\n", "pw_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("pw_second").Y == 2


def test_unchanged_archive_is_not_reread(guarded, archive, monkeypatch):
    importlib.import_module("pw_first")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # first call per importer reads
    first = len(reads)
    assert str(archive) in reads
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == first


def test_no_patch_on_312(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert pyworker.skip_unchanged_zip_rereads() is False
    assert zipimport.zipimporter.invalidate_caches is original
