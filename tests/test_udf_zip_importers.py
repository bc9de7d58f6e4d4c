"""udfs.releases_zip_importers, without Spark: a wrapped Python UDF
leaves no zipimporter in sys.path_importer_cache, so the next task's
importlib.invalidate_caches() re-reads no archive directory, and imports
from the zip keep working."""

import importlib
import inspect
import sys
import zipfile
import zipimport

import pytest

from document_extraction_service_spark.udfs import releases_zip_importers


def _zip_importers():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture()
def zipped_pkg(tmp_path, monkeypatch):
    """A zip on sys.path holding package zpkg and sub-package zpkg.sub;
    counts the zipimporters importlib.invalidate_caches() refreshes."""
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "A = 1\n")
        z.writestr("zpkg/sub/__init__.py", "B = 2\n")
        z.writestr("zpkg/sub/late.py", "C = 3\n")
    monkeypatch.syspath_prepend(archive)
    refreshed = []
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        lambda self: refreshed.append(self.prefix))
    yield refreshed
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]


def _assert_released(refreshed):
    assert _zip_importers() == []
    refreshed.clear()
    importlib.invalidate_caches()
    assert refreshed == []
    from zpkg.sub import late  # a new import from the zip still works

    assert late.C == 3


@pytest.mark.parametrize("stop_early", [False, True])
def test_udf_iterator_leaves_no_zip_importer(zipped_pkg, stop_early):
    @releases_zip_importers
    def udf(batches):
        import zpkg.sub

        for b in batches:
            yield b + zpkg.A + zpkg.sub.B

    it = udf(iter([0, 10, 20]))
    assert next(it) == 3
    # the imports cached a zipimporter for the archive root and for zpkg
    assert len(_zip_importers()) >= 2
    importlib.invalidate_caches()
    assert len(zipped_pkg) >= 2
    if stop_early:
        it.close()
    else:
        assert list(it) == [13, 23]
    _assert_released(zipped_pkg)


def test_plain_udf_releases_on_return_and_keeps_its_signature(zipped_pkg):
    @releases_zip_importers
    def build(key, rows):
        import zpkg.sub

        return key + rows + zpkg.sub.B

    # the grouped-map worker picks f(rows) or f(key, rows) by this count
    assert inspect.getfullargspec(build).args == ["key", "rows"]
    assert build(1, 10) == 13
    _assert_released(zipped_pkg)
