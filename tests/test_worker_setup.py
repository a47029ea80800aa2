"""worker_setup: the per-task zipimporter trim that map_batches, the
one Python-hop operator, runs first (engine/spark/stage.py)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from engine.spark.stage import worker_setup


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A zip holding package zpkg_ws with subpackages one and two, on
    sys.path, with zpkg_ws.one imported."""
    archive = tmp_path / "pkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg_ws/__init__.py", "")
        z.writestr("zpkg_ws/one/__init__.py", "VALUE = 1\n")
        z.writestr("zpkg_ws/two/__init__.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module("zpkg_ws.one")
    yield str(archive)
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg_ws"]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[path]


def _zip_entries():
    return {
        p: f for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    }


def test_worker_setup_evicts_zipimporters(zipped_pkg):
    before = _zip_entries()
    assert any(f.prefix for p, f in before.items() if p.startswith(zipped_pkg))
    worker_setup()
    assert _zip_entries() == {}
    # an evicted importer is rebuilt on demand: a not-yet-imported
    # subpackage still imports from the zip
    two = importlib.import_module("zpkg_ws.two")
    assert two.VALUE == 2 and zipped_pkg in two.__file__
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg_ws.one").VALUE == 1

