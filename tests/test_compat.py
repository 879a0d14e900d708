"""Spark-free checks of the Python-worker shims in ``artan_spark.compat``."""

import importlib
import sys
import zipfile
import zipimport

from artan_spark.compat import drop_zip_finders


def test_drop_zip_finders_keeps_imports_working(tmp_path):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/first.py", "VALUE = 1\n")
        zf.writestr("zpkg/second.py", "VALUE = 2\n")
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("zpkg.first").VALUE == 1
        assert any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        drop_zip_finders()
        assert not any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        # the finder is rebuilt from zipimport's directory cache on demand
        assert importlib.import_module("zpkg.second").VALUE == 2
    finally:
        sys.path.remove(str(archive))
        for name in ("zpkg", "zpkg.first", "zpkg.second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
