"""``session.release_zip_finders``: after it runs, ``importlib.invalidate_caches()``
(which the pyspark worker calls before every task) re-reads no zip archive,
and modules in the zip still import."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from ner_spark.session import release_zip_finders


def test_release_zip_finders_stops_directory_rereads(tmp_path, monkeypatch):
    archive = str(tmp_path / "zf_mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zf_mod_a.py", "A = 1\n")
        z.writestr("zf_mod_b.py", "B = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zf_mod_a").A == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        release_zip_finders()
        reads = []
        real_read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
        )
        importlib.invalidate_caches()
        assert reads == []
        # a fresh finder comes from zipimport's directory cache, not a re-read
        assert importlib.import_module("zf_mod_b").B == 2
        assert reads == []
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in ("zf_mod_a", "zf_mod_b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)
