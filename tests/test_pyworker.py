"""The Python worker daemon's archive importer (``reffy_spark.pyworker``).

Each task calls ``importlib.invalidate_caches()``; a stock CPython 3.11
``zipimporter`` then re-reads its archive's whole directory. The stamped
importer re-reads only an archive that changed on disk.
"""

import importlib.util
import zipfile
import zipimport

import pandas as pd

from reffy_spark import pyworker


def _write_zip(path, value, padding=""):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("probe_mod.py", f"VALUE = {value!r}\n{padding}")


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _load(importer, name):
    spec = importer.find_spec(name)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, 1)
    importer = pyworker._StampedZipImporter(archive)
    other = pyworker._StampedZipImporter(archive + "/sub")
    calls = _count_reads(monkeypatch)
    for _ in range(3):
        importer.invalidate_caches()
        other.invalidate_caches()
    assert calls == []
    assert _load(importer, "probe_mod").VALUE == 1


def test_rewritten_archive_is_reread_and_serves_the_new_module(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, 1)
    importer = pyworker._StampedZipImporter(archive)
    assert _load(importer, "probe_mod").VALUE == 1
    calls = _count_reads(monkeypatch)
    # in place, with a new size: the stamp changes even where the
    # filesystem's mtime is coarse
    _write_zip(archive, 22, padding="# " + "x" * 100 + "\n")
    importer.invalidate_caches()
    assert calls == [archive]
    assert _load(importer, "probe_mod").VALUE == 22
    importer.invalidate_caches()
    assert calls == [archive]


def test_task_importers_are_stamped(spark):
    # sessions built by get_spark fork their Python workers from the
    # pyworker daemon: every zip path entry a task sees is stamped
    def kinds(batches):
        import sys

        found = sorted(
            {
                type(f).__name__
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            }
        )
        for b in batches:
            yield pd.DataFrame({"kinds": [",".join(found)] * len(b)})

    rows = spark.range(0, 4, 1, 2).mapInPandas(kinds, "kinds string").collect()
    assert {r["kinds"] for r in rows} == {"_StampedZipImporter"}
