"""``pyworker.invalidate_caches`` re-reads a zip archive only when its
``(st_mtime_ns, st_size)`` stamp changed, or when ``stat`` fails.

The replacement is called directly on a ``zipimporter``; the test process's
own ``zipimport`` stays unpatched."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

from postgres_cdc_example_spark import pyworker


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def _load(importer: zipimport.zipimporter, module: str):
    spec = importer.find_spec(module)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is pyworker._reread


def test_rereads_only_a_changed_or_missing_archive(tmp_path, monkeypatch):
    rereads = []
    reread = pyworker._reread

    def counting(importer):
        rereads.append(importer.archive)
        reread(importer)

    monkeypatch.setattr(pyworker, "_reread", counting)
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "m1", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    assert _load(importer, "m1").X == 1

    pyworker.invalidate_caches(importer)
    files = importer._files
    pyworker.invalidate_caches(importer)
    assert len(rereads) == 1
    assert importer._files is files

    # a new size changes the stamp even where mtime is coarse
    _write_zip(archive, "m2", "Y = 'a longer module body'\n")
    pyworker.invalidate_caches(importer)
    assert len(rereads) == 2
    assert importer._files is not files
    assert _load(importer, "m2").Y == "a longer module body"
    assert importer.find_spec("m1") is None

    fresh = zipimport.zipimporter(str(archive))
    archive.unlink()
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(fresh)  # no stamp yet, and stat fails
    assert len(rereads) == 4
    assert importer._files == {} and fresh._files == {}
