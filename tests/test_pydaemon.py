"""The Python worker daemon's zip directory reuse hook."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from fluss_iceberg_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_replaced_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    mod_a, mod_b = f"pdz_a_{os.getpid()}", f"pdz_b_{os.getpid()}"
    _write_zip(archive, {mod_a: "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_as", {})
    monkeypatch.syspath_prepend(archive)
    for m in (mod_a, mod_b):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module(mod_a).X == 1
    importlib.invalidate_caches()  # records the archive's identity

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a new archive moved over the old path: new inode, so it is re-read
    fresh = str(tmp_path / "mods.zip.tmp")
    _write_zip(fresh, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
    os.replace(fresh, archive)
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module(mod_b).Y == 2

