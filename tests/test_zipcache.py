"""``importlib.invalidate_caches()`` must not re-read an unchanged zip
archive (PySpark's worker calls it at the start of every task), and must
still pick up an archive that was rewritten. No JVM."""

import importlib
import os
import sys
import zipfile
import zipimport

import hebrew_ner_spark  # noqa: F401  (installs the patch)


def _write(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write(archive, ["zc_first"])
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_first").NAME == "zc_first"
        importlib.invalidate_caches()
        before = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == before, "unchanged archive was re-read"

        _write(archive, ["zc_first", "zc_second"])
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert importlib.import_module("zc_second").NAME == "zc_second"
        assert len(reads) > before, "rewritten archive was not re-read"
    finally:
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
