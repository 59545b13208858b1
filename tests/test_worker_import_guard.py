"""The stat-guarded zipimporter invalidation (zipguard.py): PySpark calls
``importlib.invalidate_caches()`` on every worker task, and an unguarded
zipimporter re-reads its archive's central directory each time. Pinned over
a real zip: unchanged archives are not re-read, changed ones are, per
importer, and the guard wraps once."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from pdf_extraction_ai_agent_spark.zipguard import install_zip_invalidation_guard


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def guarded(monkeypatch):
    """A freshly installed guard over the pristine method; the method in
    place before the test is restored after it."""
    current = zipimport.zipimporter.invalidate_caches
    pristine = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pristine)
    install_zip_invalidation_guard()
    return pristine


@pytest.fixture
def reads(monkeypatch):
    """Counts zipimport._read_directory calls per archive path."""
    counts: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_package_import_installs_the_guard():
    import pdf_extraction_ai_agent_spark  # noqa: F401

    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)


def test_unchanged_archive_is_not_reread(tmp_path, guarded, reads):
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {"zg_unchanged": "VALUE = 1\n"})
    imp = zipimport.zipimporter(zp)
    assert _load(imp, "zg_unchanged").VALUE == 1
    before = reads.get(zp, 0)
    imp.invalidate_caches()  # no record yet: reads once
    assert reads[zp] == before + 1
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads[zp] == before + 1


def test_unchanged_archive_on_sys_path_through_importlib(tmp_path, guarded, reads, monkeypatch):
    """The worker's own call: importlib.invalidate_caches() over a zip on
    sys.path (as pyspark.zip is) re-reads it once, then not again."""
    zp = str(tmp_path / "onpath.zip")
    _write_zip(zp, {"zg_onpath": "VALUE = 7\n"})
    monkeypatch.syspath_prepend(zp)
    monkeypatch.delitem(sys.modules, "zg_onpath", raising=False)
    try:
        assert importlib.import_module("zg_onpath").VALUE == 7
        importlib.invalidate_caches()
        first = reads.get(zp, 0)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.get(zp, 0) == first
    finally:
        sys.modules.pop("zg_onpath", None)
        sys.path_importer_cache.pop(zp, None)


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, guarded, reads):
    zp = str(tmp_path / "mods.zip")
    _write_zip(zp, {"zg_first": "VALUE = 1\n"})
    imp = zipimport.zipimporter(zp)
    imp.invalidate_caches()
    assert imp.find_spec("zg_second") is None
    before = reads[zp]
    _write_zip(zp, {"zg_first": "VALUE = 1\n", "zg_second": "VALUE = 2\n"})
    imp.invalidate_caches()
    assert reads[zp] == before + 1
    assert _load(imp, "zg_second").VALUE == 2
    imp.invalidate_caches()  # the new state is recorded
    assert reads[zp] == before + 1


def test_two_importers_over_one_archive_both_refresh(tmp_path, guarded, reads):
    zp = str(tmp_path / "shared.zip")
    _write_zip(zp, {"zg_a": "VALUE = 1\n"})
    one, two = zipimport.zipimporter(zp), zipimport.zipimporter(zp)
    one.invalidate_caches()
    two.invalidate_caches()
    before = reads[zp]
    _write_zip(zp, {"zg_a": "VALUE = 1\n", "zg_b": "VALUE = 3\n"})
    one.invalidate_caches()
    two.invalidate_caches()
    assert reads[zp] == before + 2
    assert _load(one, "zg_b").VALUE == 3
    assert _load(two, "zg_b").VALUE == 3


def test_missing_archive_falls_through_to_the_original(tmp_path, guarded, reads):
    zp = tmp_path / "gone.zip"
    _write_zip(str(zp), {"zg_gone": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(zp))
    imp.invalidate_caches()
    before = reads[str(zp)]
    zp.unlink()
    imp.invalidate_caches()  # stat fails: the original runs and empties the importer
    imp.invalidate_caches()
    assert reads[str(zp)] == before + 2
    assert imp.find_spec("zg_gone") is None


def test_installing_twice_wraps_once(guarded):
    first = zipimport.zipimporter.invalidate_caches
    install_zip_invalidation_guard()
    assert zipimport.zipimporter.invalidate_caches is first
    assert first.__wrapped__ is guarded
