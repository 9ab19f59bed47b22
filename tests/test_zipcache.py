"""The zip-archive guard on ``importlib.invalidate_caches()`` (ocr_spark/zipcache.py).

An unchanged archive on ``sys.path`` is not re-read; a rewritten one is,
so its new modules import; a deleted one ends as it does unguarded. The
Spark test checks that ``addPyFile`` still reaches workers that already
carry the guard.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ocr_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the guard is installed only before Python 3.12"
)

_GUARD_MODULE = zipcache.__name__


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "zc_mods.zip")
    _write_zip(path, {"zc_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory from now on."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_guard_installed_once():
    zipcache.install()
    guarded = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert guarded.__module__ == _GUARD_MODULE
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_unchanged_archive_is_not_reread(archive, reads):
    import zc_mod_a

    assert zc_mod_a.VALUE == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[n:].count(archive) == 0


def test_grown_archive_is_reread(archive):
    import zc_mod_a  # noqa: F401

    _write_zip(archive, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    import zc_mod_b

    assert zc_mod_b.VALUE == 2


def test_touched_archive_is_reread(archive, reads):
    """Same size, later mtime: the directory is read again."""
    import zc_mod_a  # noqa: F401

    importlib.invalidate_caches()
    st = os.stat(archive)
    _write_zip(archive, {"zc_mod_a": "VALUE = 3\n"})
    later = st.st_mtime_ns + 1_000_000_000
    os.utime(archive, ns=(later, later))
    assert os.stat(archive).st_size == st.st_size
    n = len(reads)
    importlib.invalidate_caches()
    assert archive in reads[n:]
    assert importlib.reload(sys.modules["zc_mod_a"]).VALUE == 3


def test_deleted_archive_is_dropped(archive):
    import zc_mod_a  # noqa: F401

    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert importer._files == {}
    with pytest.raises(ImportError):
        import zc_mod_b  # noqa: F401


def test_add_py_file_reaches_guarded_workers(spark, tmp_path):
    """Workers that ran an engine UDF carry the guard into their next
    tasks; a zip added with addPyFile afterwards still imports there."""
    guard_module = _GUARD_MODULE

    def engine_udf(it):
        import zipimport

        import ocr_spark  # noqa: F401 — what every engine UDF imports

        for pdf in it:
            yield pdf.assign(
                guarded=zipimport.zipimporter.invalidate_caches.__module__ == guard_module
            )

    df = spark.range(0, 8, 1, 4).toDF("id")
    first = df.mapInPandas(engine_udf, "id long, guarded boolean").toPandas()
    assert first["guarded"].all()

    extra = str(tmp_path / "zc_spark_extra.zip")
    _write_zip(extra, {"zc_spark_extra_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(extra)

    def extra_udf(it):
        import zipimport

        # checked before any engine import: True only on a reused worker
        guarded = zipimport.zipimporter.invalidate_caches.__module__ == guard_module
        import zc_spark_extra_mod

        for pdf in it:
            yield pdf.assign(value=zc_spark_extra_mod.VALUE, guarded=guarded)

    second = df.mapInPandas(extra_udf, "id long, value long, guarded boolean").toPandas()
    assert (second["value"] == 42).all()
    assert second["guarded"].any()
