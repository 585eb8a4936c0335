"""session.install_zip_stat_check: importlib.invalidate_caches() re-reads
a zip archive on sys.path only when the archive changed on disk."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from go_muse_spark.session import install_zip_stat_check


def write_zip(path, modules):
    """Publish a zip of {module name: source} at path (write + rename,
    as a deploy or sc.addPyFile would)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path; the original zipimporter method, the
    path entry and the imported modules are restored afterwards."""
    orig = zipimport.zipimporter.__dict__["invalidate_caches"]
    path = str(tmp_path / "zmods.zip")
    write_zip(path, {"zmod_a": "X = 1\n"})
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        zipimport.zipimporter.invalidate_caches = orig
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)


@pytest.fixture
def read_calls(monkeypatch):
    """Archive paths passed to zipimport._read_directory from now on."""
    calls = []
    orig = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_unchanged_archive_is_not_reread(zip_on_path, read_calls):
    import zmod_a

    assert zmod_a.X == 1
    install_zip_stat_check()
    importlib.invalidate_caches()  # the first pass reads each archive once
    read_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_calls == []


def test_rewritten_archive_is_reread(zip_on_path, read_calls):
    import zmod_a  # noqa: F401

    install_zip_stat_check()
    importlib.invalidate_caches()
    write_zip(zip_on_path, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    read_calls.clear()
    importlib.invalidate_caches()
    assert zip_on_path in read_calls
    import zmod_b

    assert zmod_b.Y == 2


def test_install_is_idempotent(zip_on_path):
    install_zip_stat_check()
    shim = zipimport.zipimporter.__dict__["invalidate_caches"]
    install_zip_stat_check()
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is shim


def test_install_changes_nothing_on_313(zip_on_path, monkeypatch):
    orig = zipimport.zipimporter.__dict__["invalidate_caches"]
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    install_zip_stat_check()
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is orig


def test_engine_worker_invalidation_reads_no_archive(spark):
    """In engine worker tasks (the package imported, as every engine UDF
    does on unpickling), the per-task importlib.invalidate_caches() of
    Spark's worker reads no zip directory once each archive was read."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import go_muse_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        calls = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"zips": [zips], "reads": [len(calls)]})

    out = (
        spark.range(64)
        .repartition(8)
        .mapInPandas(probe, "zips long, reads long")
        .toPandas()
    )
    assert len(out) == 8
    assert (out["zips"] > 0).all()
    assert (out["reads"] == 0).all()
