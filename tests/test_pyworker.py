"""The worker bootstrap (``kafka_flow_spark._pyworker``): ``importlib.
invalidate_caches()`` re-reads a zip archive's directory only when the
archive changed, and a new or changed archive is still picked up."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import kafka_flow_spark  # noqa: F401  (installs the bootstrap)
from kafka_flow_spark.operators.fold import fold_option
from kafka_flow_spark.operators.keyed import keyed_fold


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """An importable zip on ``sys.path``; its modules leave ``sys.modules`` after."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pw_pkg/__init__.py": "", "pw_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m == "pw_pkg" or m.startswith("pw_pkg.")]:
        del sys.modules[name]


@pytest.fixture
def reads(monkeypatch):
    """Archive paths whose directory ``zipimport`` reads, in order."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_zip_is_not_reread(archive, reads):
    import pw_pkg.a  # noqa: F401  (one importer for the zip, one for pw_pkg/)

    importlib.invalidate_caches()  # may read once: no stat seen yet
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_zip_is_reread_once_and_imports(archive, reads):
    """``addPyFile`` relies on this: a changed archive's new module imports
    after ``invalidate_caches()``, for the package importer too, and the
    archive is read once for all its importers."""
    import pw_pkg.a

    assert pw_pkg.a.X == 1
    importlib.invalidate_caches()
    _write_zip(
        archive, {"pw_pkg/__init__.py": "", "pw_pkg/a.py": "X = 1\n", "pw_pkg/b.py": "Y = 2\n"}
    )
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import pw_pkg.b

    assert pw_pkg.b.Y == 2


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates zips lazily itself")
def test_bootstrap_is_installed_in_workers(spark):
    """A library UDF (``keyed_fold``'s mapInPandas) unpickles the package in
    the worker, which installs the bootstrap: there a second
    ``invalidate_caches()`` reads no archive."""

    def probe() -> dict:  # a closure: pickled by value, imports nothing of ours
        read = zipimport._read_directory
        seen: list[str] = []
        zipimport._read_directory = lambda archive: seen.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
            del seen[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        installed = getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
        return {"installed": installed, "reads": len(seen)}

    df = spark.createDataFrame([(k, 0) for k in range(4)], "k LONG, o LONG").repartition(2)
    out = keyed_fold(
        df,
        ["k"],
        "o",
        fold_option(lambda s, rec: 0),
        "k LONG, installed BOOLEAN, reads INT",
        lambda key, rec, before, after: {"k": key["k"], **probe()},
    ).toPandas()
    assert len(out) == 4
    assert out["installed"].all()
    assert (out["reads"] == 0).all()
