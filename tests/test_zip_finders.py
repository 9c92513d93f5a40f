"""Dropping cached zip finders at task start (udfs._drop_zip_finders).

A reused Python worker calls ``importlib.invalidate_caches()`` before
every task; on CPython 3.10-3.12 each cached ``zipimporter`` then
re-reads its archive's central directory.  These tests check, by counts
only, that the helper leaves nothing to re-read and that imports from
the zips keep working afterwards.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from jsonld_spark.pipeline import KGPipeline
from jsonld_spark.sources.pages import build_context_cache_entries
from jsonld_spark.udfs import _drop_zip_finders


def _zip_finders() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip on sys.path holding package ``zfpkg`` with two submodules."""
    archive = tmp_path / "zfpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zfpkg/__init__.py", "")
        z.writestr("zfpkg/a.py", "VALUE = 'a'\n")
        z.writestr("zfpkg/b.py", "VALUE = 'b'\n")
    monkeypatch.syspath_prepend(str(archive))
    yield str(archive)
    for name in ("zfpkg", "zfpkg.a", "zfpkg.b"):
        sys.modules.pop(name, None)
    for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[p]


def test_drop_zip_finders_leaves_nothing_to_reread(zip_pkg, monkeypatch):
    import zfpkg.a

    assert zfpkg.a.VALUE == "a"
    assert zip_pkg in _zip_finders()  # the archive and the package dir

    _drop_zip_finders()
    assert _zip_finders() == []

    import zfpkg.b  # loads through a finder rebuilt from zipimport's cache

    assert zfpkg.b.VALUE == "b"
    assert zfpkg.b.__spec__.origin.startswith(zip_pkg)

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    if sys.version_info < (3, 13):
        # the cost being removed: a cached finder re-reads its archive
        importlib.invalidate_caches()
        assert zip_pkg in reads
    _drop_zip_finders()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    # loaders of modules imported before the drop still serve their data
    assert importlib.reload(zfpkg.a).VALUE == "a"


def test_pyspark_zip_imports_in_reused_workers(spark, pages_path):
    """After extract passes have dropped the zip finders in the workers,
    a job there can still import a pyspark submodule it never loaded."""
    pipe = KGPipeline(spark, build_context_cache_entries(), cache_version="v1")
    pages = spark.read.parquet(pages_path)
    for _ in range(2):
        pipe.extract(pages).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import importlib as _il
        import os
        import sys as _sys

        for _ in batches:
            pass
        fresh = "pyspark.sql.avro.functions" not in _sys.modules
        mod = _il.import_module("pyspark.sql.avro.functions")
        yield pd.DataFrame(
            {"pid": [os.getpid()], "fresh": [fresh], "origin": [mod.__spec__.origin]}
        )

    rows = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(probe, "pid long, fresh boolean, origin string")
        .collect()
    )
    assert len(rows) == 4
    assert any(r.fresh for r in rows)
    assert all(r.origin.endswith("pyspark/sql/avro/functions.py") for r in rows)
