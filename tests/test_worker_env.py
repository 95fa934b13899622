"""The Python workers' import environment.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task. Before Python 3.13 that re-reads the central directory of
every importer's zip archive (``pyspark.zip``) once per importer per task;
``ocr_platform_spark._zipimport``, installed by importing the package,
makes the invalidation lazy, as in 3.13.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import ocr_platform_spark  # noqa: F401  (installs the backport)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on")


def _counter():
    """A function giving ``(zip importers cached, _read_directory calls)``
    over one ``importlib.invalidate_caches()``; made by a factory so that
    Spark ships it to the workers by value."""
    def count() -> tuple[int, int]:
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        real, calls = zipimport._read_directory, []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return importers, len(calls)
    return count


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_reads_no_zip_directory(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"wenv_first": "X = 1\n"})
    sys.path.insert(0, zpath)
    try:
        assert importlib.import_module("wenv_first").X == 1
        importers, reads = _counter()()
        assert importers >= 1
        assert reads == 0
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("wenv_first", None)


def test_rewritten_zip_is_reread_once_after_invalidation(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"wenv_old": "X = 1\n"})
    sys.path.insert(0, zpath)
    try:
        assert importlib.import_module("wenv_old").X == 1
        os.remove(zpath)
        _write_zip(zpath, {"wenv_old": "X = 1\n", "wenv_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("wenv_new").Y == 2
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("wenv_old", None)
        sys.modules.pop("wenv_new", None)


def _count_in_worker():
    count = _counter()

    def gen(batches):
        import ocr_platform_spark  # noqa: F401  (as a package UDF does)

        for batch in batches:
            importers, reads = count()
            yield pd.DataFrame({"pid": [os.getpid()] * len(batch),
                                "importers": importers, "reads": reads})
    return gen


def test_udf_worker_invalidation_reads_no_zip_directory(spark):
    df = spark.range(0, 8, numPartitions=4)
    schema = "pid long, importers int, reads int"
    first = {r.pid for r in df.mapInPandas(_count_in_worker(), schema).collect()}
    rows = df.mapInPandas(_count_in_worker(), schema).collect()
    # in a worker that already ran a task, the invalidation PySpark makes
    # at every task start reads no zip directory
    warm = [r for r in rows if r.pid in first]
    assert warm, "no Python worker was reused between the two jobs"
    assert all(r.importers > 0 for r in warm)  # pyspark.zip is zip-imported
    assert [r.reads for r in warm] == [0] * len(warm)
