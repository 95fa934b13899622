"""CPython 3.13's lazy ``zipimporter.invalidate_caches``, for Python < 3.13.

Before 3.13, ``importlib.invalidate_caches()`` makes every cached
``zipimporter`` re-read its archive's central directory at once. PySpark
calls it at the start of every Python task, so a UDF worker re-reads
``pyspark.zip`` (about 1,300 entries) once per importer per task.
From 3.13 on, invalidating only drops the archive's entry in
``zipimport._zip_directory_cache``, and the next lookup through any of the
archive's importers reads the directory once. This module installs that
behaviour: ``_files`` becomes a property over the shared cache.
"""

import sys
import zipimport


def _files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


if sys.version_info < (3, 13):
    # __init__ assigns _files after filling the cache for the archive
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
