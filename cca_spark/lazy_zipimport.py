"""Lazy zip-import cache invalidation for Python < 3.12 (CPython gh-103200).

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12, each
``zipimport.zipimporter`` answers that by re-reading its archive's central
directory at once. A worker holds one importer per package directory it has
imported from ``pyspark.zip`` (14-16 of them over the same 1,328-entry
archive), so every task re-read that directory 14-16 times.

CPython 3.12 only drops the archive's entry from
``zipimport._zip_directory_cache`` and re-reads the directory on the next
lookup, once per archive for all of its importers. ``install`` gives older
importers the same behaviour. It runs when ``cca_spark`` is imported, so it
is in place in every worker that unpickles ``cca_spark`` code, from that
worker's second task on. In PySpark 4.1.2 workers on a 4-CPU x86-64 host
(Python 3.11.7), one invalidation plus one missed import lookup cost
0.23-0.27 s of CPU before and 0.04-0.07 s after. From Python 3.12 on it
does nothing; delete this module once the workers run 3.12.
"""

from __future__ import annotations

import sys
import zipimport


class _DirectoryCache(dict):
    """``zipimport._zip_directory_cache`` that reads an archive's directory
    on the first lookup after its entry was dropped, so code that indexes
    the cache directly (``pkgutil.iter_modules``) also sees it."""

    def __missing__(self, archive: str) -> dict:
        files = self[archive] = zipimport._read_directory(archive)
        return files


def _files(self) -> dict:
    try:
        return zipimport._zip_directory_cache[self.archive]
    except zipimport.ZipImportError:  # archive gone or broken: no modules
        return {}


def _invalidate_caches(self) -> None:
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter`` read its directory through the shared cache and
    invalidate by dropping the cache entry. Idempotent."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or cls.invalidate_caches is _invalidate_caches:
        return
    zipimport._zip_directory_cache = _DirectoryCache(zipimport._zip_directory_cache)
    # __init__ caches the directory itself, then assigns self._files (before
    # self.archive is set): that write has nothing left to do
    cls._files = property(_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches


install()
