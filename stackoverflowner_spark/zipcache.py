"""Zip importers re-read an archive's directory only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` before every Python task
(``pyspark/worker_util.py:setup_spark_files``). Up to CPython 3.12 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its whole archive directory: a worker holds about 16 of them
(``pyspark.zip`` and its subpackages, py4j, the spark-core jar twice), so
each task spends 150-340 ms of worker CPU before its UDF runs. CPython
3.13 made the method lazy.

``install()`` swaps in a method that stats the archive first and re-reads
it only when ``(st_ino, st_mtime_ns, st_size)`` differs from the stamp
this importer recorded at its last re-read. An importer without a stamp,
and an archive that cannot be stat'ed, take the stdlib path, so a
rewritten, replaced or deleted zip (``addPyFile`` included) behaves as
before. The package ``__init__`` installs it, so every Python worker that
unpickles an engine function or broadcast has it from then on.

``install()`` also re-reads and stamps the zip importers that already exist,
through the same method (stat, then read). Their listings date from an
unknown moment, so one read is still owed; paying it during the install
leaves a worker's second task, not only its third, with no re-reads.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_archive_stamp", None)
        _stdlib_invalidate(self)
        return
    # stat before the read: a rewrite racing the read leaves an old stamp,
    # which costs one more re-read, never a stale directory
    stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_archive_stamp") != stamp:
        _stdlib_invalidate(self)
        self._archive_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            _invalidate_if_changed(imp)
