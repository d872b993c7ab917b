"""Python worker daemon: PySpark's ``pyspark.daemon`` without the per-task
zip directory re-read.

``session.get_spark`` pins ``spark.python.daemon.module`` to this module.
Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, once per importer. A worker holds about 16 importers
into ``pyspark.zip`` (about 1,670 entries each), so every task parsed
about 26,700 directory entries: 0.15-0.2 s before any data moved.
CPython 3.13 reads the directory lazily and needs none of this.

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at its
last read. An archive rewritten on disk is still re-read, a missing one
falls through to the stdlib method, and a new ``addPyFile`` archive gets
a new importer, which reads it on creation.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(importer: zipimport.zipimporter) -> None:
    """Stat-validated ``zipimporter.invalidate_caches``."""
    try:
        stamp = _archive_stamp(importer.archive)
    except OSError:
        importer._dir_stamp = None
        _stdlib_invalidate_caches(importer)
        return
    if getattr(importer, "_dir_stamp", None) != stamp:
        # stamp taken before the read: a rewrite during it re-reads next time
        _stdlib_invalidate_caches(importer)
        importer._dir_stamp = stamp


def _main() -> None:
    patch = sys.version_info < (3, 13)
    if patch:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    import pyspark.daemon  # imports pyspark.worker, i.e. every importer

    if patch:
        # forked workers inherit these stamps and skip even their first re-read
        for importer in list(sys.path_importer_cache.values()):
            if isinstance(importer, zipimport.zipimporter):
                try:
                    importer._dir_stamp = _archive_stamp(importer.archive)
                except OSError:
                    pass
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run under the package name, so the patch reports this module
    from real_estate_bigdata_spark.worker_daemon import _main

    _main()
