"""Python-worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark reuses its Python workers, but before every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and before Python 3.13 every
``zipimporter`` on ``sys.path`` then re-reads its whole archive:
``pyspark.zip``, the py4j zip and the spark-core jar, once per importer
(16 directory reads, most of a warm task's start-up). Run as
``python -m``, this module makes that invalidation re-read an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp of the
directory zipimport holds for it, stamps every archive once, and hands
over to ``pyspark.daemon.manager()``, so forked workers inherit stamped
importers. A changed archive, or one added by ``addPyFile``, is still
read again. Importing the module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its cached directory was read
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(importer: zipimport.zipimporter) -> None:
    try:
        st = os.stat(importer.archive)
    except OSError:
        return _stdlib_invalidate(importer)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(importer.archive)
    if files is not None and _stamps.get(importer.archive) == stamp:
        importer._files = files  # before 3.13 each importer holds its own reference
        return
    _stdlib_invalidate(importer)
    _stamps[importer.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
