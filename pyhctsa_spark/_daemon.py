"""PySpark worker daemon that keeps the import caches of Spark's archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task so that files shipped with ``addPyFile`` become importable.
On Python 3.11 that also makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's directory: a dozen
importers on ``pyspark.zip`` plus two on the Spark core jar, about a
quarter of a second per task on a 4-core host.

Run as ``spark.python.daemon.module``, this module records the archives
on the daemon's own ``sys.path`` (``pyspark.zip``, py4j, the jar) and
replaces ``importlib.invalidate_caches`` with one that hides those
archives' zipimporters from the cache while the stock function runs.
Directory finders, and the zipimporters of py-files shipped later (they
live at new paths), are invalidated as before. Forked workers inherit
the replacement.
"""

import importlib
import os
import sys
import zipimport


def keep_archive_caches(archives: set[str]) -> None:
    """Make ``importlib.invalidate_caches`` skip the zipimporters of
    ``archives`` (real paths)."""
    stock = importlib.invalidate_caches

    def invalidate_caches() -> None:
        cache = sys.path_importer_cache
        kept = {
            path: finder for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and os.path.realpath(finder.archive) in archives
        }
        for path in kept:
            del cache[path]
        try:
            stock()
        finally:
            cache.update(kept)

    importlib.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_archive_caches({os.path.realpath(p) for p in sys.path if os.path.isfile(p)})
    from pyspark import daemon

    daemon.manager()
