"""Python worker daemon for sessions built by :func:`session.get_spark`.

It is PySpark's own ``pyspark.daemon`` with one change. Before every task
a worker runs ``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` re-read its archive's whole central directory, and a warm
worker holds about 16 of them over ``pyspark.zip``, the py4j zip and the
spark-core jar (about 27k entries, 150-260 ms per task). Those archives
are Spark's own install and never change while the daemon lives, so
their zipimporters are left out of the call. Everything the call exists
for is still invalidated: the directory finders (SparkFiles' ``.py``
files), archives added later through ``addPyFile``, the namespace-package
epoch and every other meta-path finder.

Spark launches it as ``python -m clinical_bi_spark.worker_daemon``
(``spark.python.daemon.module``); importing it elsewhere patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

from pyspark import daemon, worker_util


class StaticArchivesImportlib:
    """Stands in for ``importlib`` inside ``pyspark.worker_util``, whose
    only use of it is ``invalidate_caches()``."""

    def __init__(self, static_archives: frozenset[str]) -> None:
        self.static_archives = static_archives

    def invalidate_caches(self) -> None:
        """``importlib.invalidate_caches()`` with the zipimporters of the
        static archives held out of ``sys.path_importer_cache`` for the
        call and put back unchanged."""
        cache = sys.path_importer_cache
        held = {
            name: finder
            for name, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and finder.archive in self.static_archives
        }
        for name in held:
            del cache[name]
        try:
            importlib.invalidate_caches()
        finally:
            cache.update(held)


def main() -> None:
    # The archives on the path now are Spark's; workers forked by the
    # manager inherit the patched module.
    worker_util.importlib = StaticArchivesImportlib(
        frozenset(p for p in sys.path if os.path.isabs(p) and os.path.isfile(p))
    )
    daemon.manager()


if __name__ == "__main__":
    main()
