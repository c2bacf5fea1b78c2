"""Per-task set-up cost of a Spark Python worker.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-parses the archive's
whole central directory, and a worker holds one zipimporter per package
it imported from ``pyspark.zip`` — so each task re-read that directory
once per imported pyspark sub-package, most of an empty task's cost.

The archives on a worker's ``sys.path`` (pyspark.zip, the py4j zip,
``addPyFile`` zips) are never rewritten in place: a new file arrives
under a new path and so gets a new importer. Re-reading an archive that
cannot change is pure waste, so inside a worker the zip path hook makes
importers whose ``invalidate_caches`` does nothing, and the eager
importers already cached are dropped; they are rebuilt on demand from
``zipimport._zip_directory_cache`` without reading the archive again.
The driver process is left alone.
"""

import sys
import zipimport


class _StaticZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _install():
    from pyspark import TaskContext

    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    sys.path_hooks[:] = [_StaticZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


_install()
