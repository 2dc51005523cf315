"""PySpark-native columnar token-compression engine."""

import sys
import zipimport


def _trim_worker_importers() -> None:
    """Keep one zip importer per archive in a Spark Python worker.

    Every task's ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and under CPython 3.11 each cached
    ``zipimporter`` then re-reads its whole archive directory: two for the
    spark-core jar on the worker path (it holds no Python) and one per
    imported pyspark package, 16 in all, about 0.1-0.2 CPU s per task. This
    drops jars from ``sys.path`` and the importers of jars and of zip
    sub-directories (``.../pyspark.zip/pyspark/sql``); the import system
    rebuilds any of those on demand from its shared directory cache. Runs
    once, when the package is first imported; the driver (no
    ``pyspark.worker`` module) is left untouched.
    """
    if "pyspark.worker" not in sys.modules:
        return
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
            finder.prefix or finder.archive.endswith(".jar")
        ):
            del cache[key]


_trim_worker_importers()
