"""PySpark's worker daemon, minus the per-task re-read of zip archives.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
for every task. On CPython 3.11 that makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory
(pyspark.zip has 1,328 entries, with one importer per sub-package path) and
keep a private copy of it. Those archives do not change during a job, so the
wrapper below leaves zip importers alone and still resets the path finders:
``.py`` files shipped to the SparkFiles directory and zips added with
``addPyFile`` (a new path, so a new importer) stay importable.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Spark runs it as ``python -m <this module> <worker module>``; ``pyspark.daemon``
reads the worker module from ``sys.argv[1]`` as it does for its own daemon.
"""

import importlib
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` with ``zipimporter.invalidate_caches`` a no-op."""
    saved = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = lambda self: None
    try:
        _invalidate_caches()
    finally:
        zipimport.zipimporter.invalidate_caches = saved


importlib.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
