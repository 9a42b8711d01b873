"""Python-worker setup: spare Spark's own archives the per-task cache flush.

Before every task a reused Python worker runs
``pyspark.worker.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On CPython 3.11 that makes each
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory: ``pyspark.zip`` (1,328 entries, one importer
per imported subpackage), the py4j zip and the spark-core jar (5,359
entries) that Spark puts on the worker path — 0.1-0.4 s per task on a
4-core box, most of a short task's Arrow boundary.

:func:`install` wraps that function once per worker, for the worker's
life. Spark's own archives (``<home>/python/lib/*.zip``,
``<home>/jars/*.jar``) never change under a running worker, so the
wrapper holds their importers out of the cache while the original
runs and puts them back after. User ``--py-files`` / ``addPyFile``
zips and every directory entry are still invalidated, so a user zip
replaced under the same name is re-read as before.

A worker first imports the package when it unpickles its first
package UDF, so every UDF of the package is covered and only that
worker's first task pays the full flush. It patches a Spark-internal name, checked
against :data:`SPARK_VERSION_CHECKED`; tests/test_worker_setup.py fails
if the name or its call moves.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

#: the Spark release whose ``pyspark.worker.main`` → ``setup_spark_files``
#: → ``importlib.invalidate_caches()`` chain this hook was checked against
SPARK_VERSION_CHECKED = "4.1.2"


def _spark_lib_dirs() -> frozenset[str]:
    """the directories holding Spark's own archives: ``python/lib`` and
    ``jars`` under ``$SPARK_HOME`` and under pyspark's install dir (a
    pip install is its own Spark home)."""
    import pyspark

    homes = {os.environ.get("SPARK_HOME"), os.path.dirname(pyspark.__file__)}
    return frozenset(
        os.path.realpath(os.path.join(home, sub))
        for home in homes
        if home
        for sub in (os.path.join("python", "lib"), "jars")
    )


def spare_spark_archives(setup):
    """``setup`` wrapped so that the ``zipimporter``s of Spark's own
    archives sit out its run and are put back after."""
    lib_dirs = _spark_lib_dirs()

    @functools.lru_cache(maxsize=None)
    def spared(archive: str) -> bool:
        return os.path.realpath(os.path.dirname(archive)) in lib_dirs

    @functools.wraps(setup)
    def setup_spark_files(infile):
        cache = sys.path_importer_cache
        held = {
            key: finder
            for key, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter) and spared(finder.archive)
        }
        for key in held:
            del cache[key]
        try:
            return setup(infile)
        finally:
            cache.update(held)

    setup_spark_files.spares_spark_archives = True
    return setup_spark_files


def install() -> None:
    """wrap ``pyspark.worker.setup_spark_files`` — only inside a Python
    worker running a task, and only once per worker."""
    worker = sys.modules.get("pyspark.worker")
    if worker is None:
        return
    from pyspark.taskcontext import TaskContext

    setup = getattr(worker, "setup_spark_files", None)
    if setup is None or TaskContext.get() is None:
        return
    if not getattr(setup, "spares_spark_archives", False):
        worker.setup_spark_files = spare_spark_archives(setup)
